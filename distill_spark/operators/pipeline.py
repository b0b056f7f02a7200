"""The full dedup pipeline: images -> cluster assignments + representatives.

Reference lifecycle being reproduced (at 10^12 scale): POST /v1/dedupe
(/root/reference/cmd/api.go:405-587): convert -> cluster (threshold
0.15 single/average linkage, pkg/contextlab/cluster.go:65-214) ->
select representative (selector.go:68-238) -> stats. Our plan:

  images --(prune: id, caption, phash — NEVER bytes)-->
    [caption channel]  shingle -> MinHash -> LSH bands -> candidate pairs
    [simhash channel]  tokens -> SimHash -> pigeonhole blocks -> pairs
    [phash channel]    pigeonhole blocks over stored phash -> pairs
    [substring chan.]  winnowing fingerprints -> candidates
  -> exact verify: Jaccard (caption + simhash candidates) and LCS per
     candidate; the Hamming channels verify inside their pair expansion
     (one-task numpy kernel for small inputs, distributed recursion
     above, hamming.py), so their pairs need no verify pass
     [precision = 1]
  -> union -> edges
  -> connected components (hash-min + pointer jumping)
  -> representatives (deterministic window)

The plan is written once, as an ordered list of named stages
(`dedup_stages`), and run two ways: `dedupe()` builds each stage in
place, and `checkpoint.dedupe_checkpointed()` sends each one through a
CheckpointStore so a run resumes after its last completed stage. In
`dedupe()` only the `edges` stage is persisted; every other frame the
engine materializes is an eager localCheckpoint, which Spark frees by
itself.

Recall budget: phash + substring channels are recall-1.0 by
construction AT ANY BUCKET-SIZE DISTRIBUTION — oversized pigeonhole
blocks recurse on remaining bits (hamming.py) and oversized winnowing
buckets refine to full-window sub-buckets where star topology is
provably safe (winnow.refine_oversized); star fallback is reserved for
the probabilistic MinHash band channel, where the other b-1 bands
rescue pairs an oversized band misses. The caption channel's LSH
S-curve at (b=32, r=4) gives P(candidate) >= 0.9998 at
jaccard == threshold 0.70 — overall dup-pair recall >= 0.99 (north
rule) with margin. The SimHash channel only ADDS candidates (still
verified exactly), so it can only raise recall.

`bytes` is joined back only at the very end, by id, if the caller asks
for payloads — binary payloads never enter a shuffle (SURVEY.md §7.3
risk (c)).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig, DEFAULT
from .minhash import band_buckets
from .signatures import with_signatures
from .lsh import pairs_from_buckets, pairs_and_overflow
from .hamming import hamming_candidate_pairs
from .winnow import refine_oversized
from .verify import verify_jaccard, verify_lcs, conflict_band
from .components import connected_components
from .select import representatives, cluster_stats

log = logging.getLogger("distill_spark")

CHANNELS = ("minhash", "simhash", "phash", "substring")


@dataclass
class DedupResult:
    assignments: DataFrame      # (image_id, component)
    representatives: DataFrame  # one row per component
    edges: DataFrame            # a spanning set of the verified dup pairs
                                # (a, b); star hubs follow hashed-id order
    conflicts: DataFrame | None # band pairs (a, b, jaccard)
    stats: DataFrame            # 1-row counts/reduction
    cached: DataFrame | None = None  # the edges stage (int64 ids for
                                # string-id inputs)

    def unpersist(self) -> None:
        """Release the one cache dedupe() created, the persisted edges
        stage; long sessions running many dedupe() calls should call
        this. Every other frame the engine materializes (signatures,
        the operators' input checkpoints, Hamming refinement levels, CC
        labels) is an eager localCheckpoint, a block-backed RDD rather
        than a catalog cache: Spark's ContextCleaner frees its blocks
        once no plan refers to it."""
        for df in (self.cached, self.edges):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    log.debug("unpersist of a dedupe() frame failed",
                              exc_info=True)


@dataclass(frozen=True)
class Stage:
    """One named node of the dedup stage graph: `fn` takes the frames of
    the `deps` stages, in order, and returns this stage's frame."""
    name: str
    deps: tuple[str, ...]
    fn: Callable[..., DataFrame]


def _distinct_pairs(frames) -> DataFrame:
    """Union of (a, b) pair frames, each pair once."""
    return reduce(lambda x, y: x.unionByName(y), frames).dropDuplicates(["a", "b"])


def _original_ids(pairs: DataFrame, idmap: DataFrame, id_col: str,
                  *keep: str) -> DataFrame:
    """Map an int64-id pair frame (a, b, *keep) back to original ids."""
    return (
        pairs.join(
            idmap.select(F.col("__iid").alias("a"), F.col(id_col).alias("__sa")), "a"
        )
        .join(
            idmap.select(F.col("__iid").alias("b"), F.col(id_col).alias("__sb")), "b"
        )
        .select(
            F.least("__sa", "__sb").alias("a"),
            F.greatest("__sa", "__sb").alias("b"),
            *keep,
        )
    )


def dedup_stages(
    meta: DataFrame,
    meta_i: DataFrame,
    idmap: DataFrame | None,
    cfg: DedupConfig,
    id_col: str,
    caption_col: str,
    phash_col: str | None,
    channels: tuple[str, ...],
    rep_strategy: str,
) -> list[Stage]:
    """The dedup stage graph, in run order:

      signatures -> jaccard_candidates -> jaccard_edges
      phash_edges
      signatures -> lcs_edges
      {jaccard,phash,lcs}_edges -> edges -> assignments -> representatives

    `meta` holds the original ids, `meta_i` the ids the channels run on
    (int64 hashes of string ids) and `idmap` maps one to the other (None
    for integral ids)."""
    caption_channels = tuple(c for c in ("minhash", "simhash") if c in channels)
    substring = "substring" in channels
    stages: list[Stage] = []

    if caption_channels or substring:
        # one vectorized Arrow pass computes shingles + minhash + simhash
        # and the substring channel's winnowing fingerprints, with shared
        # tokenization/lowercasing, entirely map-side (no shuffle)
        parts = ("shingles",) + caption_channels if caption_channels else ()
        if substring:
            parts += ("winnow",)
        stages.append(Stage("signatures", (), lambda: with_signatures(
            meta_i, caption_col, id_col, cfg, parts=parts)))

    if caption_channels:
        def jaccard_candidates(sigs: DataFrame) -> DataFrame:
            cands = []
            if "minhash" in channels:
                buckets = band_buckets(
                    sigs.filter(F.col("minhash").isNotNull()).select(id_col, "minhash"),
                    "minhash", id_col, cfg,
                )
                # dedup=False: the unioned candidate stream is
                # deduplicated once below — one pair shuffle, not two
                cands.append(
                    pairs_from_buckets(buckets, ["bucket"], id_col, cfg, dedup=False)
                )
            if "simhash" in channels:
                cands.append(hamming_candidate_pairs(
                    sigs.filter(F.col("simhash").isNotNull()).select(id_col, "simhash"),
                    "simhash", cfg.simhash_hamming_k, id_col, cfg))
            return _distinct_pairs(cands)

        stages.append(Stage("jaccard_candidates", ("signatures",), jaccard_candidates))
        stages.append(Stage(
            "jaccard_edges", ("signatures", "jaccard_candidates"),
            lambda sigs, cand: verify_jaccard(
                cand, sigs.select(id_col, "shingles"), cfg.jaccard_threshold,
                "shingles", id_col,
            ),
        ))

    if "phash" in channels and phash_col is not None:
        # the Hamming channels verify inside their pair expansion
        stages.append(Stage("phash_edges", (), lambda: hamming_candidate_pairs(
            meta_i.select(id_col, phash_col), phash_col, cfg.phash_hamming_k,
            id_col, cfg)))

    if substring:
        def lcs_edges(sigs: DataFrame) -> DataFrame:
            fpx = sigs.select(id_col, F.explode("fps").alias("fingerprint"))
            captions = meta_i.select(id_col, caption_col)
            # recall-preserving skew handling: small buckets all-pairs;
            # oversized buckets (popular boilerplate fingerprints) refine
            # to full-L-char-window sub-buckets where star topology is
            # provably safe (winnow.refine_oversized docstring)
            small_cand, overflow = pairs_and_overflow(
                fpx, ["fingerprint"], id_col, cfg, cap=cfg.max_fp_bucket_size
            )
            refined = refine_oversized(overflow, captions, cfg, id_col, caption_col)
            sub_cand = pairs_from_buckets(
                refined, ["fingerprint", "subfp"], id_col, cfg,
                cap=cfg.max_fp_bucket_size, oversize="star",
            )
            # sub_cand pairs share the LITERAL L-char window string
            # (refine_oversized emits the window itself as the sub-bucket
            # key), so string equality IS the LCS predicate and these
            # pairs are exactly verified by construction. The caption
            # attach + Arrow LCS stage runs ONLY on the small-bucket
            # candidates (where a shared k-gram < L chars is genuinely
            # weaker evidence than the predicate).
            return sub_cand.unionByName(
                verify_lcs(small_cand, captions, cfg, caption_col, id_col)
            )

        stages.append(Stage("lcs_edges", ("signatures",), lcs_edges))

    edge_stages = tuple(s.name for s in stages if s.name.endswith("_edges"))
    if not edge_stages:
        raise ValueError("no channels enabled")
    stages.append(Stage("edges", edge_stages, lambda *parts: _distinct_pairs(parts)))

    def assignments(edges: DataFrame) -> DataFrame:
        if idmap is None:
            return connected_components(
                edges, nodes=meta.select(id_col), id_col=id_col, cfg=cfg
            )
        # CC over edge-touching nodes only, in int space; only the
        # (small, dup-population-sized) edge-touching assignments are
        # mapped back with joins, and the singleton majority gets its
        # component via one broadcastable left join
        cc = connected_components(edges, nodes=None, id_col="__iid",
                                  out_col="__icomp", cfg=cfg).join(idmap, "__iid")
        names = cc.groupBy("__icomp").agg(F.min(id_col).alias("__comp_name"))
        edge_assign = cc.join(names, "__icomp").select(
            id_col, F.col("__comp_name").alias("component")
        )
        return (
            meta.select(id_col)
            .join(edge_assign, id_col, "left")
            .select(id_col, F.coalesce("component", F.col(id_col)).alias("component"))
        )

    stages.append(Stage("assignments", ("edges",), assignments))
    stages.append(Stage("representatives", ("assignments",), lambda a: representatives(
        a, images=meta, strategy=rep_strategy, id_col=id_col, caption_col=caption_col,
    )))
    return stages


def run_dedup_graph(
    images: DataFrame,
    cfg: DedupConfig,
    materialize: Callable[[Stage, Callable[[], DataFrame]], DataFrame],
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str | None = "phash",
    channels: tuple[str, ...] = CHANNELS,
    rep_strategy: str | None = None,
    with_conflicts: bool = False,
) -> DedupResult:
    """Run `dedup_stages` in order and assemble the DedupResult. Each
    stage's frame is `materialize(stage, compute)`, where compute()
    builds the stage from its dependencies' frames.

    Contract: assignments and representatives do not depend on the id
    mapping — components are labeled by their min ORIGINAL id. `edges`
    is a spanning set of the verified pairs, not every verified pair:
    oversized winnow sub-buckets and LSH buckets expand as stars around
    the bucket-min id, and for string ids that is the min int64 hash, so
    which pairs appear follows the hashed-id order."""
    # column-pruning discipline: only (id, caption, phash) go downstream
    cols = [id_col, caption_col] + ([phash_col] if phash_col else [])
    meta = images.select(*cols)

    # shuffle-bytes discipline: hash string ids to int64 at ingest so
    # every exchange in the candidate/verify/CC stages moves 8 B longs,
    # not strings. xxhash64 is deterministic, so the id map is DERIVABLE
    # — nothing to materialize. A hash collision falsely merges two ids
    # with probability ~N^2/2^65 (~3e-8 at 1M rows), the budget the
    # engine already accepts for hashed shingles. Integral ids are used
    # as they are.
    if isinstance(meta.schema[id_col].dataType, T.StringType):
        meta_i = meta.withColumn(id_col, F.xxhash64(F.col(id_col)))
        idmap = meta.select(id_col, F.xxhash64(F.col(id_col)).alias("__iid"))
    else:
        meta_i, idmap = meta, None

    out: dict[str, DataFrame] = {}
    for stage in dedup_stages(
        meta, meta_i, idmap, cfg, id_col, caption_col, phash_col, channels,
        rep_strategy or cfg.rep_strategy,
    ):
        out[stage.name] = materialize(
            stage, lambda s=stage: s.fn(*(out[d] for d in s.deps))
        )

    edges_i, assignments = out["edges"], out["assignments"]
    conflicts = None
    if with_conflicts:
        if "jaccard_candidates" in out:
            jac_cand = out["jaccard_candidates"]
            shingled = out["signatures"].select(id_col, "shingles")
        else:  # no caption channel ran: empty candidates, own shingle pass
            id_sql_type = meta_i.schema[id_col].dataType.simpleString()
            jac_cand = meta.sparkSession.createDataFrame(
                [], f"a {id_sql_type}, b {id_sql_type}"
            )
            shingled = with_signatures(meta_i, caption_col, id_col, cfg,
                                       parts=("shingles",))
        conflicts = conflict_band(jac_cand, shingled, cfg, "shingles", id_col)
        if idmap is not None:
            conflicts = _original_ids(conflicts, idmap, id_col, "jaccard")

    return DedupResult(
        assignments=assignments,
        representatives=out["representatives"],
        edges=edges_i if idmap is None else _original_ids(edges_i, idmap, id_col),
        conflicts=conflicts,
        stats=cluster_stats(assignments),
        cached=edges_i,
    )


def dedupe(
    images: DataFrame,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str | None = "phash",
    channels: tuple[str, ...] = CHANNELS,
    rep_strategy: str | None = None,
    with_conflicts: bool = False,
) -> DedupResult:
    """The dedup stage graph built in place: `signatures` is an eager
    localCheckpoint, `edges` is persisted (the one cache, released by
    DedupResult.unpersist), every other stage stays lazy. See
    run_dedup_graph for the output contract."""

    def in_place(stage: Stage, compute: Callable[[], DataFrame]) -> DataFrame:
        df = compute()
        if stage.name == "signatures":
            # the signature frame feeds many consumers (banding, the
            # recursive simhash pigeonhole, jaccard verify, winnowing).
            # localCheckpoint, not persist+count, for two reasons found
            # in the round-6 stage timelines: (a) a lazy persist's ~5
            # independent AQE consumer subtrees race to build the cache
            # and each re-runs the full Arrow signature scan; (b) far
            # worse, AQE NEVER reuses an exchange whose lineage contains
            # a Python map node — mapInPandas does not canonicalize, so
            # two branches consuming the same bucket exchange each
            # re-executed it EVEN THROUGH a materialized cache.
            # Truncating the lineage to an RDD scan restores exchange
            # reuse for every downstream shuffle in the pipeline.
            df = df.localCheckpoint(eager=True)
        elif stage.name == "edges":
            # edges feed CC (which materializes them) AND are part of the
            # result — persist so user actions on result.edges don't
            # re-run the whole candidate+verify DAG
            df = df.persist()
        return df

    return run_dedup_graph(
        images, cfg, in_place, id_col, caption_col, phash_col,
        channels, rep_strategy, with_conflicts,
    )
