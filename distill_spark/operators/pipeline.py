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

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT
from .minhash import band_buckets
from .signatures import with_signatures
from .lsh import pairs_from_buckets, pairs_and_overflow
from .hamming import hamming_candidate_pairs
from .winnow import with_fingerprints, refine_oversized
from .verify import verify_jaccard, verify_lcs, conflict_band
from .components import connected_components
from .select import representatives, cluster_stats


@dataclass
class DedupResult:
    assignments: DataFrame      # (image_id, component)
    representatives: DataFrame  # one row per component
    edges: DataFrame            # verified dup pairs (a, b)
    conflicts: DataFrame | None # band pairs (a, b, jaccard)
    stats: DataFrame            # 1-row counts/reduction
    cached: DataFrame | None = None  # the persisted internal edge frame
    aux_cached: tuple = ()      # other persisted internals (signatures,
                                # candidate-pair frames)

    def unpersist(self) -> None:
        """Release the caches dedupe() created (edges + signature +
        candidate stages); long sessions running many dedupe() calls
        should call this. Note: eagerly localCheckpoint-ed internals
        (the narrow-mode signature frame, candidate pair frames) are
        block-backed RDDs, not catalog caches — their blocks are freed
        by Spark's ContextCleaner once this result object is dropped;
        unpersist() is a no-op for them by design."""
        for df in (self.cached, self.edges, *self.aux_cached):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass


def candidate_edges(
    meta: DataFrame,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str | None = "phash",
    channels: tuple[str, ...] = ("minhash", "simhash", "phash", "substring"),
) -> tuple[DataFrame, DataFrame, DataFrame | None, list[DataFrame]]:
    """meta(id, caption[, phash]) -> (verified edges(a,b), jaccard
    candidates, shingles(id, shingles), persisted internals).

    Returns the union of exact-verified edges from all enabled channels,
    the raw caption-channel candidate set and the signature pass's
    shingle frame (both for conflict banding; shingles is None when no
    caption channel runs), and every frame persisted on the way (for
    DedupResult.unpersist).
    """
    need_caption_channels = {"minhash", "simhash"} & set(channels)
    # scale-adaptive plan shape (config.scale_mode): "wide" amortizes
    # eager materialization barriers + member semi-joins across real
    # executors; "narrow" is the fewer-round-trip round-3 shape.
    # auto = wide only on a NON-local master: on a single box every
    # extra serial materialization job is a driver round-trip on a
    # shared memory bus (BENCH.md round 5), while on a multi-executor
    # cluster the semi-join restriction is what keeps the verify attach
    # off the network. `local[N]` / `local` only — NOT
    # `local-cluster[...]`, which runs real executors with network
    # shuffle and should take the wide shape.
    import re as _re

    master = meta.sparkSession.sparkContext.master
    wide = cfg.scale_mode == "wide" or (
        cfg.scale_mode == "auto"
        and _re.match(r"local(\[|$)", master) is None
    )

    # aux_cached collects EVERY persisted internal (signature caches +
    # the hamming per-level refinement frames) so DedupResult.unpersist
    # can release them — long-lived sessions calling dedupe() repeatedly
    # no longer leak cached frames (round-5 advice #1)
    aux_cached: list[DataFrame] = []
    shingled = minhash_sig = simhash_sig = fps_src = None
    if need_caption_channels:
        # one vectorized Arrow pass computes shingles + minhash + simhash
        # (+ the substring channel's winnowing fingerprints, so there is
        # one caption scan instead of two) with shared tokenization/
        # lowercasing, entirely map-side (no shuffle)
        parts = ["shingles"]
        if "minhash" in channels:
            parts.append("minhash")
        if "simhash" in channels:
            parts.append("simhash")
        merge_winnow = "substring" in channels
        if merge_winnow:
            parts.append("winnow")
        sigs = with_signatures(meta, caption_col, id_col, cfg, parts=tuple(parts))
        # the signature pass is the expensive stage and feeds many
        # consumers (banding x2 branches, ~11 reads by the recursive
        # simhash pigeonhole, jaccard verify x3). Round-4 bandwidth fix:
        # materialize the fat frame ONCE, then split it into SLIM
        # per-column persisted frames and drop the fat cache — each
        # consumer scan then moves only the bytes of its own column
        # (the 24 B/row simhash reads stop dragging the ~2 KB/row
        # shingle+minhash payload through the memory bus on every one
        # of the ~16 downstream cache scans; measured 38.9 -> ~8 GB of
        # input traffic at 1M rows).
        if wide and "simhash" in channels:
            sigs = sigs.persist()
            # the first slim count materializes the fat cache as a side
            # effect (an InMemoryRelation stores whole rows per
            # partition on first scan), so no separate sigs.count()
            shingled = sigs.select(id_col, "shingles").persist()
            shingled.count()
            if "minhash" in channels:
                minhash_sig = (
                    sigs.filter(F.col("minhash").isNotNull())
                    .select(id_col, "minhash").persist()
                )
                minhash_sig.count()
            simhash_sig = (
                sigs.filter(F.col("simhash").isNotNull())
                .select(id_col, "simhash").persist()
            )
            simhash_sig.count()
            if merge_winnow:
                fps_src = sigs.select(id_col, "fps").persist()
                fps_src.count()
            sigs.unpersist()
            # the split caches own the data
            aux_cached.extend(
                df for df in (shingled, minhash_sig, simhash_sig, fps_src)
                if df is not None
            )
        else:
            # narrow mode, or no simhash channel: serve all consumers
            # off ONE eagerly-materialized signature frame. This is a
            # localCheckpoint, not persist+count, for two reasons found
            # in the round-6 stage timelines: (a) a lazy persist's ~5
            # independent AQE consumer subtrees race to build the cache
            # and each re-runs the full Arrow signature scan (five
            # concurrent copies of the same 22-task stage, ~23 s of the
            # sf0.1 wall); (b) far worse, AQE NEVER reuses an exchange
            # whose lineage contains a Python map node — mapInPandas
            # does not canonicalize, so two branches consuming the same
            # bucket exchange each re-executed it EVEN THROUGH a
            # materialized cache (minimal repro: a window-sized union
            # over a cached mapInPandas source runs its 15 MB exchange
            # once per branch; over a localCheckpoint it runs once).
            # Truncating the lineage to an RDD scan restores exchange
            # reuse for every downstream shuffle in the pipeline.
            sigs = sigs.localCheckpoint(eager=True)
            aux_cached.append(sigs)
            fps_src = sigs if merge_winnow else None
            shingled = sigs.select(id_col, "shingles")
            minhash_sig = (
                sigs.filter(F.col("minhash").isNotNull()).select(id_col, "minhash")
                if "minhash" in channels
                else None
            )
            simhash_sig = (
                sigs.filter(F.col("simhash").isNotNull()).select(id_col, "simhash")
                if "simhash" in channels
                else None
            )

    edge_parts: list[DataFrame] = []
    cap_candidates: list[DataFrame] = []
    if minhash_sig is not None:
        buckets = band_buckets(minhash_sig, "minhash", id_col, cfg)
        # dedup=False: jac_cand dropDuplicates one step below already
        # deduplicates the unioned candidate stream — one pair shuffle
        # instead of two (guide §2.4)
        cap_candidates.append(
            pairs_from_buckets(buckets, ["bucket"], id_col, cfg, dedup=False)
        )
    if simhash_sig is not None:
        cap_candidates.append(hamming_candidate_pairs(
            simhash_sig, "simhash", cfg.simhash_hamming_k, id_col, cfg,
            cache_registry=aux_cached,
        ))
    jac_cand = None
    if cap_candidates:
        jac_cand = cap_candidates[0]
        for c in cap_candidates[1:]:
            jac_cand = jac_cand.unionByName(c)
        # wide mode: eagerly materialized via localCheckpoint, because
        # the semi-join verify attach consumes the pair frame three
        # times (member semi-join + both joins). A lazy persist is NOT
        # enough — AQE launches the consumer subtrees concurrently and
        # each raced to build the cache, re-running the whole candidate
        # DAG per consumer (measured: the 32M-row bucket exchange
        # executed 6x instead of 2x); and even persist+count proved
        # evictable mid-query at 1M rows. localCheckpoint truncates the
        # lineage, so consumers can only ever scan the (tiny)
        # materialized pair blocks. On a real cluster an executor loss
        # during the candidate phase then fails the job loudly instead
        # of recomputing — acceptable for a frame this small;
        # cfg.cc_reliable_checkpoint covers the long-lived CC state.
        jac_cand = jac_cand.dropDuplicates(["a", "b"])
        if wide:
            jac_cand = jac_cand.localCheckpoint(eager=True)
        edge_parts.append(
            verify_jaccard(
                jac_cand, shingled, cfg.jaccard_threshold, "shingles",
                id_col, semijoin=wide,
            )
        )

    if "phash" in channels and phash_col is not None:
        edge_parts.append(hamming_candidate_pairs(
            meta.select(id_col, phash_col), phash_col, cfg.phash_hamming_k,
            id_col, cfg, cache_registry=aux_cached,
        ))

    if "substring" in channels:
        if fps_src is not None:
            # fingerprints already computed by the one-pass signature
            # stage (merge_winnow) — explode off the cache instead of
            # running a second Arrow caption scan
            fpx = fps_src.select(id_col, F.explode("fps").alias("fingerprint"))
        else:
            fp = with_fingerprints(meta.select(id_col, caption_col),
                                   caption_col, "fp", cfg)
            fpx = fp.select(id_col, F.explode("fp").alias("fingerprint"))
        # recall-preserving skew handling: small buckets all-pairs;
        # oversized buckets (popular boilerplate fingerprints) refine to
        # full-L-char-window sub-buckets where star topology is provably
        # safe (winnow.refine_oversized docstring) — no silent pair loss
        small_cand, overflow = pairs_and_overflow(
            fpx, ["fingerprint"], id_col, cfg, cap=cfg.max_fp_bucket_size
        )
        refined = refine_oversized(
            overflow, meta.select(id_col, caption_col), cfg, id_col, caption_col
        )
        sub_cand = pairs_from_buckets(
            refined, ["fingerprint", "subfp"], id_col, cfg,
            cap=cfg.max_fp_bucket_size, oversize="star",
        )
        # sub_cand pairs share the LITERAL L-char window string
        # (refine_oversized emits the window itself as the sub-bucket
        # key), so string equality IS the LCS predicate and these pairs
        # are exactly verified by construction. They go straight to the
        # edge set; the caption attach + Arrow LCS stage runs ONLY on
        # the small-bucket candidates (where a shared k-gram < L chars
        # is genuinely weaker evidence than the predicate). Dup-dense
        # corpora concentrate pairs in oversized buckets, which is
        # exactly where the 10M probe's 45 GB verify attach came from.
        edge_parts.append(sub_cand)
        cand = small_cand
        # eagerly materialized for the same multi-consumer reuse
        # reasons as jac_cand above
        if wide:
            cand = cand.localCheckpoint(eager=True)
        edge_parts.append(
            verify_lcs(cand, meta.select(id_col, caption_col), cfg,
                       caption_col, id_col, semijoin=wide)
        )

    if not edge_parts:
        raise ValueError("no channels enabled")
    edges = edge_parts[0]
    for e in edge_parts[1:]:
        edges = edges.unionByName(e)
    edges = edges.dropDuplicates(["a", "b"])
    if jac_cand is None:
        id_sql_type = meta.schema[id_col].dataType.simpleString()
        jac_cand = meta.sparkSession.createDataFrame(
            [], f"a {id_sql_type}, b {id_sql_type}"
        )
    return edges, jac_cand, shingled, aux_cached


def dedupe(
    images: DataFrame,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str | None = "phash",
    channels: tuple[str, ...] = ("minhash", "simhash", "phash", "substring"),
    rep_strategy: str | None = None,
    with_conflicts: bool = False,
) -> DedupResult:
    from pyspark.sql import types as T

    # column-pruning discipline: only (id, caption, phash) go downstream
    cols = [id_col, caption_col] + ([phash_col] if phash_col else [])
    meta = images.select(*cols)

    # shuffle-bytes discipline (round 3): hash string ids to int64 at
    # ingest so every exchange in the candidate/verify/CC stages moves
    # 8 B longs, not strings. xxhash64 is deterministic, so the id map
    # is DERIVABLE — nothing to materialize — and only the (small,
    # dup-population-sized) edge-touching assignments are mapped back
    # with joins; the singleton majority gets its component via one
    # broadcastable left join. Outputs match running on the original
    # ids: the edge SET is order-independent (recall-1 channels are
    # set-exact; the LSH channel's band union rescues any star-capped
    # bucket) and components are relabeled to the min ORIGINAL id. A
    # hash collision falsely merges two ids with probability ~N^2/2^65
    # (~3e-8 at 1M rows), the budget the engine already accepts for
    # hashed shingles. Integral ids are used as they are.
    use_int = isinstance(meta.schema[id_col].dataType, T.StringType)
    meta_i = (
        meta.withColumn(id_col, F.xxhash64(F.col(id_col))) if use_int else meta
    )

    edges_i, jac_cand, shingled, aux_cached = candidate_edges(
        meta_i, cfg, id_col, caption_col, phash_col, channels
    )
    # edges feed CC (which materializes them via checkpoint) AND are part of
    # the result — persist so user actions on result.edges don't re-run the
    # whole candidate+verify DAG.
    edges_i = edges_i.persist()

    if use_int:
        idmap = meta.select(id_col, F.xxhash64(F.col(id_col)).alias("__iid"))
        # CC over edge-touching nodes only, in int space
        cc_edge = connected_components(edges_i, nodes=None, id_col="__iid",
                                       out_col="__icomp", cfg=cfg)
        cc_s = cc_edge.join(idmap, "__iid")
        comp_names = cc_s.groupBy("__icomp").agg(
            F.min(id_col).alias("__comp_name")
        )
        edge_assign = cc_s.join(comp_names, "__icomp").select(
            id_col, F.col("__comp_name").alias("component")
        )
        assignments = (
            meta.select(id_col)
            .join(edge_assign, id_col, "left")
            .select(
                id_col,
                F.coalesce("component", F.col(id_col)).alias("component"),
            )
        )
        edges = (
            edges_i.join(
                idmap.select(F.col("__iid").alias("a"), F.col(id_col).alias("__sa")), "a"
            )
            .join(
                idmap.select(F.col("__iid").alias("b"), F.col(id_col).alias("__sb")), "b"
            )
            .select(
                F.least("__sa", "__sb").alias("a"),
                F.greatest("__sa", "__sb").alias("b"),
            )
        )
    else:
        assignments = connected_components(
            edges_i, nodes=meta.select(id_col), id_col=id_col, cfg=cfg
        )
        edges = edges_i

    reps = representatives(
        assignments,
        images=meta,
        strategy=rep_strategy or cfg.rep_strategy,
        id_col=id_col,
        caption_col=caption_col,
    )

    conflicts = None
    if with_conflicts:
        if shingled is None:  # no caption channel ran a signature pass
            shingled = with_signatures(meta_i, caption_col, id_col, cfg,
                                       parts=("shingles",))
        conflicts = conflict_band(jac_cand, shingled, cfg, "shingles", id_col)
        if use_int:
            conflicts = (
                conflicts.join(
                    idmap.select(F.col("__iid").alias("a"), F.col(id_col).alias("__sa")), "a"
                )
                .join(
                    idmap.select(F.col("__iid").alias("b"), F.col(id_col).alias("__sb")), "b"
                )
                .select(
                    F.least("__sa", "__sb").alias("a"),
                    F.greatest("__sa", "__sb").alias("b"),
                    "jaccard",
                )
            )

    return DedupResult(
        assignments=assignments,
        representatives=reps,
        edges=edges,
        conflicts=conflicts,
        stats=cluster_stats(assignments),
        cached=edges_i,
        aux_cached=tuple(aux_cached),
    )
