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
CheckpointStore so a run resumes after its last completed stage.

In `dedupe()` the signature pass also carries the caption, the phash
and, for string ids, the original id of every input row, one row per
input row; the graph checkpoints it eagerly and observes, in that
checkpoint's own job, the counts every one-task operator path is
decided on: rows, band rows, fingerprint rows, and shingle and caption
bytes. When each folded operator would take its own one-task path at
those counts and their summed working set fits one task, ONE
coalesce(1).mapInArrow task over that checkpoint alone runs candidates
-> verify -> edges -> connected components -> component names with the
operators' own numpy kernels (`_graph_kernel`) and emits the finished
result: the edges in int64 and in original ids, one assignment row per
distinct id and, for min_id, the representative rows. That output is
checkpointed once and every result frame is a projection of it (a
non-min_id representatives keeps its window). Otherwise, or when the
task stops at a gate it can only check as it goes (the edge count
against the CC caps, the held candidate pairs against the task budget),
the per-operator stages run from the same signature checkpoint. One
debug line on the `distill_spark` logger names the path taken.

A stage is materialized iff two or more consumers read it or its row
count decides a path (`_materialized`: signatures, edges, assignments);
`dedupe()` does it through onetask.observed, as the operators do their
own frames, and persists nothing.

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
from collections import Counter
from dataclasses import dataclass
from functools import reduce
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import DedupConfig, DEFAULT
from . import components, hamming, lsh, onetask
from .minhash import band_buckets, band_keys
from .signatures import with_signatures
from .lsh import (bucket_pairs, key_codes, oversized, pairs_from_buckets,
                  pairs_and_overflow)
from .hamming import ball_pairs, hamming_candidate_pairs
from .winnow import refine_oversized, refine_rows
from .verify import (conflict_band, jaccard, lcs_keep, verify_jaccard,
                     verify_lcs)
from .components import cc_labels, connected_components
from .select import representatives, cluster_stats

log = logging.getLogger("distill_spark")

CHANNELS = ("minhash", "simhash", "phash", "substring")


@dataclass
class DedupResult:
    """The frames of one dedupe() run. On the one-task graph every frame
    but a windowed (non-min_id) representatives is a projection of the
    graph task's one checkpoint, so reading one runs one job; on the
    per-operator path they are plans over the checkpointed `edges` and
    `assignments` stages. No frame is persisted."""
    assignments: DataFrame      # (image_id, component), one row per
                                # distinct id (a null id: see dedup_stages)
    representatives: DataFrame  # one row per component; for min_id every
                                # input row of the component's name
    edges: DataFrame            # a spanning set of the verified dup pairs
                                # (a, b); star hubs follow hashed-id order
    conflicts: DataFrame | None # band pairs (a, b, jaccard)
    stats: DataFrame            # 1-row counts/reduction
    cached: DataFrame | None = None  # the edges stage in channel ids
                                # (int64 for string ids)

    def unpersist(self) -> None:
        """A no-op kept for existing callers: dedupe() persists nothing.
        Spark's ContextCleaner frees a local checkpoint's blocks once no
        plan refers to it (onetask.observed)."""


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
    rows: dict[str, int],
    sig_src: DataFrame | None = None,
    keep: tuple[str, ...] = (),
) -> list[Stage]:
    """The dedup stage graph, in run order:

      signatures -> jaccard_candidates -> jaccard_edges
      phash_edges
      signatures -> lcs_edges
      {jaccard,phash,lcs}_edges -> edges -> assignments -> representatives

    `meta` holds the original ids, `meta_i` the ids the channels run on
    (int64 hashes of string ids) and `idmap` maps one to the other (None
    for integral ids). The signature pass reads `sig_src` (default
    meta_i: the same rows, possibly under an observation) and carries
    its `keep` columns through (with_signatures). Connected components
    reads the edges' row count from `rows`, which the graph fills in.

    `assignments` holds one row per distinct id; a null id, which no
    channel reads, gets a (null, null) row: one per input row for string
    ids, one in all for integral ids."""
    if sig_src is None:
        sig_src = meta_i
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
            sig_src, caption_col, id_col, cfg, parts=parts, keep=keep)))

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
                edges, nodes=meta.select(id_col), id_col=id_col, cfg=cfg,
                rows=rows["edges"])
        # CC over edge-touching nodes only, in int space; only the
        # (small, dup-population-sized) edge-touching assignments are
        # mapped back with joins, and the singleton majority gets its
        # component via one broadcastable left join
        cc = connected_components(edges, nodes=None, id_col="__iid",
                                  out_col="__icomp", cfg=cfg,
                                  rows=rows["edges"]).join(idmap, "__iid")
        names = cc.groupBy("__icomp").agg(F.min(id_col).alias("__comp_name"))
        edge_assign = cc.join(names, "__icomp").select(
            id_col, F.col("__comp_name").alias("component")
        )
        # one row per distinct id, as connected_components gives integral
        # ids; a null id keeps one row per input row
        ids = meta.select(id_col)
        nodes = ids.filter(F.col(id_col).isNotNull()).distinct().unionByName(
            ids.filter(F.col(id_col).isNull()))
        return (
            nodes.join(edge_assign, id_col, "left")
            .select(id_col, F.coalesce("component", F.col(id_col)).alias("component"))
        )

    stages.append(Stage("assignments", ("edges",), assignments))
    stages.append(Stage("representatives", ("assignments",), lambda a: _representatives(
        a, meta, rep_strategy, id_col, caption_col)))
    return stages


def _representatives(assignments: DataFrame, meta: DataFrame, strategy: str,
                     id_col: str, caption_col: str) -> DataFrame:
    """select.representatives of the assignments; for min_id, whose
    representative is the component's name (its min original id), the
    rows whose id IS their component, with no window."""
    if strategy == "min_id":
        return assignments.join(meta, id_col).filter(F.col(id_col) == F.col("component"))
    return representatives(assignments, images=meta, strategy=strategy,
                           id_col=id_col, caption_col=caption_col)


# task bytes per input row of the one-task graph beyond its value
# bytes: ids, dense codes, row-pair bookkeeping and the pandas/Python
# objects of one row
_GRAPH_ROW_BYTES = 512


def _verified(cand: np.ndarray, n: int, row_code: np.ndarray, test) -> np.ndarray:
    """The codes a * n + b of `cand` with some row pair (ra, rb) for which
    test(ra chunk, rb chunk) holds."""
    q, ra, rb = onetask.row_pairs(*np.divmod(cand, n), row_code)
    ok = np.zeros(len(q), bool)
    step = onetask.VERIFY_CHUNK
    for s in range(0, len(q), step):
        ok[s:s + step] = test(ra[s:s + step], rb[s:s + step])
    return cand[np.unique(q[ok])]


def _gather(chunks, n: int, budget: int) -> np.ndarray:
    """Each pair of (a, b) code chunks once, as sorted codes a * n + b;
    stops past `budget` held pairs."""
    codes, held = [], 0
    for a, b in chunks:
        held += len(a)
        if held > budget:
            raise onetask.OverBudget("candidates over budget")
        codes.append(a.astype(np.int64) * n + b)
    return np.unique(np.concatenate(codes)) if codes else np.empty(0, np.int64)


def _numbers(col: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(valid mask, values with nulls read as 0) of a numeric column."""
    col = col.combine_chunks()
    return (col.is_valid().to_numpy(zero_copy_only=False),
            pc.fill_null(col, 0).to_numpy(zero_copy_only=False))


# the original string id, as the one-task graph's signature pass carries it
_ORIG = "__orig"
# row kinds of the one-task graph's output
_EDGE, _ASSIGNMENT, _REPRESENTATIVE = 0, 1, 2


def _graph_kernel(cfg: DedupConfig, channels: tuple[str, ...], string_ids: bool,
                  min_id: bool, schema: pa.Schema, pair_budget: int, max_edges: int,
                  edge_item_bytes: int, task_bytes: int):
    """mapInArrow function of the one-task graph. Input: one row per
    input row, read from the signature checkpoint alone: `_id` (the
    int64 id the channels run on), the signature columns the channels
    read (shingles, minhash, simhash, fps), `_cap` (caption), `_ph`
    (phash, when the input has one) and, for string ids, `_orig` (the
    original id).

    Output (`schema`), the finished result, one `kind` per row:
      _EDGE            a < b in `_id` space and, for string ids, the
                       same edge in original ids (`oa` = least, `ob`);
      _ASSIGNMENT      (node, comp) once per distinct input id, comp the
                       min original id of its component (itself for a
                       singleton); a null id keeps a (null, null) row,
                       one per input row for string ids and one in all
                       for integral ids, as the per-operator path gives;
      _REPRESENTATIVE  with `min_id`, every input row whose id names its
                       component: (node, comp, cap, ph);
    or, when a gate fails, one row whose `bail` names it.

    Each channel runs the operator's own kernel on dense id codes (code
    order is id order): band_keys and bucket_pairs for the MinHash bands,
    bucket_pairs for fingerprints, ball_pairs for simhash and phash,
    refine_rows for oversized fingerprints, jaccard and lcs_keep for
    verification, cc_labels for the components. Caps are read where the task is planned and passed
    in, so a caller's setting holds in the Python worker too."""
    k_sim, k_ph = cfg.simhash_hamming_k, cfg.phash_hamming_k
    cap, fp_cap = cfg.max_bucket_size, cfg.max_fp_bucket_size
    caption_channels = "minhash" in channels or "simhash" in channels
    label_type = schema.field("node").type

    def run(tbl: pa.Table) -> dict[int, dict]:
        valid = tbl.column("_id").is_valid()
        nulls = tbl.num_rows - pc.sum(valid).as_py()
        tbl = tbl.filter(valid)
        uid, code = np.unique(tbl.column("_id").to_numpy(), return_inverse=True)
        n = len(uid)
        caps = tbl.column("_cap").to_pylist() if "substring" in channels else None
        edges = np.empty(0, np.int64)

        def add(new: np.ndarray) -> None:
            nonlocal edges
            edges = np.union1d(edges, new)
            if len(edges) > max_edges or len(edges) * edge_item_bytes > task_bytes:
                raise onetask.OverBudget("edges over cap")

        def hamming_pairs(col: pa.ChunkedArray, k: int) -> np.ndarray:
            ok, vals = _numbers(col)
            # max_levels 3: hamming_candidate_pairs' default, as its callers use
            return _gather(ball_pairs(code[ok], vals[ok].astype(np.int64), k, cap, 3),
                           n, pair_budget)

        if caption_channels and n:
            cand = np.empty(0, np.int64)
            if "minhash" in channels:
                rows, lanes = onetask.lanes(tbl.column("minhash"))
                cand = _gather(bucket_pairs(
                    np.repeat(code[rows], cfg.bands),
                    key_codes([band_keys(lanes, cfg).ravel()]),
                    cap, True, pair_budget), n, pair_budget)
            if "simhash" in channels:
                cand = np.union1d(cand, hamming_pairs(tbl.column("simhash"), k_sim))
            row, vals = onetask.list_rows(tbl.column("shingles"))
            per_row = np.split(vals, np.searchsorted(row, np.arange(1, tbl.num_rows)))
            add(_verified(cand, n, code, lambda ra, rb: jaccard(
                [per_row[r] for r in ra], [per_row[r] for r in rb]) >= cfg.jaccard_threshold))
        if "phash" in channels and "_ph" in tbl.column_names:
            add(hamming_pairs(tbl.column("_ph"), k_ph))
        if "substring" in channels and n:
            row, fp = onetask.list_rows(tbl.column("fps"))
            fp_id, fp_key = code[row], key_codes([fp])
            small = _gather(bucket_pairs(fp_id, fp_key, fp_cap, False, pair_budget),
                            n, pair_budget)
            big = oversized(fp_key, fp_cap)
            # refine_oversized: each caption row of an oversized member
            # id with the id's distinct oversized fingerprints
            order = np.argsort(fp_id[big], kind="stable")
            mid, mfp = fp_id[big][order], fp[big][order]
            ids, first = np.unique(mid, return_index=True)
            last = np.append(first[1:], len(mid))
            rows = np.flatnonzero(np.isin(code, ids))
            g = np.searchsorted(ids, code[rows])
            rid, rfp, rsub = refine_rows(
                code[rows], [np.unique(mfp[first[i]:last[i]]) for i in g],
                [caps[r] for r in rows], cfg)
            add(_gather(bucket_pairs(rid, key_codes([rfp, rsub]), fp_cap, True,
                                     pair_budget), n, pair_budget))
            add(_verified(small, n, code, lambda ra, rb: lcs_keep(
                [caps[r] for r in ra], [caps[r] for r in rb],
                cfg.lcs_min_len, cfg.lowercase)))

        ea, eb = np.divmod(edges, n)
        nodes, labels = cc_labels(ea, eb)
        comp = np.arange(n)
        comp[nodes] = labels
        # the original ids, ranked (rank order is id order): a string id's
        # own rank, an integral id's code
        if string_ids:
            rank, names = pd.factorize(
                tbl.column("_orig").to_numpy(zero_copy_only=False), sort=True)
        else:
            rank, names = code, uid
        # each component is named by the min rank of its rows
        name = np.full(n, len(names))
        np.minimum.at(name, comp[code], rank)
        name = name[comp]
        out = {_EDGE: {"a": uid[ea], "b": uid[eb]}}
        if string_ids:
            code_rank = np.full(n, len(names))
            np.minimum.at(code_rank, code, rank)
            ra, rb = code_rank[ea], code_rank[eb]
            out[_EDGE].update(oa=names[np.minimum(ra, rb)], ob=names[np.maximum(ra, rb)])
        rank_code = np.empty(len(names), np.int64)
        rank_code[rank] = code
        null_rows = nulls if string_ids else min(nulls, 1)

        def with_nulls(values: np.ndarray) -> pa.Array:
            return pa.concat_arrays([pa.array(values, label_type),
                                     pa.nulls(null_rows, label_type)])

        out[_ASSIGNMENT] = {"node": with_nulls(names),
                            "comp": with_nulls(names[name[rank_code]])}
        if min_id:
            reps = np.flatnonzero(rank == name[code])
            out[_REPRESENTATIVE] = {
                "node": names[rank[reps]], "comp": names[rank[reps]],
                **{c[1:]: tbl.column(c).take(reps).combine_chunks()
                   for c in ("_cap", "_ph") if c in tbl.column_names}}
        return out

    def kernel(it):
        batches = [b for b in it if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()
        del batches
        try:
            out = run(tbl)
        except onetask.OverBudget as e:
            yield onetask.record_batch({"bail": [str(e)]}, schema)
            return
        for kind, cols in out.items():
            size = len(next(iter(cols.values())))
            for s in range(0, size, onetask.CHUNK):
                chunk = {k: v[s:s + onetask.CHUNK] for k, v in cols.items()}
                chunk["kind"] = np.full(min(onetask.CHUNK, size - s), kind, np.int8)
                yield onetask.record_batch(chunk, schema)

    return kernel


def _hashed_id(id_col: str) -> Column:
    """The int64 id of a string id; null for a null id, whose xxhash64
    would be the hash seed, 42."""
    return F.when(F.col(id_col).isNotNull(), F.xxhash64(id_col))


def _one_task_path(counts: dict, cfg: DedupConfig, id_type: T.DataType) -> str | None:
    """None when every operator the one-task graph folds would take its
    own one-task path at the signature checkpoint's counts and their
    summed working set fits one task; else the first gate that fails."""
    lsh_bytes = lsh.row_bytes([T.LongType(), T.LongType()])  # (id, key) rows
    ham_bytes = hamming.row_bytes(id_type)
    band_rows = counts["minhash_rows"] * cfg.bands
    rows = counts["rows"]
    if not onetask.fits(band_rows, lsh.LOCAL_MAX_ROWS, lsh_bytes):
        return "band rows over cap"
    if not onetask.fits(counts["fp_rows"], lsh.LOCAL_MAX_ROWS, lsh_bytes):
        return "fingerprint rows over cap"
    if not onetask.fits(rows, hamming.LOCAL_MAX_ROWS, ham_bytes):
        return "rows over cap"
    # the kernels' working sets, summed (two Hamming channels), plus the
    # input held throughout: per band row its minhash lanes, key and
    # band_keys' hash temporaries (64 B), other 8 B values twice (Arrow
    # and numpy) and captions three times (Arrow, Python str, the
    # lowered copy)
    need = ((band_rows + counts["fp_rows"]) * lsh_bytes + 2 * rows * ham_bytes
            + 64 * band_rows + 16 * (counts["fp_rows"] + counts["shingles"])
            + 3 * counts["caption_bytes"] + rows * _GRAPH_ROW_BYTES)
    if need > onetask.TASK_BYTES:
        return "working set over budget"
    return None


def _one_task_graph(
    sigs: DataFrame, counts: dict, meta: DataFrame, cfg: DedupConfig, id_col: str,
    caption_col: str, phash_col: str | None, channels: tuple[str, ...],
    rep_strategy: str, with_conflicts: bool,
) -> DedupResult | None:
    """The DedupResult from one coalesce(1).mapInArrow task over the
    signature checkpoint `sigs` alone (_graph_kernel), or None — logged
    either way — when a gate sends the graph to its per-operator stages.
    `sigs` carries, besides the signatures, the caption, the phash and,
    for string ids, the original id (`_ORIG`) of every input row. The
    task's output is checkpointed once, and every result frame but a
    windowed (non-min_id) representatives is a projection of it.
    Conflicts band the Jaccard candidates, which only the per-operator
    stages keep."""
    id_type = sigs.schema[id_col].dataType
    why = ("conflicts requested" if with_conflicts
           else _one_task_path(counts, cfg, id_type))
    label_type = meta.schema[id_col].dataType
    string_ids = isinstance(label_type, T.StringType)
    if why is None:
        cols = [F.col(id_col).alias("_id"),
                *(c for c in ("shingles", "minhash", "simhash", "fps") if c in sigs.columns),
                F.col(caption_col).alias("_cap")]
        fields = [T.StructField("kind", T.ByteType()),
                  T.StructField("a", id_type), T.StructField("b", id_type)]
        if string_ids:
            cols.append(F.col(_ORIG).alias("_orig"))
            fields += [T.StructField("oa", label_type), T.StructField("ob", label_type)]
        fields += [T.StructField("node", label_type), T.StructField("comp", label_type),
                   T.StructField("cap", T.StringType())]
        if phash_col is not None:
            cols.append(F.col(phash_col).alias("_ph"))
            fields.append(T.StructField("ph", meta.schema[phash_col].dataType))
        schema = T.StructType(fields + [T.StructField("bail", T.StringType())])
        kernel = _graph_kernel(
            cfg, channels, string_ids, rep_strategy == "min_id", to_arrow_schema(schema),
            onetask.TASK_BYTES // (2 * lsh._PAIR_BYTES), components.LOCAL_MAX_EDGES,
            components.edge_bytes(T.LongType()), onetask.TASK_BYTES)
        out, n = onetask.observed(
            sigs.select(*cols).coalesce(1).mapInArrow(kernel, schema), cfg,
            bail=F.max("bail"))
        why = n["bail"]
    log.debug("dedup graph: %d rows -> %s", counts["rows"],
              "one-task path" if why is None else f"per-operator path ({why})")
    if why is not None:
        return None

    def rows(kind: int, *cols: Column) -> DataFrame:
        return out.filter(F.col("kind") == kind).select(*cols)

    edges_i = rows(_EDGE, F.col("a"), F.col("b"))
    assignments = rows(_ASSIGNMENT, F.col("node").alias(id_col),
                       F.col("comp").alias("component"))
    if rep_strategy == "min_id":
        reps = rows(_REPRESENTATIVE, F.col("node").alias(id_col),
                    F.col("comp").alias("component"), F.col("cap").alias(caption_col),
                    *([F.col("ph").alias(phash_col)] if phash_col is not None else []))
    else:
        reps = _representatives(assignments, meta, rep_strategy, id_col, caption_col)
    return DedupResult(
        assignments=assignments,
        representatives=reps,
        edges=(rows(_EDGE, F.col("oa").alias("a"), F.col("ob").alias("b"))
               if string_ids else edges_i),
        conflicts=None,
        stats=cluster_stats(assignments),
        cached=edges_i,
    )


def _materialized(stages: list[Stage], with_conflicts: bool) -> set[str]:
    """The stages read by two or more consumers (later stages, the
    result frames, stats, conflicts) or whose row count decides a path
    (signatures: the one-task graph; edges: connected components)."""
    reads = Counter(d for s in stages for d in s.deps)
    # the result's edges, assignments (and stats over them), representatives
    reads.update(("edges", "assignments", "assignments", "representatives"))
    if with_conflicts:
        reads.update(("signatures", "jaccard_candidates"))
    return {s.name for s in stages
            if reads[s.name] >= 2 or s.name in ("signatures", "edges")}


def run_dedup_graph(
    images: DataFrame,
    cfg: DedupConfig,
    materialize: Callable[[Stage, Callable[[], DataFrame], bool],
                          tuple[DataFrame, int | None]],
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str | None = "phash",
    channels: tuple[str, ...] = CHANNELS,
    rep_strategy: str | None = None,
    with_conflicts: bool = False,
    fuse: bool = False,
) -> DedupResult:
    """Run `dedup_stages` in order and assemble the DedupResult. Each
    stage's (frame, row count or None) is `materialize(stage, compute,
    eager)`: compute() builds the stage from its dependencies' frames;
    `eager` (_materialized) asks for it materialized, with its count.

    With `fuse`, the signature pass also carries the caption, the phash
    and, for string ids, the original id of every row (with_signatures'
    `keep`); the graph itself checkpoints the signatures (observing the
    counts the one-task paths are decided on) and tries the one-task
    graph (_one_task_graph), whose DedupResult, when it runs, is the
    result.

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
    # as they are. A null id stays null (_hashed_id), so every channel
    # drops it for either id type.
    if isinstance(meta.schema[id_col].dataType, T.StringType):
        meta_i = meta.withColumn(id_col, _hashed_id(id_col))
        idmap = meta.select(id_col, _hashed_id(id_col).alias("__iid")).distinct()
    else:
        meta_i, idmap = meta, None

    rep_strategy = rep_strategy or cfg.rep_strategy
    sig_src, keep = None, ()
    if fuse:
        sig_src, keep = meta_i, tuple(cols[1:])
        if idmap is not None:
            sig_src = meta.withColumn(_ORIG, F.col(id_col)).withColumn(
                id_col, _hashed_id(id_col))
            keep += (_ORIG,)
    out: dict[str, DataFrame] = {}
    rows: dict[str, int] = {}
    stages = dedup_stages(meta, meta_i, idmap, cfg, id_col, caption_col,
                          phash_col, channels, rep_strategy, rows, sig_src, keep)
    eager = _materialized(stages, with_conflicts)
    for stage in stages:
        def compute(s: Stage = stage) -> DataFrame:
            return s.fn(*(out[d] for d in s.deps))

        if stage.name == "signatures" and fuse:
            out["signatures"], counts = _signature_checkpoint(
                compute(), cfg, id_col, caption_col)
            fused = _one_task_graph(
                out["signatures"], counts, meta, cfg, id_col, caption_col,
                phash_col, channels, rep_strategy, with_conflicts)
            if fused is not None:
                return fused
            continue
        out[stage.name], rows[stage.name] = materialize(stage, compute,
                                                        stage.name in eager)

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


def _signature_checkpoint(sigs: DataFrame, cfg: DedupConfig, id_col: str,
                          caption_col: str) -> tuple[DataFrame, dict]:
    """The signature frame (which carries the captions) as an eager
    checkpoint, with the counts the one-task paths are decided on
    observed in the same job: rows, caption bytes, and minhash rows,
    fingerprints and shingles of the non-null-id rows.

    The signature frame feeds many consumers (banding, the simhash
    pigeonhole, jaccard verify, winnowing, the one-task graph).
    A checkpoint, not persist+count, for two reasons found in the
    round-6 stage timelines: (a) a lazy persist's ~5 independent AQE
    consumer subtrees race to build the cache and each re-runs the full
    Arrow signature scan; (b) far worse, AQE NEVER reuses an exchange
    whose lineage contains a Python map node — mapInPandas does not
    canonicalize, so two branches consuming the same bucket exchange
    each re-executed it EVEN THROUGH a materialized cache. Truncating
    the lineage to an RDD scan restores exchange reuse for every
    downstream shuffle in the pipeline."""
    keyed = F.col(id_col).isNotNull()

    def total(col: str, value) -> Column:
        if col not in sigs.columns:
            return F.lit(0)
        return F.sum(F.when(keyed & F.col(col).isNotNull(), value).otherwise(0))

    sigs, counts = onetask.observed(
        sigs, cfg,
        caption_bytes=F.sum(F.octet_length(caption_col)),
        minhash_rows=total("minhash", 1),
        fp_rows=total("fps", F.size("fps")),
        shingles=total("shingles", F.size("shingles")),
    )
    return sigs, {k: v or 0 for k, v in counts.items()}  # a sum over no rows


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
    """The dedup stage graph built in place, on the one-task graph when
    the input fits one task (module docstring); on the per-operator path
    the stages the graph materializes are eager checkpoints
    (onetask.observed) and the others stay lazy. See run_dedup_graph
    for the output contract."""

    def in_place(stage: Stage, compute: Callable[[], DataFrame],
                 eager: bool) -> tuple[DataFrame, int | None]:
        if not eager:
            return compute(), None
        df, n = onetask.observed(compute(), cfg)
        return df, n["rows"]

    return run_dedup_graph(
        images, cfg, in_place, id_col, caption_col, phash_col,
        channels, rep_strategy, with_conflicts, fuse=True,
    )
