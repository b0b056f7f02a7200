"""Hamming-ball candidate join over 64-bit signatures (phash / simhash)
with EXACT recall and exact precision, skew-proof.

Pigeonhole block join: to find all pairs with Hamming distance <= k,
split the 64 bits into k+1 blocks — any pair within distance k agrees
EXACTLY on at least one block (pigeonhole), so grouping by each block
finds every such pair (recall 1.0). The exact `bit_count(a ^ b) <= k`
filter runs where the pairs are generated, so hamming_candidate_pairs
returns pairs VERIFIED BY CONSTRUCTION and callers need no verify pass
(verify_hamming stays as a standalone helper).

Skew handling preserves the recall guarantee (a star fallback does
not — a bucket hub can be far from two spokes that are close to each
other). Three ingredients, shared by both execution paths:

  1. DISTINCT VALUES first. Candidates are generated over distinct
     signature values and expanded to ids at the end — a million rows
     sharing one value cost one bucket row, and identical-value id
     groups expand output-bound (they are all true pairs at distance 0).
  2. SEEDED BIT SCATTER. A fixed bit permutation spreads low-entropy
     regions (e.g. phash values < 2^32 leave the high blocks constant,
     collapsing the corpus into one bucket) evenly across blocks.
     Permutations preserve Hamming distance, so correctness is
     unaffected; the permutation is applied once, over distinct values.
  3. RECURSIVE PIGEONHOLE REFINEMENT. A bucket larger than the cap is
     re-split on its members' REMAINING bits: within the bucket the
     pair's remaining-bit distance is still <= k, so k+1 sub-blocks
     again guarantee agreement on one (induction — recall 1.0 at every
     level). After max_levels, leftover buckets expand all-pairs, which
     is exact and only reaches data agreeing on ~40+ scattered bits.

Two execution paths, picked at runtime by ONE count of the non-null
(id, value) rows, observed while the input is checkpointed
(onetask.observed):

  * LOCAL (rows <= LOCAL_MAX_ROWS and the working set fits one task,
    onetask.one_task): one mapInPandas task runs multi-index
    hashing (Norouzi, Punjani & Fleet, CVPR 2012) in numpy — per block,
    sort by block key and scan equal-key runs (ball_pairs). Two
    Spark stages per call: the observed checkpoint and the kernel.
  * DISTRIBUTED (above the cap): the same recursion as per-level Spark
    window exchanges, each level an eager checkpoint (onetask.observed),
    plus a terminal self-join (_refined_value_pairs).

Both return the same exact pair set.

Replaces the reference's full-scan write-time dedup probe
(pkg/memory/sqlite.go:243-279 — the author's own TODO asks for exactly
this kind of index) and its brute-force distance matrix for the image
channel.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig, DEFAULT
from .lsh import _small_pairs
from .onetask import CHUNK, id_bytes, observed, one_task, range_pairs, runs

_SCATTER_SEED = 0xD15C0

# Inputs of at most this many non-null (id, value) rows run the local
# one-task kernel; above it the kernel's serial scan outgrows the
# distributed recursion's fixed per-stage cost. Its value-pair scan
# over distinct random 64-bit values at k=4, cap 256, on one core:
# 0.2 s at 100k, 1.9 s at 300k, 14 s at 1M (candidates grow as
# rows^2 / 2^(64/(k+1)) until buckets overflow the cap).
LOCAL_MAX_ROWS = 250_000
# Local-kernel bytes per input row on top of its 4 id slots (see
# ball_pairs for the breakdown).
_ROW_BYTES = 400
_U = np.uint64


def _scatter_perm(seed: int) -> np.ndarray:
    """Output bit i of the seeded bit scatter is input bit perm[i]."""
    return np.random.default_rng(seed).permutation(64)


def bit_scatter_sql(col: str, seed: int = _SCATTER_SEED) -> str:
    """SQL text of the fixed seeded bit permutation of a 64-bit column.
    Built as ONE expression string: the earlier per-bit Column-API chain
    issued ~4 py4j round-trips per bit (~256 per call, ~0.4 s of pure
    driver-side socket chatter per channel — measured by cProfile)."""
    return " | ".join(
        f"shiftleft(shiftrightunsigned({col}, {int(src)}) & 1L, {i})"
        for i, src in enumerate(_scatter_perm(seed))
    )


def _bit_scatter_np(u: np.ndarray, seed: int = _SCATTER_SEED) -> np.ndarray:
    """bit_scatter_sql over a uint64 array."""
    out = np.zeros_like(u)
    for i, src in enumerate(_scatter_perm(seed)):
        out |= ((u >> _U(src)) & _U(1)) << _U(i)
    return out


def _popcount(x: np.ndarray) -> np.ndarray:
    """Set bits per uint64 element (SWAR; numpy 1.x has no bitwise_count)."""
    x = x - ((x >> _U(1)) & _U(0x5555555555555555))
    x = (x & _U(0x3333333333333333)) + ((x >> _U(2)) & _U(0x3333333333333333))
    x = (x + (x >> _U(4))) & _U(0x0F0F0F0F0F0F0F0F)
    return (x * _U(0x0101010101010101)) >> _U(56)


def _block_bounds(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """[(offset, width)] covering `bits` bits in n_blocks near-equal blocks."""
    base, rem = divmod(bits, n_blocks)
    bounds = []
    off = 0
    for i in range(n_blocks):
        wdt = base + (1 if i < rem else 0)
        bounds.append((off, wdt))
        off += wdt
    return bounds


def _refined_value_pairs(vals: DataFrame, k: int, max_levels: int,
                         cfg: DedupConfig) -> DataFrame:
    """vals(val: long, distinct) -> VERIFIED value pairs (va < vb,
    bit_count(va^vb) <= k) with guaranteed recall. Each refinement level
    runs one eager checkpoint job (onetask.observed); a level after the
    recursion converged checkpoints an empty frame.

    The exact Hamming filter runs INSIDE the pair expansion, in the same
    whole-stage-codegen task that explodes the bucket array: a 13-bit
    block agreement among 10^6 random 64-bit values yields ~3*10^8
    colliding pairs, and shipping those through a shuffle before
    verification dominated the channel (~420 s at 1M rows); filtering
    at generation cuts the shuffled volume to the true-pair count."""
    from pyspark.sql import Window

    nb, cap = k + 1, cfg.max_bucket_size
    # bucket key: a FOLDED 8-byte hash of the (level, block, bits)
    # path instead of a growing ':'-joined string — a hash collision
    # merely MERGES two buckets, which only ADDS candidate pairs
    # (removed by the in-task exact Hamming verify), so recall is
    # unaffected while every refinement exchange ships longs.
    # All level projections are assembled as SQL TEXT (selectExpr): the
    # Column-API formulation issued ~150 py4j round-trips per level x
    # channel (~1 s of driver-side socket chatter per dedupe call,
    # measured by cProfile) for identical plans.
    pend = vals.selectExpr(
        "val",
        "CAST(0 AS LONG) AS key",
        f"({bit_scatter_sql('val')}) AS rv",
        "CAST(64 AS INT) AS nbits",
    )
    blocks_sql = f"""
        transform(sequence(0, {nb - 1}), i -> named_struct(
          'blk', CAST(i AS INT),
          'off', CAST(i * (nbits DIV {nb}) + least(i, nbits % {nb}) AS INT),
          'w',   CAST((nbits DIV {nb}) + IF(i < nbits % {nb}, 1, 0) AS INT)))
        """
    level_pairs: list[DataFrame] = []
    w = Window.partitionBy("key")
    for _level in range(max_levels):
        ex = pend.selectExpr(
            "val", "key", "rv", "nbits", f"explode({blocks_sql}) AS s"
        )
        ex = ex.selectExpr(
            "val",
            "xxhash64(key, s.blk,"
            " shiftrightunsigned(rv, s.off) & (shiftleft(1L, s.w) - 1)"
            ") AS key",
            """
            ((CASE WHEN s.off + s.w >= 64 THEN 0L
                   ELSE shiftleft(shiftrightunsigned(rv, s.off + s.w), s.off)
              END) | (rv & (shiftleft(1L, s.off) - 1))) AS rv
            """,
            "nbits - s.w AS nbits",
        )
        # each level's window exchange feeds TWO branches (the
        # small-bucket pair expansion AND the next level's pend), and
        # the levels compound: without materializing a level every
        # branch re-derives the whole prior-level chain, multiplying the
        # exchange's disk writes per level. Invisible at 1M rows (level
        # 0 converges: 1M/4096 ≈ 244 ≤ cap) — at 10M EVERY level-0
        # bucket exceeds the cap, level 1 is a ~250M-row exchange, and
        # the re-execution filled the disk (round-5 10M probe). An eager
        # checkpoint, not a persist: nothing is left for a caller to release.
        sized, _ = observed(ex.withColumn("_sz", F.count(F.lit(1)).over(w)), cfg)
        level_pairs.append(
            _small_pairs(sized, ["key"], "val", cap)
            .select(F.col("a").alias("va"), F.col("b").alias("vb"))
            .filter(hamming_dist(F.col("va"), F.col("vb")) <= k)
        )
        pend = sized.filter(F.col("_sz") > cap).drop("_sz")
    # terminal: exact all-pairs via self-join (distributed; no giant lists)
    lhs = pend.select("key", F.col("val").alias("va"))
    rhs = pend.select("key", F.col("val").alias("vb"))
    term = (
        lhs.join(rhs, "key")
        .filter(F.col("va") < F.col("vb"))
        .filter(hamming_dist(F.col("va"), F.col("vb")) <= k)
        .select("va", "vb")
    )
    out = level_pairs[0]
    for p in level_pairs[1:]:
        out = out.unionByName(p)
    return out.unionByName(term).dropDuplicates(["va", "vb"])


def _value_pairs(u: np.ndarray, k: int, cap: int, max_levels: int) -> np.ndarray:
    """Distinct uint64 values -> sorted codes i * len(u) + j (i < j) of
    every index pair within Hamming distance k (k >= 1): the recursive
    pigeonhole scan of the module docstring, depth-first per block so
    each level holds at most its parent's members."""
    nv = len(u)
    found: list[np.ndarray] = []

    def emit(idx: np.ndarray, pairs) -> None:
        for lp, rp in pairs:
            a, b = idx[lp], idx[rp]
            ok = _popcount(u[a] ^ u[b]) <= k
            a, b = a[ok], b[ok]
            found.append(np.minimum(a, b) * nv + np.maximum(a, b))

    def scan(idx, rv, gid, nbits: int, level: int) -> None:
        last = level + 1 == max_levels
        for off, w in _block_bounds(nbits, k + 1):
            # (parent bucket, block bits) as one sort key: gid < nv and
            # w <= 32 for k >= 1, so it fits 64 bits
            key = (gid << _U(w)) | ((rv >> _U(off)) & _U((1 << w) - 1))
            order = np.argsort(key)
            run, size, end = runs(key[order])
            # all pairs inside each bucket at or under the cap (every
            # bucket at the last level); runs of one yield none
            pos = np.flatnonzero((size <= cap) | last)
            emit(idx[order], range_pairs(pos, pos + 1, end[pos] - pos - 1))
            big = size > cap
            if last or not big.any():
                continue
            sub = order[big]
            # drop this block's bits; the rest stay <= k apart in-bucket
            rest = rv[sub] & _U((1 << off) - 1)
            if off + w < 64:
                rest |= (rv[sub] >> _U(off + w)) << _U(off)
            scan(idx[sub], rest, run[big].astype(np.uint64), nbits - w, level + 1)

    if nv >= 2:
        scan(np.arange(nv), _bit_scatter_np(u), np.zeros(nv, np.uint64), 64, 0)
    return np.unique(np.concatenate(found)) if found else np.empty(0, np.int64)


def ball_pairs(ids: np.ndarray, vals: np.ndarray, k: int, cap: int,
               max_levels: int) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(id, int64 value) rows -> every pair of distinct ids (a, b), a < b,
    whose values lie within Hamming distance k, each once, as (a, b)
    arrays of id values in chunks of about CHUNK pairs.

    Ids and values are factorized (np.unique: code order is id order,
    so (least, greatest) is taken on codes); the distinct (value, id)
    rows are kept sorted by value, each identical-value group expands
    to all its id pairs, _value_pairs runs over the distinct values and
    every verified value pair expands to its id pairs. Pairs leave in
    chunks, so a hot identical-value group streams out. When every id
    carries one value (an id column that is a key) each id pair arises
    once by construction; otherwise the pair codes are deduplicated
    first, holding the output.

    Memory per input row, about 4 id slots (onetask.id_bytes: the
    Arrow batch arrays, their concatenation, np.unique's sorted copy
    and result) plus _ROW_BYTES = 400 B: ~72 B of int64 value and code
    arrays, and ~80 B per refinement level for the scan's keys, sort
    order, run bookkeeping and next-level slices, up to max_levels + 1
    levels. On top: the pair chunks (~10 arrays of CHUNK int64, ~80
    MB) and 8 B per verified value pair. Measured: the value-pair scan
    over 250k distinct random values at k=4 peaks at ~107 MB."""
    if not len(vals):
        return
    uid, icode = np.unique(ids, return_inverse=True)
    uval, vcode = np.unique(vals, return_inverse=True)
    nid, nval = len(uid), len(uval)
    # distinct (value, id) rows, sorted by value code then id code
    vrow, irow = np.divmod(np.unique(vcode * nid + icode), nid)
    del icode, vcode
    gstart = np.searchsorted(vrow, np.arange(nval))
    gsize = np.append(gstart[1:], len(vrow)) - gstart

    def position_pairs():
        pos = np.arange(len(vrow))
        yield from range_pairs(pos, pos + 1, gstart[vrow] + gsize[vrow] - pos - 1)
        if k == 0:
            return
        va, vb = np.divmod(_value_pairs(uval.view(np.uint64), k, cap,
                                        max_levels), nval)
        # rows = (value pair, member of va's group) x vb's group
        for q, lp in range_pairs(np.arange(len(va)), gstart[va], gsize[va]):
            yield from range_pairs(lp, gstart[vb[q]], gsize[vb[q]])

    def code_pairs():
        for lp, rp in position_pairs():
            ia, ib = irow[lp], irow[rp]
            yield np.minimum(ia, ib), np.maximum(ia, ib)

    chunks = code_pairs()
    if len(vrow) > nid:  # an id with several values: dedupe first
        codes = [a[a != b] * nid + b[a != b] for a, b in chunks]
        if not codes:
            return
        codes = np.unique(np.concatenate(codes))
        chunks = (np.divmod(codes[s:s + CHUNK], nid)
                  for s in range(0, len(codes), CHUNK))
    for a, b in chunks:
        yield uid[a], uid[b]


def row_bytes(id_type: T.DataType) -> int:
    """Task bytes per (id, value) input row of ball_pairs."""
    return 4 * id_bytes(id_type) + _ROW_BYTES


def _local_pairs(ids: DataFrame, k: int, cap: int, max_levels: int) -> DataFrame:
    """The exact pair set of hamming_candidate_pairs in ONE mapInPandas
    task over a materialized (_hid, val) frame (ball_pairs) — no
    shuffle, no persist."""
    id_type = ids.schema["_hid"].dataType.simpleString()

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        id_parts, val_parts = [], []
        for pdf in it:
            id_parts.append(pdf["_hid"].to_numpy())
            val_parts.append(pdf["val"].to_numpy(np.int64))
        if not id_parts:
            return
        ids_, vals = np.concatenate(id_parts), np.concatenate(val_parts)
        del id_parts, val_parts
        for a, b in ball_pairs(ids_, vals, k, cap, max_levels):
            yield pd.DataFrame({"a": a, "b": b})

    return ids.coalesce(1).mapInPandas(kernel, schema=f"a {id_type}, b {id_type}")


def hamming_candidate_pairs(
    df: DataFrame,
    value_col: str,
    k: int,
    id_col: str = "image_id",
    cfg: DedupConfig = DEFAULT,
    max_levels: int = 3,
    cache_registry: list | None = None,
) -> DataFrame:
    """Every pair of distinct ids (a, b), a < b, with values within
    Hamming distance k, each once — exact: recall 1.0 at ANY bucket-size
    distribution and every pair verified where it is generated (module
    docstring), so no verify pass follows. Rows with a null id or value
    take no part.

    The input's (id, value) rows are checkpointed once, their count
    observed in the same job; that count picks the local one-task
    kernel (<= LOCAL_MAX_ROWS rows whose estimated working set fits
    one task) or the distributed recursion. Neither path persists a
    frame: every frame either materializes goes through onetask.observed,
    an eager checkpoint."""
    # `cache_registry` kept for the traced benchmark sequence until a benchmark change drops it
    ids, n = observed(
        df.select(F.col(id_col).alias("_hid"), F.col(value_col).alias("val"))
        .filter(F.col("_hid").isNotNull() & F.col("val").isNotNull()), cfg
    )
    if one_task(f"hamming_candidate_pairs({value_col}, k={k})", n["rows"], "rows",
                LOCAL_MAX_ROWS, row_bytes(ids.schema["_hid"].dataType)):
        return _local_pairs(ids, k, cfg.max_bucket_size, max_levels)

    # identical-value pairs (distance 0): expand directly, output-bound
    ia = ids.select(F.col("_hid").alias("a"), "val")
    ib = ids.select(F.col("_hid").alias("b"), "val")
    same = ia.join(ib, "val").filter(F.col("a") < F.col("b")).select("a", "b")
    if k == 0:
        return same.dropDuplicates(["a", "b"])

    vals = ids.select("val").distinct()
    vp = _refined_value_pairs(vals, k, max_levels, cfg)
    cross = (
        vp.join(ids.select(F.col("_hid").alias("_ia"), F.col("val").alias("va")), "va")
        .join(ids.select(F.col("_hid").alias("_ib"), F.col("val").alias("vb")), "vb")
        .filter(F.col("_ia") != F.col("_ib"))
        .select(
            F.least("_ia", "_ib").alias("a"), F.greatest("_ia", "_ib").alias("b")
        )
    )
    return same.unionByName(cross).dropDuplicates(["a", "b"])


def hamming_dist(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def verify_hamming(
    pairs: DataFrame,
    values: DataFrame,
    value_col: str,
    k: int,
    id_col: str = "image_id",
) -> DataFrame:
    """Exact filter: keep pairs with bit_count(va ^ vb) <= k."""
    va = values.select(F.col(id_col).alias("a"), F.col(value_col).alias("_va"))
    vb = values.select(F.col(id_col).alias("b"), F.col(value_col).alias("_vb"))
    return (
        pairs.join(va, "a")
        .join(vb, "b")
        .filter(hamming_dist(F.col("_va"), F.col("_vb")) <= k)
        .select("a", "b")
    )
