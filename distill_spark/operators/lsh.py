"""Candidate pairs from bucket tables, with explicit skew handling.

Input: any (id, bucket key) table: MinHash band buckets, winnowing
fingerprints and their refined (fingerprint, window) sub-buckets, or
hyperplane-LSH (table, bucket) keys. A key is one or more columns of
any type; ids are of any orderable type. Output: candidate pairs
(a, b) with a < b. Rows with a null id take no part: they neither pair
nor count toward their bucket's size. A bucket is sized in rows, and an
id repeated in a bucket pairs only with the bucket's other ids.

The cap rule: a bucket of 2 to `cap` members expands to all its pairs.
What happens above the cap is chosen per channel by its recall
contract (north rule: "salted repartitioning breaks hot LSH buckets"):

  * pairs_from_buckets (star fallback): an oversized bucket emits a
    STAR, every member vs the bucket's min id. PRECONDITION for using
    star: either (a) the channel is probabilistic and other buckets
    rescue missed pairs (MinHash bands — a pair missed in one oversized
    band has 31 more bands), or (b) every pair inside the bucket is
    guaranteed to pass exact verification (so hub-spoke edges survive
    and connected components still merge the bucket). Star is NOT
    valid for recall-guaranteed channels whose bucket members may fail
    pairwise verification (raw winnowing fingerprints) — those use
    pairs_and_overflow + channel refinement.

  * pairs_and_overflow: the member rows of an oversized bucket are
    RETURNED, with the input's columns, so the channel can refine them
    on more signature bits (winnow.refine_oversized full-window
    sub-fingerprints) without losing pairs.

Two execution paths, picked at runtime by ONE count of the non-null-id
rows, observed while the input is checkpointed (onetask.observed):

  * LOCAL (rows <= LOCAL_MAX_ROWS and the working set fits one task,
    onetask.one_task): one coalesce(1).mapInPandas task sorts the
    rows by (key, id), scans runs of equal keys and applies the cap
    rule in numpy (bucket_pairs). A pair several buckets share (an id
    pair in several bands) leaves the task once. pairs_and_overflow
    returns its oversized rows from a second one-task pass over the
    same checkpoint (oversized). No shuffle.
  * DISTRIBUTED (above the cap): one window exchange sizes the buckets;
    small buckets collect_set + explode their sorted member arrays,
    and star pairs are emitted row-wise from the same window's min id,
    so an oversized bucket is never collected into one task's list.

Both paths return the same pair set.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig, DEFAULT
from . import onetask
from .onetask import CHUNK, id_bytes, observed, one_task, range_pairs, runs

# Inputs of at most this many non-null-id rows run the one-task kernel;
# above it the kernel's serial sort and scan outgrow the distributed
# path's fixed per-stage cost. The kernel over band-like rows (int64
# ids and keys, 32 rows per id, buckets of 8 ids) on one core: 0.14 s
# at 256k rows, 1.1 s at 2M, 5.2 s at 8M, peaking at 163-245 B per row
# (tracemalloc), within the 248 B per row the gate below assumes.
LOCAL_MAX_ROWS = 2_000_000
# Kernel bytes per input row on top of 3 slots per column (see
# bucket_pairs for the breakdown).
_ROW_BYTES = 200
# Bytes per pair while a stripe of pairs is deduplicated: the pair
# codes, their concatenation, np.unique's sorted copy and result.
_PAIR_BYTES = 40


def key_codes(cols: list[np.ndarray]) -> np.ndarray:
    """One dense int64 code per row, equal exactly where every key column
    is equal (a null equals a null, as in a Spark grouping): the bucket
    key of bucket_pairs and oversized."""
    code = None
    for col in cols:
        c, u = pd.factorize(col, use_na_sentinel=False)
        code = c if code is None else pd.factorize(code * len(u) + c)[0]
    return code.astype(np.int64, copy=False)


def bucket_pairs(ids: np.ndarray, kc: np.ndarray, cap: int, star: bool,
                 budget: int) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Every (id, bucket) row, the bucket given as its key_codes `kc` ->
    each distinct pair (a, b), a < b, of the cap rule, as (a, b) arrays
    of id values in chunks of at most CHUNK pairs.

    Ids are factorized in sort order (code order is id order) and the
    rows sorted by (key code, id code), so each bucket is a run of
    sorted ids. A row of a bucket of at most `cap` rows pairs with every
    later row of its run; with `star`, every other row of an oversized
    bucket pairs with the run's first (min) id. The pair count is taken
    from those run sizes before any pair is built; pairs of an id with
    itself (an id repeated in a run) are dropped, and the rest are
    deduplicated in stripes of left ids of about `budget` pairs each
    (one stripe unless the pairs outgrow the budget).

    Memory per input row, about 3 slots per column (onetask.id_bytes:
    the Arrow batch, the concatenated frame, factorize's uniques) plus
    _ROW_BYTES = 200 B: ~24 int64 arrays for codes, sort order, run
    bookkeeping and pair sources. On top: one stripe, _PAIR_BYTES per
    pair, and the chunk being handed out."""
    if not len(ids):
        return
    icode, uid = pd.factorize(ids, sort=True)
    nid = len(uid)
    order = np.argsort(kc * nid + icode)
    sid = icode[order]
    _, size, end = runs(kc[order])
    del icode, kc, order
    pos = np.arange(len(sid))
    # pair sources: row r yields (left[r], sid[lo[r] + t]), t < cnt[r]
    small = size <= cap
    left, lo, cnt = sid[small], pos[small] + 1, (end - pos - 1)[small]
    if star:
        hub = sid[end - size]
        spoke = ~small & (sid != hub)
        left = np.concatenate([left, hub[spoke]])
        lo = np.concatenate([lo, pos[spoke]])
        cnt = np.concatenate([cnt, np.ones(int(spoke.sum()), np.int64)])
    # pairs per left id, cumulated: stripe cuts keep each stripe
    # within budget + the pairs of its first id
    cum = np.bincount(left, weights=cnt, minlength=nid).cumsum()
    if cum[-1] == 0:
        return
    cuts = np.searchsorted(cum, np.arange(budget, cum[-1], budget), side="right")
    bounds = np.unique(np.concatenate(([0], cuts, [nid])))
    for s, e in zip(bounds[:-1], bounds[1:]):
        m = (left >= s) & (left < e)
        codes = []
        for a, rp in range_pairs(left[m], lo[m], cnt[m]):
            b = sid[rp]
            keep = a != b
            codes.append(a[keep] * nid + b[keep])
        if not codes:
            continue
        codes = np.unique(np.concatenate(codes))
        for c in range(0, len(codes), CHUNK):
            a, b = np.divmod(codes[c:c + CHUNK], nid)
            yield uid[a], uid[b]


def oversized(kc: np.ndarray, cap: int) -> np.ndarray:
    """Per row of bucket key_codes `kc`: whether its bucket holds more
    than `cap` rows."""
    return np.bincount(kc)[kc] > cap


def _pair_kernel(key_cols: list[str], id_col: str, cap: int, star: bool,
                 budget: int):
    """mapInPandas function: every (id, key...) row of the input in one
    task -> bucket_pairs, in frames of CHUNK pairs."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [pdf for pdf in it if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        del parts
        ids, keys = pdf[id_col].to_numpy(), [pdf[k].to_numpy() for k in key_cols]
        del pdf
        for a, b in bucket_pairs(ids, key_codes(keys), cap, star, budget):
            yield pd.DataFrame({"a": a, "b": b})

    return kernel


def _overflow_kernel(key_cols: list[str], cap: int):
    """mapInArrow function: every row of the input in one task -> the
    rows of buckets above `cap`, their columns passed through as they
    are."""

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = [b for b in it if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        big = oversized(key_codes([tbl.column(k).to_numpy() for k in key_cols]), cap)
        yield from tbl.filter(pa.array(big)).to_batches(max_chunksize=CHUNK)

    return kernel


def _observed(buckets: DataFrame, key_cols: list[str], id_col: str,
              what: str, cfg: DedupConfig) -> tuple[DataFrame, bool]:
    """The non-null-id rows, checkpointed, and whether their count picks
    the local path."""
    rows_df, n = observed(buckets.filter(F.col(id_col).isNotNull()), cfg)
    return rows_df, one_task(f"{what}({', '.join(key_cols)})", n["rows"], "rows",
                             LOCAL_MAX_ROWS,
                             row_bytes([f.dataType for f in rows_df.schema.fields]))


def row_bytes(types: list[T.DataType]) -> int:
    """Task bytes per input row of bucket_pairs over columns of `types`.
    The rows may take half the task budget; the other half holds the
    stripe of pairs being deduplicated."""
    return 2 * (3 * sum(id_bytes(t) for t in types) + _ROW_BYTES)


def _local_pairs(rows_df: DataFrame, key_cols: list[str], id_col: str,
                 cap: int, star: bool) -> DataFrame:
    """_pair_kernel over the checkpointed rows in one task."""
    id_type = rows_df.schema[id_col].dataType.simpleString()
    budget = onetask.TASK_BYTES // (2 * _PAIR_BYTES)
    return rows_df.select(id_col, *key_cols).coalesce(1).mapInPandas(
        _pair_kernel(key_cols, id_col, cap, star, budget),
        schema=f"a {id_type}, b {id_type}",
    )


def _small_pairs(sized: DataFrame, key_cols: list[str], id_col: str,
                 cap: int) -> DataFrame:
    """All pairs (a, b), a < b, of distinct ids of the buckets of 2 to
    cap rows of a `_sz`-sized frame: each bucket's sorted id set `_ids`
    expands to every element x paired with each element after it."""
    grouped = (
        sized.filter((F.col("_sz") >= 2) & (F.col("_sz") <= cap))
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("_ids"))
    )
    pairs = F.expr(
        """
        flatten(transform(_ids, (x, i) ->
          transform(slice(_ids, i + 2, size(_ids) - i - 1),
                    y -> struct(x AS a, y AS b))))
        """
    )
    return grouped.select(F.explode(pairs).alias("p")).select("p.a", "p.b")


def pairs_from_buckets(
    buckets: DataFrame,
    key_cols: list[str],
    id_col: str = "image_id",
    cfg: DedupConfig = DEFAULT,
    cap: int | None = None,
    oversize: str = "star",
    dedup: bool = True,
) -> DataFrame:
    """-> DataFrame[a, b] (same type as id_col), a < b: all pairs of
    buckets of at most `cap` (default cfg.max_bucket_size) rows and a
    star on the min id of every larger bucket (see the precondition in
    the module docstring); distinct unless dedup=False.

    dedup=False lets the distributed path skip its final dropDuplicates
    exchange — for callers that union several candidate streams and
    deduplicate ONCE after the union (guide §2.4: two dedups one step
    apart shuffle the same pairs twice). The local path always returns
    each pair once.

    oversize: only "star" is accepted (kept while perfbench/tracing.py
    passes it)."""
    if oversize != "star":
        raise ValueError(f"oversize must be 'star', got {oversize!r}")
    if cap is None:
        cap = cfg.max_bucket_size
    rows_df, local = _observed(buckets.select(id_col, *key_cols), key_cols,
                               id_col, "pairs_from_buckets", cfg)
    if local:
        return _local_pairs(rows_df, key_cols, id_col, cap, star=True)
    w = Window.partitionBy(*key_cols)
    sized = rows_df.withColumn("_sz", F.count(F.lit(1)).over(w)).withColumn(
        "_min", F.min(F.col(id_col)).over(w)
    )
    star = (
        sized.filter(F.col("_sz") > cap)
        .filter(F.col(id_col) != F.col("_min"))
        .select(F.col("_min").alias("a"), F.col(id_col).alias("b"))
    )
    pairs = _small_pairs(sized, key_cols, id_col, cap).unionByName(star)
    return pairs.dropDuplicates(["a", "b"]) if dedup else pairs


def pairs_and_overflow(
    buckets: DataFrame,
    key_cols: list[str],
    id_col: str = "image_id",
    cfg: DedupConfig = DEFAULT,
    cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split buckets by size: (each pair of the buckets of at most `cap`
    rows once, the member rows of larger buckets). Oversized members
    keep the input's columns so the caller can refine them on more
    signature bits — no pair is silently dropped. Both outputs read
    one checkpoint of the input; on the distributed path they also
    share one window exchange."""
    if cap is None:
        cap = cfg.max_bucket_size
    rows_df, local = _observed(buckets, key_cols, id_col, "pairs_and_overflow", cfg)
    if local:
        overflow = rows_df.coalesce(1).mapInArrow(
            _overflow_kernel(key_cols, cap), rows_df.schema
        )
        return _local_pairs(rows_df, key_cols, id_col, cap, star=False), overflow
    w = Window.partitionBy(*key_cols)
    sized = rows_df.withColumn("_sz", F.count(F.lit(1)).over(w))
    pairs = _small_pairs(sized, key_cols, id_col, cap).dropDuplicates(["a", "b"])
    overflow = sized.filter(F.col("_sz") > cap).drop("_sz")
    return pairs, overflow
