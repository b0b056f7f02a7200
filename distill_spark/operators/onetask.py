"""Path decision and numpy helpers shared by the single-task fast paths.

Connected components (`components.cc_labels`), the Hamming channel
(`hamming.ball_pairs`) and bucket-pair expansion (`lsh.bucket_pairs`)
are pure numpy kernels, arrays in and arrays out. Each operator folds a
small input into ONE mapInPandas task that runs its kernel; it
checkpoints its input with the row count observed in the same job
(`observed`) and states its working set as bytes per row, in units of
`id_bytes` for the id columns it holds; `one_task` takes the one-task
shape only while the rows stay within the operator's row cap and rows x
bytes-per-row within TASK_BYTES (`fits`). `dedupe()` runs the same
kernels in sequence in one task for the whole graph when every operator
would take its one-task path (pipeline._one_task_graph). The pair
kernels sort rows by a bucket key, scan runs of equal keys (`runs`) and
expand each run's pairs in bounded chunks (`range_pairs`).
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger("distill_spark")

TASK_BYTES = 2 << 30  # working-set budget of one Python worker task
CHUNK = 1 << 20  # pairs per chunk a pair kernel generates / yields


def id_bytes(dtype: T.DataType) -> int:
    """Estimated in-task bytes of one id held in a numpy/pandas array:
    an 8 B slot for integral ids; otherwise an 8 B object pointer plus
    its share of the Python object it points to (a short str is ~55 B)."""
    return 8 if isinstance(dtype, T.IntegralType) else 64


def observed(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict[str, int]]:
    """(`df` as an eager localCheckpoint, {"rows": its row count, name:
    value of each aggregate in `aggs`}), all observed in the
    checkpoint's own job; a null aggregate (no rows) reads 0."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                    *(c.alias(k) for k, c in aggs.items())).localCheckpoint(eager=True)
    return df, {k: v or 0 for k, v in obs.get.items()}


def fits(n: int, max_n: int, item_bytes: int) -> bool:
    """n <= max_n items of `item_bytes` each fit TASK_BYTES."""
    return n <= max_n and n * item_bytes <= TASK_BYTES


def one_task(what: str, n: int, unit: str, max_n: int, item_bytes: int) -> bool:
    """fits(), logged at debug as `what: n unit -> local|distributed path`."""
    local = fits(n, max_n, item_bytes)
    log.debug("%s: %d %s -> %s path", what, n, unit,
              "local" if local else "distributed")
    return local


def range_pairs(
    left: np.ndarray, lo: np.ndarray, cnt: np.ndarray, chunk: int = CHUNK
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """For every row r the pairs (left[r], lo[r] + t), t < cnt[r], as
    (left, right) arrays in chunks of about `chunk` pairs. A row is
    never split, so a chunk holds at most chunk + max(cnt) pairs."""
    keep = cnt > 0
    left, lo, cnt = left[keep], lo[keep], cnt[keep]
    if not len(cnt):
        return
    end = np.cumsum(cnt)
    cuts = np.searchsorted(end, np.arange(chunk, end[-1], chunk), side="right")
    bounds = np.unique(np.concatenate(([0], cuts, [len(cnt)])))
    for s, e in zip(bounds[:-1], bounds[1:]):
        c = cnt[s:e]
        first = np.repeat(np.cumsum(c) - c, c)
        yield (np.repeat(left[s:e], c),
               np.repeat(lo[s:e], c) + np.arange(first.size) - first)


def runs(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per position of sorted `keys`: the index, size and end (one past
    its last position) of its run of equal keys."""
    new = np.ones(len(keys), dtype=bool)
    new[1:] = keys[1:] != keys[:-1]
    starts = np.flatnonzero(new)
    ends = np.append(starts[1:], len(keys))
    run = np.cumsum(new) - 1
    return run, (ends - starts)[run], ends[run]
