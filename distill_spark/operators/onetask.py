"""Path decision and numpy helpers shared by the single-task fast paths.

Connected components (`components._cc_local_labels`), the Hamming
channel (`hamming._local_pairs`) and bucket-pair expansion
(`lsh._pair_kernel`) each fold a small input into ONE mapInPandas task.
Each checkpoints its input with the row count observed in the same job
(`observed`) and states its working set as bytes per row, in units of
`id_bytes` for the id columns it holds; `one_task` takes the one-task
shape only while the rows stay within the operator's row cap and rows x
bytes-per-row within TASK_BYTES. The pair kernels sort rows by a bucket
key, scan runs of equal keys (`runs`) and expand each run's pairs in
bounded chunks (`range_pairs`).
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, Observation
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


def observed(df: DataFrame) -> tuple[DataFrame, int]:
    """(`df` as an eager localCheckpoint, its row count observed in the
    checkpoint's own job)."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
    return df, obs.get["rows"]


def one_task(what: str, n: int, unit: str, max_n: int, item_bytes: int) -> bool:
    """True when n <= max_n items of `item_bytes` each fit TASK_BYTES;
    logged at debug as `what: n unit -> local|distributed path`."""
    local = n <= max_n and n * item_bytes <= TASK_BYTES
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
