"""The one eager materialization of the dedup engine, and the path
decision and numpy helpers shared by the single-task fast paths.

`observed` checkpoints a frame eagerly (local, or reliable with
cfg.cc_reliable_checkpoint), observing its row count and any other
aggregates in the same job. No frame of the engine is persisted.

Connected components (`components.cc_labels`), the Hamming channel
(`hamming.ball_pairs`) and bucket-pair expansion (`lsh.bucket_pairs`)
are pure numpy kernels, arrays in and arrays out. Each operator folds a
small input into ONE mapInPandas task that runs its kernel; it
materializes its input through `observed` and states its working set as
bytes per row, in units of `id_bytes` for the id columns it holds;
`one_task` takes the one-task shape only while the rows stay within the
operator's row cap and rows x bytes-per-row within TASK_BYTES (`fits`).
`dedupe()` runs the same kernels in sequence in one task for the whole
graph when every operator would take its one-task path
(pipeline._one_task_graph), and the write-time probe does the same for
a batch against the stored rows (probe.probe_rows; streaming ingest
adds the batch's signatures and its greedy to that task). The pair kernels
sort rows by a bucket key, scan runs of equal keys (`runs`) and expand
each run's pairs in bounded chunks (`range_pairs`); the fused kernels
read Arrow columns (`list_rows`, `lanes`), verify every row pair of a
candidate id pair (`row_pairs`) and stop at a failed gate (`OverBudget`).
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig

log = logging.getLogger("distill_spark")

TASK_BYTES = 2 << 30  # working-set budget of one Python worker task
CHUNK = 1 << 20  # pairs per chunk a pair kernel generates / yields
# row pairs per verify call of a fused kernel: bounds the flat shingle
# arrays of a Jaccard call and the window-set memo of an LCS call, as an
# Arrow batch bounds them on the per-operator path
VERIFY_CHUNK = 10_000


class OverBudget(Exception):
    """A gate of a fused one-task kernel failed; the message names it."""


def id_bytes(dtype: T.DataType) -> int:
    """Estimated in-task bytes of one id held in a numpy/pandas array:
    an 8 B slot for integral ids; otherwise an 8 B object pointer plus
    its share of the Python object it points to (a short str is ~55 B)."""
    return 8 if isinstance(dtype, T.IntegralType) else 64


def observed(df: DataFrame, cfg: DedupConfig,
             **aggs: Column) -> tuple[DataFrame, dict]:
    """(`df` as an eager checkpoint, {"rows": its row count, name: value
    of each aggregate in `aggs`}), all observed in the checkpoint's own
    job; a null aggregate (a sum or max over no rows) reads None. The
    checkpoint is reliable under cfg.checkpoint_dir (or the
    SparkContext's) when cfg.cc_reliable_checkpoint is set, else local."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                    *(c.alias(k) for k, c in aggs.items()))
    if cfg.cc_reliable_checkpoint:
        sc = df.sparkSession.sparkContext
        if cfg.checkpoint_dir:
            _use_checkpoint_dir(sc, cfg.checkpoint_dir)
        elif sc.getCheckpointDir() is None:
            raise ValueError("cc_reliable_checkpoint=True needs cfg.checkpoint_dir "
                             "(or a SparkContext checkpoint dir): there is no default")
        df = df.checkpoint(eager=True)
    else:
        df = df.localCheckpoint(eager=True)
    return df, obs.get


def _use_checkpoint_dir(sc, path: str) -> None:
    """Point the context's reliable checkpoints under `path`, unless they
    already go there: setCheckpointDir makes a new random subdirectory
    on every call, so one run keeps one."""
    current = sc.getCheckpointDir()
    if current is not None:
        hadoop = sc._jvm.org.apache.hadoop.fs.Path
        want = hadoop(path)
        want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
        if hadoop(current).getParent().equals(want):
            return
    sc.setCheckpointDir(path)


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


def _expand(lo: np.ndarray, cnt: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(i repeated cnt[i] times, lo[i] + t for every t < cnt[i])."""
    idx = np.repeat(np.arange(len(cnt)), cnt)
    first = np.repeat(np.cumsum(cnt) - cnt, cnt)
    return idx, np.repeat(lo, cnt) + np.arange(len(idx)) - first


def row_pairs(ca: np.ndarray, cb: np.ndarray, row_code: np.ndarray):
    """For code pairs (ca[q], cb[q]): (q, ra, rb) for every row ra of
    code ca[q] and rb of code cb[q] — a pair frame joined to a
    feature frame on both sides, where an id may own several rows."""
    order = np.argsort(row_code, kind="stable")
    sc = row_code[order]
    lo_a = np.searchsorted(sc, ca)
    lo_b = np.searchsorted(sc, cb)
    q, pa_ = _expand(lo_a, np.searchsorted(sc, ca, "right") - lo_a)
    j, pb = _expand(lo_b[q], (np.searchsorted(sc, cb, "right") - lo_b)[q])
    return q[j], order[pa_[j]], order[pb]


def list_rows(col: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(row of every element, flat elements) of a list column."""
    col = col.combine_chunks()
    lens = pc.fill_null(pc.list_value_length(col), 0).to_numpy(zero_copy_only=False)
    return (np.repeat(np.arange(len(col)), lens),
            col.flatten().to_numpy(zero_copy_only=False))


def lanes(col: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(rows holding a list, (those rows, list length) matrix) of a list
    column whose non-null lists all have one length (minhash lanes)."""
    col = col.combine_chunks()
    rows = np.flatnonzero(col.is_valid().to_numpy(zero_copy_only=False))
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return rows, flat.reshape(len(rows), -1) if len(rows) else flat.reshape(0, 0)


def record_batch(cols: dict, schema: pa.Schema) -> pa.RecordBatch:
    """A batch of `schema` from the columns in `cols` (Arrow arrays of
    the field's type, or values to convert); every other field all
    null."""
    size = len(next(iter(cols.values())))
    return pa.RecordBatch.from_arrays(
        [pa.nulls(size, f.type) if f.name not in cols
         else cols[f.name] if isinstance(cols[f.name], pa.Array)
         else pa.array(cols[f.name], f.type) for f in schema], schema=schema)
