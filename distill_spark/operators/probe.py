"""Write-time dedup probe shared by MemoryStore.store_batch,
SessionStore.push and streaming ingest: the reference's per-entry
`findSimilar` probe (SURVEY J3), its conflict band (J4) and session
push probe (J5), plus the id-order greedy (oracle.oracle_ingest's
rule). Callers key new rows so that string id order is their arrival
order.

`probe_edges` has two paths with one result. It decides between them
on row counts the caller already holds, so the decision runs no job:
the new rows' count observed in their own checkpoint, and the stored
rows' count from table metadata (VersionedTable.row_count, parquet
footers).

  * ONE TASK (band rows of new + stored within lsh.LOCAL_MAX_ROWS and
    their working set within onetask.TASK_BYTES): one
    coalesce(1).mapInArrow task over new ∪ stored runs `probe_rows`:
    it computes every row's band keys in numpy (minhash.band_keys),
    pairs each new row with every stored row and every smaller new id
    in its buckets, and verifies each pair's Jaccard (verify.jaccard).
    It stops at a gate it can only check as it goes, held candidate
    pairs or held bytes, and reports it through an Observation.
  * BAND JOIN (a count gate or an in-task gate failed): the new rows'
    band buckets joined to the stored and new rows' buckets, then a
    shingle attach and jaccard_col.

One debug line on the `distill_spark` logger names the path taken.

Streaming ingest calls `probe_rows` (through `planned_probe`) inside its
own one-task path, which also computes the batch's signatures and runs
the greedy in the same task; it goes through `probe_edges` only on its
fallback (streaming/ingest.py)."""

from __future__ import annotations

import logging
from functools import partial
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import DedupConfig
from . import lsh, onetask
from .minhash import band_buckets, band_keys
from .verify import jaccard, jaccard_col

log = logging.getLogger("distill_spark")


def check_guard(n: int, max_rows: int, what: str) -> None:
    """Raise when `n` edge rows are more than a driver-side collect may
    hold."""
    if n > max_rows:
        raise ValueError(
            f"{what} produced more than {max_rows} rows for a driver-side "
            "collect; this edge list is expected to be output-bound and "
            "small — raise the guard only if the batch genuinely contains "
            "that many duplicate edges"
        )


def guarded_collect(df: DataFrame, max_rows: int, what: str) -> list:
    """Collect with a loud failure instead of a silent driver OOM
    (pattern from operators/rerank.py): fetch max_rows+1 and raise if
    the limit is hit. For output-bound edge lists that are small in any
    sane input but unbounded in theory."""
    rows = df.limit(max_rows + 1).collect()
    check_guard(len(rows), max_rows, what)
    return rows


def probe_edges(new: DataFrame, stored: DataFrame, cfg: DedupConfig,
                floor: float, what: str, new_rows: int,
                stored_rows: int | None) -> list:
    """Rows (n, o, old, jaccard) with exact shingle Jaccard >= floor.

    `new` and `stored` are (id, shingles, minhash) frames (extra columns
    are ignored; a null minhash never matches, a null id never pairs).
    Each row pairs a new id n with a stored id (old=True) or with a
    smaller new id (old=False, o < n); an id present on both sides
    attaches once per side, and an id with several rows on a side
    yields one row per row pair that passes.

    `new` must be an eager materialization (onetask.observed) and
    `new_rows` its row count: it feeds the one-task union, or the bucket
    side, the intra side and the shingle attach of the band join, and
    both a lazy signature pass and coalesce(1) over it would recompute
    it. `stored_rows` bounds the stored rows (None: unknown, which takes
    the band join). The collect fails loudly past
    cfg.extra["dup_edges_max"] (default 1,000,000) rows; `what` names it
    in the error and in the debug line."""
    new = new.select("id", "shingles", "minhash")
    stored = stored.select("id", "shingles", "minhash")
    max_rows = edges_max(cfg)
    why = _count_gate(new, cfg, new_rows, stored_rows)
    if why is None:
        rows, why = _one_task(new, stored, cfg, floor, max_rows)
    log.debug("probe (%s): %d new + %s stored rows -> %s", what, new_rows,
              stored_rows, "one-task path" if why is None else f"band join ({why})")
    if why is None:
        check_guard(len(rows), max_rows, what)
        return rows
    return guarded_collect(_band_join(new, stored, cfg, floor), max_rows, what)


def edges_max(cfg: DedupConfig) -> int:
    """The most probe rows a driver-side collect may hold."""
    return int(cfg.extra.get("dup_edges_max", 1_000_000))


def band_row_bytes(id_type: T.DataType) -> int:
    """In-task bytes of one (id, band key) row of the one-task probe."""
    return lsh.row_bytes([id_type, T.LongType()])


def _count_gate(new: DataFrame, cfg: DedupConfig, new_rows: int,
                stored_rows: int | None) -> str | None:
    """None when the one-task path may run at these counts; else the
    gate that fails."""
    if stored_rows is None:
        return "stored rows unknown"
    if not onetask.fits((new_rows + stored_rows) * cfg.bands, lsh.LOCAL_MAX_ROWS,
                        band_row_bytes(new.schema["id"].dataType)):
        return "band rows over cap"
    return None


def _one_task(new: DataFrame, stored: DataFrame, cfg: DedupConfig, floor: float,
              max_rows: int) -> tuple[list, str | None]:
    """(probe_rows' rows, None), or ([], the in-task gate that failed)."""
    id_type = new.schema["id"].dataType
    schema = T.StructType([
        T.StructField("n", id_type), T.StructField("o", id_type),
        T.StructField("old", T.BooleanType()), T.StructField("jaccard", T.DoubleType()),
        T.StructField("bail", T.StringType()),
    ])
    kernel = _probe_kernel(planned_probe(cfg, floor, max_rows, id_type),
                           to_arrow_schema(schema))
    obs = Observation()
    rows = (stored.withColumn("_old", F.lit(True))
            .unionByName(new.withColumn("_old", F.lit(False)))
            .coalesce(1).mapInArrow(kernel, schema)
            .observe(obs, F.max("bail").alias("bail"))
            .select("n", "o", "old", "jaccard").collect())
    why = obs.get["bail"]
    return (rows, None) if why is None else ([], why)


def planned_probe(cfg: DedupConfig, floor: float, max_rows: int,
                  id_type: T.DataType) -> Callable[[pa.Table], dict]:
    """probe_rows with its budgets read here, where the task is planned,
    so a caller's setting holds in the Python worker too."""
    return partial(probe_rows, cfg=cfg, floor=floor, max_rows=max_rows,
                   pair_budget=onetask.TASK_BYTES // (2 * lsh._PAIR_BYTES),
                   row_bytes=band_row_bytes(id_type),
                   task_bytes=onetask.TASK_BYTES)


def probe_rows(tbl: pa.Table, *, cfg: DedupConfig, floor: float, max_rows: int,
               pair_budget: int, row_bytes: int, task_bytes: int) -> dict:
    """The one-task probe over every new (`_old` false) and stored
    (`_old` true) row of `tbl` (id, shingles, minhash, _old):
    band_join's rows, at most max_rows + 1 of them, as the columns
    {n, o, old, jaccard}. Raises onetask.OverBudget naming the gate
    that failed."""
    tbl = tbl.filter(pc.is_valid(tbl.column("id")))
    rows, lanes = onetask.lanes(tbl.column("minhash"))
    if tbl.nbytes + len(rows) * cfg.bands * row_bytes > task_bytes:
        raise onetask.OverBudget("working set over budget")
    old = tbl.column("_old").to_numpy(zero_copy_only=False)
    code, uid = pd.factorize(tbl.column("id").to_numpy(zero_copy_only=False),
                             sort=True)
    nid = len(uid)
    # every (band key, row) of a bucket that holds a new row, sorted by
    # key: a bucket is a run, and each new row pairs with every row of
    # its run
    key = band_keys(lanes, cfg).ravel()
    brow = np.repeat(rows, cfg.bands)
    hit = pd.Series(key).isin(key[~old[brow]]).to_numpy()
    key, brow = key[hit], brow[hit]
    order = np.argsort(key, kind="stable")
    brow = brow[order]
    _, size, end = onetask.runs(key[order])
    left = np.flatnonzero(~old[brow])
    if size[left].sum() > pair_budget:
        raise onetask.OverBudget("candidates over budget")
    cand = [np.empty(0, np.int64)]
    for a, b in onetask.range_pairs(left, (end - size)[left], size[left]):
        n, o, o_old = code[brow[a]], code[brow[b]], old[brow[b]]
        keep = o_old | (o < n)
        cand.append((n[keep] * nid + o[keep]) * 2 + o_old[keep])
    side = np.unique(np.concatenate(cand))
    cn, co = np.divmod(side >> 1, nid)
    # every row pair of a candidate: n's new rows x o's rows on its
    # side; a row with null shingles attaches nowhere (jaccard_col
    # of a null is null)
    has_sh = tbl.column("shingles").is_valid().to_numpy(zero_copy_only=False)
    q, ra, rb = onetask.row_pairs(cn * 2, co * 2 + (side & 1),
                                  np.where(has_sh, code * 2 + old, -1))
    sh_row, sh = onetask.list_rows(tbl.column("shingles"))
    bound = np.searchsorted(sh_row, np.arange(tbl.num_rows + 1))
    jac = np.empty(len(q), np.float64)
    step = onetask.VERIFY_CHUNK
    for s in range(0, len(q), step):
        jac[s:s + step] = jaccard([sh[bound[r]:bound[r + 1]] for r in ra[s:s + step]],
                                  [sh[bound[r]:bound[r + 1]] for r in rb[s:s + step]])
    ok = np.flatnonzero(jac >= floor)[:max_rows + 1]
    return {"n": uid[cn[q[ok]]], "o": uid[co[q[ok]]],
            "old": (side[q[ok]] & 1).astype(bool), "jaccard": jac[ok]}


def _probe_kernel(probe: Callable[[pa.Table], dict], schema: pa.Schema):
    """mapInArrow function of the one-task probe: `probe` (planned_probe)
    over the whole input. Output (`schema`): its rows, or one row whose
    `bail` names the gate that failed."""

    def kernel(it):
        batches = [b for b in it if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()
        del batches
        try:
            out = probe(tbl)
        except onetask.OverBudget as e:
            yield onetask.record_batch({"bail": [str(e)]}, schema)
            return
        if len(out["n"]):
            yield onetask.record_batch(out, schema)

    return kernel


def _band_join(new: DataFrame, stored: DataFrame, cfg: DedupConfig,
               floor: float) -> DataFrame:
    """The distributed probe: the new rows' band buckets joined to the
    stored and new rows' buckets, then the shingles of both sides."""
    bb_n = band_buckets(new.filter(F.col("minhash").isNotNull()),
                        "minhash", "id", cfg)
    bb_o = band_buckets(stored.filter(F.col("minhash").isNotNull()),
                        "minhash", "id", cfg)
    cand = (
        bb_n.withColumnRenamed("id", "n")
        .join(bb_o.withColumn("old", F.lit(True))
              .unionByName(bb_n.withColumn("old", F.lit(False)))
              .withColumnRenamed("id", "o"), "bucket")
        .filter(F.col("old") | (F.col("o") < F.col("n")))
        .select("n", "o", "old")
        .dropDuplicates()
    )
    sides = stored.withColumn("old", F.lit(True)).unionByName(
        new.withColumn("old", F.lit(False)))
    return (
        cand.join(new.select(F.col("id").alias("n"),
                             F.col("shingles").alias("sh_n")), "n")
        .join(sides.select(F.col("id").alias("o"), "old",
                           F.col("shingles").alias("sh_o")), ["o", "old"])
        .withColumn("jaccard", jaccard_col(F.col("sh_n"), F.col("sh_o")))
        .filter(F.col("jaccard") >= floor)
        .select("n", "o", "old", "jaccard")
    )


def greedy_accept(edges) -> dict:
    """{rejected n: matched o} over probe_edges rows (or any iterable of
    (n, o, old, ...) tuples). o is the smallest stored id n matches; a
    row with no stored match takes the smallest earlier accepted new row
    it matches. Rows absent from the result are accepted."""
    out: dict = {}
    intra: dict = {}
    for n, o, old, *_ in edges:
        if old:
            out[n] = min(out.get(n, o), o)
        else:
            intra.setdefault(n, []).append(o)
    # ascending n: every o < n already has its final status
    for n in sorted(intra.keys() - out.keys()):
        hit = min((o for o in intra[n] if o not in out), default=None)
        if hit is not None:
            out[n] = hit
    return out
