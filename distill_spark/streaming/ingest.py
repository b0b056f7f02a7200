"""Streaming / incremental ingest with write-time dedup.

Reference: the channelized ingest pipeline (reader -> batcher ->
worker pool, /root/reference/pkg/ingest/pipeline.go:108-186,307-335)
and the frozen cache prefix that exempts stable data from recompute
(pkg/cache/prefix.go:40-69). The reference has no event-time
semantics (SURVEY.md §2.10), so the Spark mapping is Structured
Streaming `foreachBatch` with idempotent sink commits — NOT
watermarked windowing.

Incremental contract per micro-batch:
  1. signatures of the incoming batch (shingles + MinHash, the kernel
     of operators/signatures.py)
  2. the write-time probe (operators/probe.py) of the batch against the
     ACCUMULATED signature state and itself
  3. its id-order greedy -> dup rows dropped, novel rows appended to
     state. The state holds accepted rows only, each its own component,
     so a dup's component is the row it matched: assignments/ is never
     read back.
  4. metrics row per batch (ingest stats analog, pipeline.go:48-72)

Steps 1-3 run as ONE Arrow task (one Spark job) when the stored and new
rows fit one: a coalesce(1).mapInArrow task over stored (id, shingles,
minhash) ∪ batch (id, caption) computes the batch's signatures
(signature_kernel), probes them (probe.probe_rows) and runs the greedy,
and the driver collects the batch's finished rows with toArrow() and
writes both outputs itself with pyarrow. The gates: the stored rows'
count from the state's parquet footers (no job) must leave room for a
new row within the probe's band-row cap; the task reads at most that
room + 1 new rows (a limit below its coalesce), and seeing room + 1
rows, or held bytes over onetask.TASK_BYTES, or the probe's own budgets
failing, sends the batch to the fallback. The fallback runs each step
on its own: the signature pass checkpointed with its row count
observed (onetask.observed), probe_edges (one task or the band join),
the greedy on the driver, and both outputs from one broadcast join of
the rejected ids onto the checkpointed signatures (map-only Spark
writes). Both paths publish the same rows; a debug line on the
`distill_spark` logger names the path taken.

Atomicity: each batch's outputs are written to STAGING directories and
published by renaming them to `signatures/batch=<id>` /
`assignments/batch=<id>` BEFORE the batch marker is written. A failed
publish removes its staging directories; a replayed batch with no
marker first deletes any partially-published `batch=<id>` directories
and any staging directory a crash left behind, so at-least-once replay
never double-appends. On a cluster the two renames + marker collapse
into one Iceberg transaction.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import DedupConfig, DEFAULT
from ..operators import lsh, onetask
from ..operators.probe import (band_row_bytes, check_guard, edges_max,
                               greedy_accept, planned_probe, probe_edges)
from ..operators.signatures import signature_kernel, with_signatures

_SIG_SCHEMA = "image_id string, shingles array<bigint>, minhash array<bigint>"
_ASSIGN_SCHEMA = "image_id string, component string"
_WHAT = "incremental dedup edges"

log = logging.getLogger("distill_spark")


class DedupeState:
    """Accumulated (id, shingles, minhash) signature state + assignment log."""

    def __init__(self, spark: SparkSession, path: str, cfg: DedupConfig = DEFAULT):
        # 64-bit lanes: persisted array<bigint> sigs (see MemoryStore)
        from dataclasses import replace as _replace
        self.spark, self.path = spark, path
        self.cfg = _replace(cfg, minhash_lane_bits=64)
        os.makedirs(path, exist_ok=True)

    def _p(self, name: str) -> str:
        return os.path.join(self.path, name)

    def committed_batches(self) -> set[int]:
        p = self._p("_batches.json")
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            return set(json.load(f))

    def _commit_batch(self, batch_id: int) -> None:
        """Durable ledger update: the new file is on disk before the
        rename makes it the ledger (the exactly-once replay guard)."""
        done = self.committed_batches() | {batch_id}
        tmp = self._p("_batches.json.tmp")
        with open(tmp, "w") as f:
            json.dump(sorted(done), f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._p("_batches.json"))

    def _batch_dir(self, name: str, batch_id: int) -> str:
        return os.path.join(self._p(name), f"batch={batch_id}")

    def _read(self, name: str, schema: str) -> DataFrame:
        p = self._p(name)
        if not os.path.exists(p) or not any(
            d.startswith("batch=") for d in os.listdir(p)
        ):
            return self.spark.createDataFrame([], schema)
        # known schema: no inference job over the parquet footers
        return (self.spark.read.schema(schema).option("basePath", p)
                .parquet(p).drop("batch"))

    def signatures(self) -> DataFrame:
        return self._read("signatures", _SIG_SCHEMA)

    def signature_rows(self) -> int:
        """Rows of signatures(), from the parquet footers of the
        published batches (no Spark job)."""
        total = 0
        for root, dirs, names in os.walk(self._p("signatures")):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            total += sum(pq.read_metadata(os.path.join(root, f)).num_rows
                         for f in names if f.endswith(".parquet"))
        return total

    def assignments(self) -> DataFrame:
        return self._read("assignments", _ASSIGN_SCHEMA)

    def _stage(self, out: DataFrame | pa.Table, tmp: str) -> None:
        """Write one batch output to the staging dir `tmp`: a frame with
        Spark, an Arrow table the driver holds with pyarrow."""
        if isinstance(out, pa.Table):
            os.makedirs(tmp)
            # ids are unique and signature lanes are hashes: a dictionary
            # page only adds bytes (23% on the signatures), and Spark's
            # writer ends up with plain pages for them too
            pq.write_table(out, os.path.join(tmp, "part-00000.parquet"),
                           use_dictionary=False)
        else:
            out.write.mode("overwrite").parquet(tmp)

    def _publish_batch(self, batch_id: int, sigs: DataFrame | pa.Table,
                       assigns: DataFrame | pa.Table) -> None:
        """Stage both outputs, then two atomic renames, THEN the marker
        (written by the caller). A failure removes the staging dirs;
        replay cleanup is _rollback_batch."""
        staged = [(name, self._p("_staging_" + uuid.uuid4().hex[:8]))
                  for name in ("signatures", "assignments")]
        try:
            for (_, tmp), out in zip(staged, (sigs, assigns)):
                self._stage(out, tmp)
            for name, tmp in staged:
                os.makedirs(self._p(name), exist_ok=True)
                os.replace(tmp, self._batch_dir(name, batch_id))
        except BaseException:
            for _, tmp in staged:
                shutil.rmtree(tmp, ignore_errors=True)
            raise

    def _rollback_batch(self, batch_id: int) -> None:
        """Remove a partial publish of `batch_id` and any staging dir a
        crashed publish left behind."""
        stale = [self._batch_dir(name, batch_id)
                 for name in ("signatures", "assignments")]
        stale += [self._p(d) for d in os.listdir(self.path)
                  if d.startswith("_staging_")]
        for d in stale:
            if os.path.exists(d):
                shutil.rmtree(d)


def incremental_dedupe_batch(
    state: DedupeState, batch: DataFrame, batch_id: int,
    id_col: str = "image_id", caption_col: str = "caption",
) -> dict:
    """Process one micro-batch; returns the metrics row. Idempotent on
    batch_id replay (partial publishes are rolled back first)."""
    if batch_id in state.committed_batches():
        return {"batch_id": batch_id, "status": "skipped_duplicate_batch"}
    state._rollback_batch(batch_id)  # clear any partial publish

    t0 = time.time()
    batch = batch.select(F.col(id_col).alias("image_id"),
                         F.col(caption_col).alias("caption"))
    stored_rows = state.signature_rows()
    done, why = _one_task(state, batch, stored_rows)
    log.debug("ingest (batch %s): %d stored rows -> %s", batch_id, stored_rows,
              "one-task path" if why is None else f"fallback path ({why})")
    if why is None:
        rows, counts = done
        novel = rows.column("novel")
        n_in, n_dups = rows.num_rows, pc.count_distinct(
            rows.column("image_id").filter(pc.invert(novel))).as_py()
        stored_matches, intra_edges = counts["stored_matches"], counts["intra_edges"]
        novel_sigs = rows.filter(novel).select(["image_id", "shingles", "minhash"])
        assigns = rows.select(["image_id", "component"])
    else:
        n_in, n_dups, stored_matches, intra_edges, novel_sigs, assigns = \
            _fallback(state, batch, stored_rows)
    log.debug("ingest batch %s: rows_in=%d stored_matches=%d intra_edges=%d "
              "duplicates=%d", batch_id, n_in, stored_matches, intra_edges, n_dups)

    state._publish_batch(batch_id, novel_sigs, assigns)
    state._commit_batch(batch_id)
    metrics = {
        "batch_id": batch_id, "status": "complete", "rows_in": n_in,
        "duplicates": n_dups, "novel": n_in - n_dups,
        "wall_sec": round(time.time() - t0, 3),
    }
    with open(os.path.join(state.path, f"_metrics_{batch_id}.json"), "w") as f:
        json.dump(metrics, f)
    return metrics


def _task_schema(id_type: T.DataType) -> T.StructType:
    """Rows of the one-task ingest task: one per batch row (`novel` set),
    then one trailer row (`novel` null) with the probe's counts or the
    gate that failed."""
    sig = T.ArrayType(T.LongType())
    return T.StructType([
        T.StructField("image_id", id_type), T.StructField("component", id_type),
        T.StructField("shingles", sig), T.StructField("minhash", sig),
        T.StructField("novel", T.BooleanType()),
        T.StructField("probe_rows", T.LongType()),
        T.StructField("stored_matches", T.LongType()),
        T.StructField("intra_edges", T.LongType()),
        T.StructField("bail", T.StringType()),
    ])


def _one_task(state: DedupeState, batch: DataFrame, stored_rows: int):
    """((the batch's rows as an Arrow table, the trailer's counts), None)
    from one task, or (None, the gate that failed)."""
    cfg = state.cfg
    id_type = batch.schema["image_id"].dataType
    row_bytes = band_row_bytes(id_type)
    # room: the most new rows with onetask.fits((stored + new) x bands)
    most = min(lsh.LOCAL_MAX_ROWS, onetask.TASK_BYTES // row_bytes) // cfg.bands
    room = most - stored_rows
    if room < 0:
        return None, "band rows over cap"
    schema = _task_schema(id_type)
    arrow_schema = to_arrow_schema(schema)
    sig_schema = pa.schema([arrow_schema.field(c)
                            for c in ("image_id", "shingles", "minhash")])
    max_rows = edges_max(cfg)
    kernel = _ingest_kernel(
        signature_kernel(cfg, "caption", ("shingles", "minhash"), sig_schema),
        planned_probe(cfg, cfg.jaccard_threshold, max_rows, id_type), max_rows,
        arrow_schema, room, cfg.bands * row_bytes, onetask.TASK_BYTES)
    empty = F.array().cast("array<bigint>")
    stored = state.signatures().select(
        "image_id", F.lit(None).cast("string").alias("caption"), "shingles",
        "minhash", F.lit(True).alias("_old"))
    new = batch.coalesce(1).limit(room + 1).select(
        "image_id", "caption", empty.alias("shingles"), empty.alias("minhash"),
        F.lit(False).alias("_old"))
    out = stored.unionByName(new).coalesce(1).mapInArrow(kernel, schema).toArrow()
    last = out.num_rows - 1  # the trailer
    counts = {c: out.column(c)[last].as_py() for c in
              ("probe_rows", "stored_matches", "intra_edges", "bail")}
    if counts["bail"] is not None:
        return None, counts["bail"]
    check_guard(counts["probe_rows"], max_rows, _WHAT)
    return (out.slice(0, last), counts), None


def _ingest_kernel(sign, probe, max_rows: int, schema: pa.Schema, room: int,
                   band_bytes: int, task_bytes: int):
    """mapInArrow function of the one-task ingest. Input: the stored
    (`_old` true: id, shingles, minhash) and new (`_old` false: id,
    caption) rows. `sign` is signature_kernel, `probe` planned_probe.
    Output (`schema`): each new row with its component and whether it is
    novel, then the trailer; or the trailer alone when more than `room`
    new rows arrive, the held rows outgrow task_bytes (Arrow bytes plus
    `band_bytes` per row), a probe budget fails, or the probe rows pass
    max_rows (the driver raises)."""

    def trailer(**cols):
        return onetask.record_batch({k: [v] for k, v in cols.items()}, schema)

    def kernel(it):
        held, nbytes, rows, new_rows = [], 0, 0, 0
        for b in it:
            held.append(b)
            nbytes += b.nbytes
            rows += b.num_rows
            new_rows += pc.sum(pc.invert(b.column("_old"))).as_py() or 0
            if new_rows > room:
                yield trailer(bail="band rows over cap")
                return
            if nbytes + rows * band_bytes > task_bytes:
                yield trailer(bail="working set over budget")
                return
        if not new_rows:
            yield trailer(probe_rows=0, stored_matches=0, intra_edges=0)
            return
        tbl = pa.Table.from_batches(held)
        del held
        is_old = tbl.column("_old")
        sigs = pa.Table.from_batches(sign(tbl.filter(pc.invert(is_old)).select(
            ["image_id", "caption"]).combine_chunks().to_batches()))
        cols = ["image_id", "shingles", "minhash", "_old"]
        old = tbl.filter(is_old).select(cols)
        side = pa.concat_tables([old, sigs.append_column(
            "_old", pa.array(np.zeros(sigs.num_rows, bool))).cast(old.schema)])
        del tbl, old
        try:
            edges = probe(side.rename_columns(["id", *cols[1:]]))
        except onetask.OverBudget as e:
            yield trailer(bail=str(e))
            return
        n_probe = len(edges["n"])
        if n_probe > max_rows:
            yield trailer(probe_rows=n_probe)
            return
        comp = greedy_accept(zip(edges["n"], edges["o"], edges["old"]))
        ids = sigs.column("image_id").to_pylist()
        yield onetask.record_batch({
            "image_id": sigs.column("image_id").combine_chunks(),
            "component": [comp.get(i, i) for i in ids],
            "shingles": sigs.column("shingles").combine_chunks(),
            "minhash": sigs.column("minhash").combine_chunks(),
            "novel": [i not in comp for i in ids],
        }, schema)
        yield trailer(probe_rows=n_probe,
                      stored_matches=len(set(edges["n"][edges["old"]])),
                      intra_edges=int((~edges["old"]).sum()))

    return kernel


def _fallback(state: DedupeState, batch: DataFrame, stored_rows: int):
    """The fallback: (rows_in, duplicates, stored_matches, intra_edges,
    novel signatures, assignments), the outputs as frames."""
    cfg = state.cfg
    sigs = with_signatures(batch, "caption", "image_id", cfg,
                           parts=("shingles", "minhash"))
    sigs, counts = onetask.observed(sigs, cfg)
    n_in = counts["rows"]

    edges = probe_edges(
        sigs.withColumnRenamed("image_id", "id"),
        state.signatures().withColumnRenamed("image_id", "id"),
        cfg, cfg.jaccard_threshold, _WHAT, n_in, stored_rows,
    )
    comp = greedy_accept(edges)  # rejected id -> component (module doc, 3.)

    # map-only publish: the rejected ids go to the JVM as one Arrow
    # frame, broadcast onto the checkpointed batch signatures
    rej_df = state.spark.createDataFrame(
        pd.DataFrame({"image_id": list(comp), "component": list(comp.values())}),
        _ASSIGN_SCHEMA,
    )
    tagged = sigs.join(F.broadcast(rej_df), "image_id", "left")
    assign_df = tagged.select(
        "image_id", F.coalesce("component", "image_id").alias("component"))
    novel_sigs = tagged.filter(F.col("component").isNull()).select(
        "image_id", "shingles", "minhash")
    return (n_in, len(comp), len({r.n for r in edges if r.old}),
            sum(not r.old for r in edges), novel_sigs, assign_df)


def start_streaming_dedupe(
    stream: DataFrame, state: DedupeState,
    id_col: str = "image_id", caption_col: str = "caption",
    trigger_once: bool = True, checkpoint_dir: str | None = None,
):
    """Attach incremental dedup to a streaming DataFrame via foreachBatch.
    Exactly-once effect via the state's batch-id ledger (replays no-op)."""
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: incremental_dedupe_batch(state, df, bid, id_col, caption_col)
        )
        .option("checkpointLocation", checkpoint_dir or os.path.join(state.path, "_stream_cp"))
    )
    if trigger_once:
        q = q.trigger(availableNow=True)
    return q.start()
