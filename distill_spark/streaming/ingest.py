"""Streaming / incremental ingest with write-time dedup.

Reference: the channelized ingest pipeline (reader -> batcher ->
worker pool, /root/reference/pkg/ingest/pipeline.go:108-186,307-335)
and the frozen cache prefix that exempts stable data from recompute
(pkg/cache/prefix.go:40-69). The reference has no event-time
semantics (SURVEY.md §2.10), so the Spark mapping is Structured
Streaming `foreachBatch` with idempotent sink commits — NOT
watermarked windowing.

Incremental contract per micro-batch:
  1. signatures of the incoming batch (map-side Arrow pass), checkpointed
     with the batch's row count observed in the same job
     (onetask.observed)
  2. the write-time probe (operators/probe.py) of the batch against the
     ACCUMULATED signature state and itself, decided on that count and
     the state's row count from its parquet footers: one Arrow task over
     batch ∪ state when they fit one, else the distributed band join;
     one collect either way.
  3. its id-order greedy -> dup rows dropped, novel rows appended to
     state. The state holds accepted rows only, each its own component,
     so a dup's component is the row it matched: assignments/ is never
     read back. Both outputs come from one broadcast join of the
     rejected ids onto the batch signatures (map-only writes).
  4. metrics row per batch (ingest stats analog, pipeline.go:48-72)

Atomicity (round-2 fix): each batch's outputs are written to a
batch-keyed STAGING directory and published by renaming it to
`signatures/batch=<id>` / `assignments/batch=<id>` BEFORE the batch
marker is written. A replayed batch with no marker first deletes any
partially-published `batch=<id>` directories, so at-least-once replay
never double-appends (round 1 used two independent append writes +
a separate marker — a crash between them duplicated rows). On a
cluster the two renames + marker collapse into one Iceberg
transaction.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import uuid

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT
from ..operators import onetask
from ..operators.probe import greedy_accept, probe_edges
from ..operators.signatures import with_signatures

_SIG_SCHEMA = "image_id string, shingles array<bigint>, minhash array<bigint>"
_ASSIGN_SCHEMA = "image_id string, component string"

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

    def _stage(self, df: DataFrame) -> str:
        tmp = self._p("_staging_" + uuid.uuid4().hex[:8])
        df.write.mode("overwrite").parquet(tmp)
        return tmp

    def _publish_batch(self, batch_id: int, sigs: DataFrame,
                       assigns: DataFrame) -> None:
        """Stage both outputs, then two atomic renames, THEN the marker
        (written by the caller). Replay cleanup is _rollback_batch."""
        s_tmp = self._stage(sigs)
        a_tmp = self._stage(assigns)
        os.makedirs(self._p("signatures"), exist_ok=True)
        os.makedirs(self._p("assignments"), exist_ok=True)
        os.replace(s_tmp, self._batch_dir("signatures", batch_id))
        os.replace(a_tmp, self._batch_dir("assignments", batch_id))

    def _rollback_batch(self, batch_id: int) -> None:
        for name in ("signatures", "assignments"):
            d = self._batch_dir(name, batch_id)
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
    cfg = state.cfg
    sigs = with_signatures(
        batch.select(id_col, caption_col), caption_col, id_col, cfg,
        parts=("shingles", "minhash"),
    )
    if id_col != "image_id":
        sigs = sigs.withColumnRenamed(id_col, "image_id")
    sigs, counts = onetask.observed(sigs, cfg)
    n_in = counts["rows"]

    edges = probe_edges(
        sigs.withColumnRenamed("image_id", "id"),
        state.signatures().withColumnRenamed("image_id", "id"),
        cfg, cfg.jaccard_threshold, "incremental dedup edges",
        n_in, state.signature_rows(),
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
    n_dups = len(comp)
    log.debug("ingest batch %s: rows_in=%d stored_matches=%d intra_edges=%d "
              "duplicates=%d", batch_id, n_in, len({r.n for r in edges if r.old}),
              sum(not r.old for r in edges), n_dups)

    state._publish_batch(batch_id, novel_sigs, assign_df)
    state._commit_batch(batch_id)
    metrics = {
        "batch_id": batch_id, "status": "complete", "rows_in": n_in,
        "duplicates": n_dups, "novel": n_in - n_dups,
        "wall_sec": round(time.time() - t0, 3),
    }
    with open(os.path.join(state.path, f"_metrics_{batch_id}.json"), "w") as f:
        json.dump(metrics, f)
    return metrics


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
