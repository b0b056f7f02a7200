"""Streaming / incremental ingest with write-time dedup.

Reference: the channelized ingest pipeline (reader -> batcher ->
worker pool, /root/reference/pkg/ingest/pipeline.go:108-186,307-335)
and the frozen cache prefix that exempts stable data from recompute
(pkg/cache/prefix.go:40-69). The reference has no event-time
semantics (SURVEY.md §2.10), so the Spark mapping is Structured
Streaming `foreachBatch` with idempotent sink commits — NOT
watermarked windowing.

Incremental contract per micro-batch:
  1. signatures of the incoming batch (map-side Arrow pass)
  2. ONE LSH band join of the batch's buckets against the ACCUMULATED
     signature state's buckets (tagged old) UNION the batch's own
     buckets (tagged intra, kept where the other id is smaller): two
     near-identical rows arriving in one micro-batch must still dedupe.
     Shingles attach once, keyed by (id, side); exact Jaccard verify;
     ONE driver collect of the verified (n, o, old) edges.
  3. id-order greedy on the driver -> dup rows dropped (assigned to
     the smallest matched stored id, or to the earliest accepted batch
     row for intra-batch dups — the same greedy as the write-time
     store), novel rows appended to state. The state holds signatures
     of accepted rows only, and an accepted row is its own component,
     so a stored match's component is its id: assignments/ is never
     read back. Both outputs come from one broadcast join of the
     edge-involved ids onto the batch signatures (map-only writes).
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT
from ..storeio import guarded_collect
from ..operators.signatures import with_signatures
from ..operators.minhash import band_buckets
from ..operators.verify import jaccard_col

_SIG_SCHEMA = "image_id string, shingles array<bigint>, minhash array<bigint>"
_EDGE_SCHEMA = "image_id string, component string, rejected boolean"

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

    def assignments(self) -> DataFrame:
        return self._read("assignments", "image_id string, component string")

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
    sigs = sigs.persist()
    n_in = sigs.count()

    # ONE band join of the batch against (stored rows, old) UNION (batch
    # rows, intra; kept only where o < n), ONE shingle attach keyed by
    # (id, side) so an id in both the batch and the state attaches once
    # per side, ONE collect of the verified (n, o, old) edges
    stored = state.signatures()
    bb_n = band_buckets(sigs.filter(F.col("minhash").isNotNull()),
                        "minhash", "image_id", cfg)
    bb_o = band_buckets(stored.filter(F.col("minhash").isNotNull()),
                        "minhash", "image_id", cfg)
    cand = (
        bb_n.withColumnRenamed("image_id", "n")
        .join(bb_o.withColumn("old", F.lit(True))
              .unionByName(bb_n.withColumn("old", F.lit(False)))
              .withColumnRenamed("image_id", "o"), "bucket")
        .filter(F.col("old") | (F.col("o") < F.col("n")))
        .select("n", "o", "old")
        .dropDuplicates()
    )
    sides = stored.withColumn("old", F.lit(True)).unionByName(
        sigs.withColumn("old", F.lit(False)))
    verified = (
        cand.join(sigs.select(F.col("image_id").alias("n"),
                              F.col("shingles").alias("sh_n")), "n")
        .join(sides.select(F.col("image_id").alias("o"), "old",
                           F.col("shingles").alias("sh_o")), ["o", "old"])
        .filter(jaccard_col(F.col("sh_n"), F.col("sh_o")) >= cfg.jaccard_threshold)
        .select("n", "o", "old")
    )
    gmax = int(cfg.extra.get("dup_edges_max", 1_000_000))

    # Only accepted rows are written to signatures/, and an accepted
    # row's component is its own id (comp[rid] = rid below; free rows
    # get component = image_id). So a stored match's component is the
    # matched stored id, and a batch row's component is the min of the
    # stored ids it matches -- no read of assignments/ is needed.
    stored_comp: dict[str, str] = {}
    by_b: dict[str, list[str]] = {}
    for n, o, old in guarded_collect(verified, gmax, "incremental dedup edges"):
        if old:
            stored_comp[n] = min(stored_comp.get(n, o), o)
        else:
            by_b.setdefault(n, []).append(o)

    # id-order greedy (same semantics as MemoryStore.store_batch): a row
    # is a dup of stored (component = matched min) or of the earliest
    # ACCEPTED smaller batch row (component = that row's component).
    # Only EDGE-INVOLVED ids reach the driver (output-bound); the
    # edge-free majority stays distributed as (id, id) novel rows.
    edge_ids = set(stored_comp) | set(by_b)
    for a_list in by_b.values():
        edge_ids.update(a_list)
    comp: dict[str, str] = {}
    rejected: set[str] = set()
    for rid in sorted(edge_ids):
        if rid in stored_comp:
            comp[rid] = stored_comp[rid]
            rejected.add(rid)
            continue
        hit = None
        for a in sorted(by_b.get(rid, [])):
            if a in edge_ids and a not in rejected:
                hit = a
                break
        if hit is not None:
            comp[rid] = comp.get(hit, hit)
            rejected.add(rid)
        else:
            comp[rid] = rid

    # map-only publish: the edge-involved ids go to the JVM as one Arrow
    # frame, broadcast onto the persisted batch signatures; both outputs
    # come from that one join
    edge_df = state.spark.createDataFrame(
        pd.DataFrame({"image_id": list(comp), "component": list(comp.values()),
                      "rejected": [i in rejected for i in comp]}),
        _EDGE_SCHEMA,
    )
    tagged = sigs.join(F.broadcast(edge_df), "image_id", "left")
    assign_df = tagged.select(
        "image_id", F.coalesce("component", "image_id").alias("component"))
    novel_sigs = tagged.filter(~F.coalesce("rejected", F.lit(False))).select(
        "image_id", "shingles", "minhash")
    n_dups = len(rejected)
    log.debug("ingest batch %s: rows_in=%d stored_matches=%d intra_edges=%d "
              "duplicates=%d", batch_id, n_in, len(stored_comp),
              sum(map(len, by_b.values())), n_dups)

    state._publish_batch(batch_id, novel_sigs, assign_df)
    state._commit_batch(batch_id)
    metrics = {
        "batch_id": batch_id, "status": "complete", "rows_in": n_in,
        "duplicates": n_dups, "novel": n_in - n_dups,
        "wall_sec": round(time.time() - t0, 3),
    }
    with open(os.path.join(state.path, f"_metrics_{batch_id}.json"), "w") as f:
        json.dump(metrics, f)
    sigs.unpersist()
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
