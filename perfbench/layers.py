"""--trace 1: per-layer metrics of one workload from a traced run.

Every workload's traced run does the same things, on the table its
unit of work reads (ingest_stream: its first micro-batch):

  1. untraced dedupe() of the table, timed, under the job group
     `perfbench:unit` (the spark.* metrics are these stages, per call);
  2. the layer sequence of tracing.traced_dedupe on the same table;
  3. step 1 again. Steps 1-3 must yield one edge set, by count and
     xxhash64 fingerprint (drift guard: the trace cannot go stale
     against a changed pipeline);
  4. the ingest layer: INGEST_BATCHES micro-batches through
     incremental_dedupe_batch into a fresh on-disk state, each batch a
     span; per-batch counts and the state are checked.

trace.overhead_s = step 2 wall - mean of steps 1 and 3.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F

from inputs import check_stream
from tracing import (SparkRest, Tracer, edge_fingerprint, group_stages,
                     stage_totals, traced_dedupe)

INGEST_BATCHES = 2
BATCH_ROWS = 1_000
UNIT_GROUP = "perfbench:unit"
LAYERS = ("signatures", "lsh", "hamming", "winnow", "verify", "components", "select")

# per-layer metric -> unit (the names BENCHMARK.json lists)
UNITS = {"busy_s": "s", "task_s": "s", "cpu_frac": "ratio", "shuffle_mb": "MB",
         "out_mb": "MB", "written_mb": "MB", "spill_mb": "MB", "gc_s": "s",
         "batch_s": "s", "overhead_s": "s", "useful_frac": "ratio",
         "jaccard_useful_frac": "ratio", "lcs_useful_frac": "ratio"}


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1 << 20)


def micro_batches(df, rows: int) -> list:
    """The first INGEST_BATCHES of the table cut into ~BATCH_ROWS-row
    micro-batches by id hash: [(batch frame, rows)]."""
    n = max(INGEST_BATCHES, rows // BATCH_ROWS)
    parts = [df.filter(F.crc32("image_id") % n == b) for b in range(INGEST_BATCHES)]
    return [(p, p.count()) for p in parts]


def _ingest(spark, tr, batches, work):
    """Traced run of `batches` [(df, rows)] into a fresh on-disk state,
    each batch one span; -> (state dir, per-batch metrics)."""
    from distill_spark.streaming.ingest import DedupeState, incremental_dedupe_batch

    path = os.path.join(work, "trace_state")
    state = DedupeState(spark, path)
    per = []
    for b, (df, n) in enumerate(batches):
        before = dir_mb(path)
        with tr.span("ingest", "incremental_dedupe_batch") as s:
            m = incremental_dedupe_batch(state, df, b)
        m.update(rows_sent=n, batch_s=s["end"] - s["start"],
                 written_mb=dir_mb(path) - before)
        per.append(m)
    return path, per


def traced_run(wl, spark, args, work):
    from distill_spark.operators import dedupe

    sc = spark.sparkContext
    rest = SparkRest(spark)
    tr = Tracer(spark, f"{args.workload}-seed{args.seed}")
    attempted = failed = 0

    def checked(ok, what):
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            print("CHECK FAILED:", what, flush=True, file=sys.stderr)

    table = wl.trace_table()

    def untraced():
        sc.setJobGroup(UNIT_GROUP, "unit")
        t0 = time.perf_counter()
        r = dedupe(table)
        r.assignments.toPandas()
        r.representatives.count()
        wall = time.perf_counter() - t0
        fp = edge_fingerprint(spark, r.cached)
        r.unpersist()
        spark.catalog.clearCache()
        return wall, fp

    # untraced dedupe before and after the traced sequence (brackets
    # the JVM still warming up); every edge set must agree (drift guard)
    w_before, ref = untraced()
    t0 = time.perf_counter()
    edges_i = traced_dedupe(tr, table)
    w_traced = time.perf_counter() - t0
    got = edge_fingerprint(spark, edges_i)
    edges_i.unpersist()
    spark.catalog.clearCache()
    w_after, ref_after = untraced()
    checked(got == ref == ref_after,
            f"traced edge set {got} != dedupe() edges {ref} / {ref_after}")

    state_dir, per = _ingest(spark, tr, wl.trace_batches(spark), work)
    ok, _, msg = check_stream(per, [m["rows_sent"] for m in per], state_dir, wl.pairs)
    checked(ok, msg)

    jobs, stages = rest.settled()
    by_group = group_stages(jobs, stages)
    for s in tr.spans:
        s["spark"] = stage_totals(by_group.get(s["group"], []))
        s["seconds"] = s["end"] - s["start"]

    metrics: dict[str, float] = {}
    for layer in LAYERS:
        spans = [s for s in tr.spans if s["layer"] == layer]
        tot = stage_totals([st for s in spans for st in by_group.get(s["group"], [])])
        metrics[f"{layer}.busy_s"] = sum(s["seconds"] for s in spans)
        metrics[f"{layer}.task_s"] = tot["task_s"]
        if layer == "signatures":
            metrics["signatures.cpu_frac"] = tot["cpu_frac"]
        if layer not in ("signatures", "components", "select"):
            metrics[f"{layer}.shuffle_mb"] = tot["shuffle_mb"]
    metrics.update(tr.layer_counts)
    metrics["ingest.batch_s"] = statistics.median(m["batch_s"] for m in per)
    metrics["ingest.state_rows"] = sum(m["novel"] for m in per)
    metrics["ingest.written_mb"] = sum(m["written_mb"] for m in per)
    metrics["ingest.duplicates"] = sum(m["duplicates"] for m in per)
    unit = stage_totals(by_group.get(UNIT_GROUP, []))
    for k in ("stages", "tasks", "gc_s", "spill_mb"):
        metrics[f"spark.{k}"] = unit[k] / 2  # per dedupe() call
    metrics["spark.cpu_frac"] = unit["cpu_frac"]
    metrics["trace.overhead_s"] = w_traced - (w_before + w_after) / 2

    with open(os.path.join(work, "spans", f"{tr.trace_id}.json"), "w") as f:
        json.dump({"trace": tr.trace_id, "untraced_s": [w_before, w_after],
                   "traced_s": w_traced, "spans": tr.spans,
                   "ingest_batches": per, "metrics": metrics}, f, indent=1,
                  default=str)

    units = {k: UNITS.get(k.split(".", 1)[1], "count") for k in metrics}
    return ({"attempted": attempted, "failed": failed},
            {k: (float(v), units[k]) for k, v in metrics.items()})
