"""Benchmark runner (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (sec, full dedup pipeline), "unit", "queries"
(per-query sec), "sf", "throughput_images_per_sec", ...}. Each query
is timed $SPARK_GRAFT_REPEATS times (default 3) in the warmed JVM and
reported as the min; all samples are disclosed under "runs".

The dedup headline runs on a deterministic synthetic images table
(seed 42, 20x the sf's documents rows -> 100k images at sf0.1; planted
dup structure per distill_spark.datagen). The table is materialized to
parquet once under /tmp and read back, so generation cost is excluded
from the measured pipeline time — at real scale the input is an
existing Iceberg/parquet table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEED = 42
# Repeats per timed query; reported value = min. Single draws swing
# ±25-77% at IDENTICAL plans/bytes (CPU time flat while task run time
# doubles — tasks blocked off-CPU on Python-worker/scheduler
# contention, not doing more work; BENCH.md round 5), so the floor is
# the only stable estimator of the plan's cost.
REPEATS = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))


def images_parquet_path(n: int) -> str:
    return f"/tmp/distill_bench/images_n{n}_seed{SEED}.parquet"


def ensure_images(spark, n: int) -> str:
    path = images_parquet_path(n)
    if not os.path.exists(path):
        from distill_spark.datagen import generate_images_pdf

        os.makedirs("/tmp/distill_bench", exist_ok=True)
        pdf, _ = generate_images_pdf(n=n, seed=SEED)
        # write via pyarrow (no Spark job): datagen cost stays out of bench
        import pyarrow as pa
        import pyarrow.parquet as pq

        # small row groups: pyarrow's default (1M rows) produces ONE
        # unsplittable row group — Spark then reads the whole file in a
        # single task and every downstream stage straggles on it
        pq.write_table(pa.Table.from_pandas(pdf), path, row_group_size=16384)
    return path


def main() -> None:
    import pyarrow.parquet as pq

    from distill_spark.session import get_spark
    from distill_spark.config import DedupConfig
    from distill_spark.operators import dedupe
    import __spark_entry__ as entrymod

    n_docs = pq.ParquetFile(f"{SF_DIR}/documents.parquet").metadata.num_rows
    n_images = 20 * n_docs

    spark = get_spark("distill_bench", cores=CPUS, shuffle_partitions=2 * CPUS)
    path = ensure_images(spark, n_images)

    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}

    def timed(name: str, fn) -> None:
        samples = []
        for _ in range(max(1, REPEATS)):
            t0 = time.time()
            fn()
            samples.append(round(time.time() - t0, 3))
            # cache isolation between samples: Spark's CacheManager
            # resolves identical logical plans to already-persisted
            # frames, so without this a repeat re-uses the previous
            # run's signature caches and the "min" measures a cached
            # re-run instead of the pipeline (observed: 38s -> 10s).
            spark.catalog.clearCache()
        runs[name] = samples
        timings[name] = min(samples)

    images = spark.read.parquet(path)

    cfg = DedupConfig()
    # warm the JVM/codegen on a small slice so the headline measures steady
    # state, not first-JIT and Python-worker spawn (paid once per JVM)
    warm = images.limit(2000).cache()
    warm.count()
    dedupe(warm, cfg).assignments.count()
    warm.unpersist()
    timed(
        "dedupe_full",
        lambda: dedupe(images, cfg).assignments.count(),
    )
    timed(
        "dedupe_minhash_only",
        lambda: dedupe(images, cfg, channels=("minhash",)).assignments.count(),
    )

    qs = entrymod.queries()
    for qname in (
        "ngram_jaccard_pairs",
        "phash_hamming_pairs",
        "cosine_topk",
        "pricing_summary",
        "token_stats",
        "recency_scores",
    ):
        timed(qname, lambda q=qname: qs[q](spark, SF_DIR).count())

    full = timings["dedupe_full"]
    out = {
        "metric": "full dedup pipeline wall time (synthetic images table, all channels)",
        "value": full,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "n_images": n_images,
        "cpus": CPUS,
        "throughput_images_per_sec": round(n_images / full, 1),
        "estimator": f"min of {max(1, REPEATS)} steady-state runs per query"
                     " (single draws swing ±25-77% on this box at identical"
                     " plans; see BENCH.md round-5 variance diagnosis)",
        "repeats": max(1, REPEATS),
        "runs": runs,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
