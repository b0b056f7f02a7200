"""Ceilings on the Spark jobs of warm units of work.

At small inputs a dedupe() call or an ingest batch is mostly per-job
fixed cost, and job counts do not vary between runs on the same input,
so a ceiling catches an added barrier or read-back that a timing
benchmark cannot resolve. The units, each run once warm on a fixed
planted table of 2,000 rows:

  * dedupe(), assignments.toPandas() and representatives.count() (the
    planted benchmark's unit), on the one-task graph, and on the
    per-operator stages (`lsh.LOCAL_MAX_ROWS` = 0), which no declared
    benchmark workload runs;
  * one incremental_dedupe_batch against a state holding an earlier
    batch (the ingest benchmark's unit): one Arrow task computes the
    signatures, the probe and the greedy, and the driver writes the
    outputs; and the same batch on the fallback (`lsh.LOCAL_MAX_ROWS` =
    0): the signature checkpoint, the band join and two Spark writes;
  * one MemoryStore.store_batch against a store holding an earlier
    batch.

A ceiling is the count the unit runs today; a change that adds a job
raises it here and says why, one that removes a job lowers it.
"""

import pytest
from pyspark.sql import functions as F

from distill_spark.datagen import generate_images
from distill_spark.memory import MemoryStore
from distill_spark.operators import dedupe, lsh
from distill_spark.streaming.ingest import DedupeState, incremental_dedupe_batch

MAX_JOBS = 4
MAX_PER_OPERATOR_JOBS = 33
MAX_INGEST_JOBS = 1
MAX_FALLBACK_INGEST_JOBS = 10
MAX_STORE_JOBS = 9


def _jobs(sc, group: str, unit) -> int:
    """Jobs `unit()` ran under job group `group`."""
    sc.setJobGroup(group, group)
    try:
        unit()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def planted(spark):
    df, _ = generate_images(spark, n=2000, seed=11)
    df = df.select("image_id", "caption", "phash").cache()
    df.count()
    yield df
    df.unpersist()


def _thirds(df):
    """The table split in three batches by id hash."""
    part = F.abs(F.xxhash64("image_id")) % 3
    return [df.filter(part == i) for i in range(3)]


def _warm_dedupe_unit_jobs(sc, df, group: str) -> int:
    def unit():
        res = dedupe(df)
        res.assignments.toPandas()
        res.representatives.count()
        res.unpersist()

    _jobs(sc, f"{group}-warm", unit)
    return _jobs(sc, group, unit)


def test_warm_dedupe_unit_job_ceiling(spark, planted):
    jobs = _warm_dedupe_unit_jobs(spark.sparkContext, planted, "fixed-cost:unit")
    assert jobs <= MAX_JOBS, f"a warm dedupe() unit ran {jobs} jobs (ceiling {MAX_JOBS})"


def test_warm_per_operator_dedupe_unit_job_ceiling(spark, planted, monkeypatch):
    monkeypatch.setattr(lsh, "LOCAL_MAX_ROWS", 0)
    jobs = _warm_dedupe_unit_jobs(spark.sparkContext, planted, "fixed-cost:per-op")
    assert jobs <= MAX_PER_OPERATOR_JOBS, (
        f"a warm per-operator dedupe() unit ran {jobs} jobs "
        f"(ceiling {MAX_PER_OPERATOR_JOBS})")


def _warm_ingest_batch_jobs(spark, df, tmp_path, group: str) -> int:
    sc = spark.sparkContext
    b0, b1, b2 = _thirds(df.select("image_id", "caption"))
    _jobs(sc, f"{group}-warm",
          lambda: incremental_dedupe_batch(DedupeState(spark, str(tmp_path / "w")), b2, 0))
    state = DedupeState(spark, str(tmp_path / "s"))
    incremental_dedupe_batch(state, b0, 0)
    return _jobs(sc, group, lambda: incremental_dedupe_batch(state, b1, 1))


def test_warm_ingest_batch_job_ceiling(spark, planted, tmp_path):
    jobs = _warm_ingest_batch_jobs(spark, planted, tmp_path, "fixed-cost:ingest")
    assert jobs <= MAX_INGEST_JOBS, (
        f"a warm ingest batch ran {jobs} jobs (ceiling {MAX_INGEST_JOBS})")


def test_warm_fallback_ingest_batch_job_ceiling(spark, planted, tmp_path, monkeypatch):
    monkeypatch.setattr(lsh, "LOCAL_MAX_ROWS", 0)
    jobs = _warm_ingest_batch_jobs(spark, planted, tmp_path, "fixed-cost:ingest-fallback")
    assert jobs <= MAX_FALLBACK_INGEST_JOBS, (
        f"a warm fallback ingest batch ran {jobs} jobs "
        f"(ceiling {MAX_FALLBACK_INGEST_JOBS})")


def test_warm_store_batch_job_ceiling(spark, planted, tmp_path):
    sc = spark.sparkContext
    b0, b1, b2 = _thirds(planted.select(F.col("image_id").alias("id"),
                                        F.col("caption").alias("text")))
    _jobs(sc, "fixed-cost:store-warm",
          lambda: MemoryStore(spark, str(tmp_path / "w")).store_batch(b2))
    store = MemoryStore(spark, str(tmp_path / "s"))
    store.store_batch(b0)
    jobs = _jobs(sc, "fixed-cost:store", lambda: store.store_batch(b1))
    assert jobs <= MAX_STORE_JOBS, (
        f"a warm store_batch ran {jobs} jobs (ceiling {MAX_STORE_JOBS})")
