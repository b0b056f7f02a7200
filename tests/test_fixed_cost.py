"""A ceiling on the Spark jobs one warm dedupe() unit runs.

At small inputs a dedupe() call is mostly per-job fixed cost, and job
counts do not vary between runs on the same input, so a ceiling catches
an added barrier or read-back that a timing benchmark cannot resolve.
The unit is the benchmark's: dedupe(), assignments.toPandas() and
representatives.count(), on a fixed planted table of 2,000 rows, once
warm. The ceiling is the count the unit runs on the one-task graph; a
change that adds a job raises it here and says why, one that removes a
job lowers it.
"""

from distill_spark.datagen import generate_images
from distill_spark.operators import dedupe

MAX_JOBS = 8


def _unit(sc, df, group: str) -> int:
    """Jobs one unit ran under job group `group`."""
    sc.setJobGroup(group, group)
    try:
        res = dedupe(df)
        res.assignments.toPandas()
        res.representatives.count()
        res.unpersist()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_dedupe_unit_job_ceiling(spark):
    df, _ = generate_images(spark, n=2000, seed=11)
    df = df.select("image_id", "caption", "phash").cache()
    df.count()
    sc = spark.sparkContext
    try:
        _unit(sc, df, "fixed-cost:warm")
        jobs = _unit(sc, df, "fixed-cost:unit")
    finally:
        df.unpersist()
    assert jobs <= MAX_JOBS, f"a warm dedupe() unit ran {jobs} jobs (ceiling {MAX_JOBS})"
