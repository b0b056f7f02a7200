"""Round-4 ADVICE regressions:

  * HIGH — opening a LEGACY (flat, unpartitioned) memory store must
    migrate its rows into the bucket-partitioned table, never hide them
    (layering bucket=N/ dirs beside flat files once made the whole
    pre-existing store vanish);
  * enabling an embedding provider on an existing store must not hide the
    new column behind single-footer schema inference (mergeSchema);
  * a job re-queued after a driver restart reruns with the SUBMITTED
    dedup_cfg, not the default;
  * submit() reserves its queue slot atomically with the fullness check;
  * _buckets_of maps ids to buckets with a driver-side XXH64 that is
    bit-identical to the JVM xxhash64 — and launches no Spark job.
"""

import json
import os

from pyspark.sql import functions as F

from distill_spark.config import DedupConfig
from distill_spark.functions.hashing import xxhash64_py
from distill_spark.jobs import JobProcessor, COMPLETED
from distill_spark.memory import MemoryStore
from distill_spark.operators.runner import PipelineOptions


def _entries(spark, rows):
    return spark.createDataFrame(rows, "id string, text string")


def test_xxhash64_py_matches_jvm(spark):
    import random
    import string

    rng = random.Random(11)
    ids = ["", "a", "img00000001", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
           "q" * 33, "m" * 100, "élève-中文"] + [
        "".join(rng.choices(string.ascii_letters + string.digits,
                            k=rng.randint(1, 80)))
        for _ in range(100)
    ]
    df = spark.createDataFrame([(i,) for i in ids], "id string")
    jvm = {r["id"]: r["h"] for r in
           df.select("id", F.xxhash64("id").alias("h")).collect()}
    for i in ids:
        assert xxhash64_py(i) == jvm[i], i


def test_buckets_of_no_spark_job(spark, tmp_path):
    store = MemoryStore(spark, str(tmp_path / "mem"), n_buckets=8)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    buckets = store._buckets_of(["m1", "m2", "m3"])
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "bucket mapping launched a Spark job"
    # parity with the JVM partitioning expression
    df = spark.createDataFrame([(i,) for i in ["m1", "m2", "m3"]], "id string")
    jvm = sorted({r["b"] for r in df.select(
        F.pmod(F.xxhash64("id"), F.lit(8)).cast("int").alias("b")).collect()})
    assert buckets == jvm


def test_legacy_flat_store_append_migrates(spark, tmp_path):
    """ADVICE high: a legacy flat store keeps its rows through the
    migration on open and the inserts after it. The rows predate
    persisted signatures: the migration derives them, so a near-copy
    of a legacy row is still rejected."""
    from distill_spark.tableio import foreign_parquet_files

    path = str(tmp_path / "mem")
    # hand-build a LEGACY layout: flat parquet files, no bucket= dirs,
    # no shingles/minhash columns
    legacy = spark.createDataFrame(
        [("m1", "alpha beta gamma delta epsilon zeta eta theta iota")],
        "id string, text string",
    )
    full = legacy.select(
        "id", "text",
        F.array().cast("array<string>").alias("tags"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("string").alias("session"),
        F.current_timestamp().alias("created_at"),
        F.current_timestamp().alias("last_referenced"),
        F.lit(0).cast("long").alias("access_count"),
        F.lit(False).alias("expired"),
        F.lit(None).cast("timestamp").alias("expires_at"),
        F.lit(None).cast("string").alias("superseded_by"),
        F.lit(0).cast("long").alias("sensitivity"),
        F.lit(0).cast("long").alias("decay_level"),
    )
    full.write.mode("overwrite").parquet(os.path.join(path, "memories"))

    store = MemoryStore(spark, path, n_buckets=8)
    assert store._table.current_version() == 1
    assert not foreign_parquet_files(store._data_path())  # migrated, not layered
    snap = store._raw().collect()
    assert [r["id"] for r in snap] == ["m1"]
    assert snap[0]["minhash"] and snap[0]["bucket"] == store._buckets_of(["m1"])[0]

    res = store.store_batch(_entries(spark, [
        ("m2", "totally unrelated new text here"),
        ("m3", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]))
    assert [(r["new_id"], r["existing_id"]) for r in res.duplicates.collect()] \
        == [("m3", "m1")]
    ids = {r["id"] for r in store.snapshot().select("id").collect()}
    assert ids == {"m1", "m2"}, f"legacy rows lost: {ids}"
    # a second open does not re-migrate
    again = MemoryStore(spark, path, n_buckets=8)
    assert again._table.current_version() == store._table.current_version()
    assert again.snapshot().count() == 2


def test_embedding_column_visible_after_enabling_provider(spark, tmp_path):
    """ADVICE: older files without `embedding` must not hide the column."""
    from distill_spark.embedding import HashProjectionProvider

    path = str(tmp_path / "mem")
    plain = MemoryStore(spark, path, n_buckets=4)
    plain.store_batch(_entries(spark, [
        ("m1", "first memory text alpha beta gamma"),
    ]))
    prov = HashProjectionProvider(dim=16)
    emb_store = MemoryStore(spark, path, n_buckets=4, embedding_provider=prov)
    emb_store.store_batch(_entries(spark, [
        ("m2", "second memory text delta epsilon zeta"),
    ]))
    snap = emb_store.snapshot()
    assert "embedding" in snap.columns
    rows = {r["id"]: r["embedding"] for r in
            snap.select("id", "embedding").collect()}
    assert rows["m2"] is not None  # new row really carries its embedding
    assert set(rows) == {"m1", "m2"}


def test_restarted_job_keeps_submitted_dedup_cfg(spark, tmp_path):
    p = str(tmp_path / "jobs")
    proc = JobProcessor(spark, p)
    cfg = DedupConfig(jaccard_threshold=0.95, lcs_min_len=48)
    job = proc.submit(
        spark.createDataFrame(
            [("a", "the quick brown fox jumps over the lazy dog by the river"),
             ("b", "a totally different caption about joins and shuffles")],
            "image_id string, caption string",
        ),
        PipelineOptions(compress_enabled=False, dedup_cfg=cfg),
    )
    # simulate driver restart: fresh processor over the same ledger
    proc2 = JobProcessor(spark, p)
    ledgered = proc2.get(job.id)
    assert ledgered.options["dedup_cfg"]["jaccard_threshold"] == 0.95
    assert ledgered.options["dedup_cfg"]["lcs_min_len"] == 48
    assert proc2.process_next() == job.id
    assert proc2.get(job.id).status == COMPLETED


def test_restart_drops_retired_dedup_cfg_keys(spark, tmp_path, caplog):
    """A job ledgered by an older DedupConfig (fields since removed)
    still runs after a restart; the dropped keys are logged."""
    import logging

    p = str(tmp_path / "jobs")
    proc = JobProcessor(spark, p)
    job = proc.submit(
        spark.createDataFrame(
            [("a", "the quick brown fox jumps over the lazy dog by the river"),
             ("b", "a totally different caption about joins and shuffles")],
            "image_id string, caption string",
        ),
        PipelineOptions(compress_enabled=False,
                        dedup_cfg=DedupConfig(jaccard_threshold=0.95)),
    )
    ledger = os.path.join(p, "_jobs.jsonl")
    with open(ledger) as f:
        rows = [json.loads(line) for line in f]
    for r in rows:
        r["options"]["dedup_cfg"].update(sig_impl="numpy", persist_shingles=False,
                                         cc_local_max_edges=10**9)
    with open(ledger, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)

    proc2 = JobProcessor(spark, p)
    with caplog.at_level(logging.WARNING, logger="distill_spark"):
        assert proc2.process_next() == job.id
    assert proc2.get(job.id).status == COMPLETED
    msgs = [r.getMessage() for r in caplog.records if r.name == "distill_spark"]
    assert any("sig_impl" in m and "persist_shingles" in m and "cc_local_max_edges" in m
               for m in msgs), msgs


def test_submit_reserves_slot_atomically(spark, tmp_path):
    proc = JobProcessor(spark, str(tmp_path / "jobs"), queue_size=1)
    df = spark.createDataFrame([("a", "some caption text")],
                               "image_id string, caption string")
    proc.submit(df, PipelineOptions(compress_enabled=False))
    # the slot is taken the moment submit() passes the check — a second
    # submit must see the reservation even before processing starts
    import pytest

    from distill_spark.jobs import QueueFull

    with pytest.raises(QueueFull):
        proc.submit(df, PipelineOptions(compress_enabled=False))


def test_incomplete_submit_failed_on_restart(spark, tmp_path):
    p = str(tmp_path / "jobs")
    proc = JobProcessor(spark, p)
    df = spark.createDataFrame([("a", "some caption text")],
                               "image_id string, caption string")
    job = proc.submit(df, PipelineOptions(compress_enabled=False))
    # simulate a crash mid-submit: ledger row exists, input dir missing
    import shutil

    shutil.rmtree(os.path.join(p, job.id, "input"))
    proc2 = JobProcessor(spark, p)
    j = proc2.get(job.id)
    assert j.status == "failed"
    assert "input snapshot missing" in j.error
