"""Round-5 fixes (VERDICT/ADVICE round 4):

  1. MemoryStore on a path holding an existing dirs-layout store
     (memories/bucket=N/) must MIGRATE the legacy rows (not silently
     show an empty store), and refuse loudly on a mixed layout.
  2. VersionedTable: a crashed/failed staged write must not leave
     _stage_* dirs forever; vacuum() reaps strays.
  3. Lifecycle events for batch-derived subjects (store/decay) carry an
     exact count + a BOUNDED id sample — no unbounded driver collect.
  4. Public verify_jaccard/verify_lcs default semijoin=False (the
     triple-consume semijoin contract is opt-in for materialized pairs).
  5. minhash_lane_bits=32 yields the same final dedup clusters as the
     full 64-bit lanes (banding tests lane equality only; truncation
     can only add candidates, which exact verify removes).
"""

import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from distill_spark.config import DedupConfig
from distill_spark.memory import MemoryStore
from distill_spark.tableio import VersionedTable


def _texts(n, tag="alpha"):
    return [
        (f"m{i}", f"{tag} memory row number {i} holds unique content "
                  f"token{i} plus filler words for shingling")
        for i in range(n)
    ]


def test_versioned_backend_migrates_legacy_dirs_store(spark, tmp_path):
    p = str(tmp_path / "store")
    # hand-build the legacy dirs layout: memories/bucket=N/part-*.parquet
    src = MemoryStore(spark, str(tmp_path / "src"), n_buckets=4)
    src.store_batch(spark.createDataFrame(_texts(6), "id string, text string"))
    want = sorted(tuple(r) for r in src._raw().collect())
    src._raw().write.partitionBy("bucket").parquet(os.path.join(p, "memories"))
    assert any(n.startswith("bucket=") for n in os.listdir(os.path.join(p, "memories")))

    # opening must SEE every row, bucket values included (version 1)
    vstore = MemoryStore(spark, p, n_buckets=4)
    assert vstore._table.current_version() == 1
    assert sorted(tuple(r) for r in vstore._raw().select(*src._raw().columns)
                  .collect()) == want
    assert not any(n.startswith("bucket=")
                   for n in os.listdir(os.path.join(p, "memories")))
    # legacy files are gone: a second open does not re-migrate
    vstore2 = MemoryStore(spark, p, n_buckets=4)
    assert vstore2._table.current_version() == 1
    assert vstore2.snapshot().count() == 6
    # and mutations keep working on the migrated table
    vstore2.expire(["m0"])
    assert vstore2.snapshot().filter("expired").count() == 1


def test_versioned_backend_refuses_mixed_layout(spark, tmp_path):
    p = str(tmp_path / "store")
    vstore = MemoryStore(spark, p)
    vstore.store_batch(
        spark.createDataFrame(_texts(3), "id string, text string")
    )
    # drop a stray non-versioned parquet file beside the manifest layout
    stray = os.path.join(p, "memories", "stray.parquet")
    spark.createDataFrame([("x", 1)], "id string, v long").toPandas() \
        .to_parquet(stray)
    with pytest.raises(RuntimeError, match="BOTH a versioned manifest"):
        MemoryStore(spark, p)


def test_stage_dir_cleaned_on_failed_write_and_vacuum(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), partition_by="bucket")
    bad = spark.createDataFrame([("a",)], "id string").withColumn(
        "bucket", F.lit(0)
    ).withColumn("boom", F.raise_error(F.lit("x")))
    with pytest.raises(Exception):
        t.publish(bad)
    strays = [n for n in os.listdir(str(tmp_path / "t"))
              if n.startswith("_stage_")]
    assert strays == [], strays

    # a stray stage dir from a crashed writer (simulated) is reaped
    os.makedirs(str(tmp_path / "t" / "_stage_deadbeef"))
    good = spark.createDataFrame([("a", 1)], "id string, v long") \
        .withColumn("bucket", F.lit(0))
    t.publish(good)
    t.publish(good)  # second version so vacuum(keep=1) has work
    t.vacuum(keep=1)
    assert not os.path.exists(str(tmp_path / "t" / "_stage_deadbeef"))


def test_lifecycle_events_bounded_with_exact_count(spark, tmp_path):
    store = MemoryStore(spark, str(tmp_path / "s"))
    store.EVENT_IDS_MAX = 5  # shrink the cap for the test
    seen = []
    store.on_lifecycle_event(seen.append)
    batch = spark.createDataFrame(_texts(12), "id string, text string")
    store.store_batch(batch)
    ev = [e for e in seen if e["type"] == "store"][0]
    assert ev["count"] == 12
    assert len(ev["ids"]) == 5 and ev["ids_truncated"] is True
    # decay events are bounded the same way (force every row to evict
    # age with a far-future "now")
    seen.clear()
    store.run_decay(now=F.current_timestamp() + F.expr("INTERVAL 10000 HOURS"))
    dev = [e for e in seen if e["type"] == "decay"]
    assert dev and dev[0]["count"] == 12
    assert len(dev[0]["ids"]) == 5 and dev[0]["ids_truncated"] is True
    # small driver-side events keep full ids + count
    seen.clear()
    store.expire(["m1"])
    ev = seen[0]
    assert ev["type"] == "expire" and ev["ids"] == ["m1"] and ev["count"] == 1


def test_verify_semijoin_default_off():
    import inspect
    from distill_spark.operators.verify import verify_jaccard, verify_lcs

    assert inspect.signature(verify_jaccard).parameters["semijoin"].default is False
    assert inspect.signature(verify_lcs).parameters["semijoin"].default is False


def test_lane32_clusters_match_lane64(spark):
    from distill_spark.datagen import generate_images
    from distill_spark.operators import dedupe

    df, _ = generate_images(spark, n=300, seed=7)
    df = df.select("image_id", "caption", "phash").cache()
    df.count()
    a32 = dedupe(df, replace(DedupConfig(), minhash_lane_bits=32)).assignments
    a64 = dedupe(df, replace(DedupConfig(), minhash_lane_bits=64)).assignments
    m32 = {r["image_id"]: r["component"] for r in a32.collect()}
    m64 = {r["image_id"]: r["component"] for r in a64.collect()}
    assert m32 == m64
