"""The versioned (snapshot-isolated) table under the SESSION store and the
CHECKPOINT stage store — VERDICT round-4 "What's missing" #1. Same
contract tests the memory store passes (test_versioned_table.py):
lifecycle, migration of a hand-built legacy dir layout (flat entries/,
flat stage directories), and a reader pinned before a mutation still
collecting the pre-mutation rows afterwards.

Reference analog: the session DDL
/root/reference/pkg/session/sqlite.go:64-103 (one writer, many readers,
reads never observe a half-applied mutation).
"""

import logging
import os
import shutil

import pytest

from distill_spark.checkpoint import CheckpointStore, dedupe_checkpointed
from distill_spark.config import DedupConfig
from distill_spark.datagen import generate_images
from distill_spark.memory import MemoryStore
from distill_spark.session_store import SessionStore
from distill_spark.tableio import VersionedTable

CFG = DedupConfig()


def _push_rows(tag, n):
    return [{"content": f"{tag} entry number {i} carries unique content "
                        f"token{tag}{i} plus filler words for shingles"}
            for i in range(n)]


# --------------------------------------------------------------- session

def test_session_lifecycle_on_versioned_backend(spark, tmp_path):
    ss = SessionStore(spark, str(tmp_path / "s"))
    sid = ss.create("s1", max_tokens=100_000)
    r = ss.push(sid, _push_rows("a", 4))
    assert r.accepted == 4
    # near-dup of entry 0 rejected by the push probe
    r2 = ss.push(sid, [{"content": "a entry number 0 carries unique "
                                   "content tokena0 plus filler words "
                                   "for shingles x"}])
    assert r2.deduplicated == 1 and r2.accepted == 0
    out, stats = ss.context(sid)
    assert stats["total_entries"] == 4
    assert ss.delete(sid) == 4
    assert ss.entries().count() == 0


def test_session_versioned_migrates_legacy_dirs_store(spark, tmp_path):
    # hand-build the legacy layout: flat entries/ parquet + sessions.json
    src = SessionStore(spark, str(tmp_path / "src"))
    sid = src.create("s1", max_tokens=100_000)
    src.push(sid, _push_rows("b", 3))
    p = str(tmp_path / "s")
    src.entries().write.parquet(os.path.join(p, "entries"))
    shutil.copy(src._sessions_path(), os.path.join(p, "sessions.json"))

    vss = SessionStore(spark, p)
    assert vss._table.current_version() == 1
    out, stats = vss.context(sid)
    assert stats["total_entries"] == 3
    assert sorted(r["content"] for r in out.collect()) \
        == sorted(r["content"] for r in src.entries(sid).collect())
    # legacy files gone; a reopen does not re-migrate
    assert SessionStore(spark, p)._table.current_version() == 1

    # a stray flat file beside the manifest layout is refused loudly
    src.entries().write.mode("append").parquet(os.path.join(p, "entries"))
    with pytest.raises(RuntimeError, match="BOTH a versioned manifest"):
        SessionStore(spark, p)


def test_session_reader_isolated_from_push_and_delete(spark, tmp_path):
    ss = SessionStore(spark, str(tmp_path / "s"))
    sid = ss.create("s1", max_tokens=100_000)
    ss.push(sid, _push_rows("c", 3))

    pinned = ss.entries(sid).select("content")
    pre = sorted(r["content"] for r in pinned.collect())
    assert len(pre) == 3

    ss.push(sid, _push_rows("d", 2))   # full-table publish (new version)
    ss.delete(sid)                     # another publish

    # the pinned plan still returns exactly the pre-mutation rows
    assert sorted(r["content"] for r in pinned.collect()) == pre
    assert ss.entries(sid).count() == 0


# ------------------------------------------------------------ checkpoint

@pytest.fixture(scope="module")
def images(spark):
    df, _ = generate_images(spark, n=300, seed=7)
    df = df.select("image_id", "caption", "phash").cache()
    df.count()
    return df


def test_checkpoint_versioned_run_and_resume(spark, images, tmp_path):
    path = str(tmp_path / "cp")
    s1 = CheckpointStore(path, spark)
    a1 = sorted(
        (r["image_id"], r["component"])
        for r in dedupe_checkpointed(images, s1, CFG).assignments.collect()
    )
    assert s1.computed and not s1.hits

    s2 = CheckpointStore(path, spark)
    a2 = sorted(
        (r["image_id"], r["component"])
        for r in dedupe_checkpointed(images, s2, CFG).assignments.collect()
    )
    assert a2 == a1
    assert s2.hits == s1.computed and not s2.computed


def test_checkpoint_versioned_migrates_dirs_stages(spark, images, tmp_path):
    src = str(tmp_path / "src")
    s1 = CheckpointStore(src, spark)
    a1 = sorted(
        (r["image_id"], r["component"])
        for r in dedupe_checkpointed(images, s1, CFG).assignments.collect()
    )
    # hand-build the legacy layout: one flat parquet directory per stage
    # beside the same ledger
    path = str(tmp_path / "cp")
    for stage in s1.computed:
        VersionedTable(spark, os.path.join(src, stage)).read() \
            .write.parquet(os.path.join(path, stage))
    shutil.copy(os.path.join(src, "_ledger.jsonl"), path)

    # stages migrate to v1 manifests and stay HITS
    s2 = CheckpointStore(path, spark)
    a2 = sorted(
        (r["image_id"], r["component"])
        for r in dedupe_checkpointed(images, s2, CFG).assignments.collect()
    )
    assert a2 == a1
    assert s2.hits == s1.computed and not s2.computed
    tables = [VersionedTable(spark, os.path.join(path, st)) for st in s1.computed]
    assert all(t.current_version() == 1 for t in tables)
    # a second run does not re-migrate
    s3 = CheckpointStore(path, spark)
    dedupe_checkpointed(images, s3, CFG).assignments.count()
    assert s3.hits == s1.computed
    assert all(t.current_version() == 1 for t in tables)
    # a flat file beside a stage's manifest layout is refused loudly
    spark.range(3).write.parquet(os.path.join(path, "assignments", "stray"))
    with pytest.raises(RuntimeError, match="BOTH a versioned manifest"):
        dedupe_checkpointed(images, CheckpointStore(path, spark), CFG)


def test_checkpoint_reader_isolated_from_rerun(spark, tmp_path):
    path = str(tmp_path / "cp")
    store = CheckpointStore(path, spark)
    df1 = store.run_stage(
        "stage_x", lambda: spark.range(5).withColumnRenamed("id", "v"),
        config_sig="a",
    )
    pre = sorted(r["v"] for r in df1.collect())

    # config change forces a recompute -> new version published while
    # the old plan is still held
    store2 = CheckpointStore(path, spark)
    store2.run_stage(
        "stage_x", lambda: spark.range(50).withColumnRenamed("id", "v"),
        config_sig="b",
    )
    assert sorted(r["v"] for r in df1.collect()) == pre  # old plan intact
    assert store2.run_stage(
        "stage_x", lambda: spark.range(50).withColumnRenamed("id", "v"),
        config_sig="b",
    ).count() == 50


# ---------------------------------------------------------- maintenance

def _mutate_checkpoint(spark, path):
    store = CheckpointStore(path, spark)
    store.run_stage("stage_v", lambda: spark.range(3), config_sig="a")
    return CheckpointStore(path, spark).run_stage(
        "stage_v", lambda: spark.range(0), config_sig="a").count()


def _mutate_memory(spark, path):
    store = MemoryStore(spark, path)
    store.store_batch(spark.createDataFrame(
        [(f"m{i}", f"memory {i} about distinct topic token{i} words")
         for i in range(3)], "id string, text string"))
    return store.snapshot().count()


def _mutate_session(spark, path):
    ss = SessionStore(spark, path)
    sid = ss.create("s1", max_tokens=100_000)
    ss.push(sid, _push_rows("v", 3))
    return ss.entries(sid).count()


@pytest.mark.parametrize("mutate", [_mutate_checkpoint, _mutate_memory, _mutate_session],
                         ids=["checkpoint", "memory", "session"])
def test_failed_vacuum_is_logged_and_mutation_commits(spark, tmp_path, monkeypatch,
                                                      caplog, mutate):
    def broken(self, keep=2):
        raise OSError("vacuum failed")

    monkeypatch.setattr(VersionedTable, "vacuum", broken)
    caplog.set_level(logging.WARNING, logger="distill_spark")
    assert mutate(spark, str(tmp_path / "store")) == 3
    warned = [r for r in caplog.records
              if r.name == "distill_spark" and "vacuum" in r.getMessage()]
    assert warned and warned[0].exc_info is not None
