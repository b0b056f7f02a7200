"""Round-3 scale hygiene for the stateful stores (VERDICT r2 item 3):

  * mutations rewrite ONLY touched bucket partitions: consecutive
    manifests (VersionedTable.files()) differ only in files of the
    touched buckets, a pure insert keeps every earlier file, and a
    mutation that touches nothing commits no new version;
  * recall() is a distributed TakeOrdered top-k, not a global rank
    window funnelling every row through one task;
  * a commit that dies after its files are staged leaves every store
    at its previous version; the retry commits and vacuum() reaps the
    orphaned files;
  * store_batch results are materialized BEFORE the store directory
    mutates — evicting every cached plan after the call must not
    change them (round-2 ADVICE: phantom self-match pairs).
"""

import os

import pytest
from pyspark.sql import functions as F

from distill_spark.checkpoint import CheckpointStore
from distill_spark.memory import MemoryStore
from distill_spark.session_store import SessionStore
from distill_spark.tableio import VersionedTable


@pytest.fixture()
def store(spark, tmp_path):
    return MemoryStore(spark, str(tmp_path / "mem"), dup_jaccard=0.5,
                       conflict_jaccard=0.2, n_buckets=8)


def _entries(spark, rows):
    return spark.createDataFrame(rows, "id string, text string")


def _texts(n):
    import random

    rng = random.Random(4)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa", "lambda", "sigma"]
    return [
        (f"m{i:04d}", " ".join(rng.choice(words) for _ in range(12)) + f" unique{i}")
        for i in range(n)
    ]


def _changed_buckets(table, mutate):
    """Run mutate(); assert it committed exactly one version and return
    the buckets whose files differ between that version and the one
    before it."""
    v = table.current_version()
    mutate()
    assert table.current_version() == v + 1
    before, after = table.files(v), table.files()
    return {int(info["part"]) for rel, info in before.items() if rel not in after} \
        | {int(info["part"]) for rel, info in after.items() if rel not in before}


def test_mutations_rewrite_only_touched_buckets(spark, store):
    rows = _texts(60)
    store.store_batch(_entries(spark, rows))
    table = store._table
    assert len({info["part"] for info in table.files().values()}) > 1

    # --- expire one id: only its bucket's files may change
    target = "m0007"
    assert _changed_buckets(table, lambda: store.expire([target])) \
        == set(store._buckets_of([target]))
    snap = {r["id"]: r for r in store.snapshot().collect()}
    assert snap[target]["expired"] and len(snap) == 60

    # --- supersede: same single-bucket property
    assert _changed_buckets(table, lambda: store.supersede("m0011", "m0001")) \
        == set(store._buckets_of(["m0011"]))
    snap = {r["id"]: r for r in store.snapshot().collect()}
    assert snap["m0011"]["superseded_by"] == "m0001"

    # --- forget two ids: exactly their buckets change, rows gone
    victims = ["m0002", "m0042"]
    removed = []
    assert _changed_buckets(
        table, lambda: removed.append(store.forget(ids=victims))
    ) == set(store._buckets_of(victims))
    assert removed == [2]
    ids = {r["id"] for r in store.snapshot().collect()}
    assert not (set(victims) & ids) and len(ids) == 58

    # --- forget matching nothing: no new version
    v = table.current_version()
    assert store.forget(ids=["nope"]) == 0
    assert table.current_version() == v


def test_pure_insert_appends_without_rewriting(spark, store):
    rows = _texts(40)
    store.store_batch(_entries(spark, rows[:20]))
    table = store._table
    v = table.current_version()
    before = table.files()
    store.store_batch(_entries(spark, rows[20:]))
    # one append commit: every earlier file kept, new files added
    assert table.current_version() == v + 1
    after = table.files()
    assert set(before) < set(after)
    assert all(after[rel] == info for rel, info in before.items())
    assert store.snapshot().count() == 40


def test_recall_plan_is_takeordered_not_global_sort(spark, store):
    store.store_batch(_entries(spark, _texts(30)))
    out = store.recall("alpha beta gamma", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # the pre-top-k path must not contain a global (non-partial) Sort:
    # every Sort in the plan may only appear above the k-row limit
    assert store.recall("alpha beta gamma", k=5).count() == 5


def test_recall_results_unchanged_by_bucketing(spark, tmp_path):
    rows = _texts(25)
    a = MemoryStore(spark, str(tmp_path / "a"), dup_jaccard=0.99,
                    conflict_jaccard=0.98, n_buckets=1)
    b = MemoryStore(spark, str(tmp_path / "b"), dup_jaccard=0.99,
                    conflict_jaccard=0.98, n_buckets=8)
    now = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    a.store_batch(_entries(spark, rows), now=now)
    b.store_batch(_entries(spark, rows), now=now)
    q = "alpha beta gamma delta epsilon"
    ra = [(r["id"], r["relevance"]) for r in a.recall(q, k=7, now=now).collect()]
    rb = [(r["id"], r["relevance"]) for r in b.recall(q, k=7, now=now).collect()]
    assert ra == rb and len(ra) == 7


def test_store_batch_results_survive_cache_eviction(spark, store):
    base = "the quick brown fox jumps over the lazy dog by the river"
    near = "the quick brown fox jumps over the lazy dog by the stream"
    store.store_batch(_entries(spark, [("m1", base)]))
    res = store.store_batch(_entries(spark, [("m2", near), ("m3", "totally different words here")]))
    # simulate executor cache eviction AFTER the store dir was swapped
    spark.catalog.clearCache()
    dups = [(r["new_id"], r["existing_id"]) for r in res.duplicates.collect()]
    assert dups == [("m2", "m1")]
    # no phantom self-matches (jaccard-1.0 new-vs-new pairs) in the
    # persisted conflict log either
    log = res.conflicts.collect()
    assert all(r["new_id"] != r["existing_id"] for r in log)
    assert {r["id"] for r in res.stored.collect()} == {"m3"}


def test_run_decay_touches_only_changed_buckets(spark, store):
    now = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    old = F.to_timestamp(F.lit("2025-12-29 00:00:00"))   # 72h -> level 1
    rows_new = _texts(20)
    store.store_batch(_entries(spark, rows_new[:10]), now=old)
    store.store_batch(_entries(spark, rows_new[10:]), now=now)
    events = []
    changed = _changed_buckets(
        store._table, lambda: events.extend(store.run_decay(now=now).collect()))
    decayed_ids = {r["id"] for r in events}
    assert decayed_ids == {i for i, _ in rows_new[:10]}
    assert all(r["new_level"] == 1 for r in events)
    assert changed == set(store._buckets_of(decayed_ids))
    # second run: nothing changes, no new version
    v = store._table.current_version()
    assert store.run_decay(now=now).count() == 0
    assert store._table.current_version() == v


# ------------------------------------------------- failed-commit safety

def _memory_case(spark, path):
    store = MemoryStore(spark, path, n_buckets=4, vacuum_keep=None)
    store.store_batch(_entries(spark, _texts(10)))
    return (store._table,
            lambda: sorted((r["id"], r["expired"])
                           for r in store.snapshot().collect()),
            lambda: store.expire(["m0003"]))


def _session_case(spark, path):
    ss = SessionStore(spark, path, vacuum_keep=None)
    sid = ss.create("s1", max_tokens=10_000)
    ss.push(sid, [{"content": "alpha beta gamma delta epsilon zeta eta theta"}])
    return (ss._table,
            lambda: sorted(r["content"] for r in ss.entries(sid).collect()),
            lambda: ss.push(sid, [{"content": "an unrelated second entry "
                                              "about shuffle partitions"}]))


def _checkpoint_case(spark, path):
    cp = CheckpointStore(path, spark, vacuum_keep=None)
    cp.run_stage("stage_x", lambda: spark.range(5), config_sig="a")
    table = VersionedTable(spark, cp._stage_path("stage_x"))
    return (table,
            lambda: sorted(r["id"] for r in table.read().collect()),
            lambda: cp.run_stage("stage_x", lambda: spark.range(5, 12),
                                 config_sig="b"))


@pytest.mark.parametrize("case", [_memory_case, _session_case, _checkpoint_case],
                         ids=["memory", "session", "checkpoint"])
def test_failed_commit_keeps_previous_version(spark, tmp_path, monkeypatch, case):
    """A commit that dies after its files are staged (the table-layer
    crash point: data files written, manifest not swapped)."""
    table, read, mutate = case(spark, str(tmp_path / "store"))
    v, before = table.current_version(), read()

    def crash(self, *args, **kwargs):
        raise OSError("commit died")

    with monkeypatch.context() as m:
        m.setattr(VersionedTable, "_commit", crash)
        with pytest.raises(OSError, match="commit died"):
            mutate()
    # the store still reads the previous version
    assert table.current_version() == v and read() == before
    on_disk = set()
    for root, _, names in os.walk(table._ddir()):
        on_disk |= {os.path.relpath(os.path.join(root, n), table._ddir())
                    for n in names if n.endswith(".parquet")}
    orphans = on_disk - set(table.files())
    assert orphans, "the failed commit staged no files"

    # the next mutation commits; vacuum() reaps the orphans only
    mutate()
    assert table.current_version() == v + 1 and read() != before
    deleted = table.vacuum(keep=2)
    assert orphans <= set(deleted)
    assert not any(os.path.exists(os.path.join(table._ddir(), o)) for o in orphans)
    assert table.current_version() == v + 1 and read() != before
