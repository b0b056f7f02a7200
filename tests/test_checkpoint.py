"""Checkpoint/resume ledger tests (north rule: mid-pipeline resume
produces identical clusters with zero recompute of completed stages).

Reference analog: batch job lifecycle tests
(/root/reference/pkg/batch/batch_test.go:13-120) — queued/processing/
completed status drives skip-on-resume.
"""

import json
import logging
import os
import shutil

import pytest

from distill_spark.checkpoint import (CheckpointStore, dedupe_checkpointed,
                                      input_signature)
from distill_spark.config import DedupConfig
from distill_spark.datagen import generate_images
from distill_spark.operators import dedupe

CFG = DedupConfig()
ALL_STAGES = [
    "signatures", "jaccard_candidates", "jaccard_edges", "phash_edges",
    "lcs_edges", "edges", "assignments", "representatives",
]


@pytest.fixture(scope="module")
def images(spark):
    df, _ = generate_images(spark, n=300, seed=7)
    df = df.select("image_id", "caption", "phash").cache()
    df.count()
    return df


def run(spark, images, path):
    store = CheckpointStore(path, spark)
    res = dedupe_checkpointed(images, store, CFG)
    assignments = sorted(
        (r["image_id"], r["component"]) for r in res.assignments.collect()
    )
    return store, assignments


def test_full_run_writes_ledger(spark, images, tmp_path):
    store, assignments = run(spark, images, str(tmp_path / "cp"))
    assert store.computed == ALL_STAGES
    assert not store.hits
    assert len(assignments) == 300
    # ledger has lineage: per-partition row counts summing to rows
    for stage, row in store.ledger.items():
        assert row["status"] == "complete"
        assert sum(n for _, n in row["partition_rows"]) == row["rows"]


def test_resume_is_identical_and_skips_completed(spark, images, tmp_path):
    path = str(tmp_path / "cp")
    store1, a1 = run(spark, images, path)

    # full re-run over the same store: every stage is a cache hit
    store2, a2 = run(spark, images, path)
    assert a2 == a1
    assert store2.hits == ALL_STAGES
    assert not store2.computed


def test_kill_after_stage_k_resumes(spark, images, tmp_path):
    path = str(tmp_path / "cp")
    store1, a1 = run(spark, images, path)

    # simulate a crash after stage 3: drop later stages from disk + ledger
    keep = ALL_STAGES[:3]
    ledger_path = os.path.join(path, "_ledger.jsonl")
    rows = [json.loads(l) for l in open(ledger_path)]
    with open(ledger_path, "w") as f:
        for r in rows:
            if r["stage"] in keep:
                f.write(json.dumps(r) + "\n")
    for stage in ALL_STAGES[3:]:
        p = os.path.join(path, stage)
        if os.path.exists(p):
            shutil.rmtree(p)

    store2, a2 = run(spark, images, path)
    assert a2 == a1, "resume must produce identical clusters"
    assert store2.hits == keep, "completed stages must not recompute"
    assert store2.computed == ALL_STAGES[3:]


def test_config_change_invalidates_downstream(spark, images, tmp_path):
    path = str(tmp_path / "cp")
    store1 = CheckpointStore(path, spark)
    dedupe_checkpointed(images, store1, CFG).assignments.count()

    cfg2 = DedupConfig(jaccard_threshold=0.8)
    store2 = CheckpointStore(path, spark)
    dedupe_checkpointed(images, store2, cfg2).assignments.count()
    assert "jaccard_edges" in store2.computed, "changed config must recompute"
    assert not store2.hits, "config signature covers every stage"


def _outputs(res):
    return (
        sorted((r["image_id"], r["component"]) for r in res.assignments.collect()),
        sorted(tuple(r) for r in res.representatives.collect()),
        sorted((r["a"], r["b"]) for r in res.edges.collect()),
    )


def test_checkpointed_matches_dedupe(spark, tmp_path):
    """dedupe() and dedupe_checkpointed() run one stage graph: the same
    assignments, representatives and edge set (star hubs included) on
    string ids, and the same assignments on the rows re-keyed by integer
    ids."""
    df, _ = generate_images(spark, n=800, seed=21)
    meta = df.select("image_id", "caption", "phash").cache()
    meta.count()
    plain = dedupe(meta)
    try:
        want = _outputs(plain)
    finally:
        plain.unpersist()
    got = _outputs(dedupe_checkpointed(
        meta, CheckpointStore(str(tmp_path / "s"), spark), CFG))
    assert got[0] == want[0]
    assert got[1] == want[1]
    assert want[2], "fixture must produce edges"
    assert got[2] == want[2]

    rank = {r["image_id"]: i for i, r in
            enumerate(meta.select("image_id").orderBy("image_id").collect())}
    ipdf = meta.toPandas()
    ipdf["image_id"] = ipdf["image_id"].map(rank).astype("int64")
    imeta = spark.createDataFrame(ipdf).cache()
    imeta.count()
    plain = dedupe(imeta)
    try:
        want_i = _outputs(plain)[0]
    finally:
        plain.unpersist()
    got_i = _outputs(dedupe_checkpointed(
        imeta, CheckpointStore(str(tmp_path / "i"), spark), CFG))[0]
    assert got_i == want_i
    assert got_i == sorted((rank[i], rank[c]) for i, c in want[0])
    imeta.unpersist()
    meta.unpersist()


def test_input_signature_warns_when_plan_hash_fails(spark, monkeypatch, caplog):
    """A frame whose semanticHash() fails still gets a fingerprint, but
    the degradation is logged rather than silent."""
    df = spark.createDataFrame([(1, "a")], "id long, caption string")

    def boom(self):
        raise RuntimeError("no plan hash")

    monkeypatch.setattr(type(df), "semanticHash", boom)
    with caplog.at_level(logging.WARNING, logger="distill_spark"):
        sig = input_signature(df)
    assert sig
    assert any("semanticHash" in r.getMessage() and r.levelno == logging.WARNING
               for r in caplog.records)
