"""Memory store lifecycle, MMR, compression, scalar functions.

Mirrors the reference's behavioral unit tests: write-time dedup
(pkg/memory/memory_test.go:71), conflict band (conflict_test.go),
expiry/supersede (expiry_test.go), relevance (relevance_test.go),
MMR/selector invariants (pipeline_test.go), compression modes
(compress_test.go).
"""

import pytest
from pyspark.sql import functions as F

from distill_spark.memory import MemoryStore
from distill_spark.operators.rerank import mmr_rerank, diversity_score, coverage_score
from distill_spark.functions.compress import prune_fillers, extractive_compress
from distill_spark.functions.text import lang_id, quality_score, keywords
from distill_spark.functions.sensitivity import sensitivity_level

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
FAR = "completely different content about databases and distributed systems design"


@pytest.fixture()
def store(spark, tmp_path):
    return MemoryStore(spark, str(tmp_path / "mem"), dup_jaccard=0.5, conflict_jaccard=0.2)


def _entries(spark, rows):
    return spark.createDataFrame(rows, "id string, text string")


def test_write_time_dedup_and_conflict(spark, store):
    r1 = store.store_batch(_entries(spark, [("m1", BASE), ("m2", FAR)]))
    assert r1.stored.count() == 2
    assert r1.duplicates.count() == 0

    # near-dup of m1 -> deduped (not stored), m1 touched
    r2 = store.store_batch(_entries(spark, [("m3", NEAR)]))
    assert r2.stored.count() == 0
    dups = r2.duplicates.collect()
    assert dups and dups[0]["existing_id"] == "m1"
    snap = {r["id"]: r for r in store.snapshot().collect()}
    assert set(snap) == {"m1", "m2"}
    assert snap["m1"]["access_count"] == 1

    # moderately similar -> conflict band, stored anyway
    half = "the quick brown fox sleeps all day long beside a completely different river"
    r3 = store.store_batch(_entries(spark, [("m4", half)]))
    assert r3.stored.count() == 1


def test_stored_match_takes_precedence_over_batch_match(spark, store):
    """x2 matches stored s0 and the earlier accepted batch row x1: it is
    a dup of s0 only, as in ingest and oracle_ingest. A row rejected
    only within the batch still reports the accepted row it matched."""
    from distill_spark.oracle import jaccard, shingle_set

    s0 = [f"w{i}" for i in range(40)]
    x2 = s0[:32] + [f"t{i}" for i in range(8)]
    x1 = [f"h{i}" for i in range(8)] + x2[8:]
    x3 = x1[:32] + [f"u{i}" for i in range(8)]

    def j(a, b):
        return jaccard(shingle_set(" ".join(a)), shingle_set(" ".join(b)))

    assert j(x2, s0) >= 0.5 and j(x2, x1) >= 0.5 and j(x3, x1) >= 0.5
    assert j(x1, s0) < 0.5 and j(x3, s0) < 0.5 and j(x3, x2) < 0.5

    store.store_batch(_entries(spark, [("s0", " ".join(s0))]))
    r = store.store_batch(_entries(spark, [(i, " ".join(t)) for i, t in
                                           [("x1", x1), ("x2", x2), ("x3", x3)]]))
    assert {(d["new_id"], d["existing_id"]) for d in r.duplicates.collect()} \
        == {("x2", "s0"), ("x3", "x1")}
    assert sorted(x["id"] for x in r.stored.collect()) == ["x1"]


def test_recall_relevance_and_budget(spark, store):
    store.store_batch(_entries(spark, [("m1", BASE), ("m2", FAR)]))
    got = store.recall("quick brown fox jumps over the lazy dog", k=2)
    rows = got.collect()
    assert rows[0]["id"] == "m1", "similar entry must rank first"
    tiny = store.recall("quick brown fox", k=5, token_budget=5)
    assert tiny.count() <= 1


def test_expire_supersede_forget(spark, store):
    store.store_batch(_entries(spark, [("m1", BASE), ("m2", FAR)]))
    store.expire(["m2"])
    snap = {r["id"]: r for r in store.snapshot().collect()}
    assert snap["m2"]["expired"] is True
    # expired rows no longer dedup-match new entries
    r = store.store_batch(_entries(spark, [("m5", FAR)]))
    assert r.stored.count() == 1

    store.supersede("m1", "m5")
    snap = {r["id"]: r for r in store.snapshot().collect()}
    assert snap["m1"]["superseded_by"] == "m5"

    removed = store.forget(ids=["m1"])
    assert removed == 1
    assert "m1" not in {r["id"] for r in store.snapshot().collect()}


def test_mmr_prefers_diverse(spark):
    df = spark.createDataFrame(
        [
            ("a", BASE, 1.0),
            ("b", BASE + " exactly", 0.99),   # near-dup of a
            ("c", FAR, 0.9),
        ],
        "image_id string, caption string, score double",
    )
    out = mmr_rerank(df, k=2, lam=0.5)
    picked = [r["image_id"] for r in out.orderBy("mmr_rank").collect()]
    assert picked == ["a", "c"], "MMR must skip the near-dup of the top pick"
    assert diversity_score([BASE, FAR]) > diversity_score([BASE, NEAR])
    assert coverage_score([BASE, NEAR, FAR], [BASE, FAR]) > 0.8


def test_mmr_matches_bruteforce(spark):
    """Pin the general-lambda MMR greedy against an independent
    brute-force replication of mmr.go:50-136 (min-max normalize,
    score = lam*rel - (1-lam)*max_sim_to_selected, ties -> lower id).
    The driver query runs the lambda=1.0 closed form; this covers the
    diversity path the SQL oracle can't express."""
    import random

    from distill_spark.config import DEFAULT
    from distill_spark.oracle import shingle_set, jaccard

    rng = random.Random(42)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    rows = [
        (f"d{i:02d}",
         " ".join(rng.choice(words) for _ in range(rng.randint(6, 14))),
         float(rng.randint(1, 100)))
        for i in range(15)
    ]
    for lam in (0.0, 0.3, 0.5, 0.7):
        df = spark.createDataFrame(rows, "image_id string, caption string, score double")
        got = [r["image_id"]
               for r in mmr_rerank(df, k=6, lam=lam).orderBy("mmr_rank").collect()]

        # independent brute force
        ids = [r[0] for r in rows]
        sets = [shingle_set(r[1], DEFAULT) for r in rows]
        s = [r[2] for r in rows]
        lo, hi = min(s), max(s)
        rel = [(x - lo) / (hi - lo) if hi > lo else 1.0 for x in s]
        selected, remaining = [], list(range(len(ids)))
        while remaining and len(selected) < 6:
            best, best_score = None, float("-inf")
            for i in remaining:
                ms = max((jaccard(sets[i], sets[j]) for j in selected), default=0.0)
                m = lam * rel[i] - (1 - lam) * ms
                if m > best_score or (m == best_score and ids[i] < ids[best]):
                    best, best_score = i, m
            selected.append(best)
            remaining.remove(best)
        want = [ids[i] for i in selected]
        assert got == want, f"lam={lam}: {got} != {want}"


def test_compression(spark):
    df = spark.createDataFrame(
        [("d1", "Basically, this is very important. " * 8 + "Numbers like 42 matter. End.")],
        "id string, text string",
    )
    pruned = df.select(prune_fillers("text").alias("p")).collect()[0]["p"]
    assert "Basically" not in pruned and "very " not in pruned

    comp = extractive_compress(df, "text", "c", target_ratio=0.3).collect()[0]
    assert len(comp["c"]) < len(comp["text"])
    assert comp["c"], "never compress to empty"


def test_scalar_functions(spark):
    df = spark.createDataFrame(
        [
            ("en", "the quick fox is on the hill and it has a plan"),
            ("de", "der hund und die katze das ist ein tier mit zu"),
            ("pii", "reach me at a@b.com or 123-45-6789"),
        ],
        "k string, text string",
    )
    rows = {r["k"]: r for r in df.select(
        "k", lang_id("text").alias("lang"),
        sensitivity_level("text").alias("sens"),
        F.round(quality_score("text"), 2).alias("q"),
        keywords("text").alias("kw"),
    ).collect()}
    assert rows["en"]["lang"] == "en"
    assert rows["de"]["lang"] == "de"
    assert rows["pii"]["sens"] == 2
    assert 0 <= rows["en"]["q"] <= 1
    assert "quick" in rows["en"]["kw"]
