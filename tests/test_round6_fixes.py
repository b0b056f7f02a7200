"""Round-6 optimization invariants.

Each optimization that changed an operator's internals gets a focused
equivalence/behavior test here:
  1. connected_components: the single-task numpy fixpoint (small graphs)
     must produce labels identical to the distributed loop.
  2. with_signatures(parts=... "winnow"): merged-pass fingerprints must
     be bit-identical to the standalone winnow pass.
  3. refine_oversized: sub-bucket keys are the literal L-char window
     strings (verified-by-construction pairs), and the substring
     channel's edges/components are unchanged vs the verify-everything
     formulation.
  4. no leaked caches: the distributed Hamming path materializes its
     refinement levels as eager checkpoints, so it leaves no plan in
     Spark's cache manager and hands nothing to a cache_registry;
     dedupe() persists nothing on either path (round-5 advice #1).
     The distributed CC loop raises when cc_max_iters runs out.
  5. versioned stores auto-vacuum after commits (round-5 advice #2).
"""

import random
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from distill_spark.config import DedupConfig
from distill_spark.operators import components, dedupe
from distill_spark.operators.components import connected_components


def _graph_edges(spark, with_strings=False):
    rng = random.Random(7)
    edges = []
    for i in range(0, 2000, 4):  # chains of 4 -> deep pointer jumping
        edges += [(i, i + 1), (i + 1, i + 2), (i + 2, i + 3)]
    edges += [(50000, 50000 + j) for j in range(1, 300)]  # star hub
    edges += [(rng.randrange(4000), rng.randrange(4000)) for _ in range(1500)]
    df = spark.createDataFrame(edges, "a long, b long")
    if with_strings:
        df = df.selectExpr("format_string('n%06d', a) as a",
                           "format_string('n%06d', b) as b")
    return df


def test_cc_local_matches_distributed(spark, monkeypatch):
    edges = _graph_edges(spark)
    nodes = spark.range(0, 4500).selectExpr("id as image_id")
    out = {}
    for tag, max_edges in [("local", 10**9), ("dist", 0)]:
        monkeypatch.setattr(components, "LOCAL_MAX_EDGES", max_edges)
        res = connected_components(edges, nodes=nodes, id_col="image_id")
        out[tag] = sorted((r["image_id"], r["component"]) for r in res.collect())
    assert out["local"] == out["dist"]
    # the local path must not have taken the iterative loop
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 10**9)
    connected_components(edges, id_col="image_id").collect()
    assert connected_components.last_iterations == 0


def test_cc_local_matches_distributed_string_ids(spark, monkeypatch):
    edges = _graph_edges(spark, with_strings=True)
    out = {}
    for tag, max_edges in [("local", 10**9), ("dist", 0)]:
        monkeypatch.setattr(components, "LOCAL_MAX_EDGES", max_edges)
        res = connected_components(edges, id_col="image_id")
        out[tag] = sorted((r["image_id"], r["component"]) for r in res.collect())
    assert out["local"] == out["dist"]


def test_cc_string_ids_over_byte_budget_take_distributed_loop(spark, monkeypatch):
    """The one-task CC path is gated on estimated bytes, not only the
    edge count: under a budget that holds these edges with int64 ids,
    the same graph with string ids takes the distributed loop, with
    the same labels."""
    from distill_spark.operators import onetask

    chains = [(i, i + 1) for s in range(0, 40, 5) for i in range(s, s + 4)]
    longs = spark.createDataFrame(chains, "a long, b long")
    strs = longs.selectExpr("format_string('n%03d', a) AS a",
                            "format_string('n%03d', b) AS b")
    monkeypatch.setattr(onetask, "TASK_BYTES",
                        len(chains) * components._CC_IDS_PER_EDGE * 8)
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 10**9)
    connected_components(longs, id_col="image_id").collect()
    assert connected_components.last_iterations == 0
    got = {r["image_id"]: r["component"] for r in
           connected_components(strs, id_col="image_id").collect()}
    assert connected_components.last_iterations > 0
    assert got == {f"n{i:03d}": f"n{i - i % 5:03d}"
                   for s in range(0, 40, 5) for i in range(s, s + 5)}


def test_merged_winnow_fingerprints_identical(spark):
    from distill_spark.operators.signatures import with_signatures
    from distill_spark.operators.winnow import with_fingerprints

    cfg = DedupConfig()
    rng = random.Random(3)
    words = ["".join(rng.choice("abcdefghij") for _ in range(6))
             for _ in range(50)]
    rows = [(i, " ".join(rng.choice(words)
                         for _ in range(rng.randint(0, 40))))
            for i in range(300)]
    rows += [(300, "héllo wörld " * 5), (301, ""), (302, None),
             (303, "short"), (304, "x" * 23), (305, "y" * 24),
             (306, "ZZ " + "SameGram" * 3 + " xx " + "samegram" * 3)]
    df = spark.createDataFrame(rows, "image_id long, caption string")
    old = {(r["image_id"], f)
           for r in with_fingerprints(df, "caption", "fp", cfg).collect()
           for f in (r["fp"] or [])}
    new = {(r["image_id"], f)
           for r in with_signatures(
               df, "caption", "image_id", cfg,
               parts=("shingles", "minhash", "simhash", "winnow")).collect()
           for f in (r["fps"] or [])}
    assert old == new


def test_refine_emits_literal_windows(spark):
    from distill_spark.operators.winnow import refine_oversized

    cfg = DedupConfig()
    L = cfg.lcs_min_len
    boiler = "The Shared Boilerplate Prefix Sentence Here"
    rows = [(i, boiler + f" unique tail {i}") for i in range(5)]
    captions = spark.createDataFrame(rows, "image_id long, caption string")
    # fingerprints of doc 0 (all docs share the boilerplate's selected
    # fingerprints inside it)
    from distill_spark.operators.winnow import with_fingerprints

    fps = with_fingerprints(captions, "caption", "fp", cfg).collect()
    shared = set.intersection(*[set(r["fp"]) for r in fps])
    assert shared, "planted boilerplate must share a selected fingerprint"
    members = spark.createDataFrame(
        [(r["image_id"], f) for r in fps for f in shared],
        "image_id long, fingerprint long",
    )
    refined = refine_oversized(members, captions, cfg).collect()
    assert refined, "refinement must emit sub-buckets"
    for r in refined:
        w = r["subfp"]
        assert isinstance(w, str) and len(w) == L
        # the emitted key IS a literal substring of the lowercased doc
        cap = dict(rows)[r["image_id"]].lower()
        assert w in cap


def test_substring_edges_unchanged_by_subbucket_shortcut(spark):
    """The direct-append of refined-bucket pairs must not change the
    substring channel's verified edge set: every direct edge satisfies
    the exact LCS predicate, and the channel's components match the
    brute-force oracle."""
    cfg = replace(DedupConfig(), max_fp_bucket_size=2)  # force refinement
    rng = random.Random(13)
    boiler = "common boilerplate segment shared by the dup family"
    rows = [(f"d{i:03d}", boiler + " tail " + "".join(
        rng.choice("abcdefgh") for _ in range(12))) for i in range(30)]
    rows += [(f"u{i:03d}", " ".join("".join(rng.choice("pqrstuvw")
                                            for _ in range(8))
                                    for _ in range(10))) for i in range(30)]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    res = dedupe(df, cfg, channels=("substring",), phash_col=None)
    edges = [(r["a"], r["b"]) for r in res.edges.collect()]
    caps = dict(rows)
    L = cfg.lcs_min_len

    def lcs_ge(a, b):
        a, b = caps[a].lower(), caps[b].lower()
        wins = {a[i:i + L] for i in range(len(a) - L + 1)}
        return any(b[i:i + L] in wins for i in range(len(b) - L + 1))

    assert edges, "planted family must produce edges"
    for a, b in edges:
        assert lcs_ge(a, b), f"unverified edge {a},{b}"
    comps = {r["image_id"]: r["component"]
             for r in res.assignments.collect()}
    # all 30 family members share one component; no unique row joins it
    fam = {comps[f"d{i:03d}"] for i in range(30)}
    assert len(fam) == 1
    for i in range(30):
        assert comps[f"u{i:03d}"] not in fam
    res.unpersist()


def _cache_is_empty(spark):
    """True when Spark's cache manager holds no cached plan."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_hamming_distributed_path_caches_nothing(spark, monkeypatch):
    from distill_spark.operators import hamming
    from distill_spark.operators.hamming import hamming_candidate_pairs

    rng = random.Random(5)
    rows = [(i, rng.getrandbits(63)) for i in range(500)]
    rows += [(500 + i, v ^ (1 << i % 63)) for i, (_, v) in enumerate(rows[:50])]
    df = spark.createDataFrame(rows, "id long, phash long")
    spark.catalog.clearCache()
    monkeypatch.setattr(hamming, "LOCAL_MAX_ROWS", 0)  # distributed path
    reg: list = []
    pairs = hamming_candidate_pairs(df, "phash", 4, id_col="id",
                                    cfg=DedupConfig(), cache_registry=reg)
    assert pairs.count() >= 50
    assert reg == [], "nothing is handed to a cache registry"
    assert _cache_is_empty(spark), "the distributed path must cache no plan"


def test_dedupe_unpersist_leaves_no_cached_plan(spark, monkeypatch, caplog):
    """dedupe() persists nothing on either path: Spark's cache manager
    is empty after its frames are read, and still after unpersist()."""
    import logging

    from distill_spark.datagen import generate_images
    from distill_spark.operators import hamming

    df, _ = generate_images(spark, n=300, seed=4)
    spark.catalog.clearCache()
    for path in ("one-task path", "per-operator path"):
        if path == "per-operator path":
            monkeypatch.setattr(hamming, "LOCAL_MAX_ROWS", 0)
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="distill_spark"):
            res = dedupe(df, DedupConfig())
        assert any(r.getMessage().startswith("dedup graph: 300 rows -> " + path)
                   for r in caplog.records)
        res.assignments.count()
        res.edges.count()
        res.representatives.count()
        assert _cache_is_empty(spark), f"dedupe() cached a plan ({path})"
        res.unpersist()
        assert _cache_is_empty(spark), f"unpersist cached a plan ({path})"


def test_cc_loop_raises_when_max_iters_runs_out(spark, monkeypatch):
    """A distributed CC loop cut by cfg.cc_max_iters before its labels
    stop changing raises, naming the setting; it does not return labels
    that are not a fixpoint. A 41-node path needs 6 iterations."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "a long, b long")
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 0)
    labels = {r["component"] for r in
              connected_components(edges, cfg=DedupConfig()).collect()}
    assert labels == {0}
    assert connected_components.last_iterations > 1
    with pytest.raises(RuntimeError,
                       match=r"\d+ labels still changing after cc_max_iters=1 "):
        connected_components(edges, cfg=DedupConfig(cc_max_iters=1)).collect()


def test_versioned_stores_auto_vacuum(spark, tmp_path):
    import os

    from distill_spark.memory import MemoryStore

    store = MemoryStore(spark, str(tmp_path / "mem"), vacuum_keep=2)
    for i in range(4):
        batch = spark.createDataFrame(
            [(f"m{i}_{j}", f"text {i} {j} unique payload") for j in range(3)],
            "id string, text string",
        )
        store.store_batch(batch)
    vdir = os.path.join(str(tmp_path / "mem"), "memories", "_v")
    manifests = [f for f in os.listdir(vdir) if f.endswith(".json")]
    assert len(manifests) <= 2, f"auto-vacuum left {manifests}"
    # store still readable after vacuum
    assert store.snapshot().count() == 12
