"""End-to-end dedup pipeline vs the exact brute-force oracle.

Mirrors the reference's test strategy: planted duplicate fixtures at
known distances (/root/reference/pkg/memory/conflict_test.go:18-118,
testdata/sample.jsonl) checked against exact matrices. Asserts the
north-rule gate: dup-pair recall >= 0.99, precision exact, clusters
deterministic.
"""

import logging
import re

import pytest

from distill_spark.config import DedupConfig
from distill_spark.datagen import generate_images, generate_images_pdf
from distill_spark.operators import dedupe, hamming, lsh
from distill_spark.oracle import oracle_components, cluster_pairs

CFG = DedupConfig()
N = 600


@pytest.fixture(scope="module")
def small(spark):
    df, truth = generate_images(spark, n=N, seed=42)
    df = df.select("image_id", "caption", "phash").cache()
    df.count()
    return df, truth


@pytest.fixture(scope="module")
def result(small):
    df, _ = small
    res = dedupe(df, CFG)
    assignments = {r["image_id"]: r["component"] for r in res.assignments.collect()}
    reps = res.representatives.select("component", "image_id").collect()
    stats = res.stats.collect()[0]
    return assignments, reps, stats


@pytest.fixture(scope="module")
def oracle(small):
    df, _ = small
    pdf = df.select("image_id", "caption", "phash").toPandas()
    return oracle_components(pdf, CFG)


@pytest.mark.parametrize("lsh_path", ["graph", "local", "distributed"])
def test_recall_and_precision_vs_oracle(small, oracle, lsh_path, monkeypatch, caplog):
    """dedupe() against the oracle on the one-task graph, then on the
    per-operator stages with the MinHash-band and winnow bucket pairs
    expanded by the one-task kernel, then by the window path. A Hamming
    row cap of 0 forces the per-operator stages; an lsh row cap of 0
    also sends every non-empty bucket input to the window path."""
    if lsh_path == "local":
        monkeypatch.setattr(hamming, "LOCAL_MAX_ROWS", 0)
    elif lsh_path == "distributed":
        monkeypatch.setattr(lsh, "LOCAL_MAX_ROWS", 0)
    caplog.set_level(logging.DEBUG, logger="distill_spark")
    df, _ = small
    got = {r["image_id"]: r["component"] for r in dedupe(df, CFG).assignments.collect()}
    if lsh_path == "graph":
        assert f"dedup graph: {N} rows -> one-task path" in caplog.text
        assert "pairs_from_buckets" not in caplog.text
    else:
        assert f"dedup graph: {N} rows -> per-operator path" in caplog.text
        for what in ("pairs_from_buckets(bucket)", "pairs_and_overflow(fingerprint)"):
            assert re.search(rf"{re.escape(what)}: \d+ rows -> {lsh_path} path",
                             caplog.text)
        assert re.search(r"connected_components: \d+ edges -> local path", caplog.text)
    assign_true, _ = oracle
    assert set(got) == set(assign_true), "every image must be assigned"

    pairs_true = cluster_pairs(assign_true)
    pairs_got = cluster_pairs(got)

    missed = pairs_true - pairs_got
    recall = 1 - len(missed) / max(len(pairs_true), 1)
    assert recall >= 0.99, f"recall {recall:.4f}; missed e.g. {sorted(missed)[:5]}"

    extra = pairs_got - pairs_true
    assert not extra, f"false merges (precision must be exact): {sorted(extra)[:5]}"


def test_planted_positives_and_negatives(small, result):
    _, truth = small
    got, _, _ = result
    merged, total = 0, 0
    for a, b in truth.dup_pairs():
        total += 1
        merged += got[a] == got[b]
    assert merged / total >= 0.99, f"planted recall {merged}/{total}"
    for a, b in truth.negatives:
        assert got[a] != got[b], f"planted negative merged: {a} {b}"


def test_determinism_across_partitioning(spark, small, result):
    df, _ = small
    got, _, _ = result
    r2 = dedupe(df.repartition(3), CFG)
    a2 = {r["image_id"]: r["component"] for r in r2.assignments.collect()}
    assert a2 == got


def test_representatives_deterministic_min_id(result):
    _, reps, _ = result
    assert reps, "must have representatives"
    for r in reps:
        assert r["image_id"] == r["component"], "min_id strategy: rep == component root"


def test_cluster_stats_shape(result):
    _, _, row = result
    assert row["n_input"] == N
    assert 0 < row["n_clusters"] < N
    assert row["n_duplicates"] == row["n_input"] - row["n_clusters"]
    assert 0 < row["reduction_percent"] < 100


def test_oracle_merges_planted_groups():
    pdf, truth = generate_images_pdf(n=60, seed=7)
    assign, _ = oracle_components(pdf, CFG)
    for g in truth.dup_groups[:3]:
        roots = {assign[m] for m in g}
        assert len(roots) == 1


def test_cc_reliable_checkpoint_flag(spark, tmp_path, monkeypatch):
    """cfg.cc_reliable_checkpoint sends EVERY eager materialization
    through a reliable checkpoint() under checkpoint_dir: with
    localCheckpoint made to fail, dedupe() on the one-task graph, on the
    per-operator path (window, Hamming-level and CC-loop checkpoints
    included) and dedupe_checkpointed() all run, write checkpoint data
    into one subdirectory of checkpoint_dir and give the flag-off
    assignments."""
    import os

    from distill_spark.checkpoint import CheckpointStore, dedupe_checkpointed
    from distill_spark.operators import components
    from distill_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "a string, b string"
    )
    # no checkpoint dir anywhere -> loud failure (must run FIRST: setting
    # the context checkpoint dir below is sticky for the session)
    if spark.sparkContext.getCheckpointDir() is None:
        with pytest.raises(ValueError):
            connected_components(
                edges, cfg=DedupConfig(cc_reliable_checkpoint=True)
            )
    df, _ = generate_images(spark, n=300, seed=4)
    df = df.select("image_id", "caption", "phash")

    def assigned(res):
        return sorted(tuple(r) for r in res.assignments.collect())

    base = assigned(dedupe(df, DedupConfig()))

    def no_local(*_, **__):
        raise AssertionError("localCheckpoint ran with cc_reliable_checkpoint")

    monkeypatch.setattr(type(df), "localCheckpoint", no_local)

    def reliable(name):
        ckdir = str(tmp_path / name)
        return ckdir, DedupConfig(cc_reliable_checkpoint=True, checkpoint_dir=ckdir)

    def per_operator():
        for mod, cap in ((lsh, "LOCAL_MAX_ROWS"), (hamming, "LOCAL_MAX_ROWS"),
                         (components, "LOCAL_MAX_EDGES")):
            monkeypatch.setattr(mod, cap, 0)

    runs = [
        ("one-task", lambda cfg: dedupe(df, cfg)),
        ("per-operator", lambda cfg: (per_operator(), dedupe(df, cfg))[1]),
        ("checkpointed", lambda cfg: dedupe_checkpointed(
            df, CheckpointStore(str(tmp_path / "stages"), spark), cfg)),
    ]
    for name, run in runs:
        ckdir, cfg = reliable(name)
        assert assigned(run(cfg)) == base, name
        found = [f for _, _, fs in os.walk(ckdir) for f in fs]
        assert found, f"{name}: reliable checkpoint wrote nothing to checkpoint_dir"
        # the context's checkpoint dir is set once per checkpoint_dir,
        # not once per materialization (each set makes a new subdirectory)
        subdirs = os.listdir(ckdir)
        assert len(subdirs) == 1, f"{name}: {len(subdirs)} checkpoint subdirectories"


def test_int_ids_output_identical_to_string_path(spark):
    """String ids are hashed to int64 for every exchange and mapped back;
    integral ids run as they are. The same rows under either id type
    must give the same partition of ids. The integer ids here are the
    string ids' sort ranks, so component labels (min id) and
    representatives must map across too."""
    pdf, _ = generate_images_pdf(n=400, seed=9)
    pdf = pdf[["image_id", "caption", "phash"]]
    rank = {sid: i for i, sid in enumerate(sorted(pdf["image_id"]))}
    ipdf = pdf.assign(image_id=pdf["image_id"].map(rank).astype("int64"))
    a = dedupe(spark.createDataFrame(pdf))
    b = dedupe(spark.createDataFrame(ipdf))
    try:
        asg_s = {rank[r["image_id"]]: rank[r["component"]]
                 for r in a.assignments.collect()}
        asg_i = {r["image_id"]: r["component"] for r in b.assignments.collect()}

        def partition(asg):
            groups: dict = {}
            for i, c in asg.items():
                groups.setdefault(c, set()).add(i)
            return {frozenset(g) for g in groups.values()}

        assert len(asg_s) == len(pdf)
        assert partition(asg_s) == partition(asg_i)
        assert any(len(g) > 1 for g in partition(asg_i))
        assert asg_s == asg_i
        rep_s = sorted(rank[r["image_id"]] for r in a.representatives.collect())
        rep_i = sorted(r["image_id"] for r in b.representatives.collect())
        assert rep_s == rep_i
        # every mapped-back edge connects two members of one component
        # and is normalized a < b in ORIGINAL id order
        ed_s = [(r["a"], r["b"]) for r in a.edges.collect()]
        assert ed_s, "string-id path must emit edges"
        for x, y in ed_s:
            assert x < y and asg_s[rank[x]] == asg_s[rank[y]]
    finally:
        a.unpersist()
        b.unpersist()


def test_conflicts_band_matches_oracle(spark):
    """dedupe(with_conflicts=True): conflict rows are caption pairs whose
    exact shingle Jaccard lies in [conflict_jaccard, jaccard_threshold),
    reported on the original string ids with a < b."""
    import random

    from distill_spark.oracle import jaccard, shingle_set

    rng = random.Random(17)
    used: set = set()

    def words(n):
        out = []
        while len(out) < n:
            w = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(7))
            if w not in used:
                used.add(w)
                out.append(w)
        return out

    rows, in_band, out_band = [], [], []
    # 20-token captions (18 shingles); the partner keeps the first m
    # tokens and replaces the rest: J = (m-2) / (36 - (m-2)). Conflicts
    # come from the caption-channel candidates, so the in-band pairs
    # sit at J 0.57-0.64, where the LSH S-curve gives P >= 0.97.
    for g, m in enumerate((16, 16, 16, 15, 15, 19, 12, 10)):
        base, tail = words(20), words(20 - m)
        a, b = f"g{g:02d}a", f"g{g:02d}b"
        rows += [(b, " ".join(base)), (a, " ".join(base[:m] + tail))]
        j = jaccard(shingle_set(rows[-2][1]), shingle_set(rows[-1][1]))
        (in_band if CFG.conflict_jaccard <= j < CFG.jaccard_threshold
         else out_band).append((a, b))
    rows += [(f"z{i:02d}", " ".join(words(12))) for i in range(30)]
    caps = dict(rows)
    df = spark.createDataFrame(
        [(i, c, rng.getrandbits(63)) for i, c in rows],
        "image_id string, caption string, phash long",
    )
    assert len(in_band) == 5 and len(out_band) == 3  # the fixture's shape

    r = dedupe(df, CFG, with_conflicts=True)
    try:
        got = {(x["a"], x["b"]): x["jaccard"] for x in r.conflicts.collect()}
    finally:
        r.unpersist()
    for (a, b), j in got.items():
        assert a < b
        assert j == jaccard(shingle_set(caps[a]), shingle_set(caps[b]))
        assert CFG.conflict_jaccard <= j < CFG.jaccard_threshold
    assert set(in_band) <= set(got)
    assert not set(out_band) & set(got)
