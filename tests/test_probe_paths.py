"""Path parity of the write-time probe (operators/probe.py): the one-task
Arrow kernel against the distributed band join, and the numpy band keys
against the SQL ones.

The one-task probe computes band keys in numpy, pairs rows within
buckets and verifies Jaccard in one task; the band join does the same
with Spark joins. Both must return the same (n, o, old, jaccard)
multiset, and so the same greedy decisions, on any input. A
derandomized Hypothesis search generates new and stored row sets with
ids repeated within a side, ids on both sides, null and empty captions
(null minhash), a hot bucket and a caption pair at Jaccard exactly 0.70,
and probes them at the ingest floor and at both MemoryStore floors. A
row cap of 0 (`lsh.LOCAL_MAX_ROWS`) forces the band join.
"""

import logging
import random
from collections import Counter
from dataclasses import replace

import numpy as np
import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from distill_spark.config import DEFAULT, DedupConfig
from distill_spark.operators import lsh, onetask
from distill_spark.operators.minhash import band_keys, band_keys_sql
from distill_spark.operators.probe import greedy_accept, probe_edges
from distill_spark.operators.signatures import with_signatures

WORDS = ["amber", "basil", "cedar", "delta", "ember", "fjord", "grove", "haze",
         "iris", "jade", "kite", "lumen", "moss", "nova", "opal", "pine",
         "café", "naïve", "größe", "日本語"]
# the ingest floor (cfg.jaccard_threshold) and MemoryStore's dup and
# conflict floors
FLOORS = [DEFAULT.jaccard_threshold, 0.85, 0.5]


@pytest.mark.parametrize("lane", ["int", "bigint"])
def test_band_keys_match_band_keys_sql(spark, lane):
    dt = np.int32 if lane == "int" else np.int64
    info = np.iinfo(dt)
    m = np.random.default_rng(5).integers(info.min, info.max, (600, DEFAULT.num_perm),
                                          dtype=dt, endpoint=True)
    m[:4] = np.array([info.min, info.max, 0, -1], dt)[:, None]
    df = spark.createDataFrame([(i, r.tolist()) for i, r in enumerate(m)],
                               f"i int, minhash array<{lane}>")
    want = np.array([r.k for r in df.selectExpr(
        "i", f"{band_keys_sql('minhash')} AS k").orderBy("i").collect()], np.int64)
    got = band_keys(m)
    assert got.shape == want.shape == (len(m), DEFAULT.bands)
    assert (got == want).all(), f"{int((got != want).any(1).sum())} rows differ"


@st.composite
def sides(draw):
    """(new rows, stored rows, floor, lane bits); a row is (id, caption)."""
    rng = random.Random(draw(st.integers(0, 2**32 - 1)))
    rows = []
    for _ in range(draw(st.integers(1, 8))):  # near-dup groups
        base = [rng.choice(WORDS) for _ in range(rng.randint(4, 14))]
        for _ in range(draw(st.integers(1, 6))):
            words = list(base)
            if rng.random() < 0.5:
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            rows.append(" ".join(words))
    for sp in draw(st.lists(st.sampled_from(["null", "empty", "hot", "jaccard_0.70"]),
                            max_size=6)):
        if sp == "null":
            rows.append(None)
        elif sp == "empty":
            rows.append("")
        elif sp == "hot":  # one caption many times: every band one bucket
            rows += [" ".join(rng.sample(WORDS, 6))] * rng.randint(10, 40)
        else:  # 7 shared token 3-shingles of a 10-shingle union
            toks = rng.sample(WORDS, 12)
            rows += [" ".join(toks[:9]), " ".join(toks)]
    rows = rows[:200]
    ids = [f"r{i:03d}" for i in range(len(rows))]
    for _ in range(draw(st.integers(0, 4))):  # repeated ids, within or across sides
        ids[rng.randrange(len(ids))] = ids[rng.randrange(len(ids))]
    old = [rng.random() < 0.5 for _ in rows]
    if draw(st.booleans()) and any(old) and not all(old):  # an id on both sides
        ids[old.index(False)] = ids[old.index(True)]
    new = [(i, c) for i, c, o in zip(ids, rows, old) if not o]
    stored = [(i, c) for i, c, o in zip(ids, rows, old) if o]
    return new, stored, draw(st.sampled_from(FLOORS)), draw(st.sampled_from([32, 64]))


class _Lines(logging.Handler):
    def __init__(self):
        super().__init__(logging.DEBUG)
        self.lines: list[str] = []

    def emit(self, record):
        self.lines.append(record.getMessage())


def _signatures(spark, rows, cfg):
    df = spark.createDataFrame(rows, "id string, text string")
    return with_signatures(df, "text", "id", cfg, parts=("shingles", "minhash"))


def _probe(new, n_new, stored, n_stored, cfg, floor):
    """(probe_edges rows as a multiset, their greedy_accept, the path line)."""
    log = logging.getLogger("distill_spark")
    lines, level = _Lines(), log.level
    log.addHandler(lines)
    log.setLevel(logging.DEBUG)
    try:
        edges = probe_edges(new, stored, cfg, floor, "test", n_new, n_stored)
    finally:
        log.removeHandler(lines)
        log.setLevel(level)
    path = [m for m in lines.lines if m.startswith("probe (test):")]
    assert len(path) == 1, path
    return Counter(tuple(e) for e in edges), greedy_accept(edges), path[0]


def _forced_band_join(*args):
    saved = lsh.LOCAL_MAX_ROWS
    lsh.LOCAL_MAX_ROWS = 0
    try:
        return _probe(*args)
    finally:
        lsh.LOCAL_MAX_ROWS = saved


# no shrink phase: row content comes from a seeded RNG, which shrinks
# poorly, and each example runs both paths
@settings(max_examples=10, derandomize=True, deadline=None, database=None,
          phases=[Phase.explicit, Phase.generate],
          suppress_health_check=list(HealthCheck))
@given(sides())
def test_one_task_probe_matches_band_join(spark, case):
    new_rows, stored_rows, floor, lane_bits = case
    cfg = replace(DedupConfig(), minhash_lane_bits=lane_bits)
    new, counts = onetask.observed(_signatures(spark, new_rows, cfg), cfg)
    stored = _signatures(spark, stored_rows, cfg)
    args = (new, counts["rows"], stored, len(stored_rows), cfg, floor)
    edges, accepted, line = _probe(*args)
    assert line.endswith("-> one-task path"), line
    want_edges, want_accepted, line = _forced_band_join(*args)
    assert line.endswith("-> band join (band rows over cap)"), line
    assert edges == want_edges
    assert accepted == want_accepted


def test_probe_falls_back_when_candidates_exceed_budget(spark, monkeypatch):
    """A probe whose held candidate pairs outgrow the pair budget stops
    the one-task kernel and runs the band join, with the same rows."""
    cap = "amber basil cedar delta ember fjord grove haze"
    new_rows = [("n1", cap), ("n2", cap + " iris"), ("n3", "jade kite lumen moss")]
    stored_rows = [("s1", cap), ("s2", "nova opal pine iris jade")]
    cfg = replace(DedupConfig(), minhash_lane_bits=64)
    new, counts = onetask.observed(_signatures(spark, new_rows, cfg), cfg)
    args = (new, counts["rows"], _signatures(spark, stored_rows, cfg), 2, cfg,
            cfg.jaccard_threshold)
    edges, _, line = _probe(*args)
    assert line == "probe (test): 3 new + 2 stored rows -> one-task path"
    assert edges, "fixture must produce edges"
    # budget = TASK_BYTES // (2 * _PAIR_BYTES) = 1 pair
    monkeypatch.setattr(lsh, "_PAIR_BYTES", onetask.TASK_BYTES // 2)
    fallback, _, line = _probe(*args)
    assert line == ("probe (test): 3 new + 2 stored rows -> "
                    "band join (candidates over budget)")
    assert fallback == edges
