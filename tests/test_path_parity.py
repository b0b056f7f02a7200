"""Path parity of dedupe(): the one-task graph against the per-operator
stages and against dedupe_checkpointed(), and the numpy Jaccard against
the JVM one.

The one-task graph folds candidates, verification and connected
components into one numpy task; the per-operator path runs each
operator as its own Spark stages. Both must return the same edges,
assignments and representatives on any input, so a derandomized
Hypothesis search generates adversarial tables (null, empty and
sub-shingle captions; shared substrings of exactly L-1 and L chars;
non-ASCII text; phash pairs at distance k and k+1; repeated ids;
all-equal rows; a caption pair at Jaccard exactly 0.70) and runs each
at tiny bucket caps, so the star, overflow and refine paths all run.
A row cap of 0 (`lsh.LOCAL_MAX_ROWS`) forces the per-operator path;
dedupe_checkpointed() never takes the one-task graph.
"""

import logging
import random
import string
import tempfile
from collections import Counter

import numpy as np
import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distill_spark.checkpoint import CheckpointStore, dedupe_checkpointed
from distill_spark.config import DedupConfig
from distill_spark.operators import components, dedupe, lsh
from distill_spark.operators.verify import jaccard, jaccard_col

CFG = DedupConfig(max_bucket_size=3, max_fp_bucket_size=2)
L = CFG.lcs_min_len
K = CFG.phash_hamming_k
ASCII = ["amber", "basil", "cedar", "delta", "ember", "fjord", "grove", "haze",
         "iris", "jade", "kite", "lumen", "moss", "nova", "opal", "pine"]
WORDS = ASCII + ["café", "naïve", "größe", "smörgås", "日本語", "ωμέγα", "пример"]


def _flip(v: int, bits: list[int]) -> int:
    u = v % (1 << 64)
    for b in bits:
        u ^= 1 << b
    return u - (1 << 64) if u >= (1 << 63) else u


def _letters(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase + "éßøå") for _ in range(n))


@st.composite
def tables(draw):
    """(rows [(id, caption, phash)], ids are strings)."""
    rng = random.Random(draw(st.integers(0, 2**32 - 1)))
    string_ids = draw(st.booleans())
    rows = []
    # near-dup groups: one base caption, copies with one word changed;
    # phash near the group's own, or unrelated, so the caption channels
    # decide alone
    for _ in range(draw(st.integers(1, 8))):
        base = [rng.choice(WORDS) for _ in range(rng.randint(4, 14))]
        ph, near = rng.getrandbits(63), draw(st.booleans())
        for _ in range(draw(st.integers(1, 6))):
            words = list(base)
            if rng.random() < 0.5:
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            rows.append([" ".join(words), _flip(ph, rng.sample(range(64), rng.randint(0, 2)))
                         if near else rng.getrandbits(63)])
    specials = draw(st.lists(st.sampled_from(
        ["null", "empty", "short", "substr_L", "substr_L-1", "phash_k", "phash_k+1",
         "all_equal", "jaccard_0.70"]), max_size=8))
    for sp in specials:
        ph = rng.getrandbits(63)
        if sp == "null":
            rows.append([None, None])
        elif sp == "empty":
            rows.append(["", ph])
        elif sp == "short":
            rows.append([rng.choice(WORDS), ph])
        elif sp.startswith("substr"):
            shared = _letters(rng, L if sp == "substr_L" else L - 1)
            for _ in range(rng.randint(2, 5)):
                rows.append([f"{_letters(rng, 9)} {shared} {_letters(rng, 9)}",
                             rng.getrandbits(63)])
        elif sp.startswith("phash"):
            dist = K if sp == "phash_k" else K + 1
            rows.append([_letters(rng, 30), ph])
            rows.append([_letters(rng, 30), _flip(ph, rng.sample(range(64), dist))])
        elif sp == "all_equal":
            cap, same = " ".join(rng.choice(WORDS) for _ in range(6)), rng.random() < 0.5
            rows += [[cap, ph if same else rng.getrandbits(63)]
                     for _ in range(rng.randint(2, 5))]
        else:  # 7 shared token 3-shingles of a 10-shingle union
            toks = rng.sample(ASCII, 12)
            rows.append([" ".join(toks[:9]), ph])
            rows.append([" ".join(toks), rng.getrandbits(63)])
    rows = rows[:200]
    ids = list(range(len(rows)))
    for _ in range(draw(st.integers(0, 3))):  # repeated ids
        i, j = rng.randrange(len(rows)), rng.randrange(len(rows))
        ids[i] = ids[j]
    rng.shuffle(ids)
    if string_ids:
        ids = [f"r{i:03d}" if i % 7 else f"é{i:03d}" for i in ids]
    return [(i, c, p) for i, (c, p) in zip(ids, rows)], string_ids


class _Lines(logging.Handler):
    def __init__(self):
        super().__init__(logging.DEBUG)
        self.lines: list[str] = []

    def emit(self, record):
        self.lines.append(record.getMessage())


def _outputs(res):
    """(edges, assignments, representatives) of a DedupResult as
    multisets."""
    try:
        return tuple(Counter(tuple(r) for r in frame.collect())
                     for frame in (res.cached, res.assignments, res.representatives))
    finally:
        res.unpersist()


def _run(df):
    """(dedupe() outputs as multisets, the dedup graph log line)."""
    log = logging.getLogger("distill_spark")
    lines, level = _Lines(), log.level
    log.addHandler(lines)
    log.setLevel(logging.DEBUG)
    try:
        out = _outputs(dedupe(df, CFG))
    finally:
        log.removeHandler(lines)
        log.setLevel(level)
    graph = [m for m in lines.lines if m.startswith("dedup graph:")]
    assert len(graph) == 1, graph
    return out, graph[0]


# no shrink phase: table content comes from a seeded RNG, which shrinks
# poorly, and each example runs two dedupe() calls
@settings(max_examples=10, derandomize=True, deadline=None, database=None,
          phases=[Phase.explicit, Phase.generate],
          suppress_health_check=list(HealthCheck))
@given(tables())
def test_one_task_graph_matches_per_operator_path(spark, table):
    """On each table, the one-task graph equals the per-operator path on
    edges, assignments and representatives, and dedupe_checkpointed()
    on assignments and representatives."""
    rows, string_ids = table
    id_type = "string" if string_ids else "bigint"
    df = spark.createDataFrame(rows, f"image_id {id_type}, caption string, phash bigint")
    fused, line = _run(df)
    assert line.endswith("-> one-task path"), line
    saved = lsh.LOCAL_MAX_ROWS
    lsh.LOCAL_MAX_ROWS = 0
    try:
        per_op, line = _run(df)
    finally:
        lsh.LOCAL_MAX_ROWS = saved
    assert "-> per-operator path (band rows over cap)" in line, line
    for what, got, want in zip(("edges", "assignments", "representatives"), fused, per_op):
        assert got == want, f"{what} differ between the paths"
    with tempfile.TemporaryDirectory() as d:
        staged = _outputs(dedupe_checkpointed(df, CheckpointStore(d, spark), CFG))
    for what, got, want in zip(("assignments", "representatives"), fused[1:], staged[1:]):
        assert got == want, f"{what} differ between dedupe() and dedupe_checkpointed()"


@pytest.mark.parametrize("path", ["one-task", "per-operator"])
@pytest.mark.parametrize("id_type", ["string", "bigint"])
def test_repeated_id_is_assigned_once(spark, monkeypatch, path, id_type):
    """An id that repeats gets one assignment row, on either path and for
    either id type; representatives(min_id) keep every input row of the
    component's name."""
    cap = "amber basil cedar delta ember fjord grove haze"
    ids = ["a", "a", "b", "c"] if id_type == "string" else [1, 1, 2, 3]
    rows = [(i, cap, n) for n, i in enumerate(ids)]
    if path == "per-operator":
        monkeypatch.setattr(lsh, "LOCAL_MAX_ROWS", 0)
    df = spark.createDataFrame(rows, f"image_id {id_type}, caption string, phash bigint")
    (_, assignments, reps), line = _run(df)
    assert line.endswith(f"-> {path} path" if path == "one-task"
                         else "-> per-operator path (band rows over cap)"), line
    name = ids[0]
    assert assignments == Counter({(i, name): 1 for i in ids})
    assert reps == Counter({(name, name, cap, 0): 1, (name, name, cap, 1): 1})


def test_graph_falls_back_when_edges_exceed_cap(spark, monkeypatch):
    """A graph whose edges outgrow components.LOCAL_MAX_EDGES stops the
    one-task task and runs the per-operator stages from the same
    signature checkpoint, with the same outputs."""
    from distill_spark.datagen import generate_images

    df, _ = generate_images(spark, n=300, seed=5)
    df = df.select("image_id", "caption", "phash")
    fused, line = _run(df)
    assert line == "dedup graph: 300 rows -> one-task path"
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 1)
    fallback, line = _run(df)
    assert line == "dedup graph: 300 rows -> per-operator path (edges over cap)"
    assert fused[0], "fixture must produce edges"
    assert fallback == fused


def _jaccard_cases():
    base = list(range(100, 130))
    return [
        ("exactly 0.70", base[:7], base[:10]),
        ("just below 0.70", base[:16], base[:16] + [1, 2, 3, 4, 5, 6, 7]),  # 16/23
        ("empty both", [], []),
        ("one side empty", [], base[:3]),
        ("disjoint", base[:3], base[3:6]),
        ("duplicates within a side", [1, 1, 2, 3], [2, 3, 3, 4]),
        ("negative int64", [-(2**63), 2**63 - 1, 5], [-(2**63), 5, 6]),
    ]


@pytest.mark.parametrize("elem", ["bigint", "string"])
def test_numpy_jaccard_matches_jaccard_col(spark, elem):
    cases = _jaccard_cases()
    conv = (lambda xs: [str(x) for x in xs]) if elem == "string" else list
    rows = [(i, conv(a), conv(b)) for i, (_, a, b) in enumerate(cases)]
    df = spark.createDataFrame(rows, f"i int, a array<{elem}>, b array<{elem}>")
    jvm = dict(df.select("i", jaccard_col(F.col("a"), F.col("b")).alias("j")).collect())
    got = jaccard([np.array(a) for _, a, _ in rows], [np.array(b) for _, _, b in rows])
    for i, (name, _, _) in enumerate(cases):
        assert got[i] == jvm[i], f"{name}: numpy {got[i]!r} != jaccard_col {jvm[i]!r}"
    thr = CFG.jaccard_threshold
    assert got[0] == 0.7 and got[0] >= thr
    assert got[1] < thr and jvm[1] < thr
    assert got[2] == 1.0 and got[3] == 0.0


@pytest.mark.parametrize("path", ["one-task", "per-operator"])
def test_null_string_id_forms_no_edge(spark, monkeypatch, path):
    """A null string id takes part in no channel, as a null integral id
    does not: a null-id row that duplicates `a` by caption and `c` by
    phash does not join them, and the edges and the other rows'
    components are those of the table without it."""
    cap = "amber basil cedar delta ember fjord grove haze"
    rows = [("a", cap, 0), ("b", cap + " iris", 1 << 40), (None, cap, -1),
            ("c", "jade kite lumen moss nova opal", -1)]
    if path == "per-operator":
        monkeypatch.setattr(lsh, "LOCAL_MAX_ROWS", 0)

    def run(rows):
        df = spark.createDataFrame(rows, "image_id string, caption string, phash bigint")
        (edges, assignments, _), line = _run(df)
        assert line.endswith(f"-> {path} path" if path == "one-task"
                             else "-> per-operator path (band rows over cap)"), line
        return edges, {k: v for (k, v), _ in assignments.items() if k is not None}

    edges, comp = run(rows)
    assert (edges, comp) == run([r for r in rows if r[0] is not None])
    assert comp["a"] == comp["b"] == "a" and comp["c"] == "c"
