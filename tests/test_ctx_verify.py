"""Substring (LCS) channel boundary cases on the exact caption verify:

  * boundary-exact: a common run of exactly lcs_min_len chars passes,
    one char less fails, including runs at caption start/end;
  * non-ASCII docs and repeated k-grams keep char semantics: a run of
    >= L bytes but < L chars is not a dup.
"""

import random

from distill_spark.config import DedupConfig
from distill_spark.operators import dedupe

CFG = DedupConfig()
L = CFG.lcs_min_len


def _sub_comps(spark, rows):
    df = spark.createDataFrame(rows, "image_id string, caption string")
    r = dedupe(df, CFG, channels=("substring",), phash_col=None)
    comps = {x["image_id"]: x["component"] for x in r.assignments.collect()}
    r.unpersist()
    return comps


def test_boundary_runs_exact_length(spark):
    rng = random.Random(11)

    def rnd(n):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))

    run_mid = rnd(L)         # exactly L chars shared (middle group)
    run_edge = rnd(L)        # a DIFFERENT L-run for the start/end group
    run_fail = rnd(L - 1)    # one short
    rows = [
        ("p1", rnd(30) + run_mid + rnd(30)),
        ("p2", rnd(31) + run_mid + rnd(29)),      # middle/middle -> dup
        ("s1", run_edge + rnd(40)),                # at start
        ("s2", rnd(40) + run_edge),                # at end -> dup with s1
        ("f1", rnd(30) + run_fail + rnd(30)),
        ("f2", rnd(32) + run_fail + rnd(28)),      # L-1 shared -> NOT dup
    ]
    # the two groups' non-shared parts are random, so unrelated
    comps = _sub_comps(spark, rows)
    assert comps["p1"] == comps["p2"]
    assert comps["s1"] == comps["s2"]
    assert comps["f1"] != comps["f2"]
    assert comps["p1"] != comps["s1"]


def test_unicode_and_repeats_fall_back_exact(spark):
    rng = random.Random(13)

    def rnd(n):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))

    shared = rnd(L + 4)
    # unicode docs sharing an ASCII run; multibyte chars near the run
    rows = [
        ("u1", "héllo wörld " + shared + " ünïcode tail here"),
        ("u2", "öther stärt " + shared + " different ünïcode"),
        # a doc repeating the run (every k-gram of it occurs twice)
        # that IS a genuine dup of r2 via the shared run
        ("r1", shared + " xx " + shared),
        ("r2", "prefix junk words " + shared + " suffix junk"),
        # multibyte run that is >= L BYTES but < L CHARS must NOT match
        ("m1", "aaa " + "é" * (L - 4) + " zzz unrelated tail one"),
        ("m2", "bbb " + "é" * (L - 4) + " qqq unrelated tail two"),
    ]
    comps = _sub_comps(spark, rows)
    assert comps["u1"] == comps["u2"]
    assert comps["r1"] == comps["r2"]
    # é is 2 bytes: L-4 of them is >= L bytes but < L chars — char
    # semantics must reject
    assert comps["m1"] != comps["m2"]
