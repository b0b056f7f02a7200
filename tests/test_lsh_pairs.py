"""Bucket-pair expansion (operators/lsh.py): the one-task kernel and the
distributed window path must both return the brute-force pair set of
the cap rule — all pairs of buckets of 2 to cap members, a star on the
bucket-min id (pairs_from_buckets) or the member rows
(pairs_and_overflow) above the cap — with null-id rows taking no part
and an id never paired with itself.
"""

import itertools
import logging
import random
from collections import defaultdict

import pandas as pd
import pytest

from distill_spark.operators import lsh, onetask
from distill_spark.operators.lsh import pairs_and_overflow, pairs_from_buckets


@pytest.fixture(params=["local", "distributed"])
def lsh_path(request, monkeypatch, caplog):
    """Runs a test on each lsh path; a row cap of -1 sends every input,
    the empty one too, to the distributed window path."""
    if request.param == "distributed":
        monkeypatch.setattr(lsh, "LOCAL_MAX_ROWS", -1)
    caplog.set_level(logging.DEBUG, logger="distill_spark")
    return request.param


def _reference(rows, cap):
    """(all pairs of buckets <= cap, star pairs of larger buckets, rows
    of larger buckets) by brute force over (id, *key) tuples."""
    buckets = defaultdict(list)
    for r in rows:
        if r[0] is not None:
            buckets[r[1:]].append(r)
    small, star, over = set(), set(), []
    for members in buckets.values():
        ids = sorted(r[0] for r in members)
        if len(ids) <= cap:
            small |= {(a, b) for a, b in itertools.combinations(ids, 2) if a != b}
        else:
            star |= {(ids[0], b) for b in ids[1:] if b != ids[0]}
            over += members
    return small, star, over


def _case(name):
    """-> (rows, DDL schema, key columns, caps) of a named input."""
    rng = random.Random(name)
    if name == "tiny_caps":
        rows = [(f"i{rng.randrange(40):02d}", rng.randrange(12)) for _ in range(90)]
        return list(dict.fromkeys(rows)), "id string, bucket long", ["bucket"], (2, 3)
    if name == "shared_bands":
        # 3 ids share 5 of 6 bands, so each of their pairs is in 5 buckets
        rows = [(i, band * 100 + (0 if i < 3 else i)) for i in range(12) for band in range(6)]
        rows = [(i, b) for i, b in rows if not (i == 2 and b == 500)]
        return rows, "id long, bucket long", ["bucket"], (2, 3, 16)
    if name == "two_column_keys":
        rows = [(i, rng.randrange(3), rng.randrange(4)) for i in range(60)]
        return rows, "id long, table int, bucket long", ["table", "bucket"], (3, 8)
    if name == "string_keys":
        words = ["alpha", "beta", "gamma", "delta"]
        rows = [(f"d{rng.randrange(50):03d}", rng.randrange(2) - 7, rng.choice(words))
                for _ in range(80)]
        return (list(dict.fromkeys(rows)), "id string, fingerprint long, subfp string",
                ["fingerprint", "subfp"], (3, 30))
    if name == "repeated_ids":
        # an id repeated in a bucket (a repeated row) pairs only with the
        # bucket's other ids; the bucket is still sized in rows
        rows = [(1, 7), (1, 7), (2, 7), (3, 8), (3, 8),
                (4, 9), (4, 9), (5, 9), (6, 9), (6, 9)]
        return rows, "id long, bucket long", ["bucket"], (2, 3, 8)
    if name == "nulls_and_singletons":
        rows = [(None if i % 5 == 0 else i, i % 7 if i < 35 else 100 + i) for i in range(50)]
        rows += [(60, None), (61, None), (None, None)]
        return rows, "id long, bucket long", ["bucket"], (2, 4)
    assert name == "empty"
    return [], "id long, bucket long", ["bucket"], (2,)


CASES = ["tiny_caps", "shared_bands", "two_column_keys", "string_keys",
         "repeated_ids", "nulls_and_singletons", "empty"]


def _collect(df, path, caplog, what):
    got = [tuple(r) for r in df.collect()]
    assert f"{what}(" in caplog.text and f"-> {path} path" in caplog.text
    return got


@pytest.mark.parametrize("case", CASES)
def test_pairs_from_buckets_matches_reference(spark, case, lsh_path, caplog):
    rows, schema, keys, caps = _case(case)
    df = spark.createDataFrame(rows, schema)
    for cap in caps:
        small, star, _ = _reference(rows, cap)
        caplog.clear()
        got = _collect(pairs_from_buckets(df, keys, "id", cap=cap), lsh_path, caplog,
                       "pairs_from_buckets")
        assert len(got) == len(set(got)), "a pair was emitted twice"
        assert set(got) == small | star, f"cap={cap}"
        raw = pairs_from_buckets(df, keys, "id", cap=cap, dedup=False).collect()
        assert {tuple(r) for r in raw} == small | star


@pytest.mark.parametrize("case", CASES)
def test_pairs_and_overflow_matches_reference(spark, case, lsh_path, caplog):
    rows, schema, keys, caps = _case(case)
    df = spark.createDataFrame(rows, schema)
    for cap in caps:
        small, _, over = _reference(rows, cap)
        caplog.clear()
        pairs, overflow = pairs_and_overflow(df, keys, "id", cap=cap)
        got = _collect(pairs, lsh_path, caplog, "pairs_and_overflow")
        assert len(got) == len(set(got)), "a pair was emitted twice"
        assert set(got) == small, f"cap={cap}"
        assert overflow.columns == df.columns
        assert sorted(map(tuple, overflow.collect()), key=repr) == sorted(over, key=repr)


def test_null_id_rows_do_not_size_buckets(spark, lsh_path, caplog):
    """A bucket of `cap` ids plus one null-id row stays all-pairs: the
    null row is dropped before the bucket is sized."""
    rows = [(i, 7) for i in range(4)] + [(None, 7)]
    df = spark.createDataFrame(rows, "id long, bucket long")
    want = set(itertools.combinations(range(4), 2))
    assert {tuple(r) for r in pairs_from_buckets(df, ["bucket"], "id", cap=4).collect()} == want
    pairs, overflow = pairs_and_overflow(df, ["bucket"], "id", cap=4)
    assert {tuple(r) for r in pairs.collect()} == want
    assert overflow.count() == 0


def test_oversize_accepts_only_star(spark):
    df = spark.createDataFrame([(1, 1), (2, 1)], "id long, bucket long")
    with pytest.raises(ValueError, match="oversize"):
        pairs_from_buckets(df, ["bucket"], "id", oversize="allpairs")


def test_input_over_task_bytes_takes_distributed_path(spark, monkeypatch, caplog):
    """An input whose working set outgrows the one-task budget runs the
    window path even under LOCAL_MAX_ROWS."""
    caplog.set_level(logging.DEBUG, logger="distill_spark")
    monkeypatch.setattr(onetask, "TASK_BYTES", 1000)
    rows, schema, keys, _ = _case("tiny_caps")
    small, star, _ = _reference(rows, 3)
    got = pairs_from_buckets(spark.createDataFrame(rows, schema), keys, "id", cap=3)
    assert {tuple(r) for r in got.collect()} == small | star
    assert f"{len(rows)} rows -> distributed path" in caplog.text


def test_kernel_dedups_in_stripes_over_pair_budget():
    """Pairs that outgrow the kernel's pair budget are deduplicated in
    stripes of left ids: the output still holds each pair once."""
    rng = random.Random(3)
    rows = [(rng.randrange(60), band * 10 + rng.randrange(3)) for band in range(8)
            for _ in range(60)]
    pdf = pd.DataFrame(rows, columns=["id", "bucket"])
    small, star, _ = _reference(rows, 20)
    for budget in (1, 7, 100, 10**9):
        kernel = lsh._pair_kernel(["bucket"], "id", 20, True, budget)
        out = pd.concat(kernel(iter([pdf[:100], pdf[100:]])))
        got = list(zip(out["a"], out["b"]))
        assert len(got) == len(set(got)), f"budget={budget}: a pair was emitted twice"
        assert set(got) == small | star, f"budget={budget}"


def test_vectors_two_column_keys_parity(spark, lsh_path, caplog):
    """embedding_dup_pairs_lsh keys buckets on ("table", "bucket"): its
    pairs are the reference pairs of its bucket table that verify."""
    import numpy as np

    from distill_spark.functions.vectors import (
        embedding_dup_pairs_lsh, hyperplane_band_buckets)

    rng = random.Random(8)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(6)]
    rows = [(i, [v + rng.gauss(0, 0.01) for v in base[i % 6]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["a"], r["b"]) for r in embedding_dup_pairs_lsh(
        df, threshold=0.99, dim=16, n_planes=6, n_tables=4, max_bucket_size=4).collect()}
    assert "pairs_from_buckets(table, bucket)" in caplog.text
    assert f"-> {lsh_path} path" in caplog.text
    buckets = [tuple(r) for r in hyperplane_band_buckets(
        df, dim=16, n_planes=6, n_tables=4).collect()]
    small, star, _ = _reference(buckets, 4)
    vec = {i: np.array(v) for i, v in rows}
    want = {(a, b) for a, b in small | star
            if vec[a] @ vec[b] / np.linalg.norm(vec[a]) / np.linalg.norm(vec[b]) >= 0.99}
    assert star and got == want
