"""Write-time dedup pinned to a driver-side reference.

Three micro-batches through each caller of the write-time probe
(incremental_dedupe_batch, MemoryStore.store_batch, SessionStore.push
in id order) must reject the rows oracle.oracle_ingest rejects (the
id-order greedy over exact shingle Jaccard on all pairs); ingest must
leave the same assignments. The table holds the cases the
greedy decides: an intra-batch chain, a row matching two stored rows,
a row matching both a stored row and an earlier batch row, and empty
captions. Planted dups sit at Jaccard >= 0.76, where band recall
(b=32, r=4) misses with probability ~1e-6.

Also pins the invariant the ingest path relies on instead of reading
assignments/ back: every row in the signature state is its own
component.
"""

import json
import logging
import os

import pandas as pd
import pytest

from distill_spark.config import DedupConfig
from distill_spark.memory import MemoryStore
from distill_spark.oracle import jaccard, oracle_ingest, shingle_set
from distill_spark.session_store import SessionStore
from distill_spark.streaming.ingest import DedupeState, incremental_dedupe_batch

THR = DedupConfig().jaccard_threshold


def _base(fam: str, n: int = 40) -> list[str]:
    return [f"{fam}w{i}" for i in range(n)]


def _edit(toks: list[str], head: int = 0, tail: int = 0) -> list[str]:
    """Replace the first `head` and last `tail` tokens with fresh ones."""
    out = list(toks)
    for i in range(head):
        out[i] = f"{toks[i]}h"
    for i in range(len(toks) - tail, len(toks)):
        out[i] = f"{toks[i]}t"
    return out


def _j(a: list[str], b: list[str]) -> float:
    return jaccard(shingle_set(" ".join(a)), shingle_set(" ".join(b)))


# intra-batch chain a1 < a2 < a3: a1~a2, a2~a3, a1!~a3
A1 = _base("a")
A2 = _edit(A1, tail=4)
A3 = _edit(A2, head=4)
# two stored rows p1, p2 (not dups of each other); p0 matches both, and
# p2 better, but its component must be the smaller id p1
P0 = _base("p")
P1 = _edit(P0, tail=5)
P2 = _edit(P0, head=3)
# stored s3; t1 misses s3; t2 matches s3 and the earlier batch row t1
T2 = _base("s")
S3 = _edit(T2, head=3)
T1 = _edit(T2, tail=5)

BATCHES = [
    [("a1", A1), ("a2", A2), ("a3", A3), ("p1", P1), ("p2", P2),
     ("z0", _base("z0", 12))],
    [("p0", P0), ("s3", S3), ("e0", []), ("z1", _base("z1", 30))],
    # a4 copies the rejected a2: it matches stored a1 and a3
    [("t1", T1), ("t2", T2), ("a4", A2), ("e1", []), ("z2", _base("z2", 8))],
]


def test_table_holds_the_planted_cases():
    for dup in [(A1, A2), (A2, A3), (P0, P1), (P0, P2), (T2, S3), (T2, T1)]:
        assert _j(*dup) >= 0.76
    for far in [(A1, A3), (P1, P2), (S3, T1)]:
        assert _j(*far) < THR


def _run_ingest(spark, tmp_path, pdfs, caplog):
    caplog.set_level(logging.DEBUG, logger="distill_spark")
    state = DedupeState(spark, str(tmp_path / "st"), DedupConfig())
    for b, pdf in enumerate(pdfs):
        m = incremental_dedupe_batch(state, spark.createDataFrame(pdf), b)
        assert m["status"] == "complete" and m["rows_in"] == len(pdf)

    # one debug line per batch, from values already on the driver
    lines = [r.getMessage() for r in caplog.records if r.name == "distill_spark"
             and r.getMessage().startswith("ingest batch")]
    assert len(lines) == len(pdfs) and "rows_in=6 " in lines[0]

    got = {r["image_id"]: r["component"] for r in state.assignments().collect()}
    assert got == oracle_ingest(pdfs)

    # invariant: the signature state holds exactly the accepted rows,
    # each its own component
    stored = [r["image_id"] for r in state.signatures().select("image_id").collect()]
    assert sorted(stored) == sorted(i for i, c in got.items() if i == c)
    assert all(got[i] == i for i in stored)
    return {i: c for i, c in got.items() if i != c}


def _run_memory(spark, tmp_path, pdfs, caplog):
    store = MemoryStore(spark, str(tmp_path / "mem"), DedupConfig(),
                        dup_jaccard=THR, conflict_jaccard=THR)
    rejected = {}
    for pdf in pdfs:
        res = store.store_batch(spark.createDataFrame(
            pdf.rename(columns={"image_id": "id", "caption": "text"})))
        for d in res.duplicates.collect():
            n, o = d["new_id"], d["existing_id"]
            rejected[n] = min(rejected.get(n, o), o)
    return rejected


def _run_session(spark, tmp_path, pdfs, caplog):
    store = SessionStore(spark, str(tmp_path / "sess"), DedupConfig())
    store.create("s", max_tokens=10**6, dedup_jaccard=THR)
    pushed = []
    for pdf in pdfs:
        rows = sorted(zip(pdf["image_id"], pdf["caption"]))
        store.push("s", [{"content": c} for _, c in rows])
        pushed += [(i, c) for i, c in rows if c]  # push skips empty content
    kept = {r["original_content"] for r in store.entries("s").collect()}
    return {i: None for i, c in pushed if c not in kept}


@pytest.mark.parametrize("caller", ["ingest", "memory", "session"])
def test_ingest_matches_greedy_reference(spark, tmp_path, caplog, caller):
    """Every caller of the write-time probe rejects the rows the greedy
    reference rejects, each onto the row the reference names where the
    caller reports it."""
    pdfs = [pd.DataFrame([(i, " ".join(t)) for i, t in rows],
                         columns=["image_id", "caption"]) for rows in BATCHES]
    run = {"ingest": _run_ingest, "memory": _run_memory,
           "session": _run_session}[caller]
    got = run(spark, tmp_path, pdfs, caplog)

    want = oracle_ingest(pdfs)
    assert (want["a2"], want["a3"]) == ("a1", "a3")   # chain far end kept
    assert want["p0"] == "p1"                         # min stored id
    assert (want["t1"], want["t2"]) == ("t1", "s3")   # stored beats batch
    assert want["a4"] == "a1"
    assert (want["e0"], want["e1"]) == ("e0", "e1")   # no signature
    want_rejected = {i: c for i, c in want.items() if i != c}
    if caller == "session":  # push reports counts, not matched rows
        want_rejected = dict.fromkeys(want_rejected)
    assert got == want_rejected


def test_batch_ledger_is_synced_before_rename(spark, tmp_path, monkeypatch):
    state = DedupeState(spark, str(tmp_path / "st"), DedupConfig())
    calls = []
    real_fsync, real_replace = os.fsync, os.replace
    monkeypatch.setattr(os, "fsync", lambda fd: (calls.append("fsync"), real_fsync(fd)))
    monkeypatch.setattr(os, "replace",
                        lambda a, b: (calls.append("replace"), real_replace(a, b)))
    state._commit_batch(3)
    state._commit_batch(1)
    assert calls == ["fsync", "replace"] * 2
    assert state.committed_batches() == {1, 3}
    with open(os.path.join(state.path, "_batches.json")) as f:
        assert json.load(f) == [1, 3]
    assert not os.path.exists(os.path.join(state.path, "_batches.json.tmp"))
