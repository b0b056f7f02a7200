"""winnow.refine_rows, vectorized across rows, against the per-row
implementation it replaced (kept here as the reference): the same
(id, fingerprint, window) rows in the same order."""

import random

import numpy as np
import pytest

from distill_spark.config import DedupConfig
from distill_spark.operators.winnow import refine_rows

CFG = DedupConfig()
K, L = CFG.winnow_kgram, CFG.lcs_min_len
_B = np.uint64(1099511628211)


def reference_refine_rows(ids, fps, captions, cfg=CFG):
    """The per-row loop: one k-gram hash pass and one membership test
    per caption, every window of every occurrence sliced in Python."""
    K, L, lower = cfg.winnow_kgram, cfg.lcs_min_len, cfg.lowercase
    pwK = _B ** np.arange(K - 1, -1, -1, dtype=np.uint64)
    oids, ofps, osub = [], [], []
    for rid, row_fps, cap in zip(ids, fps, captions):
        s = cap or ""
        if lower:
            s = s.lower()
        b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
        if len(b) < K:
            continue
        gh = (np.lib.stride_tricks.sliding_window_view(b, K).astype(np.uint64)
              * pwK).sum(axis=1)
        charidx = np.cumsum((b & 0xC0) != 0x80) - 1
        nchars = int(charidx[-1]) + 1
        if nchars < L:
            continue
        fps_u = np.array([int(f) & 0xFFFFFFFFFFFFFFFF for f in row_fps], dtype=np.uint64)
        seen = set()
        for p in np.flatnonzero(np.isin(gh, fps_u)):
            fp = int(gh[p].astype(np.int64))
            c0, c1 = int(charidx[p]), int(charidx[p + K - 1])
            for st in range(max(0, c1 - L + 1), min(c0, nchars - L) + 1):
                w = s[st:st + L]
                if (fp, w) not in seen:
                    seen.add((fp, w))
                    oids.append(rid)
                    ofps.append(fp)
                    osub.append(w)
    return oids, ofps, osub


def _kgram_hashes(s: str) -> list[int]:
    b = np.frombuffer(s.lower().encode("utf-8"), dtype=np.uint8)
    if len(b) < K:
        return []
    pwK = _B ** np.arange(K - 1, -1, -1, dtype=np.uint64)
    gh = (np.lib.stride_tricks.sliding_window_view(b, K).astype(np.uint64) * pwK).sum(axis=1)
    return gh.view(np.int64).tolist()


def _check(ids, fps, caps):
    got = refine_rows(ids, fps, caps, CFG)
    want = reference_refine_rows(ids, fps, caps)
    assert [list(x) for x in got] == [list(x) for x in want]
    return want


def test_refine_rows_matches_reference_on_edge_cases():
    shared = "Größe café naïve 日本語 text"
    caps = [
        f"alpha {shared} omega",            # multi-byte, long
        f"{shared} {shared} tail",          # the same k-grams twice
        "short",                            # shorter than K
        shared[:L - 1],                     # at least K bytes, fewer than L chars
        None,                               # null caption
        "",                                 # empty caption
        "ωμέγα" * 8,                        # repeated multi-byte text
        f"ALPHA {shared} OMEGA",            # lowercased to row 0's text
    ]
    fp_pool = _kgram_hashes(caps[0]) + _kgram_hashes(caps[6])
    rng = random.Random(3)
    fps = []
    for c in caps:
        mine = _kgram_hashes(c or "")
        pick = rng.sample(mine, min(3, len(mine))) + rng.sample(fp_pool, 3)
        fps.append(pick + pick[:2])          # repeated fingerprints
    ids = [10, 11, 12, 13, 14, 15, 16, 10]   # a repeated id
    assert _check(ids, fps, caps)[0], "fixture must refine some rows"


@pytest.mark.parametrize("seed", range(5))
def test_refine_rows_matches_reference_on_random_rows(seed):
    rng = random.Random(seed)
    words = ["amber", "basil", "café", "größe", "日本", "x", "ωμέγα", "naïve", "moss"]
    caps = [" ".join(rng.choice(words) for _ in range(rng.randint(0, 12)))
            for _ in range(40)]
    fps = []
    for c in caps:
        mine = _kgram_hashes(c)
        fps.append(rng.sample(mine, min(rng.randint(0, 4), len(mine)))
                   + [rng.getrandbits(63)])
    ids = [f"id{rng.randrange(30)}" for _ in caps]
    _check(ids, fps, caps)


def test_refine_rows_without_rows_or_hits():
    for ids, fps, caps in (([], [], []), ([1], [[5]], ["no fingerprint hits here"]),
                           ([1], [[]], ["a caption with no fingerprints"])):
        _check(ids, fps, caps)
