"""Brute-force exact dedup oracle (driver-side Python, test scale only).

Plays the role of the reference's exact pairwise distance matrices
(/root/reference/pkg/contextlab/cluster.go:217-242) as ground truth for
the distributed pipeline. The engine's dup predicate (an edge) is the
union of three EXACT conditions:

  1. caption token-shingle Jaccard >= jaccard_threshold
  2. phash Hamming distance   <= phash_hamming_k
  3. exact common substring   >= lcs_min_len chars

Candidate generation in the pipeline (MinHash-LSH, SimHash blocks,
pigeonhole Hamming blocks, winnowing) is approximate-recall /
exact-precision; this oracle computes the same predicates exhaustively
and clusters with union-find (single linkage == connected components,
matching reference agglomerative semantics at threshold,
pkg/contextlab/cluster.go:65-214).
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np
import pandas as pd

from .config import DedupConfig, DEFAULT


def tokenize(caption: str, cfg: DedupConfig = DEFAULT) -> list[str]:
    s = caption.lower() if cfg.lowercase else caption
    return [t for t in re.split(cfg.token_pattern, s) if t]


def shingle_set(caption: str, cfg: DedupConfig = DEFAULT) -> set[str]:
    toks = tokenize(caption, cfg)
    k = cfg.shingle_size
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def hamming64(a: int, b: int) -> int:
    return int(bin((a ^ b) & ((1 << 64) - 1)).count("1"))


def has_common_substring(a: str, b: str, min_len: int) -> bool:
    """Exact: does an exact common substring of length >= min_len exist?
    (Any common substring of length >= L contains one of length exactly L.)
    """
    if len(a) < min_len or len(b) < min_len:
        return False
    if len(a) > len(b):
        a, b = b, a
    windows = {a[i : i + min_len] for i in range(len(a) - min_len + 1)}
    return any(b[i : i + min_len] in windows for i in range(len(b) - min_len + 1))


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        if p != x:
            self.parent[x] = p = self.find(p)
        return p

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic: smaller id becomes the root
            lo, hi = sorted((ra, rb))
            self.parent[hi] = lo


def oracle_edges(pdf: pd.DataFrame, cfg: DedupConfig = DEFAULT) -> set[tuple[str, str]]:
    """Exact dup edges over a pandas images table (image_id, caption, phash)."""
    ids = pdf["image_id"].tolist()
    captions = dict(zip(pdf["image_id"], pdf["caption"]))
    shingles = {i: shingle_set(captions[i], cfg) for i in ids}

    edges: set[tuple[str, str]] = set()

    # channel 1: Jaccard — candidates share >= 1 shingle (exact for j > 0)
    inv: dict[str, list[str]] = defaultdict(list)
    for i in ids:
        for s in shingles[i]:
            inv[s].append(i)
    cand: set[tuple[str, str]] = set()
    for members in inv.values():
        if len(members) < 2:
            continue
        members = sorted(members)
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cand.add((members[x], members[y]))
    for a, b in cand:
        if jaccard(shingles[a], shingles[b]) >= cfg.jaccard_threshold:
            edges.add((a, b))

    # channel 2: phash Hamming — full N^2 via numpy popcount
    ph = pdf["phash"].to_numpy(dtype=np.int64).astype(np.uint64)
    n = len(ids)
    if n:
        x = ph[:, None] ^ ph[None, :]
        dist = np.zeros(x.shape, dtype=np.uint8)
        for _ in range(64):
            dist += (x & np.uint64(1)).astype(np.uint8)
            x >>= np.uint64(1)
        ii, jj = np.where(dist <= cfg.phash_hamming_k)
        for i, j in zip(ii.tolist(), jj.tolist()):
            if i < j:
                edges.add(tuple(sorted((ids[i], ids[j]))))

    # channel 3: exact common substring >= L — candidates share an 8-gram
    L = cfg.lcs_min_len
    g = cfg.winnow_kgram
    inv2: dict[str, list[str]] = defaultdict(list)
    for i in ids:
        c = captions[i]
        for p in range(0, max(len(c) - g + 1, 0)):
            inv2[c[p : p + g]].append(i)
    cand2: set[tuple[str, str]] = set()
    for members in inv2.values():
        uniq = sorted(set(members))
        if len(uniq) < 2:
            continue
        for x in range(len(uniq)):
            for y in range(x + 1, len(uniq)):
                cand2.add((uniq[x], uniq[y]))
    for a, b in cand2:
        if (a, b) not in edges and has_common_substring(captions[a], captions[b], L):
            edges.add((a, b))

    return edges


def oracle_ingest(
    batches: list[pd.DataFrame], cfg: DedupConfig = DEFAULT
) -> dict[str, str]:
    """image_id -> component after write-time ingest of `batches`
    (image_id, caption) in order: the id-order greedy of
    streaming.ingest over exact shingle Jaccard on all pairs. Within a
    batch, rows go in id order: a row matching any stored (accepted)
    row takes the smallest such id; else it takes the smallest accepted
    earlier row of its batch it matches; else it is accepted as its own
    component and joins the stored rows after its batch. A row with no
    shingles never matches (the engine gives it no signature)."""
    stored: dict[str, set] = {}
    assign: dict[str, str] = {}

    def hits(s: set, rows: dict[str, set]) -> list[str]:
        return [i for i, o in rows.items()
                if s and o and jaccard(s, o) >= cfg.jaccard_threshold]

    for pdf in batches:
        sh = {i: shingle_set(c, cfg) for i, c in zip(pdf["image_id"], pdf["caption"])}
        accepted: dict[str, set] = {}
        for rid in sorted(sh):
            match = hits(sh[rid], stored) or hits(sh[rid], accepted)
            if match:
                assign[rid] = min(match)
            else:
                assign[rid] = rid
                accepted[rid] = sh[rid]
        stored.update(accepted)
    return assign


def oracle_components(
    pdf: pd.DataFrame, cfg: DedupConfig = DEFAULT
) -> tuple[dict[str, str], set[tuple[str, str]]]:
    """(image_id -> component root (min id), exact edge set)."""
    edges = oracle_edges(pdf, cfg)
    uf = UnionFind()
    for i in pdf["image_id"]:
        uf.find(i)
    for a, b in edges:
        uf.union(a, b)
    # canonicalize roots to the min id of each component
    groups: dict[str, list[str]] = defaultdict(list)
    for i in pdf["image_id"]:
        groups[uf.find(i)].append(i)
    assign = {}
    for members in groups.values():
        root = min(members)
        for m in members:
            assign[m] = root
    return assign, edges


def cluster_pairs(assign: dict[str, str]) -> set[tuple[str, str]]:
    """All intra-cluster pairs implied by an assignment map."""
    groups: dict[str, list[str]] = defaultdict(list)
    for k, v in assign.items():
        groups[v].append(k)
    pairs: set[tuple[str, str]] = set()
    for members in groups.values():
        members = sorted(members)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)
