"""Seeded workload inputs and the checks run against the program's outputs.

Every input is generated here from the benchmark seed, written to
parquet under the work directory, and read back: the program under
test only ever sees the generated table. Ground truth (planted pairs,
the exact oracle) is computed in the benchmark process from the same generated
rows and never inside a timed region.
"""

from __future__ import annotations

import math
import os
import zlib
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from distill_spark.config import DEFAULT
from distill_spark.datagen import generate_images_pdf
from distill_spark.oracle import (UnionFind, hamming64, has_common_substring, jaccard,
                                  shingle_set)

# A 30-word vocabulary: the low-vocabulary document shape (random word
# sequences over a tiny dictionary) floods the substring and winnowing
# channels with genuine chance matches — the verify-bound stress case.
DOC_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "order group stream filter vector"
).split()


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    # small row groups so the scan splits across every core
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   row_group_size=2048)
    return path


# --------------------------------------------------------------- planted


def planted_pdf(n: int, seed: int):
    """(images pdf, PlantedTruth) from the repo's planted-dup generator."""
    return generate_images_pdf(n=n, seed=seed)


def _groups_recall(groups, comp: dict) -> tuple[int, int]:
    """(pairs sharing a component, pairs) over groups of ids present in
    `comp`, counted per component class — O(rows), never O(pairs)."""
    hit = tot = 0
    for g in groups:
        present = [comp[i] for i in g if i in comp]
        k = len(present)
        tot += k * (k - 1) // 2
        counts: dict = defaultdict(int)
        for c in present:
            counts[c] += 1
        hit += sum(m * (m - 1) // 2 for m in counts.values())
    return hit, tot


class DupPredicate:
    """The engine's exact dup-edge predicate (oracle.oracle_edges) for
    pairs of one generated table."""

    def __init__(self, pdf: pd.DataFrame, cfg=DEFAULT):
        self.cfg = cfg
        self.cap = dict(zip(pdf["image_id"], pdf["caption"]))
        self.ph = dict(zip(pdf["image_id"], pdf["phash"]))
        self._sh: dict = {}

    def _shingles(self, i):
        if i not in self._sh:
            self._sh[i] = shingle_set(self.cap[i], self.cfg)
        return self._sh[i]

    def __call__(self, a: str, b: str) -> bool:
        cfg = self.cfg
        return (hamming64(self.ph[a], self.ph[b]) <= cfg.phash_hamming_k
                or jaccard(self._shingles(a), self._shingles(b)) >= cfg.jaccard_threshold
                or has_common_substring(self.cap[a], self.cap[b], cfg.lcs_min_len))


def check_planted(truth, is_dup, comp: dict, edges: set) -> tuple[bool, float, str]:
    """Recall over planted pairs >= 0.99 and every emitted edge a true
    dup edge. Edge precision is the negatives check: with no false edge
    the program's components refine the exact oracle's, so a planted
    negative shares a component only where the exact predicates chain it
    — which happens, because the generator's every-other-token rewrite
    can redraw a token unchanged."""
    hit, tot = _groups_recall(truth.dup_groups, comp)
    recall = hit / tot if tot else 1.0
    if recall < 0.99:
        return False, recall, f"planted recall {recall:.4f} < 0.99"
    false_edges = [e for e in edges if not is_dup(*e)]
    if false_edges:
        return False, recall, f"{len(false_edges)} false edges, e.g. {false_edges[:3]}"
    return True, recall, ""


# ----------------------------------------------------------------- stream


def stream_batches(pdf: pd.DataFrame, n_batches: int) -> list[pd.DataFrame]:
    """Cut the planted table into micro-batches by a stable id hash, so
    the two rows of most planted pairs arrive in different batches."""
    key = pdf["image_id"].map(lambda s: zlib.crc32(s.encode()) % n_batches)
    return [pdf[key == b].reset_index(drop=True) for b in range(n_batches)]


def caption_pairs(truth, pdf: pd.DataFrame) -> list[tuple[str, str]]:
    """Planted two-row groups whose captions pass the caption-channel
    predicate (shingle Jaccard >= threshold): exact and caption near-dup
    pairs. Chains are left out: the write-time store keeps no signature
    for a row it rejected as a duplicate, so a chain's far end is
    matched only if it arrives before its middle."""
    cap = dict(zip(pdf["image_id"], pdf["caption"]))
    out = []
    for g in truth.dup_groups:
        if len(g) == 2 and jaccard(shingle_set(cap[g[0]]), shingle_set(cap[g[1]])) \
                >= DEFAULT.jaccard_threshold:
            out.append((g[0], g[1]))
    return out


def read_state_assignments(state_dir: str) -> pd.DataFrame:
    base = os.path.join(state_dir, "assignments")
    frames = [
        pq.read_table(os.path.join(base, d)).to_pandas()
        for d in sorted(os.listdir(base)) if d.startswith("batch=")
    ]
    return pd.concat(frames, ignore_index=True)


def check_stream(batch_metrics: list[dict], batch_rows: list[int],
                 state_dir: str, pairs: list[tuple[str, str]]
                 ) -> tuple[bool, float, str]:
    """Per batch rows_in == novel + duplicates == rows sent; every
    ingested id assigned once; planted caption pairs (both ingested)
    share a component at >= 0.99."""
    for m, n in zip(batch_metrics, batch_rows):
        if m.get("status") != "complete":
            return False, 0.0, f"batch {m.get('batch_id')} status {m.get('status')}"
        if not (m["rows_in"] == m["novel"] + m["duplicates"] == n):
            return False, 0.0, f"batch {m['batch_id']} counts {m} vs {n} rows sent"
    assign = read_state_assignments(state_dir)
    if len(assign) != sum(batch_rows) or assign["image_id"].duplicated().any():
        return False, 0.0, f"{len(assign)} assignments for {sum(batch_rows)} rows"
    comp = dict(zip(assign["image_id"], assign["component"]))
    both = [(a, b) for a, b in pairs if a in comp and b in comp]
    hit = sum(comp[a] == comp[b] for a, b in both)
    recall = hit / len(both) if both else 1.0
    if recall < 0.99:
        return False, recall, f"caption-pair recall {recall:.4f} < 0.99"
    return True, recall, ""


# -------------------------------------------------------------- documents


def documents_pdf(n: int, seed: int) -> pd.DataFrame:
    """documents(doc_id, text, ...) with a tiny vocabulary; 5% of rows
    re-emit an earlier document with one word appended (planted dups)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(DOC_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(10, 100)))]))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": "en",
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    })


def exact_edges(pdf: pd.DataFrame, cfg=DEFAULT) -> set[tuple[str, str]]:
    """The edge set of distill_spark.oracle.oracle_edges — the same three
    exact predicates — with exact candidate filters instead of all-pairs:

      Jaccard   prefix filter: J >= t needs overlap >= t*|x|, so two such
                sets share a token among each one's first
                |x| - ceil(t*|x|) + 1 tokens under any global order
                (a shorter overlap bound only lengthens the prefix);
      Hamming   pigeonhole: distance <= k leaves one of k+1 bit blocks
                identical;
      substring a common substring >= L chars exists iff the two
                captions share an L-char window.

    Same predicate functions, so the edge set is identical."""
    ids = pdf["image_id"].tolist()
    caps = dict(zip(ids, pdf["caption"]))
    edges: set[tuple[str, str]] = set()

    def add_bucket_pairs(index, keep):
        for members in index.values():
            if len(members) < 2:
                continue
            members = sorted(set(members))
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    if keep(members[x], members[y]):
                        edges.add((members[x], members[y]))

    sh = {i: shingle_set(caps[i], cfg) for i in ids}
    freq: dict = defaultdict(int)
    for s in sh.values():
        for t in s:
            freq[t] += 1
    t = cfg.jaccard_threshold
    pre: dict = defaultdict(list)
    for i, s in sh.items():
        if not s:
            continue  # the oracle never pairs an empty set: no shared shingle
        order = sorted(s, key=lambda x: (freq[x], x))
        overlap = max(1, math.floor(t * len(order) - 1e-9))
        for tok in order[: len(order) - overlap + 1]:
            pre[tok].append(i)
    add_bucket_pairs(pre, lambda a, b: jaccard(sh[a], sh[b]) >= t)

    k = cfg.phash_hamming_k
    ph = dict(zip(ids, pdf["phash"].astype("int64").tolist()))
    width = math.ceil(64 / (k + 1))
    blocks: dict = defaultdict(list)
    for i in ids:
        u = ph[i] % (1 << 64)
        for b in range(k + 1):
            blocks[(b, (u >> (b * width)) & ((1 << width) - 1))].append(i)
    add_bucket_pairs(blocks, lambda a, b: hamming64(ph[a], ph[b]) <= k)

    L = cfg.lcs_min_len
    win: dict = defaultdict(list)
    for i in ids:
        c = caps[i]
        for w in {c[p: p + L] for p in range(len(c) - L + 1)}:
            win[w].append(i)
    add_bucket_pairs(win, lambda a, b: True)
    return edges


def components(ids, edges) -> dict[str, str]:
    """id -> min id of its connected component (oracle_components)."""
    uf = UnionFind()
    for i in ids:
        uf.find(i)
    for a, b in edges:
        uf.union(a, b)
    groups: dict = defaultdict(list)
    for i in ids:
        groups[uf.find(i)].append(i)
    return {m: min(g) for g in groups.values() for m in g}


def check_docs(oracle_assign: dict, oracle_edges: set, comp: dict,
               edges: set) -> tuple[bool, float, str]:
    """Exact match with the oracle: edge set, cluster count, assignment."""
    recall = (sum(comp[a] == comp[b] for a, b in oracle_edges)
              / len(oracle_edges)) if oracle_edges else 1.0
    if edges != oracle_edges:
        return False, recall, (f"{len(edges)} edges vs oracle {len(oracle_edges)}"
                               f" ({len(edges ^ oracle_edges)} differ)")
    if comp != oracle_assign:
        return False, recall, (f"{len(set(comp.values()))} clusters vs oracle "
                               f"{len(set(oracle_assign.values()))}")
    return True, recall, ""
