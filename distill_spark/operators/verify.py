"""Exact verification of candidate pairs — makes precision exact.

Reference analog: the exact cosine distance computed inside the
brute-force matrices (/root/reference/pkg/math/simd.go:10-69) and the
min-similarity cut (/root/reference/pkg/commits/commits.go:227-231).
Here verification runs ONLY on the (tiny) candidate set produced by
LSH / pigeonhole / winnowing, never all pairs.

  * Jaccard: size(array_intersect)/size(array_union) over int64 shingle
    arrays — built-in, JVM-side (jaccard_col); `jaccard` is the same
    ratio in numpy for the one-task graph. Both divide in float64 and
    score two empty sets 1.0, so they agree at the threshold.
  * LCS (exact common substring >= L): the one genuinely non-relational
    predicate. Arrow-batched mapInPandas over candidate pairs (per
    SURVEY.md §2.11: grouped/batched pandas for within-bucket
    verification); rolling-window set membership, O(|a|+|b|) per pair.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT


def _attach(pairs: DataFrame, feats: DataFrame, id_col: str, col: str) -> DataFrame:
    """Join the per-id feature column onto both pair sides; the pair
    frame is consumed twice and AQE's broadcast reuse materializes it
    once."""
    fa = feats.select(F.col(id_col).alias("a"), F.col(col).alias(f"_{col}_a"))
    fb = feats.select(F.col(id_col).alias("b"), F.col(col).alias(f"_{col}_b"))
    return pairs.join(fa, "a").join(fb, "b")


def jaccard_col(a, b):
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def jaccard(left: Sequence[np.ndarray], right: Sequence[np.ndarray]) -> np.ndarray:
    """Per pair i, |set(left[i]) & set(right[i])| / |set(left[i]) |
    set(right[i])| in float64, 1.0 when the union is empty: jaccard_col
    over arrays of any element type, for every pair at once."""
    n = len(left)
    if n == 0:
        return np.empty(0, np.float64)
    la = np.fromiter((len(x) for x in left), np.int64, n)
    lb = np.fromiter((len(x) for x in right), np.int64, n)
    vals = [x for x in left if len(x)] + [x for x in right if len(x)]
    codes = (pd.factorize(np.concatenate(vals), use_na_sentinel=False)[0] if vals else np.empty(0, np.int64))
    nv = int(codes.max()) + 1 if len(codes) else 1
    pair = np.concatenate([np.repeat(np.arange(n), la), np.repeat(np.arange(n), lb)])
    key = pair * nv + codes
    na = int(la.sum())
    ka, kb = np.unique(key[:na]), np.unique(key[na:])
    inter = np.bincount(np.intersect1d(ka, kb, assume_unique=True) // nv, minlength=n)
    union = (np.bincount(ka // nv, minlength=n) + np.bincount(kb // nv, minlength=n)
             - inter)
    out = np.ones(n, np.float64)
    nz = union > 0
    out[nz] = inter[nz].astype(np.float64) / union[nz]
    return out


def verify_jaccard(
    pairs: DataFrame,
    shingled: DataFrame,
    threshold: float,
    shingle_col: str = "shingles",
    id_col: str = "image_id",
    keep_score: bool = False,
    semijoin: bool = False,
) -> DataFrame:
    """Keep (a, b) with exact shingle-set Jaccard >= threshold."""
    # `semijoin` kept for the traced benchmark sequence until a benchmark change drops it
    if semijoin:
        raise ValueError("verify_jaccard: semijoin must be False")
    j = jaccard_col(F.col(f"_{shingle_col}_a"), F.col(f"_{shingle_col}_b"))
    out = _attach(pairs, shingled, id_col, shingle_col).withColumn("jaccard", j)
    out = out.filter(F.col("jaccard") >= threshold)
    return out.select("a", "b", "jaccard") if keep_score else out.select("a", "b")


def conflict_band(
    pairs: DataFrame,
    shingled: DataFrame,
    cfg: DedupConfig = DEFAULT,
    shingle_col: str = "shingles",
    id_col: str = "image_id",
) -> DataFrame:
    """Range (theta) band join: conflict_jaccard <= j < jaccard_threshold.

    Reference: conflicts are pairs between the dup and conflict
    thresholds, flagged but stored anyway
    (/root/reference/pkg/memory/sqlite.go:268-275, store.go:229-239).
    """
    j = jaccard_col(F.col(f"_{shingle_col}_a"), F.col(f"_{shingle_col}_b"))
    return (
        _attach(pairs, shingled, id_col, shingle_col)
        .withColumn("jaccard", j)
        .filter(
            (F.col("jaccard") >= cfg.conflict_jaccard)
            & (F.col("jaccard") < cfg.jaccard_threshold)
        )
        .select("a", "b", "jaccard")
    )


def lcs_keep(caps_a: Sequence, caps_b: Sequence, min_len: int,
             lower: bool) -> list[bool]:
    """Per caption pair: whether the two share an exact common substring
    of >= min_len chars (a null caption is empty), by rolling-window set
    membership, O(|a|+|b|) per pair."""
    # memoize window sets per distinct caption: star-topology hubs
    # appear in thousands of pairs per call — rebuilding the hub's
    # window set per pair is the dominant cost otherwise
    win_cache: dict[str, set] = {}

    def windows(s: str) -> set:
        w = win_cache.get(s)
        if w is None:
            w = {s[i : i + min_len] for i in range(len(s) - min_len + 1)}
            win_cache[s] = w
        return w

    keep = []
    for a, b in zip(caps_a, caps_b):
        a, b = (a or ""), (b or "")
        if lower:
            a, b = a.lower(), b.lower()
        if len(a) > len(b):
            a, b = b, a
        if len(a) < min_len:
            keep.append(False)
            continue
        wins = windows(a)
        keep.append(
            any(b[i : i + min_len] in wins for i in range(len(b) - min_len + 1))
        )
    return keep


def verify_lcs(
    pairs: DataFrame,
    captions: DataFrame,
    cfg: DedupConfig = DEFAULT,
    caption_col: str = "caption",
    id_col: str = "image_id",
    impl: str = "exact",
    semijoin: bool = False,
) -> DataFrame:
    """Keep (a, b) sharing an exact common substring of >= lcs_min_len chars.

    Joins raw captions to the pairs and checks window-set membership in
    an Arrow-batched pandas stage, O(|a|+|b|) per pair.
    """
    # `impl` kept for the traced benchmark sequence until a benchmark change drops it
    if impl != "exact":
        raise ValueError(f"verify_lcs: unknown impl {impl!r} (only 'exact')")
    # `semijoin` kept for the traced benchmark sequence until a benchmark change drops it
    if semijoin:
        raise ValueError("verify_lcs: semijoin must be False")
    cap = captions.select(id_col, F.col(caption_col).alias("cap"))
    attached = _attach(pairs, cap, id_col, "cap")
    min_len, lower = cfg.lcs_min_len, cfg.lowercase

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keep = lcs_keep(pdf["_cap_a"], pdf["_cap_b"], min_len, lower)
            yield pdf.loc[keep, ["a", "b"]]

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("a", pairs.schema["a"].dataType),
            T.StructField("b", pairs.schema["b"].dataType),
        ]
    )
    return attached.mapInPandas(batch, schema=out_schema)
