"""MinHash permutation parameters + LSH band bucketing.

Replaces the reference's O(N^2) pairwise distance matrix
(/root/reference/pkg/contextlab/cluster.go:217-242) as the candidate
generator. The signatures themselves are computed in the one Arrow pass
of signatures.py; this module owns the hash family they use and turns
signatures into band buckets.

Universal hash: h_i(x) = (a_i * x32 + b_i) mod P with
P = 4294967311 (prime > 2^32), x32 = shingle & 0xFFFFFFFF,
a_i in [1, 2^30) so a*x fits in signed int64 (max ~2^62), b_i in
[0, P). Seeded (cfg.minhash_seed) -> deterministic across runs and
parallelism levels (north rule).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..config import DedupConfig, DEFAULT

_P = 4294967311  # prime > 2^32


def permutation_params(cfg: DedupConfig = DEFAULT) -> tuple[list[int], list[int]]:
    rng = np.random.default_rng(cfg.minhash_seed)
    a = rng.integers(1, 1 << 30, size=cfg.num_perm).tolist()
    b = rng.integers(0, _P, size=cfg.num_perm).tolist()
    return a, b


def band_buckets(
    sig: DataFrame,
    minhash_col: str = "minhash",
    id_col: str = "image_id",
    cfg: DedupConfig = DEFAULT,
) -> DataFrame:
    """(id, minhash) -> (id, bucket: bigint), `bands` rows per id.

    bucket = xxhash64(band_index, r signature values of that band). The
    band index is FOLDED INTO the hash instead of riding along as a
    separate join column (round 4): the bucket table is the widest
    exchange in the pipeline (bands x N rows), and a cross-band hash
    collision merely merges two buckets, adding candidates the exact
    verify removes — the same ~2^-64 budget the engine accepts for every
    other hashed key. Dropping the 4-byte band column cut the exchange
    ~20% with identical verified output.
    """
    return sig.selectExpr(
        id_col, f"explode({band_keys_sql(minhash_col, cfg)}) AS bucket"
    )


def band_keys_sql(minhash_col: str = "minhash", cfg: DedupConfig = DEFAULT) -> str:
    """SQL text of the array of a row's `bands` bucket keys, band_buckets'
    `bucket` values in band order."""
    r = cfg.rows_per_band
    # one SQL string instead of bands x (r + 2) Column objects: the
    # Column-API formulation cost ~200 py4j round-trips (~0.6 s of
    # driver-side chatter per call, cProfile) for an identical plan
    bands = ", ".join(
        "xxhash64({}, {})".format(
            j,
            ", ".join(f"{minhash_col}[{j * r + i}]" for i in range(r)),
        )
        for j in range(cfg.bands)
    )
    return f"array({bands})"
