"""MinHash permutation parameters + LSH band bucketing.

Replaces the reference's O(N^2) pairwise distance matrix
(/root/reference/pkg/contextlab/cluster.go:217-242) as the candidate
generator. The signatures themselves are computed in the one Arrow pass
of signatures.py; this module owns the hash family they use and turns
signatures into band buckets: `band_keys_sql` for the distributed
per-operator path, `band_keys` (the same keys, bit for bit, in numpy)
for the one-task kernels of the dedup graph and the write-time probe.

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

# Spark's XXH64 (org.apache.spark.unsafe.hash.XXH64): primes and the
# seed of the SQL xxhash64 function
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SEED = 42


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


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _hash_int(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64.hashInt: a 4-byte value under `seed`, elementwise (uint64)."""
    h = seed + _P5 + np.uint64(4)
    h = h ^ (v.astype(np.uint32).astype(np.uint64) * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64.hashLong: an 8-byte value under `seed`, elementwise (uint64)."""
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v.astype(np.int64).view(np.uint64) * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def band_keys(minhash: np.ndarray, cfg: DedupConfig = DEFAULT) -> np.ndarray:
    """(rows, lanes) minhash matrix -> (rows, bands) int64 bucket keys,
    equal bit for bit to band_keys_sql: per band j, Spark's
    xxhash64(j, m[j*r], ..., m[j*r + r - 1]) with seed 42, hashing int32
    lanes as 4-byte and int64 lanes as 8-byte values."""
    r, bands = cfg.rows_per_band, cfg.bands
    if not len(minhash):
        return np.empty((0, bands), np.int64)
    if minhash.ndim != 2 or minhash.shape[1] < r * bands:
        raise ValueError(f"band_keys needs (rows, >= {r * bands}) lanes, "
                         f"got shape {minhash.shape}")
    step = _hash_int if minhash.dtype == np.int32 else _hash_long
    lanes = minhash[:, :r * bands].reshape(len(minhash), bands, r)
    with np.errstate(over="ignore"):
        h = _hash_int(np.arange(bands, dtype=np.int32),
                      np.full(bands, _SEED, np.uint64))[None, :]
        for i in range(r):
            h = step(lanes[:, :, i], h)
    return np.ascontiguousarray(h).view(np.int64)
