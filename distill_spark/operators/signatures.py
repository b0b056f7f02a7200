"""One-pass vectorized signature computation (Arrow-batched numpy).

Computes per caption, in a single mapInArrow pass with shared
tokenization: token hashes, shingle-set hashes, the num_perm MinHash
signature, and the 64-bit SimHash — entirely map-side, NO shuffle.
This replaces the explode -> groupBy(id).agg(128 x min) formulation:
at 10^6+ rows that shuffles tens of millions of intermediate rows,
while this stage shuffles nothing (the only shuffles left in the
pipeline are the bucket exchanges and the verify joins, which carry
compact (id, band, bucket) triples).

BATCH-SEGMENTED layout (round 2): the whole Arrow batch is processed
as ONE flat token/shingle array with per-caption segment boundaries —
one C-level regex pass tokenizes the entire batch, one polynomial-hash
call hashes every token, np.minimum.reduceat folds the MinHash minima
and np.add.reduceat the SimHash bit sums per caption. The round-1
per-caption loop issued ~6 small numpy calls per row (~50 us fixed
overhead each), which dominated the signature stage at 10^6 rows and
was the main serial-floor contributor to the N->4N scaling gap.

All hashing is seeded/deterministic numpy (north rule: identical
results across runs and parallelism levels) and IDENTICAL to round 1:
  token/shingle hash  polynomial rolling hash over utf-8 bytes
                      (base = FNV prime, uint64 wrap)
  minhash_i           min over shingles of (a_i * x32 + b_i) mod P,
                      P = 4294967311 (minhash.permutation_params)
  simhash             Charikar sign-sum over token-hash bits

Reference analog: the 4-way-unrolled single-pass distance kernels
(/root/reference/pkg/math/simd.go:10-69) — numpy batch ops play the
SIMD role; the reference computes per-vector, we compute per Arrow
batch.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import DedupConfig, DEFAULT
from .minhash import permutation_params, _P

_B = np.uint64(1099511628211)  # FNV prime as polynomial base
_POW_CACHE: dict[int, np.ndarray] = {}

# cap on the flat shingle-chunk size for the (num_perm x chunk) MinHash
# matrix. 8k shingles x 128 perms x 8 B = 8 MB working set per chunk —
# small enough to stay cache-resident per worker. The earlier 64k cap
# (64 MB working set) thrashed the shared LLC once the signature stage
# ran at full core width: each (a*x+b) % P pass re-streamed the matrix
# from DRAM, and with 32 concurrent Python workers the stage became
# memory-bandwidth-bound (guide §2.3 "narrower types"/working-set
# discipline; measured 283 s summed task time at chunk=64k vs 8 MB
# keeping the elementwise passes in cache).
_MH_CHUNK = 8192


def _pows(n: int) -> np.ndarray:
    if n not in _POW_CACHE:
        _POW_CACHE[n] = _B ** np.arange(n, dtype=np.uint64)
    return _POW_CACHE[n]


def _token_hashes(tokens: list[str]) -> np.ndarray:
    """Vectorized polynomial hash per token (uint64 wrap). Works on the
    token list of a whole batch at once — grouping into captions is the
    caller's concern."""
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    joined = "\x00".join(tokens).encode("utf-8")
    b = np.frombuffer(joined, dtype=np.uint8).astype(np.uint64)
    # token boundaries: positions of separators
    lens = np.array([len(t.encode("utf-8")) for t in tokens], dtype=np.int64)
    starts = np.zeros(len(tokens), dtype=np.int64)
    starts[1:] = np.cumsum(lens[:-1] + 1)
    pos_in_tok = np.arange(len(b), dtype=np.int64) - np.repeat(
        starts, lens + (np.arange(len(tokens)) < len(tokens) - 1)
    )
    # simpler: weight = B^(position within token); separators contribute 0
    pw = _pows(int(lens.max()) + 1)
    weights = np.zeros(len(b), dtype=np.uint64)
    mask = np.ones(len(b), dtype=bool)
    sep_pos = starts[1:] - 1
    mask[sep_pos] = False
    within = np.zeros(len(b), dtype=np.int64)
    within[mask] = pos_in_tok[mask]
    weights[mask] = pw[np.clip(within[mask], 0, len(pw) - 1)]
    contrib = b * weights
    ends = starts + lens
    cs = np.zeros(len(b) + 1, dtype=np.uint64)
    cs[1:] = np.cumsum(contrib)
    return cs[ends] - cs[starts]


def _shingle_hashes(tok_h: np.ndarray, k: int) -> np.ndarray:
    """Distinct hashes of token k-grams from per-token hashes (single
    caption; kept for the oracle/tests and the short-caption path)."""
    n = len(tok_h)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n < k:
        h = 0
        for x in tok_h:  # python-int fold, explicit uint64 wrap
            h = (h * int(_B) + int(x)) & 0xFFFFFFFFFFFFFFFF
        return np.array([h], dtype=np.uint64)
    sw = np.lib.stride_tricks.sliding_window_view(tok_h, k)
    pw = _pows(k)[::-1].copy()
    return np.unique((sw * pw).sum(axis=1))


def _short_shingle(tok_h: np.ndarray) -> np.uint64:
    h = 0
    for x in tok_h:  # python-int fold, explicit uint64 wrap
        h = (h * int(_B) + int(x)) & 0xFFFFFFFFFFFFFFFF
    return np.uint64(h)


def _list_array(counts: np.ndarray, values: np.ndarray,
                null: np.ndarray | None = None) -> pa.Array:
    """A list column of `counts[i]` consecutive `values` per row (null
    where `null`)."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values),
        mask=None if null is None else pa.array(null))


def with_signatures(
    df: DataFrame,
    caption_col: str = "caption",
    id_col: str = "image_id",
    cfg: DedupConfig = DEFAULT,
    parts: tuple[str, ...] = ("shingles", "minhash", "simhash"),
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, caption, ...) -> (id, [shingles], [minhash], [simhash],
    [fps], *keep): one row per input row.

    Rows whose caption yields no tokens get empty shingles / null
    signatures (they can only be exact-dups, handled elsewhere).
    `keep` names further columns of `df` that ride the same pass
    unchanged, after the signature columns, so one frame can carry
    both (the one-task dedup graph reads its whole input this way).
    The pass is a mapInArrow: the id and the kept columns go back to
    the JVM as the Arrow arrays they arrived as, so a nullable bigint
    keeps every bit (pandas would read it as float64).
    """
    lane32 = cfg.minhash_lane_bits == 32
    fields = [T.StructField(id_col, df.schema[id_col].dataType)]
    if "shingles" in parts:
        fields.append(T.StructField("shingles", T.ArrayType(T.LongType())))
    if "minhash" in parts:
        fields.append(T.StructField(
            "minhash",
            T.ArrayType(T.IntegerType() if lane32 else T.LongType()),
        ))
    if "simhash" in parts:
        fields.append(T.StructField("simhash", T.LongType()))
    if "winnow" in parts:
        fields.append(T.StructField("fps", T.ArrayType(T.LongType())))
    fields += [df.schema[c] for c in keep]
    schema = T.StructType(fields)

    src = df.select(id_col, caption_col, *(c for c in keep if c != caption_col))
    # scan-parallelism floor (guide §2.5 input skew / §6 split sizing):
    # this is the pipeline's heaviest Python stage, and its parallelism
    # is otherwise capped by the input's split count — a table with few
    # row groups (e.g. the 100k bench table: 7 non-empty splits) runs it
    # ~7-wide on 32 cores. When the planned scan has fewer partitions
    # than the cluster's cores, one cheap hash repartition of the
    # (id, caption) projection unlocks full-width execution; inputs
    # with enough splits (any real at-scale table) skip the shuffle.
    n_par = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < n_par:
        src = src.repartition(n_par, id_col)
    return src.mapInArrow(
        signature_kernel(cfg, caption_col, parts, to_arrow_schema(schema)),
        schema=schema)


def signature_kernel(
    cfg: DedupConfig, caption_col: str, parts: tuple[str, ...],
    arrow_schema: pa.Schema,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """with_signatures' batch function: Arrow batches holding
    `caption_col` -> batches of `arrow_schema`, whose `parts` columns
    are computed from the caption and whose other columns are the input
    batch's columns of the same name, passed through. The one-task
    ingest task calls it on its new rows directly."""
    a_arr, b_arr = permutation_params(cfg)
    A = np.array(a_arr, dtype=np.uint64)
    Bb = np.array(b_arr, dtype=np.uint64)
    P = np.uint64(_P)
    MASK32 = np.uint64(0xFFFFFFFF)
    k = cfg.shingle_size
    lower = cfg.lowercase
    token_pattern = cfg.token_pattern
    bits = cfg.simhash_bits
    want_sh = "shingles" in parts
    want_mh = "minhash" in parts
    want_sim = "simhash" in parts

    want_fp = "winnow" in parts
    KW, WW, LW = cfg.winnow_kgram, cfg.winnow_window, cfg.lcs_min_len
    lane32 = cfg.minhash_lane_bits == 32


    # fast tokenizer: one C-level regex pass over the whole batch joined
    # with '\x01' (itself a separator under the default split pattern).
    # Only valid when we can complement the split pattern; otherwise fall
    # back to per-caption split with identical semantics.
    match_pattern = None
    m = re.fullmatch(r"\[\^([a-z0-9\-]+)\]\+", token_pattern)
    if m is not None:
        match_pattern = f"[{m.group(1)}]+"

    def _tokenize_batch(caps: list[str]) -> tuple[list[str], np.ndarray]:
        """-> (flat token list, token count per caption)."""
        if match_pattern is not None:
            joined = "\x01".join(caps)
            starts = np.zeros(len(caps) + 1, dtype=np.int64)
            starts[1:] = np.cumsum(np.fromiter((len(c) + 1 for c in caps),
                                               dtype=np.int64, count=len(caps)))
            toks: list[str] = []
            tpos: list[int] = []
            for mt in re.finditer(match_pattern, joined):
                toks.append(mt.group())
                tpos.append(mt.start())
            owner = np.searchsorted(starts, np.array(tpos, dtype=np.int64),
                                    side="right") - 1
            counts = np.bincount(owner, minlength=len(caps)).astype(np.int64)
            return toks, counts
        pat = re.compile(token_pattern)
        toks = []
        counts = np.zeros(len(caps), dtype=np.int64)
        for i, s in enumerate(caps):
            ts = [t for t in pat.split(s) if t]
            toks.extend(ts)
            counts[i] = len(ts)
        return toks, counts

    def batch(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bit_idx = np.arange(bits, dtype=np.uint64)
        two_pow = (np.uint64(1) << bit_idx).astype(np.uint64)
        for rb in it:
            n = rb.num_rows
            caps = [(c or "") for c in rb.column(caption_col).to_pylist()]
            if lower:
                caps = [c.lower() for c in caps]
            tokens, nt = _tokenize_batch(caps)
            th_all = _token_hashes(tokens)
            tok_starts = np.zeros(n + 1, dtype=np.int64)
            tok_starts[1:] = np.cumsum(nt)

            # ---- shingle array per caption (flat + segment bounds) ----
            # full-width windows: valid iff the window stays in one caption
            if len(th_all) >= k:
                sw = np.lib.stride_tricks.sliding_window_view(th_all, k)
                pw = _pows(k)[::-1].copy()
                win_h = (sw * pw).sum(axis=1)
            else:
                win_h = np.empty(0, dtype=np.uint64)
            # window j belongs to caption i iff tok_starts[i] <= j <= tok_starts[i+1]-k
            n_win = np.maximum(nt - k + 1, 0)
            win_starts = np.zeros(n + 1, dtype=np.int64)
            win_starts[1:] = np.cumsum(n_win)
            total_win = int(win_starts[-1])
            if total_win > 0:
                # gather valid window positions: for caption i they are
                # tok_starts[i] .. tok_starts[i] + n_win[i] - 1
                idx = np.repeat(tok_starts[:-1], n_win) + (
                    np.arange(total_win) - np.repeat(win_starts[:-1], n_win)
                )
                sh_flat = win_h[idx]
                owner = np.repeat(np.arange(n), n_win)
                # per-caption distinct + sorted (uint64 order), vectorized:
                order = np.lexsort((sh_flat, owner))
                sh_sorted = sh_flat[order]
                own_sorted = owner[order]
                keep = np.ones(total_win, dtype=bool)
                keep[1:] = (sh_sorted[1:] != sh_sorted[:-1]) | (
                    own_sorted[1:] != own_sorted[:-1]
                )
                sh_flat = sh_sorted[keep]
                owner = own_sorted[keep]
                seg_counts = np.bincount(owner, minlength=n).astype(np.int64)
            else:
                sh_flat = np.empty(0, dtype=np.uint64)
                seg_counts = np.zeros(n, dtype=np.int64)

            # short captions (0 < nt < k): single fold hash (matches the
            # per-caption formulation); rare, so a small loop is fine
            short_idx = np.flatnonzero((nt > 0) & (nt < k))
            short_h = {
                int(i): _short_shingle(th_all[tok_starts[i]:tok_starts[i + 1]])
                for i in short_idx
            }
            seg_counts[short_idx] = 1

            seg_starts = np.zeros(n + 1, dtype=np.int64)
            seg_starts[1:] = np.cumsum(seg_counts)
            if short_idx.size:
                # splice short-caption hashes into the flat array
                full = np.empty(int(seg_starts[-1]), dtype=np.uint64)
                # positions of existing segments
                src = 0
                for i in range(n):
                    a0, a1 = seg_starts[i], seg_starts[i + 1]
                    if i in short_h:
                        full[a0] = short_h[i]
                    else:
                        cnt = a1 - a0
                        full[a0:a1] = sh_flat[src:src + cnt]
                        src += cnt
                sh_flat = full
            # every list column is built from its flat values and per-row
            # offsets; no per-row Python list is made
            out: dict[str, pa.Array] = {}

            if want_sh:
                out["shingles"] = _list_array(seg_counts, sh_flat.astype(np.int64))

            if want_mh:
                mh_parts: list = []
                nonempty = np.flatnonzero(seg_counts > 0)
                # chunk caption groups so (num_perm x chunk) stays cache-sized
                gi = 0
                while gi < len(nonempty):
                    gj = gi
                    tot = 0
                    while gj < len(nonempty) and (
                        tot == 0
                        or tot + seg_counts[nonempty[gj]] <= _MH_CHUNK
                    ):
                        tot += int(seg_counts[nonempty[gj]])
                        gj += 1
                    grp = nonempty[gi:gj]
                    # flat shingles of this caption group
                    pieces = [sh_flat[seg_starts[i]:seg_starts[i + 1]] for i in grp]
                    x32 = np.concatenate(pieces) & MASK32
                    vals = (A[:, None] * x32[None, :] + Bb[:, None]) % P
                    bounds = np.zeros(len(grp), dtype=np.int64)
                    bounds[1:] = np.cumsum(seg_counts[grp])[:-1]
                    mins = np.minimum.reduceat(vals, bounds, axis=1)
                    # min is taken in the FULL 64-bit domain first; only
                    # the stored lane is truncated (lane32: low 32 bits,
                    # signed reinterpret)
                    if lane32:
                        out_lanes = mins.astype(np.uint32).view(np.int32)
                    else:
                        out_lanes = mins.astype(np.int64)
                    mh_parts.append(out_lanes.T.ravel())
                    gi = gj
                out["minhash"] = _list_array(
                    np.where(seg_counts > 0, len(A), 0),
                    np.concatenate(mh_parts) if mh_parts
                    else np.empty(0, np.int32 if lane32 else np.int64),
                    null=seg_counts == 0)

            if want_sim:
                sims = np.zeros(n, dtype=np.int64)
                has_tok = np.flatnonzero(nt > 0)
                if len(th_all) and has_tok.size:
                    # bit matrix via unpackbits on the little-endian byte
                    # view: column j == bit j of the token hash. uint8 ->
                    # int16 keeps the (tokens x 64) working set 4-8x
                    # smaller than the previous int64 shift-matrix (this
                    # was ~60% of the kernel's memory traffic); int16
                    # accumulation is safe while no doc exceeds 32k
                    # tokens — int32 fallback above that.
                    acc_t = np.int16 if int(nt.max()) < 30000 else np.int32
                    b01 = np.unpackbits(
                        np.ascontiguousarray(th_all).view(np.uint8)
                        .reshape(-1, 8),
                        axis=1, bitorder="little",
                    )[:, :bits].astype(acc_t)
                    bounds = tok_starts[has_tok]
                    ones = np.add.reduceat(b01, bounds, axis=0)
                    sums = 2 * ones.astype(np.int64) - nt[has_tok][:, None]
                    bitsv = (sums > 0).astype(np.uint64)
                    packed = (bitsv * two_pow[None, :]).sum(axis=1)
                    sims[has_tok] = packed.astype(np.int64)
                out["simhash"] = pa.array(sims, mask=nt == 0)

            if want_fp:
                # winnowing fingerprints, batch-segmented over the same
                # (already lowercased) captions — identical values to
                # winnow.with_fingerprints (same byte-space
                # polynomial gram hash, same window minima, distinct):
                # folding them into THIS pass removes a second full
                # Arrow caption scan from the pipeline (guide §4.1:
                # every Python stage pays the JVM->Python boundary; the
                # substring channel's fingerprints ride the one
                # signature pass instead of paying their own)
                fp_counts = np.zeros(n, dtype=np.int64)
                sel_val = np.empty(0, dtype=np.int64)
                enc = [c.encode("utf-8") for c in caps]
                ok_doc = np.array(
                    [len(c) >= LW and len(e) >= KW + WW - 1
                     for c, e in zip(caps, enc)]
                )
                if ok_doc.any():
                    keep_idx = np.flatnonzero(ok_doc)
                    bflat = np.frombuffer(
                        b"".join(enc[i] for i in keep_idx), dtype=np.uint8
                    ).astype(np.uint64)
                    lens = np.array([len(enc[i]) for i in keep_idx],
                                    dtype=np.int64)
                    starts = np.zeros(len(lens) + 1, dtype=np.int64)
                    starts[1:] = np.cumsum(lens)
                    pwW = _pows(KW)[::-1].copy()
                    gh_all = (
                        np.lib.stride_tricks.sliding_window_view(bflat, KW)
                        * pwW
                    ).sum(axis=1)
                    n_g = lens - KW + 1
                    g_starts = np.zeros(len(lens) + 1, dtype=np.int64)
                    g_starts[1:] = np.cumsum(n_g)
                    tot_g = int(g_starts[-1])
                    g_idx = np.repeat(starts[:-1], n_g) + (
                        np.arange(tot_g) - np.repeat(g_starts[:-1], n_g)
                    )
                    ghc = gh_all[g_idx]
                    n_w = n_g - WW + 1
                    w_starts = np.zeros(len(lens) + 1, dtype=np.int64)
                    w_starts[1:] = np.cumsum(n_w)
                    tot_w = int(w_starts[-1])
                    mins_all = np.lib.stride_tricks.sliding_window_view(
                        ghc, WW
                    ).min(axis=1)
                    w_idx = np.repeat(g_starts[:-1], n_w) + (
                        np.arange(tot_w) - np.repeat(w_starts[:-1], n_w)
                    )
                    minc = mins_all[w_idx]
                    m_owner = np.repeat(np.arange(len(lens)), n_w)
                    order = np.lexsort((minc, m_owner))
                    ms, mo = minc[order], m_owner[order]
                    first = np.ones(len(ms), dtype=bool)
                    first[1:] = (ms[1:] != ms[:-1]) | (mo[1:] != mo[:-1])
                    sel_val = ms[first].astype(np.int64)
                    fp_counts[keep_idx] = np.bincount(mo[first], minlength=len(lens))
                out["fps"] = _list_array(fp_counts, sel_val)

            yield pa.RecordBatch.from_arrays(
                [rb.column(f.name) if f.name not in out else out[f.name]
                 for f in arrow_schema], schema=arrow_schema)

    return batch
