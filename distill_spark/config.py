"""Pipeline configuration.

Knob lineage (reference defaults we mirror semantically):
  - dup threshold 0.15 cosine-distance / conflict 0.35
    (/root/reference/pkg/memory/store.go:229-239,261-271): for captions the
    analogous knobs are `jaccard_threshold` (verified exact Jaccard over
    shingles — the dedup edge) and `conflict_jaccard` (a lower band flagged
    but not merged, reference pkg/memory/sqlite.go:268-275).
  - single-linkage agglomerative clustering at threshold t
    (/root/reference/pkg/contextlab/cluster.go:65-214) == connected
    components of the >=t similarity graph, which is what we compute.

LSH S-curve: P(candidate | jaccard=s) = 1 - (1 - s^r)^b.
Defaults b=32, r=4 (num_perm=128): at s=0.70 -> 0.9998 (recall target
>=0.99 met with margin), at s=0.30 -> 0.23 (false positives removed by
the exact-Jaccard verify stage, so precision is exact).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling (captions) ---
    shingle_size: int = 3          # token n-gram width
    lowercase: bool = True
    token_pattern: str = "[^a-z0-9]+"  # split regex (applied post-lower)

    # --- MinHash / LSH ---
    num_perm: int = 128
    bands: int = 32                # num_perm == bands * rows_per_band
    minhash_seed: int = 42
    minhash_lane_bits: int = 32    # stored lane width: 32 (default) keeps
                                   # the low 32 bits of each (a*x+b) mod P
                                   # lane — banding only tests lane
                                   # EQUALITY, and folding mod 2^32 can
                                   # only merge buckets (adds candidates
                                   # the exact verify removes), so the
                                   # S-curve/recall is unaffected while
                                   # the signature column through the
                                   # Arrow boundary + persist halves
                                   # (128 x 4 B vs 128 x 8 B). 64 = full
                                   # lanes (pinned by MemoryStore: its
                                   # sigs persist across upgrades)
    jaccard_threshold: float = 0.70   # dedup edge (verify stage, exact)
    conflict_jaccard: float = 0.40    # conflict band lower bound

    # --- SimHash (caption token features) ---
    simhash_bits: int = 64
    simhash_hamming_k: int = 3

    # --- phash Hamming channel (image near-dups) ---
    phash_hamming_k: int = 4

    # --- substring / LCS channel (winnowing candidates) ---
    lcs_min_len: int = 24          # chars of exact common substring => dup

    # --- skew handling ---
    max_bucket_size: int = 256     # LSH buckets larger than this switch to
                                   # star topology (each member vs bucket min)
    max_fp_bucket_size: int = 32   # tighter cap for winnowing-fingerprint
                                   # buckets: popular fingerprints (winnowing
                                   # biases toward small hashes) create many
                                   # mid-size buckets whose all-pairs sum
                                   # explodes quadratically

    # --- representative selection (reference pkg/contextlab/selector.py
    #     strategies score|centroid|length|hybrid; ours adds min_id) ---
    rep_strategy: str = "min_id"

    # --- connected components ---
    cc_max_iters: int = 50
    cc_reliable_checkpoint: bool = False  # True: every eager materialization
                                   # of the dedup engine (onetask.observed),
                                   # not only CC's, is a reliable checkpoint()
                                   # (survives executor loss on a real
                                   # cluster); needs checkpoint_dir
    checkpoint_dir: str | None = None  # HDFS/S3 dir for reliable checkpoints

    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.num_perm % self.bands != 0:
            raise ValueError("num_perm must be divisible by bands")

    @property
    def lcs_impl(self) -> str:
        # kept for the traced benchmark sequence until a benchmark change drops it
        return "exact"

    @property
    def rows_per_band(self) -> int:
        return self.num_perm // self.bands

    # Winnowing params derived so the guarantee
    # (common substring >= window + kgram - 1 shares a fingerprint)
    # lands exactly on lcs_min_len (Schleimer et al., SIGMOD'03).
    # kgram = 3L/4 (not the classic L/2): longer k-grams collide far less
    # across distinct documents, and the guarantee only needs
    # window = L - kgram + 1 >= 1. A/B at 1M rows: kgram 12 -> 16.9M
    # candidates / 136 s for the channel; kgram 18 -> 3.2M / 49 s,
    # identical components.
    @property
    def winnow_kgram(self) -> int:
        return max(3 * self.lcs_min_len // 4, 4)

    @property
    def winnow_window(self) -> int:
        return self.lcs_min_len - self.winnow_kgram + 1


DEFAULT = DedupConfig()
