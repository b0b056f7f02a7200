from .signatures import with_signatures
from .winnow import with_fingerprints
from .rerank import mmr_rerank, diversity_score, coverage_score
from .graph import degree_stats, top_hubs, blast_radius
from .minhash import band_buckets
from .lsh import pairs_from_buckets
from .hamming import hamming_candidate_pairs, verify_hamming
from .verify import verify_jaccard, verify_lcs
from .components import connected_components
from .select import representatives, cluster_stats
from .pipeline import dedupe, DedupResult

__all__ = [
    "with_signatures",
    "with_fingerprints",
    "mmr_rerank",
    "diversity_score",
    "coverage_score",
    "degree_stats",
    "top_hubs",
    "blast_radius",
    "band_buckets",
    "pairs_from_buckets",
    "hamming_candidate_pairs",
    "verify_hamming",
    "verify_jaccard",
    "verify_lcs",
    "connected_components",
    "representatives",
    "cluster_stats",
    "dedupe",
    "DedupResult",
]
