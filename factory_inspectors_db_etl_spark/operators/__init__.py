from .asof import asof_fill, asof_join
from .dedup import (
    NonConvergenceError,
    affine_params,
    assign_components,
    connected_components,
    connected_components_large_star,
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    portable_hash60,
    simhash,
    simhash_near_duplicates,
)
from .dims import build_dim, build_dim_incremental, mint_surrogate_ids, null_safe_join
from .fill import forward_fill
from .gif import decode_gif, encode_gif, parse_gif
from .jpeg import decode_jpeg, encode_jpeg, parse_jpeg
from .merge import apply_cdc, latest_changes
from .materialize import MATERIALIZE_MODE_CONF, materialize
from .multimodal import (
    decode_and_featurize,
    payload_metadata,
    sample_frames,
    with_payload,
)
from .sampling import (
    hash_bucket,
    hash_split,
    hash_topk_per_group,
    mixture_sample,
    pack_token_bins,
    stratified_hash_sample,
)
from .text_analysis import chunk_windows, hashed_linear_score, redact_pii, word_chunks
from .similarity import (
    cosine_topk_bruteforce,
    embedding_neardup_pairs,
    ivf_topk,
    kmeans_centroids,
    lsh_bucket_topk,
    pq_topk,
    semantic_dedup,
)
from .skew import skew_safe_count_distinct

__all__ = [
    "MATERIALIZE_MODE_CONF",
    "NonConvergenceError",
    "materialize",
    "asof_fill",
    "asof_join",
    "decode_gif",
    "encode_gif",
    "parse_gif",
    "decode_jpeg",
    "encode_jpeg",
    "parse_jpeg",
    "affine_params",
    "assign_components",
    "connected_components",
    "connected_components_large_star",
    "portable_hash60",
    "hash_bucket",
    "hash_split",
    "hash_topk_per_group",
    "pack_token_bins",
    "stratified_hash_sample",
    "chunk_windows",
    "hashed_linear_score",
    "redact_pii",
    "word_chunks",
    "exact_dedup",
    "minhash_lsh_candidates",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_near_duplicates",
    "build_dim",
    "build_dim_incremental",
    "mint_surrogate_ids",
    "null_safe_join",
    "forward_fill",
    "decode_and_featurize",
    "payload_metadata",
    "sample_frames",
    "with_payload",
    "cosine_topk_bruteforce",
    "embedding_neardup_pairs",
    "ivf_topk",
    "kmeans_centroids",
    "lsh_bucket_topk",
    "pq_topk",
    "semantic_dedup",
    "apply_cdc",
    "latest_changes",
    "mixture_sample",
    "skew_safe_count_distinct",
]
