from .bpe import bpe_token_counts, train_bpe, word_symbol_table
from .dedup import dedup_any, dedup_latest
from .graph import connected_components, pagerank_exact, triangle_counts
from .joins import broadcast_join, join_expr
from .lm import unigram_surprisal
from .multimodal import (
    attach_media,
    extract_features,
    resize_media,
    sample_frames,
)
from .neardup import (
    contamination_scores,
    duplicate_span_stats,
    est_jaccard_for_pairs,
    exact_dedup,
    incremental_near_dup,
    near_dup_drop_ids,
    near_dup_minhash,
    ngram_jaccard_pairs,
    plan_banding,
    plan_simhash_bands,
    prefix_filtered_jaccard_pairs,
    sampled_ground_truth_pairs,
    sampled_recall_report,
    signature_bands,
    simhash,
)
from .reconcile import allocate_proportional, reconcile_full_outer
from .retrieval import bm25_topk, phrase_occurrences
from .packing import chunk_by_tokens, pack_by_token_budget
from .sampling import (
    hash_bucket,
    hash_sample,
    hash_split,
    stratified_hash_sample,
    weighted_sample_without_replacement,
)
from .setops import except_all, intersect_all, union_by_name, union_strict
from .classify import (
    model_quality_filter,
    score_quality,
    train_quality_model,
    weak_quality_label,
)
from .similarity import (
    assign_kmeans_clusters,
    cluster_argmax,
    cosine_near_dup_pairs,
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_ivf_pq,
    cosine_topk_lsh,
    semantic_dedup,
    semantic_dedup_pairs,
)
from .corpus_stats import (
    bigram_doc_frequency,
    bigram_pairs,
    doc_bigram_novelty,
)
from .quality import write_with_metrics
from .rollup import agg_snapshot, apply_agg_delta
from .scd import scd2_apply, scd2_as_of
from .skew import salted_join, salted_sum, with_salt
from .windows import (
    bucketed_scan,
    pareto_frontier_2d,
    partial_topk,
    partitioned_sum,
    top_k_per_group,
    top_one_per_group_agg,
)
from .grouped import (
    activity_streaks,
    transition_counts,
    welch_t_test,
)
from .stats import (
    exact_group_quantiles,
    ks_two_sample,
    scalable_group_quantiles,
)
from .asof import position_attribution

__all__ = [
    "activity_streaks",
    "agg_snapshot",
    "bucketed_scan",
    "exact_group_quantiles",
    "scalable_group_quantiles",
    "ks_two_sample",
    "pagerank_exact",
    "pareto_frontier_2d",
    "position_attribution",
    "transition_counts",
    "triangle_counts",
    "welch_t_test",
    "apply_agg_delta",
    "bigram_doc_frequency",
    "bigram_pairs",
    "doc_bigram_novelty",
    "salted_join",
    "scd2_apply",
    "scd2_as_of",
    "write_with_metrics",
    "dedup_any",
    "dedup_latest",
    "top_k_per_group",
    "top_one_per_group_agg",
    "partial_topk",
    "partitioned_sum",
    "hash_bucket",
    "hash_sample",
    "hash_split",
    "stratified_hash_sample",
    "contamination_scores",
    "est_jaccard_for_pairs",
    "incremental_near_dup",
    "near_dup_drop_ids",
    "signature_bands",
    "connected_components",
    "broadcast_join",
    "join_expr",
    "union_strict",
    "union_by_name",
    "intersect_all",
    "except_all",
    "reconcile_full_outer",
    "allocate_proportional",
    "exact_dedup",
    "near_dup_minhash",
    "plan_banding",
    "plan_simhash_bands",
    "sampled_ground_truth_pairs",
    "sampled_recall_report",
    "ngram_jaccard_pairs",
    "prefix_filtered_jaccard_pairs",
    "simhash",
    "cosine_topk",
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "cosine_topk_ivf_pq",
    "assign_kmeans_clusters",
    "model_quality_filter",
    "score_quality",
    "train_quality_model",
    "weak_quality_label",
    "cluster_argmax",
    "chunk_by_tokens",
    "cosine_near_dup_pairs",
    "semantic_dedup",
    "semantic_dedup_pairs",
    "pack_by_token_budget",
    "salted_sum",
    "weighted_sample_without_replacement",
    "with_salt",
    "duplicate_span_stats",
    "bpe_token_counts",
    "train_bpe",
    "word_symbol_table",
    "unigram_surprisal",
    "bm25_topk",
    "phrase_occurrences",
    "attach_media",
    "extract_features",
    "resize_media",
    "sample_frames",
]
