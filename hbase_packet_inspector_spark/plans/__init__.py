"""Query library. Importing this package populates the registry."""

from .registry import QUERIES, Query, register  # noqa: F401
from . import events_queries  # noqa: F401
from . import tpch_queries  # noqa: F401

try:  # data-prep ops land incrementally; keep the registry importable
    from . import dataprep_queries  # noqa: F401
except ImportError:
    pass
try:
    from . import pipeline_queries  # noqa: F401
except ImportError:
    pass


# Rotation order for the driver's ~50-slot correctness check: queries
# never hash-verified first, then ascending by the round of each query's
# LATEST green hash row (oldest-green-first). Worst-case freshness is
# ceil(len(registry) / 50) rounds (at 270 queries: 6 rounds between a
# query's driver re-verifications), so the full-registry parity sweep
# (tools/check_parity.py) stays the per-round gate. Regenerate with
# `python tools/refresh_unverified.py --write` after each round's
# CORRECTNESS_r{N}.json lands; new queries register with no green row
# and land at the front automatically.
_UNVERIFIED_FIRST = (
    "pq_recall",  # latest green r7
    "doc_chunks",  # latest green r7
    "chunk_dedup",  # latest green r7
    "cdc_chunks",  # latest green r7
    "cdc_dedup",  # latest green r7
    "bm25_topk",  # latest green r7
    "unigram_surprise",  # latest green r7
    "winnow_fingerprints",  # latest green r7
    "winnow_pairs",  # latest green r7
    "matryoshka_recall",  # latest green r7
    "hybrid_rrf",  # latest green r7
    "anchor_text_summary",  # latest green r7
    "robots_gate",  # latest green r7
    "crawl_cycle",  # latest green r7
    "hybrid_rrf_pruned",  # latest green r7
    "rpc_correlate",  # latest green r7
    "error_analysis",  # latest green r7
    "rpc_scanner_state",  # latest green r7
    "rpc_finalize",  # latest green r7
    "skew_salted_join",  # latest green r7
    "pricing_summary",  # latest green r8
    "top_revenue_orders",  # latest green r8
    "nation_revenue",  # latest green r8
    "customer_geo_rollup",  # latest green r8
    "priority_top_orders",  # latest green r8
    "parts_never_returned",  # latest green r8
    "customers_without_orders",  # latest green r8
    "brand_supplier_volume",  # latest green r8
    "orders_by_month",  # latest green r8
    "acctbal_deciles",  # latest green r8
    "order_lineitem_counts",  # latest green r8
    "parts_both_flags_intersect",  # latest green r8
    "lineitem_status_cube",  # latest green r8
    "customer_order_gaps",  # latest green r8
    "quantity_outliers",  # latest green r8
    "big_ticket_customers",  # latest green r8
    "dedup_exact",  # latest green r8
    "doc_fingerprint",  # latest green r8
    "dedup_ngram_jaccard",  # latest green r8
    "embedding_pca_wide",  # latest green r8
    "data_profile",  # latest green r8
    "source_mixture_weights",  # latest green r8
    "global_shuffle",  # latest green r8
    "lsh_recall",  # latest green r8
    "embedding_decontaminate",  # latest green r8
    "curation_pipeline",  # latest green r8
    "bigram_surprise",  # latest green r8
    "dup_span_fraction",  # latest green r8
    "dsir_weights",  # latest green r8
    "logreg_score",  # latest green r8
    "source_overlap",  # latest green r8
    "pq_rerank_topk",  # latest green r8
    "dedup_span_clean",  # latest green r8
    "bpe_merges",  # latest green r8
    "bpe_token_count",  # latest green r8
    "span_dsir_pipeline",  # latest green r8
    "source_length_quartiles",  # latest green r8
    "crawl_budget",  # latest green r8
    "score_calibration",  # latest green r8
    "gopher_quality",  # latest green r8
    "c4_quality",  # latest green r8
    "sitemap_discovery",  # latest green r8
    "url_templates",  # latest green r8
    "robots_gate_rfc",  # latest green r8
    "crawl_schedule",  # latest green r8
    "crawl_frontier_anchors",  # latest green r8
    "crawl_plan",  # latest green r8
    "retrieval_ndcg",  # latest green r8
    "hbase_pcap_decode",  # latest green r8
    "hbase_pcap_tables",  # latest green r8
    "approx_quantile_audit",  # latest green r9
    "ewma_smooth",  # latest green r9
    "mad_outliers",  # latest green r9
    "window_funnel",  # latest green r9
    "value_corr",  # latest green r9
    "event_unpivot",  # latest green r9
    "interarrival_stats",  # latest green r9
    "important_stock",  # latest green r9
    "revenue_rollup",  # latest green r9
    "monthly_growth",  # latest green r9
    "dedup_minhash_lsh",  # latest green r9
    "dedup_simhash",  # latest green r9
    "text_quality",  # latest green r9
    "lang_id",  # latest green r9
    "token_count",  # latest green r9
    "cosine_topk",  # latest green r9
    "srp_bucket_topk",  # latest green r9
    "sq8_topk",  # latest green r9
    "sq8_recall",  # latest green r9
    "srp_recall",  # latest green r9
    "ivf_topk_by_label",  # latest green r9
    "dedup_embedding",  # latest green r9
    "knn_graph",  # latest green r9
    "knn_graph_wide",  # latest green r9
    "knn_outliers",  # latest green r9
    "stack_code_quality",  # latest green r9
    "license_mix",  # latest green r9
    "recrawl_schedule",  # latest green r9
    "robots_gate_wildcards",  # latest green r9
    "retrieval_ndcg_pruned",  # latest green r9
    "heavy_hitters_cms",  # latest green r9
    "bloom_join_prune",  # latest green r9
    "hits_hubs_authorities",  # latest green r9
    "readability",  # latest green r9
    "k_anonymity",  # latest green r9
    "triangle_count",  # latest green r9
    "scd2_build",  # latest green r9
    "retrieval_mrr",  # latest green r9
    "scd2_interval_events",  # latest green r9
    "rate_zscore",  # latest green r9
    "l_diversity",  # latest green r9
    "feature_hashing",  # latest green r9
    "score_lift",  # latest green r9
    "host_components",  # latest green r9
    "attribution_linear",  # latest green r9
    "link_reciprocity",  # latest green r9
    "bloom_pruned_join",  # latest green r9
    "frequent_pairs",  # latest green r9
    "jaccard_prefix_pairs",  # latest green r9
    "edit_distance_pairs",  # latest green r9
    "time_to_convert",  # latest green r10
    "seasonal_residuals",  # latest green r10
    "min_cost_supplier",  # latest green r10
    "rfm_segments",  # latest green r10
    "open_orders_timeline",  # latest green r10
    "knn_label_prop",  # latest green r10
    "embedding_norms",  # latest green r10
    "multimodal_byte_features",  # latest green r10
    "multimodal_ppm_decode",  # latest green r10
    "multimodal_ppm_resize",  # latest green r10
    "multimodal_wav_resample",  # latest green r10
    "multimodal_wav_decode",  # latest green r10
    "multimodal_video_frames",  # latest green r10
    "multimodal_frame_sample",  # latest green r10
    "multimodal_resize_plan",  # latest green r10
    "scalar_functions",  # latest green r10
    "rolling_fingerprint",  # latest green r10
    "dedup_word_ngram",  # latest green r10
    "ivf_quantized_topk",  # latest green r10
    "ivf_kmeans_topk",  # latest green r10
    "corpus_topics",  # latest green r10
    "semdedup",  # latest green r10
    "embedding_pca",  # latest green r10
    "ivf_kmeans2_topk",  # latest green r10
    "repetition_ratio",  # latest green r10
    "dedup_clusters",  # latest green r10
    "bpe_source_fit",  # latest green r10
    "source_diversity",  # latest green r10
    "gate_cutoffs",  # latest green r10
    "gate_cutoffs_binned",  # latest green r10
    "quality_drift",  # latest green r10
    "layout_skip_rates",  # latest green r10
    "zorder_layout",  # latest green r10
    "corpus_diff",  # latest green r10
    "dedup_incremental",  # latest green r10
    "lsh_bucket_stats",  # latest green r10
    "split_leakage_audit",  # latest green r10
    "label_centroid_sim",  # latest green r10
    "label_outliers",  # latest green r10
    "dsir_resample",  # latest green r10
    "simhash_pairs",  # latest green r10
    "ingest_gate",  # latest green r10
    "corpus_card",  # latest green r10
    "clustering_coeff",  # latest green r10
    "cusum_alerts",  # latest green r10
    "t_closeness",  # latest green r10
    "vocab_growth",  # latest green r10
    "k_core",  # latest green r10
    "entity_representatives",  # latest green r10
    "entity_clusters",  # latest green r10
    "markov_transitions",  # latest green r11
    "minute_autocorr",  # latest green r11
    "dau_wau_stickiness",  # latest green r11
    "acctbal_deciles_binned",  # latest green r11
    "rfm_segments_binned",  # latest green r11
    "q22_idle_customers",  # latest green r11
    "basket_affinity",  # latest green r11
    "ship_delay_profile",  # latest green r11
    "hhi_market_share",  # latest green r11
    "spend_lorenz_binned",  # latest green r11
    "mmr_select",  # latest green r11
    "term_zipf",  # latest green r11
    "tfidf_top_terms",  # latest green r11
    "dedup_containment",  # latest green r11
    "curation_funnel",  # latest green r11
    "top_bigrams",  # latest green r11
    "curation_by_source",  # latest green r11
    "stratified_sample",  # latest green r11
    "source_token_mix",  # latest green r11
    "ann_recall",  # latest green r11
    "mixture_sample",  # latest green r11
    "curriculum_order",  # latest green r11
    "leakage_safe_split",  # latest green r11
    "simhash_pairs_wide",  # latest green r11
    "boilerplate_lines",  # latest green r11
    "boilerplate_strip",  # latest green r11
    "token_budget_select",  # latest green r11
    "url_dedup",  # latest green r11
    "classifier_pr_curve",  # latest green r11
    "web_curation_pipeline",  # latest green r11
    "hard_negatives",  # latest green r11
    "image_ahash_pairs",  # latest green r11
    "host_reputation",  # latest green r11
    "host_pagerank",  # latest green r11
    "link_graph",  # latest green r11
    "pagerank_convergence",  # latest green r11
    "html_text_extract",  # latest green r11
    "crawl_frontier",  # latest green r11
    "contrastive_triplets",  # latest green r11
    "video_frame_dedup",  # latest green r11
    "wav_silence_trim",  # latest green r11
    "image_dedup_keep_best",  # latest green r11
    "media_ingest_gate",  # latest green r11
    "ann_ndcg",  # latest green r11
    "host_drift",  # latest green r11
    "media_corpus_card",  # latest green r11
    "score_lift_binned",  # latest green r11
    "degree_distribution",  # latest green r11
    "vocab_growth_binned",  # latest green r11
    "degree_assortativity",  # latest green r11
    "traffic_per_method",  # latest green r13
    "latency_percentiles",  # latest green r13
    "top_hot_users",  # latest green r13
    "events_per_minute",  # latest green r13
    "event_type_share",  # latest green r13
    "distinct_users_by_type",  # latest green r13
    "sessionize",  # latest green r13
    "asof_correlate",  # latest green r13
    "scanner_enrich",  # latest green r13
    "json_props_bucket",  # latest green r13
    "value_histogram",  # latest green r13
    "rolling_avg_per_user",  # latest green r13
    "user_event_pivot",  # latest green r13
    "approx_distinct_users",  # latest green r13
    "asof_last_click",  # latest green r13
    "conversion_funnel",  # latest green r13
    "range_join_counts",  # latest green r13
    "top_event_paths",  # latest green r13
    "cohort_retention",  # latest green r13
    "key_skew_report",  # latest green r13
    "session_concurrency",  # latest green r13
    "cuped_adjusted_lift",  # latest green r13
    "median_of_means",  # latest green r13
    "pareto_frontier",  # latest green r13
    "supplier_ship_intervals",  # latest green r13
    "bootstrap_price_ci",  # latest green r13
    "km_repurchase_survival",  # latest green r13
    "theil_decomposition",  # latest green r13
    "benford_digit_audit",  # latest green r13
    "dedup_cluster_sizes",  # latest green r13
    "dedup_keep_best",  # latest green r13
    "dedup_keep_best_lsh",  # latest green r13
    "pii_scrub",  # latest green r13
    "pack_sequences",  # latest green r13
    "decontaminate",  # latest green r13
    "dedup_clusters_converged",  # latest green r13
    "logreg2",  # latest green r13
    "pq_adc_topk",  # latest green r13
    "ivfpq_topk",  # latest green r13
    "weighted_sample_tokens",  # latest green r13
    "dp_noisy_counts",  # latest green r13
    "quantile_normalize_binned",  # latest green r13
    "retrieval_rbo",  # latest green r13
    "isotonic_calibration_binned",  # latest green r13
    "psi_drift_binned",  # latest green r13
    "rank_sum_test",  # latest green r13
    "chisq_independence",  # latest green r13
    "warc_source_stats",  # latest green r13
    "warc_crawl_curation",  # latest green r13
    "warc_media_extract",  # latest green r13
)


def _ordered():
    first = [n for n in _UNVERIFIED_FIRST if n in QUERIES]
    seen = set(first)
    return first + [n for n in QUERIES if n not in seen]


def queries():
    return {n: QUERIES[n].fn for n in _ordered()}


def oracles():
    return {n: QUERIES[n].oracle for n in _ordered() if QUERIES[n].oracle is not None}
