"""The driver's grading window: the names it grades this round.

The external driver grades the FIRST 50 entries of ``QUERIES``.
``plans/__init__`` puts ``GRADING_WINDOW`` (in this order) at the head
of the registry and every other name after it, sorted by name — this
list is the only thing that sets registry order.  Rotating the window
is a one-list edit here plus the ``WINDOW_MANIFEST`` file that
tests/test_window_manifest.py pins it against.
"""

# The checked-in manifest this list must equal (pinned by
# tests/test_window_manifest.py); rotated together with the list.
WINDOW_MANIFEST = "WINDOW_r13.txt"

GRADING_WINDOW: tuple[str, ...] = (
    "dedup_cluster_representative",
    "dedup_exact_blocked",
    "dedup_exact_text",
    "dedup_incremental_base_vs_new",
    "dedup_simhash_md5",
    "sim_centroid_confusion",
    "text_fingerprint",
    "text_langid_ngram",
    "text_ngram_freq",
    "text_normalized_collisions",
    "text_token_stats",
    "llm_balance_lang_mix",
    "llm_blocklist_filter",
    "llm_chunk_documents",
    "llm_contamination_overlap",
    "llm_dataset_manifest",
    "llm_decontaminate",
    "llm_dedup_survivorship_report",
    "llm_gap_fill_forward",
    "llm_packing_efficiency",
    "llm_pii_scrub",
    "llm_seq_len_histogram",
    "llm_train_val_split",
    "llm_vocab_topk",
    "sketch_cms_heavy_hitters",
    "ml_training_snapshot_asof",
    "graph_degree_distribution",
    "graph_pagerank_trade",
    "graph_triangle_count",
    "event_cohort_ltv",
    "event_error_follows_purchase",
    "event_funnel_stages",
    "event_last_touch_attribution",
    "event_path_to_purchase",
    "event_retention_cohort",
    "event_rfm_segmentation",
    "event_sessionize_lag_cumsum",
    "event_type_transitions",
    "event_view_abandonment",
    "ts_ewma_bounded",
    "window_gaps_islands",
    "window_moving_corr",
    "join_asof_nearest",
    "dq_fact_consistency_audit",
    "dq_functional_dependencies",
    "dq_outlier_mad",
    "sample_pps_systematic",
    "q_percentile_bands_daily",
    "agg_gini_concentration",
    "dq_psi_drift",
)
