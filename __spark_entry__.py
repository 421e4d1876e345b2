"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``data_ingestion_system_spark``; every operator
registers itself in ``registry.REGISTRY`` with both the Spark builder and
the DuckDB oracle SQL (SURVEY.md §5 differential-testing strategy).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from data_ingestion_system_spark.registry import load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The A1 grouped multi-agg (`v_app_stats` shape, reference
    src/database/schema.sql:236-249) over orders ⋈ customer ⋈ nation.
    """
    registry = load_all()
    return registry["app_stats"].spark(spark, SMOKE_SF_DIR)


# The driver verifies the FIRST 50 catalog entries per round (registration
# order).  Rounds 1-8 accumulated 400 green driver rows (0 red ever); every
# SQL-checkable catalog query has a green row.
# Round-9 window: rows 1-8 are the queries whose implementation this round
# touched — the six connected-components consumers (the component loop
# gained round-count diagnostics; dedup_clusters, the keeper surface,
# linkage_entities, cluster_aware_split_stats, fold_leakage_audit,
# corpus_prep_pipeline) and the two multimodal queries (the catalog surface
# now routes mixed text/PPM payloads through the real decoder).  The
# late-r9 fixture-skew fix (the app-volume ramp, fixtures.py — Spark and
# DuckDB twins changed in lockstep) is covered by the ref_v_* rows already
# in this window (positions 19-22).  Rows 9-50 continue the oldest-first
# rotation through the stalest hash-greens (r03/r04 vintage).  Positions 51+ keep the same queue; the r8 window's
# queries (freshest greens) moved to the back.  The full catalog keeps its
# pytest oracle gate regardless (tests/test_oracle_parity.py parametrizes
# ALL registered queries).
_DRIVER_PRIORITY = (
    "dedup_clusters",
    "near_dup_simhash_multiblock_keepers",
    "linkage_entities",
    "cluster_aware_split_stats",
    "fold_leakage_audit",
    "corpus_prep_pipeline",
    "multimodal_features",
    "multimodal_payload_stats",
    "high_punctuation_docs",
    "examples_per_group",
    "exact_percentiles_sketch_refine",
    "weighted_sample",
    "anomaly_flags",
    "backfill_missing_days",
    "month_frequency",
    "dow_hour_profile",
    "json_props_extract",
    "json_report_roundtrip",
    "ref_v_app_stats",
    "ref_v_reviews_sentiment",
    "ref_v_daily_stats",
    "ref_v_labeled_reviews",
    "cube_counts",
    "pivot_matrix",
    "rollup_daily",
    "asof_join_events",
    "sessionization",
    "repetition_quality",
    "doc_chunks",
    "bm25_search",
    "inverted_index_search",
    "labeled_export_join",
    "token_counts",
    "language_id_confusion",
    "quality_scores",
    "doc_fingerprints",
    "clean_documents",
    "dedup_exact_stats",
    "dedup_exact_keepers",
    "dynamic_filter",
    "like_search",
    "case_projection",
    "length_buckets",
    "projection_rename",
    "ordered_enum_filter",
    "join_enrich",
    "join_4way",
    "self_join_theta",
    "left_join_coverage",
    "anti_join",
    "semi_join",
    "run_scoped_join",
    "context_multi_join",
    "app_stats",
    "daily_stats",
    "sentiment_distribution",
    "scalar_stats",
    "count_distinct",
    "group_frequency",
    "group_frequency_2key",
    "top_frequent",
    "ratio_metrics",
    "descriptive_stats",
    "mode_value",
    "higher_moments",
    "exact_percentiles",
    "histogram_fixed_buckets",
    "grouped_distribution",
    "two_level_agg",
    "null_profile",
    "duplicate_detection",
    "topk_by_sortkey",
    "priority_queue_head",
    "rank_per_group",
    "deterministic_shuffle_sample",
    "history_lag_zscore",
    "quota_per_group",
    "running_total",
    "union_all_concat",
    "union_distinct_ids",
    "except_difference",
    "intersect_ids",
    "stratified_tiered_sample",
    "stratified_split",
    "overlap_assignment",
    "quality_flags",
    "script_detection",
    "approx_percentiles",
    "approx_distinct_users",
    "revenue_rollup_nation_year",
    "supplier_concentration_hhi",
    "shipping_delay_profile",
    "customer_rfm_segments",
    "weighted_median_by_flag",
    "histogram_2d",
    "user_entropy_profile",
    "rank_function_profile",
    "neyman_allocation",
    "seasonal_anomaly_flags",
    "grouping_sets_profile",
    "lang_listagg_by_source",
    "session_bounce_stats",
    "funnel_time_to_convert",
    "ks_test_click_purchase",
    "mann_whitney_u",
    "join_cardinality_profile",
    "funnel_within_window",
    "common_event_paths",
    "rolling_wau",
    "event_transition_matrix",
    "interarrival_burstiness",
    "dp_daily_counts",
    "mmr_diverse_topk",
    "confident_joint_matrix",
    "daily_trend_slopes",
    "cusum_changepoint",
    "daily_growth_rates",
    "new_user_share",
    "fuzzy_linkage_pairs",
    "linkage_block_profile",
    "scd2_user_segments",
    "scd2_churn_profile",
    "chi2_lang_source",
    "metric_correlation_matrix",
    "keep_rate_wilson",
    "ewma_daily_volume",
    "cdc_apply_audit",
    "join_key_skew_profile",
    "readability_by_source",
    "segment_priority_mix",
    "brand_basket_lift",
    "order_size_distribution",
    "repeat_purchase_interval",
    "equi_depth_buckets_approx",
    "winsorized_stats",
    "grouped_percentiles_sketch_refine",
    "customer_spend_gini",
    "lorenz_spend_deciles",
    "abc_brand_classification",
    "robust_outlier_profile",
    "unpivot_metrics",
    "funnel_conversion",
    "cohort_retention",
    "range_join_events",
    "source_drift_metrics",
    "token_kl_drift",
    "psi_drift",
    "multires_rollup",
    "invalid_rows_profile",
    "validated_events",
    "orphan_check_matrix",
    "orphan_labels",
    "contrastive_pairs",
    "quality_classifier_scores",
    "schema_evolution_read",
    "mixture_weights",
    "mixture_epoch_sample",
    "pii_redaction",
    "pack_training_sequences",
    "boilerplate_chunks",
    "time_travel_snapshot",
    "incremental_daily_view",
    "reservoir_sample",
    "hybrid_rrf_search",
    "tfidf_top_terms",
    "heavy_hitters",
    "label_centroid_confusion",
    "near_dup_simhash_multiblock",
    "near_dup_ngram_jaccard",
    "near_dup_minhash_lsh",
    "cross_source_dup_matrix",
    "dedup_threshold_sweep",
    "minhash_estimation_error",
    "equi_depth_buckets",
    "semantic_dedup",
    "semantic_dedup_hier",
    "near_dup_embedding_cosine",
    "ann_topk_bruteforce",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_pq_rerank_topk",
    "ann_ivfpq_topk",
    "ann_filtered_topk",
    "kmeans_cluster_profile",
    "token_cooccurrence",
    "vocab_coverage",
    "vocab_zipf_stats",
    "vocab_chao1_estimate",
    "source_vocab_jaccard",
    "bpe_merge_table",
    "bpe_pair_counts",
    "contamination_overlap",
    "token_budget_selection",
    "bigram_lm_scores",
    "nb_weak_label_confusion",
    "classifier_calibration",
    "classifier_pr_thresholds",
    "cohens_kappa",
    "krippendorff_alpha",
    "majority_vote",
    "corpus_data_card",
    "duplicated_spans_topk",
    "gap_islands",
    "kfold_balance",
    "sliding_rate_limit",
    "substring_dup_profile",
    "brand_revenue_share",
    "cdc_apply_state",
)


def _ordered_specs():
    registry = load_all()
    front = [registry[n] for n in _DRIVER_PRIORITY if n in registry]
    rest = [s for n, s in registry.items() if n not in _DRIVER_PRIORITY]
    return front + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, driver-priority
    first (see _DRIVER_PRIORITY)."""
    return {spec.name: spec.spark for spec in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    """Equivalent DuckDB SQL per query; omitted for non-SQL-expressible ops
    (seeded-random sampling internals, streaming state) → rows-only check."""
    return {spec.name: spec.oracle for spec in _ordered_specs() if spec.oracle is not None}
