"""Pinned workloads.

The service corpora are statements of the engine's ``ORACLES`` registry
(DuckDB SQL written for the builder plans' oracle twins). Their text is
snapshotted in ``corpus_sql.json`` so the benchmark does not change when the
registry does; ``pin.py`` regenerates the snapshot and the failure classes
below. A statement is left out of a timed corpus when the engine answers it
wrongly or with an error at the pinned tree; each left-out statement keeps its
failure class here, so the defects stay visible and a later change can add a
statement back once the engine answers it correctly.
"""

from __future__ import annotations

import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))

# Timed statements of dialect_corpus (sf0.001): every sixth, by name, of the
# correctly answered statements that took 150-700 ms warm on one client (4
# cores). Small queries on purpose: there the front end does most of the work.
DIALECT_CORPUS: list[str] = [
    "agg_approx_count_distinct", "agg_cube", "agg_minmax_by",
    "distinct_on_latest_order", "fn_battery_r13", "fn_bit", "fn_regex",
    "fn_type_fidelity", "join_cross", "join_range_interval",
    "pivot_status_by_priority", "q17_small_quantity_revenue",
    "q4_order_priority", "sample_deterministic", "setop_union_all",
    "sql_order_by_all", "stream_dedup_exact", "win_distinct_agg",
    "win_qualify",
]

# Statements the service answers correctly but that are not timed: the
# per-run time budget holds two passes over DIALECT_CORPUS.
DIALECT_UNTIMED: list[str] = [
    "agg_bool_bit", "agg_collect_list_set", "agg_core", "agg_corr_exact",
    "agg_count_distinct", "agg_filter_clause", "agg_group_by_all",
    "agg_grouping_sets", "agg_having", "agg_median_percentile",
    "agg_quantile_decimal_trunc", "agg_rollup", "agg_stats_exact",
    "agg_stats_native", "agg_string_agg", "case_coalesce_nullif",
    "cast_try_cast", "cte_nested", "cte_recursive_graph",
    "cte_recursive_series", "dedup_embedding_cosine",
    "dedup_exact_keep_longest", "distinct_basic",
    "events_funnel_conversion", "events_retention_cohorts",
    "events_transition_matrix", "events_windowed_funnel", "filter_ilike",
    "filter_predicates", "fn_array", "fn_array_agg_lambda",
    "fn_battery_r10", "fn_battery_r11", "fn_battery_r12", "fn_battery_r5",
    "fn_battery_r6", "fn_battery_r7", "fn_battery_r8", "fn_battery_r9",
    "fn_datetime", "fn_format", "fn_interval", "fn_json", "fn_json_ops",
    "fn_json_struct", "fn_math", "fn_string", "fn_struct_map",
    "fn_timestamp_ns", "fn_timestamp_parts", "fn_timestamptz",
    "fn_try_arithmetic", "fn_union_type", "fn_variant",
    "generate_series_step", "graph_pagerank", "graph_triangle_count",
    "io_csv_roundtrip", "io_json_roundtrip", "io_parquet_roundtrip",
    "join_anti_not_exists", "join_full_outer", "join_in_subquery",
    "join_inner_equi", "join_lateral_correlated", "join_left_outer",
    "join_positional", "join_right_outer", "join_semi_exists",
    "join_theta_nonequi", "join_using_natural", "limit_offset",
    "mm_binary_meta", "mm_image_resize", "order_nulls_last",
    "orders_rfm_segmentation", "pipeline_source_mix", "proj_expressions",
    "q10_returned_items", "q11_important_stock", "q12_priority_shipping",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_parts_supplier_relation", "q18_large_volume_customer",
    "q19_discounted_revenue", "q1_pricing_summary",
    "q20_potential_promotion", "q21_suppliers_waiting",
    "q22_global_sales_opportunity", "q2_min_cost_supplier",
    "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_type_profit", "range_series", "sample_native",
    "setop_except", "setop_except_all", "setop_intersect",
    "setop_intersect_all", "setop_union_by_name", "setop_union_distinct",
    "sim_lsh_buckets", "sim_lsh_topk", "sim_topk_bruteforce",
    "sql_bare_path_from", "sql_branch_unification", "sql_columns_expr",
    "sql_composite_cast", "sql_dml_returning", "sql_from_first_routing",
    "sql_lateral_unnest", "sql_list_comprehension", "sql_pattern_operators",
    "sql_pivot_multi", "sql_pivot_routing", "sql_read_csv_routing",
    "sql_read_json_routing", "sql_read_parquet_routing",
    "sql_recursive_routing", "sql_sample_routing", "sql_unnest_select",
    "sql_unpivot_routing", "stream_sessionization", "stream_static_enrich",
    "stream_stream_join", "stream_tumbling_hourly",
    "stream_user_activity_windows", "subquery_correlated_scalar",
    "text_bm25_topk", "text_fingerprint", "text_tfidf_top_terms",
    "text_unigram_fc_buckets", "values_relation", "win_exclude_frame",
    "win_exclude_named", "win_first_last_nth", "win_ignore_nulls",
    "win_lag_lead", "win_partition_agg", "win_range_frame", "win_ranks",
    "win_running_sum", "window_named_sql",
]

# Statements the service answers wrongly or rejects at sf0.001, by class.
DIALECT_LEFT_OUT: dict[str, str] = {
    "dedup_cluster_components": "error WITH RECURSIVE",
    "dedup_cross_source_matrix": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "dedup_exact": "wrong answer: ROWCOUNT service=1 duckdb=500",
    "dedup_incremental_exact": "wrong answer: VALUES differ",
    "dedup_incremental_lsh": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "dedup_minhash_lsh": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "dedup_ngram_jaccard": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "dedup_semantic_lsh": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "dedup_simhash": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "events_gapfill_locf": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "fn_bit_type": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "fn_hash": "wrong answer: VALUES differ",
    "fn_time": "error DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION",
    "graph_connected_components": "error WITH RECURSIVE",
    "join_asof": "error ASOF JOIN",
    "join_asof_left": "error ASOF JOIN",
    "mm_audio_energy": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "mm_decode_features": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "mm_frame_sample": "error PARSE_SYNTAX_ERROR",
    "pipeline_cluster_balanced_sample": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "pipeline_corpus_curation": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "pipeline_domain_reweighting": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "pipeline_multimodal_curation": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "pipeline_quality_funnel": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "pipeline_semdedup": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "pipeline_sequence_packing": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "pipeline_shard_assignment": "wrong answer: ROWCOUNT service=1 duckdb=16",
    "pipeline_training_mix": "wrong answer: ROWCOUNT service=1 duckdb=20",
    "select_exclude_replace": "error PARSE_SYNTAX_ERROR",
    "sim_centroid_per_label": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "sim_embedding_covariance": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "sim_ivf_search": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "sim_kmeans": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "sim_pq_search": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "sim_quantize_int8": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "sql_asof_routing": "error ASOF JOIN",
    "sql_prepare_execute": "error unrecognized write statement",
    "sql_summarize_routing": "error PARSE_SYNTAX_ERROR",
    "stream_dsir_scoring": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "stream_neardup_lsh": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "stream_sliding_2h": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "text_bigram_lm": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "text_contamination": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "text_dsir_selection": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "text_gopher_rules": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "text_langid": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "text_line_dedup": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "text_lm_perplexity": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "text_pii_scrub": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "text_quality": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "text_repetition_filter": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "text_stratified_sample": "wrong answer: ROWCOUNT service=0 duckdb=5",
    "text_substring_dedup": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "text_token_count": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "text_weighted_sample": "wrong answer: VALUES differ",
    "unpivot_part_measures": "error PARSE_SYNTAX_ERROR",
}

# Timed statements of tpch_service (sf0.01): the oracle twins of the BENCH
# plans that the service answers correctly.
TPCH_CORPUS: list[str] = [
    "agg_core", "join_inner_equi", "q18_large_volume_customer",
    "q1_pricing_summary", "q21_suppliers_waiting", "q2_min_cost_supplier",
    "q3_shipping_priority", "q4_order_priority", "q5_local_supplier_volume",
    "q9_product_type_profit", "sim_topk_bruteforce",
    "stream_tumbling_hourly", "text_fingerprint", "win_partition_agg",
    "win_ranks",
]

# BENCH oracle statements the service answers wrongly or rejects at sf0.01.
TPCH_LEFT_OUT: dict[str, str] = {
    "dedup_exact": "wrong answer: ROWCOUNT service=1 duckdb=500",
    "dedup_minhash_lsh": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "join_asof": "error ASOF JOIN",
    "pipeline_corpus_curation": "error UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
    "text_langid": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "text_line_dedup": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
    "text_quality": "error DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
}

# Timed plan builders of builder_suite (sf0.01): the BENCH plans that cover
# the corpus pipelines (curation, MinHash-LSH, line dedup), the operators
# (dedup, text, similarity, as-of join) and a scan-heavy TPC-H plan. An odd
# count keeps the median of two passes on one plan's samples.
BUILDER_SUITE: list[str] = [
    "pipeline_corpus_curation", "dedup_minhash_lsh", "text_line_dedup",
    "dedup_exact", "text_langid", "text_fingerprint", "sim_topk_bruteforce",
    "join_asof", "q9_product_type_profit",
]

# The other BENCH plans. All are answered correctly; they are not timed
# because one warm pass over all 22 takes ~33 s on 4 cores, which the per-run
# time budget cannot hold together with a steady measured window.
BUILDER_UNTIMED: list[str] = [
    "agg_core", "join_inner_equi", "text_quality", "stream_tumbling_hourly", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q18_large_volume_customer",
    "q4_order_priority", "q21_suppliers_waiting", "q2_min_cost_supplier",
    "win_ranks", "win_partition_agg",
]


def corpus_sql() -> dict[str, str]:
    with open(os.path.join(HERE, "corpus_sql.json")) as f:
        return json.load(f)
