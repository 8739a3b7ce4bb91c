"""Query suites — the driver-facing registry.

Each suite module exposes:
  QUERIES: dict[name, Callable[[SparkSession, sf_dir], DataFrame]]
  ORACLES: dict[name, str]   # DuckDB ANSI SQL over the fixture views

`__spark_entry__.py` aggregates every suite. Names are the operator names
from SURVEY.md §2. A query without an oracle entry gets the driver's weaker
rows-only check (reserved for genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


SUITE_MODULES = (
    "vector_suite",
    "maintenance_suite",
    "relational_suite",
    "relational_extra_suite",
    "tpch_suite",
    "events_suite",
    "dedup_suite",
    "text_suite",
    "multimodal_suite",
    "similarity_suite",
    "sources_suite",
    "pipeline_suite",
    "composed_suite",
    "sketch_suite",
    "graph_suite",
)

# The grading driver checks only the FIRST 50 registry entries, so this
# order decides which sample of the registry gets a driver correctness
# row. The sample is not the verification gate: `tools/oracle_check.py`
# runs every registry query against its DuckDB oracle. DRIVER_PRIORITY
# names the rows served first; the rest follow in suite order.
DRIVER_PRIORITY = (
    # rows whose implementation changed most recently:
    "near_dedup_clusters",
    "graph_kcore_membership",
    # §2.A flagship tier (last driver-checked in r15):
    "knn_search_cosine",
    "knn_search_euclidean",
    "knn_search_inner_product",
    "payload_fetch",
    "limit_clamp",
    "score_transform_similarity",
    "dim_validate",
    "clear",
    # never checked (no CORRECTNESS_r*.json row yet):
    "events_mwu_value_drift_by_type",
    "events_psi_value_drift_by_type",
    # last driver-checked in r12:
    "text_corpus_stats",
    "text_gopher_quality_audit",
    "text_inverted_index",
    "text_length_histogram",
    "text_phrase_search",
    "text_pii_redaction",
    "text_repetition_scores",
    "text_url_domains",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_volume_customer",
    "tpch_q6_forecast_revenue",
    "unpivot_lineitem_metrics",
    "update_existing",
    "update_skipped",
    "vector_dedup_quantize",
    # last driver-checked in r13, alphabetical:
    "agg_stats_funcs",
    "ann_kmeans_ivf_topk",
    "basket_frequent_pairs",
    "clean_corpus_pipeline",
    "correlated_scalar_subquery",
    "dedup_repeated_spans",
    "events_ab_conversion_lift",
    "events_asof_purchase_last_view",
    "events_equidepth_histogram",
    "events_json_extract",
    "events_mad_outliers",
    "events_ols_trend",
    "events_pivot_daily_types",
    "events_range_join",
    "events_sliding_1h_30m",
    "fuzzy_join_part_names",
    "graph_link_prediction_aa",
    "graph_link_prediction_topk",
    "graph_sssp_weighted",
    "index_state_diff",
    "join_anti_customers_without_orders",
    "join_full_outer_segments",
    # --- 50-slot window boundary ---
    # last driver-checked in r13, alphabetical (continued):
    "multimodal_lossy_header_meta",
    "multimodal_training_manifest",
    "near_dedup_sorted_neighborhood",
    "sample_pps_systematic",
    "sample_priority_weighted",
    "scd2_customer_history",
    "scd2_point_in_time_join",
    "shard_rendezvous_assignment",
    "sketch_kmv_grouped",
    "sketch_kmv_streaming_backlog",
    "text_bigram_lm_scores",
    "text_bm25_topk",
    "text_langid_confusion",
    "text_pmi_collocations",
    "text_tfidf_topk_terms",
    "tpch_q11_important_parts",
    "tpch_q12_priority_shipping",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_part_supplier_counts",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_excess_suppliers",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_global_sales_opportunity",
    "tpch_q2_min_cost_supplier",
    "tpch_q4_order_priority",
)


def merged() -> tuple[dict[str, QueryFn], dict[str, str]]:
    import importlib

    suites = []
    for mod_name in SUITE_MODULES:
        try:
            suites.append(
                importlib.import_module(f"executor_u1mindexer_spark.suites.{mod_name}")
            )
        except ModuleNotFoundError as e:
            # Only tolerate the suite module itself not existing yet;
            # a broken import inside a suite must fail loudly.
            if e.name != f"executor_u1mindexer_spark.suites.{mod_name}":
                raise
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for s in suites:
        for k in s.QUERIES:
            if k in queries:
                raise ValueError(f"duplicate query name {k!r}")
        queries.update(s.QUERIES)
        oracles.update(s.ORACLES)
    unknown = set(oracles) - set(queries)
    if unknown:
        raise ValueError(f"oracles without queries: {unknown}")
    missing = [n for n in DRIVER_PRIORITY if n not in queries]
    if missing:
        raise ValueError(f"DRIVER_PRIORITY names without queries: {missing}")
    ordered = list(DRIVER_PRIORITY) + [n for n in queries if n not in set(DRIVER_PRIORITY)]
    queries = {n: queries[n] for n in ordered}
    oracles = {n: oracles[n] for n in ordered if n in oracles}
    return queries, oracles
