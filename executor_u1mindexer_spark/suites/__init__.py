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

# The grading driver checks only the FIRST 50 registry entries, so ordering
# decides which SAMPLE of the registry gets a driver correctness row this
# round. The driver window is a sample, NOT the verification gate: the gate
# is `tools/oracle_check.py` (dtype-faithful since r03), which runs ALL
# registry queries against their DuckDB oracles locally every round and
# whose result is committed as CORRECTNESS_LOCAL_r{N}.json. Rotation policy:
# (a) queries whose implementation or oracle changed this round come first,
# (b) then queries with the OLDEST driver row (re-earn a row over time),
# (c) everything else keeps its newest green row and cycles next round.
#
# Round 10 (VERDICT r09 #1/#3/#4): the registry folded 193 -> 161 rows
# (suites/_fold.py; sketch 23->7, knn batch 4->1, window 5->1, scalar
# 4->1, grouping 3->1, sources-roundtrip 3->1, agg-approx 3->1, rrf
# batch folded into hybrid_search_rrf), which removed 34 of the 93
# driver-stale rows outright. The window below = 1 changed row
# (hybrid_search_rrf: schema changed by the fold, impl changed by the
# triangular-rank rebuild) + the 12 never-driver-checked rows (the 11
# fold names + index_upsert_capacity, which carries the AMS/CMS/Bloom
# fresh-row mandate of r09 #4 inside sketch_ams/sketch_cms/sketch_bloom)
# + ALL 37 surviving r05-stale rows (events_sessionize first,
# verdict-named). The remaining stale debt (r06 block) fully fits the
# r11 window: 161 rows / 50 slots cycles in 4 windows with ~stale-free
# steady state at threshold cur-2 once this round's debt drains.
# tools/rotation_check.py enforces "no wasted slots": every window slot
# must hold a stale, never-checked, or POLICY_A row while debt exists.

# ROTATION CADENCE POLICY for a 200+-row registry (VERDICT r12 #3, cycle
# bound amended r14 per VERDICT r13 #4 with the arithmetic written down;
# tools/rotation_check.py encodes the enforceable parts):
#   * Cycle arithmetic (the reason the bound is cur-5, not cur-4): at
#     209 registry rows a 50-slot window needs 209/50 = 4.18 rounds of
#     pure re-earning — already past an exact 4-round fit — and in
#     practice each window spends ~2-12 slots on POLICY_A, flagship-
#     guard, directive, and never-checked rows (r13 spent 16, r14
#     spends 8), so the effective stale-re-earn rate is ~40-48
#     slots/round and a full cycle is ceil(209/~44) = 5 rounds. Growth
#     of ~2-7 rows/round stays inside that bound up to ~240 rows
#     (240/48 = 5.0); past that, fold sibling rows (suites/_fold.py)
#     before stretching the bound again. Steady state: the staleness
#     histogram must never show a checked bucket older than cur-5 —
#     rotation_check enforces this like the flagship guard (assuming
#     the committed window earns at cur+1, no row outside the window
#     may be older than (cur+1)-5).
#   * Slot priority, top to bottom:
#       1. POLICY_A rows (implementation/oracle changed this round) — a
#          changed row's old stamp proves nothing about the new code;
#       2. flagship-tier rows the guard forces in (a §2.A flagship row
#          may never exceed 2 rounds driver-stale);
#       3. never-driver-checked rows (new rows jump the queue — a row
#          with NO stamp outranks one with merely an old stamp);
#       4. oldest-basis stale rows, alphabetical within a round-bucket.
#   * Rows added AFTER the round's window is frozen queue for the next
#     window (the late-r12 precedent) — they do NOT evict an already-
#     rotated stale row mid-round unless a directive demands a driver
#     stamp this round (then they displace the BOTTOM stale slot, which
#     heads the next queue).
#   * If registry growth pushes the cycle past 5 rounds (~240 rows at
#     the measured re-earn rate — see the arithmetic above), fold
#     sibling rows into parameterized twins (suites/_fold.py machinery)
#     rather than stretching the bound again — silent cycle stretch is
#     the r08 failure mode, and rotation_check's MAX_AGE tripwire makes
#     it loud.
#   * The boundary comment below the 50th slot always carries the next
#     window's queue so the rotation commit is a copy-paste.

# Rows whose implementation/oracle changed THIS round (rotation policy
# (a)); rotation_check treats these as legitimate window occupants even
# while stale rows wait. Keep this list honest — it is the audit trail
# for why a fresh row occupies a slot ahead of a stale one.
# near_dedup_clusters: dedup_clusters now takes its components from
# graph.connected_components. graph_kcore_membership: kcore lost its
# knobs and keeps only the broadcast-frontier + isEmpty()-probe path.
POLICY_A = (
    "near_dedup_clusters",
    "graph_kcore_membership",
)

DRIVER_PRIORITY = (
    # Window judged against CORRECTNESS_r17.json, in slot-priority
    # order: 2 POLICY_A rows + the 8 §2.A flagship rows the tier guard
    # forces in (knn_search_batch was stamped r17, inside the bound) +
    # the 2 never-checked rows + all 16 r12-stale rows (the MAX_AGE
    # tripwire) + the 22 oldest alphabetical r13-stale rows = 50.
    # POLICY_A (changed this round):
    "near_dedup_clusters",
    "graph_kcore_membership",
    # §2.A flagship tier (stamped r15 — outside the 2-round bound):
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
    # r12-stale (the full bucket — at the MAX_AGE=5 cadence bound):
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
    # r13-stale rows, alphabetical (first 22 of the 49-row bucket):
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
    # Next window: the 27 remaining r13-stale rows below, then the
    # oldest alphabetical r14-stale rows.
    # r13-stale, did not fit this window (27):
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
