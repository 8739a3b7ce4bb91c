"""Physical-plan quality gates — the 100 TB scale contract.

A correctness-green operator with a bad plan (lost pushdown, shuffled dim
join, global sort for a top-k) is a regression at scale even when the small
-SF answer is right; these tests pin the plan shape."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import executor_u1mindexer_spark as pkg
from executor_u1mindexer_spark import plans, tables
from executor_u1mindexer_spark.operators import dedup as D
from executor_u1mindexer_spark.operators import events as E
from executor_u1mindexer_spark.operators import knn
from executor_u1mindexer_spark.operators import linalg as L
from executor_u1mindexer_spark.operators import maintenance as M
from executor_u1mindexer_spark.operators import pipeline as P
from executor_u1mindexer_spark.operators import quantile as QT
from executor_u1mindexer_spark.operators import similarity as S
from executor_u1mindexer_spark.operators import sketch as SK
from executor_u1mindexer_spark.operators import skew
from executor_u1mindexer_spark.suites import composed_suite as CS
from executor_u1mindexer_spark.suites import dedup_suite as DS
from executor_u1mindexer_spark.suites import events_suite as ES
from executor_u1mindexer_spark.suites import maintenance_suite as MS
from executor_u1mindexer_spark.suites import pipeline_suite as PS
from executor_u1mindexer_spark.suites import relational_extra_suite as RX
from executor_u1mindexer_spark.suites import relational_suite as R
from executor_u1mindexer_spark.suites import similarity_suite as SS
from executor_u1mindexer_spark.suites import sketch_suite as SKS
from executor_u1mindexer_spark.suites import sources_suite as SRC
from executor_u1mindexer_spark.suites import text_suite as TS
from executor_u1mindexer_spark.suites import tpch_suite as T
from executor_u1mindexer_spark.suites import vector_suite as V

PYTHON_NODES = {
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
}


def names(df) -> list[str]:
    return [n.name for n in plans.nodes(df)]


def scan_meta(ns, key: str) -> str:
    """One metadata field (PushedFilters, ReadSchema) of every file scan."""
    return "\n".join(n.scan[key] for n in ns if key in n.scan)


def exchanges(ns) -> list[str]:
    """Every exchange node's name: shuffle, broadcast and reused alike."""
    return [n.name for n in ns if n.name.endswith("Exchange")]


def hash_keys(ns) -> list[tuple[str, ...]]:
    """The key columns of every hash-partitioned shuffle Exchange."""
    return [n.keys for n in ns if n.partitioning == "hash"]


def windows(ns) -> list:
    return [n for n in ns if n.name == "Window"]


def subtree(ns, i: int) -> list:
    """The nodes below ``ns[i]`` in a pre-order node list."""
    end = next((j for j in range(i + 1, len(ns)) if ns[j].depth <= ns[i].depth), len(ns))
    return ns[i + 1 : end]


def run_initial_and_final(df):
    """(nodes before execution, nodes after ``collect``): the adaptive
    plan's initial and final forms."""
    initial = plans.nodes(df)
    df.collect()
    return initial, plans.nodes(df)


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    ns = plans.nodes(R.tpch_q1_pricing_summary(spark, sf_dir))
    pf = scan_meta(ns, "PushedFilters")
    assert "l_shipdate" in pf, pf  # predicate reached the parquet scan
    rs = scan_meta(ns, "ReadSchema")
    # column pruning: q1 never touches the join keys
    assert "l_partkey" not in rs and "l_suppkey" not in rs, rs


def test_q6_pushes_all_predicates_and_prunes(spark, sf_dir):
    ns = plans.nodes(R.tpch_q6_forecast_revenue(spark, sf_dir))
    pf = scan_meta(ns, "PushedFilters")
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pf, pf
    rs = scan_meta(ns, "ReadSchema")
    assert "l_orderkey" not in rs and "l_tax" not in rs, rs  # 4-column scan


def test_q3_broadcasts_customer(spark, sf_dir):
    ns = plans.nodes(R.tpch_q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in [n.name for n in ns]
    pf = scan_meta(ns, "PushedFilters")
    assert "c_mktsegment" in pf and "o_orderdate" in pf and "l_shipdate" in pf, pf


def test_q5_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = names(R.tpch_q5_local_supplier_volume(spark, sf_dir))
    # every dim join is a broadcast; the only shuffles are the fact-fact join
    # and the final aggregation
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_topk_plans_as_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in names(R.topk_orders_by_price(spark, sf_dir))


def test_knn_is_broadcast_nested_loop(spark, sf_dir):
    plan = names(V.knn_search_cosine(spark, sf_dir))
    # query side broadcasts; the corpus is never shuffled before scoring
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_knn_payload_join_never_shuffles_the_payload(spark, sf_dir):
    """The payload fetch broadcasts the top-k rows (k per query) into the
    payload scan. A shuffle join would hash-partition the whole payload
    table (at 100 TB, the whole docstore) for k x queries result rows: the
    only hash exchange left is the per-query top-k window on query_id.
    Size-based broadcasting is off here, as it is for a payload table too
    big to broadcast (or a checkpointed docstore, whose size the planner
    cannot see)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    docs = tables.load(spark, sf_dir, "documents")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    df = knn.knn_search(emb, q, k=5, payload=docs)
    assert df.columns == ["query_id", "vec_id", "rank", "score"] + [
        c for c in docs.columns if c != "doc_id"
    ]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ns = plans.nodes(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" not in [n.name for n in ns]
    hashed = hash_keys(ns)
    assert hashed and all(keys[0] == "query_id" for keys in hashed), hashed


def test_knn_prunes_corpus_columns(spark, sf_dir):
    rs = scan_meta(plans.nodes(V.knn_search_cosine(spark, sf_dir)), "ReadSchema")
    assert "label" not in rs, rs  # only vec_id + embedding are read


def test_arrow_knn_corpus_never_shuffles(spark, sf_dir):
    """The arrow kernel path must keep the BNLJ shape: corpus scan (pruned
    to id+vec) -> pack -> broadcast-joined queries -> score -> PARTIAL
    WindowGroupLimit, with the ONLY corpus-row exchange being the final
    per-query top-k merge. A shuffle before scoring would move the whole
    corpus at 100 TB."""
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    ns = plans.nodes(knn.knn_search(emb, q, k=5, impl="arrow"))
    plan = [n.name for n in ns]
    assert plan.count("MapInArrow") == 2  # pack + score
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan  # local top-k before the merge shuffle
    # one hash exchange (top-k merge) + one SinglePartition (tiny query agg)
    parts = [n.partitioning for n in ns if n.name == "Exchange"]
    assert sorted(parts) == ["hash", "single"], parts
    assert "label" not in scan_meta(ns, "ReadSchema")


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    ns = plans.nodes(RX.bucketed_colocated_join(spark, sf_dir))
    assert "SortMergeJoin" in [n.name for n in ns]
    # the join shuffle was paid at write time; the ONLY exchange in the
    # whole plan is the post-join aggregation (group key != bucket key)
    assert exchanges(ns) == ["Exchange"], exchanges(ns)


def test_dense_id_ingest_has_no_single_partition_window(spark, sf_dir):
    """The r01 scale killer: dense internal-id assignment used a global
    Window.orderBy with no partitionBy, funneling the whole table through a
    SinglePartition exchange in the ingest hot path. Every Window in the
    ingest plans must now be fed by a parallel (hash/range) exchange; only
    scalar count aggregates may use SinglePartition (tiny partial rows)."""
    state = M.index_state(tables.load(spark, sf_dir, "embeddings"))
    ns = plans.nodes(state)
    assert "single" not in [n.partitioning for n in ns]
    assert not plans.unpartitioned_window(ns)

    # the upsert ranks its inserts on the driver (M.new_ids): no window
    batch = state.select(
        (F.col(M.ID) + 100000).alias(M.ID), F.col(M.EMB), F.col(M.ID).alias(M.SEQ)
    )
    upserted = M.upsert(state, batch, M.next_slot_of(state))
    assert not plans.unpartitioned_window(plans.nodes(upserted))


def codegen_stages(df) -> int:
    return sum(name.startswith("WholeStageCodegen") for name in names(df))


def test_codegen_present_in_agg_plan(spark, sf_dir):
    # AQE defers codegen until stage execution; disable it to inspect the
    # statically-compiled plan (production runs keep AQE on).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert codegen_stages(R.tpch_q1_pricing_summary(spark, sf_dir)) >= 1
        assert codegen_stages(V.knn_search_cosine(spark, sf_dir)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_vocab_topk_plans_partial_agg_and_take_ordered(spark, sf_dir):
    plan = names(TS.text_vocab_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # never a global sort for top-k
    assert plan.count("HashAggregate") >= 2  # map-side partial counts


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark shingle set is small by definition — the training
    corpus must never shuffle for the membership join."""
    plan = names(TS.text_benchmark_contamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_simhash_pairs_have_no_join(spark, sf_dir):
    """r03: simhash candidates come from the bounded bucket-group expansion
    (aggregate + HOF pair expansion) — the r02 banded SELF-join pushed a hot
    (band_idx, band_val)'s m² candidate rows through a join operator. The
    plan must contain no join node of any kind."""
    plan = names(D.simhash_near_pairs(tables.load(spark, sf_dir, "documents")))
    joins = [n for n in plan if n.endswith("Join") or n == "CartesianProduct"]
    assert not joins, joins


def test_pack_token_budget_window_partitions_by_slab(spark, sf_dir):
    """r03: the running sum must be computed per range-partition slab
    (__pid, stratum) — one task per SLAB — never per stratum alone, whose
    task count is bounded by stratum cardinality (5 langs at 100 TB = 5
    tasks). The Window's exchange must hash on __pid."""
    ns = plans.nodes(
        P.pack_token_budget(tables.load(spark, sf_dir, "documents"), budget=100_000)
    )
    assert not plans.unpartitioned_window(ns)
    # The CORPUS running sum (the one over the cost column n_chars) must be
    # slab-keyed. The per-stratum offsets window over the (__pid, stratum)
    # SUMMARY (~n_partitions × n_strata rows) legitimately partitions by
    # stratum alone — it never sees the corpus.
    corpus_windows = [w for w in windows(ns) if "n_chars" in w.terms()]
    assert corpus_windows, windows(ns)
    for w in corpus_windows:
        assert "__pid" in w.keys, w


def _range_exchange_reuse(df):
    """(n_materialized_range_exchanges, n_reused) in the static no-AQE plan."""
    ns = plans.nodes(df)
    mat = sum(n.partitioning == "range" for n in ns)
    return mat, sum(n.name == "ReusedExchange" for n in ns)


def test_dense_rank_materializes_range_exchange_once(spark, sf_dir):
    """dense_rank_by's correctness contract: the boundary-dependent __pid
    feeds both the offsets branch and the ranked stream, and
    repartitionByRange samples boundaries nondeterministically per
    materialization — so the range exchange must appear ONCE with every
    other reader a ReusedExchange. If this test fails after a plan/Spark
    change, ranks can silently desync; restore reuse or pin a single
    materialization explicitly (persist/checkpoint) before shipping."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        st = M.index_state(tables.load(spark, sf_dir, "embeddings"))
        mat, reused = _range_exchange_reuse(st)
        assert mat == 1 and reused >= 1, (mat, reused)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_pack_token_budget_materializes_range_exchange_once(spark, sf_dir):
    """Same single-materialization contract as dense_rank_by (cum_cost is
    boundary-invariant only if offsets and stream read one __pid)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = P.pack_token_budget(tables.load(spark, sf_dir, "documents"), budget=100_000)
        mat, reused = _range_exchange_reuse(df)
        assert mat == 1 and reused >= 1, (mat, reused)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_jaccard_has_no_cartesian_product(spark, sf_dir):
    """The inverted-index jaccard must stay an equi join on (block, shingle)
    — a cartesian/BNLJ here is the O(n²) shape the design exists to avoid."""
    plan = names(D.ngram_jaccard_pairs(tables.load(spark, sf_dir, "documents"), block_col="lang"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q10_broadcasts_dims_and_takes_ordered(spark, sf_dir):
    ns = plans.nodes(R.tpch_q10_returned_items(spark, sf_dir))
    plan = [n.name for n in ns]
    assert "BroadcastHashJoin" in plan  # customer + nation broadcast
    assert "TakeOrderedAndProject" in plan  # top-20 without a global sort
    pf = scan_meta(ns, "PushedFilters")
    assert "l_returnflag" in pf and "o_orderdate" in pf, pf


def test_q14_broadcasts_part_and_prunes(spark, sf_dir):
    ns = plans.nodes(R.tpch_q14_promo_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in [n.name for n in ns]
    rs = scan_meta(ns, "ReadSchema")
    assert "p_name" not in rs and "l_tax" not in rs, rs


def test_q18_takes_ordered_no_global_sort(spark, sf_dir):
    plan = names(R.tpch_q18_large_volume_customer(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # the lineitem quantity aggregate is the only wide shuffle; customer
    # rides a broadcast
    assert "BroadcastHashJoin" in plan


def test_range_search_has_no_shuffle_or_window(spark, sf_dir):
    ns = plans.nodes(SS.ann_range_search(spark, sf_dir))
    plan = [n.name for n in ns]
    # pure broadcast scan: distance + filter evaluated scan-side
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert not hash_keys(ns), plan
    assert not [n for n in plan if n.startswith("Window")], plan  # no Window, no WindowGroupLimit


def test_pii_redaction_is_map_only(spark, sf_dir):
    ns = plans.nodes(TS.text_pii_redaction(spark, sf_dir))
    assert not exchanges(ns), exchanges(ns)  # no shuffle at all
    # the whole query is one codegen stage
    assert sum(n.name.startswith("WholeStageCodegen") for n in ns) == 1, ns


def test_shuffle_epoch_order_no_single_partition(spark, sf_dir):
    parts = [n.partitioning for n in plans.nodes(PS.shuffle_epoch_order(spark, sf_dir))]
    assert "single" not in parts, parts
    assert "range" in parts, parts


def test_bigram_lm_broadcasts_vocab_no_cartesian(spark, sf_dir):
    plan = names(TS.text_bigram_lm_scores(spark, sf_dir))
    # the vocab scalar rides a broadcast; the count joins are keyed — the
    # only acceptable nested-loop is the broadcast of the 1-row vocab
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bigram_lm_count_joins_are_skew_immune(spark, sf_dir):
    """The unigram join key w1 is Zipf-skewed ('the' dominates). Skew only
    hurts when the probe side SHUFFLES on the hot key (sort-merge /
    shuffled-hash); after AQE sizes the tiny aggregated count tables, both
    count joins run as BroadcastHashJoin — the probe stays where it is and
    hot keys are a non-issue. At vocab sizes past the broadcast threshold
    the joins fall back to SMJ, where session.py enables
    spark.sql.adaptive.skewJoin to split hot partitions."""
    # collect, so AQE finalizes the join strategies
    initial, final = run_initial_and_final(TS.text_bigram_lm_scores(spark, sf_dir))
    for ns in (initial, final):
        plan = [n.name for n in ns]
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
    final_names = [n.name for n in final]
    assert final_names.count("BroadcastHashJoin") >= 2, final_names  # bg_counts + uni_counts


def test_banded_range_join_is_equi_keyed(spark, sf_dir):
    plan = names(RX.events_range_join_bucketed(spark, sf_dir))
    # the band key makes this a plain equi join — never a nested loop over
    # per-user cross products
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_pq_search_join_carries_codes_not_vectors(spark, sf_dir):
    """The ADC search join's corpus side must be (id, cell, m code ints) —
    raw vectors exist only in the upstream encode Project, and the corpus
    never shuffles: the only hash exchange is the per-query top-k window
    (queries + LUTs broadcast into cells)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    ns = plans.nodes(S.ivf_pq_topk(emb, q, k=3))
    assert "BroadcastHashJoin" in [n.name for n in ns]  # LUTs broadcast into cells
    # corpus rows cross exactly ONE hash exchange: the top-k rank window
    assert len(hash_keys(ns)) == 1, hash_keys(ns)


def test_bm25_reuses_token_agg_and_takes_ordered(spark, sf_dir):
    """BM25's only wide shuffle is the doc_id token aggregate, and the
    1-row corpus-stats branch must REUSE it (ReusedExchange under AQE),
    not rescan + re-aggregate the corpus; stats broadcast back via
    crossJoin and the top-k is TakeOrderedAndProject — no global sort, no
    join on a token key (the skew-exposed shape text_bigram_lm_scores has
    to defend against)."""
    df = TS.text_bm25_topk(spark, sf_dir)
    # collect, so AQE finalizes (ReuseExchange is adaptive)
    _assert_bm25_shape(*run_initial_and_final(df))


def _assert_bm25_shape(initial, final):
    final_names = [n.name for n in final]
    assert "TakeOrderedAndProject" in final_names, final_names
    assert "ReusedExchange" in final_names, final_names  # token agg computed once
    for ns in (initial, final):
        plan = [n.name for n in ns]
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_bm25_joins_variant_keeps_the_shape(spark, sf_dir):
    """The generalized builder must produce the SAME single-shuffle plan
    for a different (4-term) query set — parameterization must not change
    the physical strategy."""
    _assert_bm25_shape(*run_initial_and_final(TS.text_bm25_topk_joins(spark, sf_dir)))


def test_bm25_multi_pays_one_token_aggregate(spark, sf_dir):
    """The batched scorer pays the token-explode aggregate ONCE for the
    whole query set (tf columns for the union of terms + struct explode),
    never one aggregate per query: exactly one doc_id hash exchange
    upstream of the explode, stats reuse it, and no partition-less window
    appears anywhere (per-query work is keyed by query_id)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = TS.bm25_multi_scores(docs, CS.RRF_QUERIES)
    df.collect()
    final = plans.nodes(df)
    # one doc_id aggregate exchange; the 1-row stats branch reuses it
    assert [k[0] for k in hash_keys(final)].count("doc_id") == 1, hash_keys(final)
    assert "ReusedExchange" in [n.name for n in final]
    assert any("explode" in n.terms() for n in final if n.name == "Generate")


def test_rrf_batch_windows_are_query_partitioned(spark, sf_dir):
    """Every rank window in the batched RRF is partitioned by query_id —
    a partition-less window here would funnel corpus-scale rows through
    one task (the r01 scale-killer class)."""
    ws = windows(plans.nodes(CS.hybrid_search_rrf_batch(spark, sf_dir)))
    assert ws
    # every Window operator's spec names query_id as a partition key
    assert all("query_id" in w.keys for w in ws), ws


def test_hnsw_partitioned_topk_plan_shape(spark, sf_dir):
    """The per-partition HNSW search must keep the scatter-gather shape:
    the corpus pays ONE pid-hash exchange into the cogroup (graph build is
    executor-local), the query side rides a broadcast before its pid
    replication, and the merge window is query-partitioned — never a
    single-task window or a corpus re-shuffle."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    ns = plans.nodes(S.hnsw_partitioned_topk(emb, q, k=3))
    plan = [n.name for n in ns]
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "BroadcastExchange" in plan, plan  # query side scattered by broadcast
    assert all("query_id" in w.keys for w in windows(ns)), windows(ns)


def test_q4_exists_plans_as_semi_join(spark, sf_dir):
    """The correlated-inequality EXISTS must plan as a LEFT SEMI join
    (probe rows never multiply) with the inequality inside the join —
    never an inner join + distinct."""
    joins = [n.join for n in plans.nodes(R.tpch_q4_order_priority(spark, sf_dir)) if n.join]
    assert joins == ["LeftSemi"], joins


def test_q21_exists_and_not_exists_as_one_windowed_pass(spark, sf_dir):
    """Q21's EXISTS(another supplier) / NOT EXISTS(another late supplier)
    collapse to per-order counts computed by ONE orderkey-partitioned
    window over a single evaluation of the (order, supplier) frame (r16;
    was a semi+anti SMJ pair that re-evaluated the subtree twice more).
    Pin: exactly one lineitem scan, one Window node, no semi/anti joins
    left, and never a cartesian/BNLJ expansion of the supplier sets."""
    ns = plans.nodes(T.tpch_q21_waiting_suppliers(spark, sf_dir))
    plan = [n.name for n in ns]
    lineitem_scans = [n for n in ns if "lineitem" in n.scan.get("Location", "")]
    assert len(lineitem_scans) == 1, lineitem_scans
    assert plan.count("Window") == 1, plan
    joins = [n.join for n in ns if n.join]
    assert "LeftSemi" not in joins and "LeftAnti" not in joins, joins
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q19_disjunction_stays_inside_hash_join(spark, sf_dir):
    """Q19's OR-of-AND-groups spans both join sides; the partkey
    equi-condition must still drive a broadcast hash join with the
    disjunction as a residual — a planner that falls back to BNLJ for the
    OR would scan lineitem × part at 100 TB."""
    plan = names(T.tpch_q19_disjunctive_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q2_correlated_min_stays_broadcast(spark, sf_dir):
    """Q2's correlated scalar-min resolves to grouped-min + equality
    join-back; the min side is tiny (one row per filtered part) and must
    broadcast, leaving the filtered-lineitem side un-shuffled."""
    plan = names(T.tpch_q2_min_cost_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q13_keeps_outer_join_for_zero_order_customers(spark, sf_dir):
    """Q13's histogram depends on zero-order customers surviving: the
    customer ⋈ orders join must stay LeftOuter (the priority filter lives
    on the orders side, not as a post-join filter that would turn it
    inner)."""
    ns = plans.nodes(T.tpch_q13_customer_distribution(spark, sf_dir))
    assert "LeftOuter" in [n.join for n in ns], ns
    assert "CartesianProduct" not in [n.name for n in ns]


def test_fuzzy_join_is_block_keyed_not_cartesian(spark, sf_dir):
    """The levenshtein fuzzy join must ride the first-char block as an
    equi key (hash join) with the distance as a residual filter — an
    all-pairs cartesian/BNLJ over names would be quadratic at scale."""
    plan = names(RX.fuzzy_join_part_names(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_scd2_point_in_time_join_is_equi_keyed(spark, sf_dir):
    """The temporal join must ride the custkey equi condition (hash/SMJ)
    with the [valid_from, valid_to) interval as a residual — a planner
    that saw only the range predicates would BNLJ orders x history."""
    plan = names(MS.scd2_point_in_time_join(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hll_registers_plan_is_pure_catalyst_partial_agg(spark, sf_dir):
    """The HLL sketch must be a codegen scan -> partial max -> ONE exchange
    on at most 2^p register keys -> final max. No Python evaluation
    anywhere (it is the operator's whole point vs a UDF sketch), and no
    second shuffle: at 100 TB the map-side partial bounds the shuffle at
    2^p rows per task regardless of input size."""
    events = tables.load(spark, sf_dir, "events")
    ns = plans.nodes(SK.hll_registers(events, "user_id", 10))
    plan = [n.name for n in ns]
    assert not PYTHON_NODES & set(plan), plan
    assert exchanges(ns) == ["Exchange"], plan
    # partial max below the one exchange, final max above it
    aggs = [n for n in ns if n.name == "HashAggregate"]
    (exchange,) = [n for n in ns if n.name == "Exchange"]
    assert len(aggs) == 2, plan
    assert aggs[0].depth < exchange.depth < aggs[1].depth, plan
    assert all("max" in agg.terms() for agg in aggs)


def test_hll_estimate_adds_no_wide_shuffle(spark, sf_dir):
    """The estimate folds 2^p register rows to one row: a single-partition
    final agg over the already-tiny state, never a wide shuffle of the
    input table (2 exchanges total: register agg + scalar gather)."""
    events = tables.load(spark, sf_dir, "events")
    ex = exchanges(plans.nodes(SK.hll_distinct(events, "user_id", 10)))
    assert len(ex) <= 2, ex


def test_cms_state_plan_is_pure_catalyst_single_exchange(spark, sf_dir):
    """Same scale contract as the HLL registers: codegen stack expansion ->
    partial count -> ONE exchange on at most d*w counter keys -> final
    count. No Python, no second shuffle."""
    events = tables.load(spark, sf_dir, "events")
    ns = plans.nodes(SK.cms_state(events, "event_type", 4, 256))
    assert not PYTHON_NODES & {n.name for n in ns}, ns
    assert exchanges(ns) == ["Exchange"], exchanges(ns)


def test_bloom_prune_is_scan_side_filter_no_join_no_shuffle(spark, sf_dir):
    """The r06 bloom-pruned scan must stamp the membership test into the
    fact scan as a literal integer predicate: a Filter directly over the
    parquet scan, ZERO exchanges, ZERO joins, ZERO Python — pruning
    happens map-side BEFORE any join exchange, which is the operator's
    entire 100 TB value."""
    cust = tables.load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = tables.load(spark, sf_dir, "orders")
    pruned = SK.bloom_prune_scan(orders, cust, "o_custkey", "c_custkey", 4, 4096)
    ns = plans.nodes(pruned)
    plan = [n.name for n in ns]
    assert not exchanges(ns), plan
    assert not [n for n in plan if "Join" in n or n == "CartesianProduct"], plan
    assert not PYTHON_NODES & set(plan), plan
    assert any("shiftright" in n.terms() for n in ns if n.name == "Filter"), plan


def test_quantile_state_is_one_shuffle_no_python(spark, sf_dir):
    """The equi-depth state build is ONE hash-bucket exchange (the ntile
    sort rides it) plus the bounded grouped agg — no Python anywhere, and
    nothing downstream ever reshuffles raw rows."""
    orders = tables.load(spark, sf_dir, "orders")
    st = QT.quantile_state(orders, "o_totalprice", "o_orderkey", 8, 64)
    ns = plans.nodes(st)
    assert not PYTHON_NODES & {n.name for n in ns}, ns
    # one exchange for the bucket window; the groupBy(bucket, tile) agg
    # reuses that partitioning (bucket prefix), so no second wide shuffle
    assert len(exchanges(ns)) <= 2, exchanges(ns)
    assert hash_keys(ns) == [("bucket",)], hash_keys(ns)

    est = QT.quantile_estimate(st, [0.5])
    # estimate windows/aggs run over the <= p*s summary rows only: its
    # SinglePartition exchanges move sketch rows, never data rows
    assert not PYTHON_NODES & set(names(est))


def test_ams_state_plan_is_pure_catalyst_single_exchange(spark, sf_dir):
    """AMS counters keep the family's scale contract: codegen stack
    expansion -> partial sum -> ONE exchange on at most d counter keys ->
    final sum. No Python, no second shuffle."""
    events = tables.load(spark, sf_dir, "events")
    ns = plans.nodes(SK.ams_state(events, "event_type", 16))
    assert not PYTHON_NODES & {n.name for n in ns}, ns
    assert exchanges(ns) == ["Exchange"], exchanges(ns)


def test_gram_moments_is_one_exchange_one_pandas_stage(spark, sf_dir):
    """The Gram kernel's scale contract: exactly ONE MapInPandas (the
    per-partition int64 Gram) feeding ONE exchange over the <=
    partitions * d(d+1)/2 partial rows — never a shuffle of n*d^2
    exploded rows, and no other Python stage."""
    emb = tables.load(spark, sf_dir, "embeddings")
    ns = plans.nodes(L.gram_moments(emb))
    plan = [n.name for n in ns]
    assert [n for n in plan if n in PYTHON_NODES] == ["MapInPandas"], plan
    # one exchange for the (i, j) groupBy-sum; the orderBy rides a
    # range exchange over the 2080 aggregated rows, never raw data
    assert len(exchanges(ns)) <= 2, plan


def test_phrase_search_joins_on_token_filtered_postings(spark, sf_dir):
    """The positional join must be a real equi/hash join over
    token-filtered postings — the only BroadcastNestedLoopJoin allowed
    is the 1-row phrase crossJoin; no Python anywhere."""
    plan = names(TS.text_phrase_search(spark, sf_dir))
    assert not PYTHON_NODES & set(plan), plan
    assert {"SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"} & set(plan), plan


def test_file_skipping_has_no_unpartitioned_data_window(spark, sf_dir):
    """All windows in the rank maps are bucket-partitioned; the file
    stats and bounds ride broadcast joins; no Python."""
    ns = plans.nodes(SRC.layout_file_skipping(spark, sf_dir))
    assert not PYTHON_NODES & {n.name for n in ns}, ns
    assert windows(ns) and all(w.keys[:1] == ("__bkt",) for w in windows(ns)), windows(ns)


def test_registry_has_no_unpartitioned_window(registry_builds):
    """Registry-wide forbidden-plan-shape lint: each query's physical plan
    (compiled ONCE at sf0.001 by the shared ``registry_builds`` fixture) is
    checked for every shape in the table.

    - partition-less Window (VERDICT r08 #4): the whole-relation-
      through-one-task shape that silently caps scale and spams
      `WindowExec: No Partition Defined` warnings. The former bounded-
      input exceptions (PPS bucket offsets, the RRF 50-row rank,
      quantile-estimate's sketch cumsum) were rebuilt in r09 on the
      collect+broadcast literal-stamp pattern, so the allowlist is EMPTY.
    - CartesianProduct (late r09): the all-pairs fallback join. Every
      near-dedup family already pins no-cartesian per-query; this makes
      the guarantee registry-wide. Bounded scalar cross joins plan as
      BroadcastNestedLoopJoin and are not flagged.

    Adding a name to an allowlist requires a docstring in the query
    proving the relation feeding the shape is constant-bounded."""
    window_allowed: set[str] = set()
    cartesian_allowed: set[str] = set()
    bad_window, bad_cartesian = [], []
    for name, (ns, _) in registry_builds.items():
        if name not in window_allowed and plans.unpartitioned_window(ns):
            bad_window.append(name)
        if name not in cartesian_allowed and "CartesianProduct" in [n.name for n in ns]:
            bad_cartesian.append(name)
    assert not bad_window, f"partition-less windows in registry queries: {bad_window}"
    assert not bad_cartesian, f"CartesianProduct in registry queries: {bad_cartesian}"


def test_containment_shares_the_shingle_pipeline(spark, sf_dir):
    """containment_prefix_pairs' base (id, shingles, n_sh) feeds FIVE
    plan branches (prefix postings, full postings, doc-frequency input,
    both confirm-join sides). The materialized sharing point must hold —
    every branch reads the checkpointed relation and none re-reads the
    parquet — or the scan+shingle+hash pipeline recomputes per branch
    (~5x at any scale). Also pin the join strategy class: hash joins
    only, never a cartesian/BNLJ."""
    docs = tables.load(spark, sf_dir, "documents")
    ns = plans.nodes(D.containment_prefix_pairs(docs))
    plan = [n.name for n in ns]
    assert plan.count("Scan ExistingRDD") >= 5, plan
    assert not [n for n in ns if n.scan], plan  # no file scan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_checks_never_read_explain_text():
    """Plan pins ask ``plans.nodes``: explain text changes with Spark's
    formatting (a pin once broke on it) and a substring matches the wrong
    node ("Window" in "WindowGroupLimit")."""
    text_plan = re.compile(r"explain[S(]|executedPlan\(\)\.t(?:oString|reeString)\(")
    repo = Path(__file__).parent.parent
    offenders = [
        f"{path.relative_to(repo)}:{no}"
        for top in ("executor_u1mindexer_spark", "tests")
        for path in sorted((repo / top).rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if text_plan.search(line)
    ]
    assert not offenders, offenders


def test_package_materializes_only_through_cache():
    """cache.materialize is the package's one materialization idiom: no
    other module may checkpoint or persist a DataFrame itself."""
    call = re.compile(r"localCheckpoint\(|\.persist\(|\.cache\(\)")
    root = Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{no}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "cache.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line.split("#", 1)[0])
    ]
    assert not offenders, offenders


def test_every_operator_option_has_a_caller():
    """An option that no call sets has one value in use, so it is a
    constant. Scans the defaulted parameters of module-level package
    functions against every call, by name, in the package, tests/,
    tools/, perfbench/, bench.py and __spark_entry__.py: a parameter
    must be passed by keyword or reached by a positional argument.
    Exempt: class methods, a name the package defines twice, and a
    function some call reaches through a ``*``/``**`` splat."""
    repo = Path(__file__).parent.parent
    root = Path(pkg.__file__).parent
    defs: dict[str, list[tuple[Path, ast.FunctionDef]]] = {}
    for path in sorted(root.rglob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if isinstance(fn, ast.FunctionDef):
                defs.setdefault(fn.name, []).append((path, fn))
    callers = [
        *root.rglob("*.py"),
        *(p for d in ("tests", "tools", "perfbench") for p in (repo / d).rglob("*.py")),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    n_pos: dict[str, int] = {}
    keywords: dict[str, set[str]] = {}
    splat: set[str] = set()
    for path in callers:
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in defs:
                continue
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                splat.add(name)
            n_pos[name] = max(n_pos.get(name, 0), len(call.args))
            keywords.setdefault(name, set()).update(k.arg for k in call.keywords)
    unset = []
    for name, found in defs.items():
        if len(found) > 1 or name in splat:
            continue
        path, fn = found[0]
        a = fn.args
        pos = a.posonlyargs + a.args
        first = len(pos) - len(a.defaults)
        options = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
        options += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        unset += [
            f"{path.relative_to(root)}:{fn.lineno} {name}({arg}=)"
            for i, arg in options
            if arg not in keywords.get(name, ()) and (i is None or i >= n_pos.get(name, 0))
        ]
    assert not unset, f"{len(unset)} options no call sets: {unset}"


def test_asof_nearest_is_one_exchange_two_windows_no_join(spark, sf_dir):
    """asof_join_nearest (r11): both directions + nearest must cost ONE
    hash exchange and exactly TWO Window nodes (backward frame, forward
    frame) over it — no join, and no doubled windows from the CASE
    re-evaluating raw window expressions (the bug the operator's
    materialize-first shape exists to prevent)."""
    ns = plans.nodes(ES.events_asof_nearest_view(spark, sf_dir))
    plan = [n.name for n in ns]
    assert len(hash_keys(ns)) == 1, plan
    assert plan.count("Window") == 2, plan
    assert not [n for n in plan if "Join" in n or n == "CartesianProduct"], plan


def test_salted_group_topk_equals_plain_and_spreads_hot_group(spark):
    """salted_group_topk (r11): on a pathologically hot group (one group
    holding 90% of rows, plus duplicate order values forcing tiebreaks)
    the two-phase result must EQUAL the plain one-window top-k, and the
    phase-1 window must partition by (group, salt) — the hot group's
    rows spread over n_salt rank partitions."""
    rows = [(0, i, float((i * 7) % 50)) for i in range(900)]  # hot group, many ties
    rows += [(g, 1000 + g * 10 + j, float(j)) for g in range(1, 6) for j in range(10)]
    df = spark.createDataFrame(rows, "g long, id long, v double")

    got = {(r.g, r.id, r.rank_in_group)
           for r in skew.salted_group_topk(df, "g", "v", "id", 7).collect()}
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id").asc())
    want = {(r.g, r.id, r.rank_in_group)
            for r in df.withColumn("rank_in_group", F.row_number().over(w))
                       .filter(F.col("rank_in_group") <= 7).collect()}
    assert got == want and len(want) == 7 + 5 * 7

    ns = plans.nodes(skew.salted_group_topk(df, "g", "v", "id", 7))
    # the phase-1 window partitions by (group, salt)
    assert any({"g", "__salt"} <= set(w.keys) for w in windows(ns)), windows(ns)
    assert "single" not in [n.partitioning for n in ns]


def test_decayed_counts_overflow_guard_and_exactness(spark):
    """decayed_counts (r12): weights are exact powers of two anchored at
    the stream's own oldest day, and a span beyond max_exponent fails
    loudly instead of wrapping BIGINT."""
    df = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00"), ("a", "2024-01-03 09:00:00"),
         ("b", "2024-01-03 23:00:00")],
        "k string, s string",
    ).select("k", F.col("s").cast("timestamp").alias("ts"))
    got = {r.k: r.decayed_score for r in E.decayed_counts(df, ["k"]).collect()}
    assert got == {"a": 1 + 4, "b": 4}  # day offsets 0 and 2 -> 2^0, 2^2

    wide = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("a", "2026-01-01 00:00:00")],
        "k string, s string",
    ).select("k", F.col("s").cast("timestamp").alias("ts"))
    with pytest.raises(Exception, match="max_exponent"):
        E.decayed_counts(wide, ["k"]).collect()


def test_cusum_closed_form_equals_recurrence(spark):
    """cusum_drift's two-window closed form S_i = P_i - min(0, min P_j)
    must equal the literal recurrence S_i = max(0, S_{i-1} + d_i) —
    replayed here in Python over each key's day-ordered deviations."""
    rows = []
    # two keys, deliberately spiky counts: key a has a burst mid-month
    for day, n in enumerate([3, 3, 3, 9, 9, 3, 1, 1], start=1):
        rows += [("a", f"2024-01-{day:02d} 06:00:00")] * n
    for day, n in enumerate([5, 1, 5, 1, 5, 1], start=1):
        rows += [("b", f"2024-01-{day:02d} 06:00:00")] * n
    df = spark.createDataFrame(rows, "event_type string, s string").select(
        "event_type", F.col("s").cast("timestamp").alias("ts")
    )
    out = E.cusum_drift(df).collect()
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r.event_type, []).append(r)
    for key, rs in by_key.items():
        ref = rs[0].ref
        s = 0
        for r in rs:  # already day-ordered by the operator's orderBy
            s = max(0, s + (r.x - ref))
            assert r.cusum == s, (key, r.day, r.cusum, s)
            assert r.flagged == (2 * s > ref)
    # the fixture must exercise both verdicts
    flags = {r.flagged for r in out}
    assert flags == {True, False}


def test_priority_sample_is_takeordered_no_corpus_shuffle(spark, sf_dir):
    """priority_sample's top-(k+1) must be map-side partial top-k
    (TakeOrderedAndProject), never a global sort or a corpus shuffle —
    the whole point of the DLT formulation at 100 TB."""
    docs = tables.load(spark, sf_dir, "documents")
    ns = plans.nodes(P.priority_sample(docs, key="doc_id", weight_col="n_chars", k=64))
    assert "TakeOrderedAndProject" in [n.name for n in ns]
    # no hash-partitioned shuffle anywhere: the only exchange is the
    # broadcast of the 1-row tau aggregate (the final k-row display
    # Sort is not a corpus sort)
    assert not hash_keys(ns), hash_keys(ns)


def test_rendezvous_audit_is_one_scan_no_udf(spark, sf_dir):
    """The resize audit computes both argmaxes in ONE pass over ONE scan
    of documents, materialized once as the transition cube (eager
    localCheckpoint) — the FINAL plan re-reads no parquet at all and has
    no python stage."""
    docs = tables.load(spark, sf_dir, "documents")
    plan = names(M.rendezvous_resize_audit(docs, "doc_id", 8))
    assert "Scan parquet" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_frequent_pairs_prune_is_broadcast_and_pair_join_is_keyed(spark, sf_dir):
    """The a-priori frequent-1 prune applies as a BROADCAST join before
    pair generation, and the pair self-join is an equi-join on the
    basket key (never a CartesianProduct)."""
    li = tables.load(spark, sf_dir, "lineitem")
    plan = names(P.frequent_pairs(li, basket_col="l_orderkey", item_col="l_partkey", minsup=3))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmv_global_merge_is_bounded_not_corpus_wide(spark, sf_dir):
    """kmv_bottomk's post-fold merge (distinct + ordered limit) operates
    on the <= P*k candidate rows the Arrow fold emits — the plan shows
    the python fold feeding the limit, not a corpus-wide distinct."""
    ev = tables.load(spark, sf_dir, "events")
    plan = names(SK.kmv_bottomk(ev, "event_id", 256))
    # exactly one python (mapInPandas) stage = the bounded fold
    assert plan.count("MapInPandas") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_duplicated_spans_broadcasts_dup_set_and_windows_per_doc(spark, sf_dir):
    """duplicated_span_profile (r15): the dup-shingle set must reach the
    occurrence side as a BROADCAST left-semi (a lost broadcast turns
    the hit filter into a corpus-wide sort-merge shuffle of every
    shingle string), the island-merge windows must be doc-partitioned,
    and the whole lane is pure Catalyst — no Python stage anywhere."""
    ns = plans.nodes(DS.exact_dedup_substring_spans(spark, sf_dir))
    joins = [(n.name, n.join) for n in ns if n.join]
    assert ("BroadcastHashJoin", "LeftSemi") in joins, joins
    assert ("SortMergeJoin", "LeftSemi") not in joins, joins
    assert not PYTHON_NODES & {n.name for n in ns}, ns
    assert all(w.keys[:1] == ("doc_id",) for w in windows(ns)), windows(ns)


def test_grouped_ks_stats_and_offsets_stay_broadcast(spark, sf_dir):
    """ks_two_sample_by_group (r15): the per-group stats join and the
    prior-bucket offset theta-join must both be BROADCAST (bounded by
    groups and groups x 64 buckets respectively — losing either turns
    bounded metadata into a data-sized shuffle), the cumsum windows
    must be (group, bucket)-partitioned, and no Python stage exists."""
    ns = plans.nodes(SKS.events_ks_value_drift_by_type(spark, sf_dir))
    plan = [n.name for n in ns]
    assert plan.count("BroadcastExchange") >= 3, plan  # stats + prior + offsets
    assert not PYTHON_NODES & set(plan), plan
    assert all(w.keys[:2] == ("__grp", "__bkt") for w in windows(ns)), windows(ns)


def test_grouped_mwu_shares_the_grouped_fold_plan_shape(spark, sf_dir):
    """mann_whitney_u_by_group (registered r16): same grouped
    _merged_value_cdf fold as the grouped KS row, so the same pins
    apply — per-group stats and prior-bucket offsets stay BROADCAST
    (bounded metadata; losing either is a data-sized shuffle), cumsum
    windows stay (group, bucket)-partitioned, and the rank-sum tail
    adds no Python stage and no SinglePartition window."""
    ns = plans.nodes(SKS.events_mwu_value_drift_by_type(spark, sf_dir))
    plan = [n.name for n in ns]
    assert plan.count("BroadcastExchange") >= 3, plan  # stats + prior + offsets
    assert not PYTHON_NODES & set(plan), plan
    assert all(w.keys[:2] == ("__grp", "__bkt") for w in windows(ns)), windows(ns)


def test_grouped_psi_broadcasts_bounded_metadata_only(spark, sf_dir):
    """psi_drift_by_group (r16, reshaped r17): the per-group octile
    frame (n_groups rows) stays BROADCAST to both binning joins —
    losing that broadcast would turn bounded metadata into a data-sized
    shuffle. The per-group totals and psi_total are r17 unordered
    windows over ONE hash(__grp) exchange of the ≤9-rows-per-group grid
    (the old groupBy → broadcast-join-back pairs re-evaluated the grid
    subtree per aggregate); every windowspecdefinition must be
    partitioned by __grp — a SinglePartition window here would serialize
    the whole grid. The full-outer (group, bucket) grid align is the one
    legitimate SMJ (full outer cannot broadcast; both sides are
    groups x 8 rows). No Python stage, no cartesian/BNLJ product."""
    ns = plans.nodes(SKS.events_psi_value_drift_by_type(spark, sf_dir))
    plan = [n.name for n in ns]
    # the 2 octile binning joins still broadcast the bounded octiles
    assert plan.count("BroadcastExchange") >= 2, plan
    ws = windows(ns)
    assert ws, plan  # totals + psi_total ride windows now
    assert all(w.keys[:1] == ("__grp",) for w in ws), ws
    bad = PYTHON_NODES | {"CartesianProduct", "BroadcastNestedLoopJoin"}
    assert not bad & set(plan), plan


def test_nodes_see_through_the_adaptive_plan_before_and_after_execution(spark, sf_dir):
    """Before execution the walk reads AQE's initial plan, after it the
    final plan; neither the AdaptiveSparkPlan wrapper nor its query stages
    appear as nodes, and the operators under them do."""
    df = R.tpch_q1_pricing_summary(spark, sf_dir)
    initial, final = run_initial_and_final(df)
    for ns in (initial, final):
        plan = [n.name for n in ns]
        assert "AdaptiveSparkPlan" not in plan, plan
        assert not [n for n in plan if n.endswith("QueryStage")], plan
        assert plan.count("HashAggregate") == 2 and "Scan parquet" in plan, plan
        assert [n.partitioning for n in ns if n.name == "Exchange"] == ["range", "hash"]
        assert ns[0].depth == 0 and all(b.depth <= a.depth + 1 for a, b in zip(ns, ns[1:]))
    # only the final plan has been through the AQE optimizer
    assert "AQEShuffleRead" not in [n.name for n in initial]
    assert "AQEShuffleRead" in [n.name for n in final]


def test_nodes_keep_a_reused_exchange_as_one_leaf(spark, sf_dir):
    """The bm25 corpus-stats branch reuses the token aggregate's exchange:
    the walk records the reuse as one childless node, not as a second copy
    of the subtree it points at."""
    df = TS.text_bm25_topk(spark, sf_dir)
    df.collect()
    ns = plans.nodes(df)
    reused = [i for i, n in enumerate(ns) if n.name == "ReusedExchange"]
    assert reused and not any(subtree(ns, i) for i in reused)
    # the reused exchange runs once: a single doc_id hash Exchange
    assert [k[0] for k in hash_keys(ns)].count("doc_id") == 1, hash_keys(ns)


def test_nodes_tell_window_from_window_group_limit(spark):
    """A rank filter plans a WindowGroupLimit beside its Window; only the
    Window carries partition keys, and a partition-less one is flagged."""
    df = spark.range(100).select((F.col("id") % 4).alias("g"), "id")
    top = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy(F.col("id").desc()))
    ).filter("rn <= 2")
    ns = plans.nodes(top)
    plan = [n.name for n in ns]
    assert plan.count("Window") == 1 and "WindowGroupLimit" in plan, plan
    assert [w.keys for w in windows(ns)] == [("g",)]
    assert not plans.unpartitioned_window(ns)
    unpartitioned = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert plans.unpartitioned_window(plans.nodes(unpartitioned))


def test_nodes_tell_shuffle_exchange_from_broadcast_exchange(spark, sf_dir):
    """A broadcast join's BroadcastExchange is not a shuffle: only nodes
    named Exchange carry a partitioning."""
    ns = plans.nodes(R.tpch_q3_shipping_priority(spark, sf_dir))
    kinds = {(n.name, n.partitioning) for n in ns if n.name.endswith("Exchange")}
    assert ("BroadcastExchange", None) in kinds, kinds
    assert {p for name, p in kinds if name == "Exchange"} <= {"hash", "range", "single"}
    assert ("Exchange", "hash") in kinds or ("Exchange", "range") in kinds, kinds


def test_nodes_reach_a_scalar_subquery_plan(spark, sf_dir):
    """An uncorrelated scalar subquery runs as its own plan; the walk
    descends into it below the node whose expression holds it.
    (``correlated_scalar_subquery`` does not exercise this: Catalyst
    decorrelates it into a left outer join.)"""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    df = spark.sql(
        "SELECT o_orderkey FROM orders_sq "
        "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_sq)"
    )
    ns = plans.nodes(df)
    plan = [n.name for n in ns]
    (sub,) = [i for i, n in enumerate(ns) if n.name == "Subquery"]
    below = [n.name for n in subtree(ns, sub)]
    assert "HashAggregate" in below and "Scan parquet" in below, plan
    assert plan.count("Scan parquet") == 2, plan
