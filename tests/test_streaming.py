"""Streaming ingest and the per-batch streaming ledgers produce the same
answers as the batch operators — batch is the oracle for the streaming
path."""

from __future__ import annotations

from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables


def test_streaming_ingest_into_engine_matches_batch(spark, sf_dir, tmp_path):
    """foreachBatch feeds the vector index from a stream: after draining an
    embeddings file-stream through engine.index() micro-batch by micro-batch,
    search results are identical to a one-shot batch ingest — the live-tail
    half of the backfill+tail story (the batch path is the oracle)."""
    from executor_u1mindexer_spark.engine import U1MIndexerSpark

    emb = tables.load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    phys = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema

    eng_stream = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path / "ws_stream"))

    def feed(batch_df, batch_id):
        eng_stream.index(
            batch_df.select("vec_id", "embedding"), id_col="vec_id", vec_col="embedding"
        )

    q = (
        spark.readStream.schema(phys)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .writeStream.foreachBatch(feed)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    eng_batch = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path / "ws_batch"))
    eng_batch.index(emb, id_col="vec_id", vec_col="embedding")

    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in eng_stream.search(queries, limit=5, with_payload=False).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.rank)
        for r in eng_batch.search(queries, limit=5, with_payload=False).collect()
    }
    assert got == want and len(got) == 10


def test_streaming_ingest_capacity_across_microbatches(spark, tmp_path):
    """Capacity-bounded engine fed from a 3-micro-batch stream: slot
    arithmetic must hold ACROSS index() calls — batch 1 fills part of the
    index, batch 2 is cut mid-batch, batch 3 is rejected wholesale; the
    warn-sets accumulate exactly the overflow ids and the final index
    holds exactly max_elements rows."""
    from executor_u1mindexer_spark.engine import U1MIndexerSpark

    src = tmp_path / "docs_src"
    for part, ids in enumerate(([0, 1, 2], [3, 4, 5], [6, 7])):
        spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in ids],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.parquet(str(src / f"p{part}"))
    schema = spark.read.parquet(str(src / "p0")).schema

    eng = U1MIndexerSpark(
        spark, dim=2, workspace=str(tmp_path / "ws"), max_elements=4
    )
    rejected_ids: list[int] = []

    def feed(batch_df, batch_id):
        rej = eng.index(batch_df, id_col="vec_id", vec_col="embedding")
        rejected_ids.extend(r.id for r in rej.collect())

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "p*"))
        .writeStream.foreachBatch(feed)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    st = eng.status()
    assert st["count_active"] == 4
    # micro-batch file order isn't guaranteed, but capacity is 4 of 8
    # total docs: exactly 4 admitted, the other 4 rejected — and the
    # admitted set is exactly the complement of the rejected set
    assert len(rejected_ids) == 4
    assert len(set(rejected_ids)) == 4
    assert set(rejected_ids) <= set(range(8))


def test_streaming_retract_ivm_cdc_matches_batch(spark, sf_dir):
    """CDC retract ledger: a changelog built as the events (+1) unioned
    with a -1 copy of every event_id % 10 == 0 row, split into three
    batches, must fold through retract_ivm_view to the batch retract-state
    of the SURVIVING rows exactly — deletes retract without base rescans,
    and every retraction lands in a different batch than its insert,
    sometimes an earlier one (addition commutes)."""
    from executor_u1mindexer_spark.operators import maintenance as M
    from executor_u1mindexer_spark.streaming import ivm_stream as IV

    keys = ["event_type"]
    events = tables.load(spark, sf_dir, "events")
    cdc = (
        events.withColumn("sign", F.lit(1))
        .withColumn("bid", F.col("event_id") % 3)
        .unionByName(
            events.filter(F.col("event_id") % 10 == 0)
            .withColumn("sign", F.lit(-1))
            .withColumn("bid", (F.col("event_id") + 1) % 3)
        )
    )
    state_cols = tuple(keys) + M.IVM_RETRACT_STATE_COLS
    states = {
        bid: [
            tuple(r[c] for c in state_cols)
            for r in M.ivm_retract_state_cdc(
                cdc.filter(F.col("bid") == bid), keys, "value", "sign"
            ).collect()
        ]
        for bid in range(3)
    }

    surviving = events.filter(F.col("event_id") % 10 != 0)
    want = {
        r.event_type: (r.n_rows, r.sum_milli, str(r.sumsq_milli2))
        for r in M.ivm_retract_state(surviving, keys, "value").collect()
    }
    got = {
        r.event_type: (r.n_rows, r.sum_milli, str(r.sumsq_milli2))
        for r in IV.retract_ivm_view(spark, states, keys).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_heavy_hitters_ledger_no_false_negatives(spark, sf_dir):
    """The MG ledger: per-batch bounded summaries (mg_batch_entry) fold
    through heavy_hitters_state to a merged state whose candidates
    contain EVERY true heavy hitter of the whole backlog (the Mergeable-
    Summaries no-false-negative bound), whose sentinel lane carries the
    exact stream length, and whose cnt_lb never exceeds the true count."""
    from executor_u1mindexer_spark.streaming import sketch_stream as SS

    k = 64
    li = tables.load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey"),
        F.when(F.col("l_orderkey") % 4 == 0, F.col("l_partkey") % 10)
        .otherwise(F.col("l_partkey"))
        .alias("item"),
    )
    states = {
        bid: SS.mg_batch_entry(
            li.filter(F.col("l_orderkey") % 3 == bid).select("item"), "item", k
        )
        for bid in range(3)
    }

    merged = SS.heavy_hitters_state(states)
    n_total = merged.pop(None)
    exact = {
        r.item: r.c
        for r in li.groupBy("item").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert n_total == sum(exact.values())
    true_hh = {it for it, c in exact.items() if c * (k + 1) > n_total}
    assert true_hh  # the injected skew must make this non-vacuous
    assert true_hh <= set(merged), "MG ledger dropped a true heavy hitter"
    for it, lb in merged.items():
        assert lb <= exact[it]


def test_streaming_kmv_fold_matches_batch_sketch(spark, sf_dir):
    """The KMV ledger: the bottom-k merge (kmv_state) of per-batch
    bottom-k entries (kmv_batch_entry) must be BIT-EQUAL to the batch
    sketch of the whole backlog (the pigeonhole merge is exact, not a
    bound), and every entry stays bounded at k hashes."""
    from executor_u1mindexer_spark.operators import sketch as SK
    from executor_u1mindexer_spark.streaming import sketch_stream as SS

    k = 64
    ev = tables.load(spark, sf_dir, "events")
    states = {
        bid: SS.kmv_batch_entry(
            ev.filter(F.col("event_id") % 3 == bid), "event_id", k
        )
        for bid in range(3)
    }
    assert all(len(e) <= k for e in states.values())
    merged = SS.kmv_state(states, k)
    want = [r.h for r in SK.kmv_bottomk(ev, "event_id", k).collect()]
    assert merged == want and len(want) > 0
