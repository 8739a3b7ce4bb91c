"""applyInPandasWithState: final streamed state equals the batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables


def test_streaming_minhash_dedup_matches_batch_replay(spark, sf_dir):
    """The per-bucket near-dup decision ledger from the stream must equal
    a batch replay of the same rule (band collide + >=16/32 perm agreement,
    dup_of = smallest earlier same-bucket id) built from the SAME signature
    and banding expressions."""
    from executor_u1mindexer_spark.operators import dedup as D
    from executor_u1mindexer_spark.streaming import dedup_stream as DS

    phys = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(phys)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = (
        DS.streaming_minhash_dedup(stream)
        .writeStream.format("memory")
        .queryName("mh_dedup")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.dup_of, r.band_idx)
        for r in spark.table("mh_dedup").collect()
    }

    docs = tables.load(spark, sf_dir, "documents")
    sig_df = docs.select("doc_id", D.minhash_signature("text").alias("sig"))
    banded = sig_df.select(
        "doc_id",
        "sig",
        F.posexplode(D.lsh_band_keys(F.col("sig"))).alias("band_idx", "band_key"),
    )
    a = banded.select(
        F.col("doc_id").alias("a"), F.col("sig").alias("sa"), "band_idx", "band_key"
    )
    b = banded.select(
        F.col("doc_id").alias("b"), F.col("sig").alias("sb"), "band_idx", "band_key"
    )
    simfrac = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / float(D.N_HASHES)
    want = {
        (r.b, r.dup_of, r.band_idx)
        for r in a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("sim", simfrac)
        .filter(F.col("sim") >= DS.SIG_SIM_THRESHOLD)
        .groupBy("b", "band_idx")
        .agg(F.min("a").alias("dup_of"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_minhash_state_survives_real_microbatch_reload(spark, tmp_path):
    """Cross-micro-batch drain through the REAL state store: the bucket
    state written in batch 1 (including NULL 'no best yet' entries) must
    reload in batch 2 and produce the converged verdict — whichever file
    order the stream picks."""
    from executor_u1mindexer_spark.streaming import dedup_stream as DS

    same = "alpha beta gamma delta epsilon zeta"
    src = tmp_path / "docs"
    spark.createDataFrame(
        [(1, same), (7, "completely different words entirely here now")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "p0"))
    spark.createDataFrame([(5, same)], "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "p1"))
    schema = spark.read.parquet(str(src / "p0")).schema

    q = (
        DS.streaming_minhash_dedup(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "p*"))
        )
        .writeStream.format("memory")
        .queryName("mh_reload")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("mh_reload").collect()
    # identical texts -> identical signatures -> all 8 bands collide;
    # converged fold must say doc 5 duplicates doc 1 in every band,
    # regardless of which file streamed first
    fold = {}
    for r in rows:
        key = (r.doc_id, r.band_idx)
        fold[key] = min(fold.get(key, r.dup_of), r.dup_of)
    assert {k[0] for k in fold} == {5}
    assert sorted(k[1] for k in fold) == list(range(8))
    assert set(fold.values()) == {1}


class _StubState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_streaming_minhash_bucket_state_carries_across_batches():
    """Pure-kernel check: a doc arriving in a LATER micro-batch must match
    against bucket members stored by an earlier batch, and non-matching
    docs join the state without emitting."""
    import pandas as pd

    from executor_u1mindexer_spark.streaming.dedup_stream import (
        _bucket_dedup_kernel,
    )

    sig_x = [1] * 32
    sig_half = [1] * 16 + [2] * 16   # sim 0.5 -> qualifies (threshold 0.5)
    sig_far = [3] * 32               # sim 0 vs both
    state = _StubState()
    b1 = pd.DataFrame({"doc_id": [10, 11], "sig": [sig_x, sig_far]})
    out1 = pd.concat(list(_bucket_dedup_kernel((0,), iter([b1]), state)))
    assert len(out1) == 0  # nothing earlier to match
    b2 = pd.DataFrame({"doc_id": [12], "sig": [sig_half]})
    out2 = pd.concat(list(_bucket_dedup_kernel((0,), iter([b2]), state)))
    assert list(out2.itertuples(index=False)) == [(12, 10, 0, 0.5)]
    assert state.get[0] == [10, 11, 12]  # arrival-ordered bucket membership
    # re-delivery of doc 10 is idempotent: the kernel SKIPS an id already
    # in the bucket outright (no emissions at all, no state growth) — a
    # self-match would make min(dup_of) consumers drop the doc as its own
    # duplicate, and mutual dup claims could drop a whole cluster
    b3 = pd.DataFrame({"doc_id": [10], "sig": [sig_x]})
    out3 = pd.concat(list(_bucket_dedup_kernel((0,), iter([b3]), state)))
    assert len(out3) == 0
    assert state.get[0] == [10, 11, 12]
    # a SMALLER qualifying id arriving later must improve the earlier
    # member's verdict: doc 3 (sig_x) beats dup_of(12)=10 and gives
    # doc 10 a smaller dup too — emissions for BOTH bucket members
    b4 = pd.DataFrame({"doc_id": [3], "sig": [sig_x]})
    out4 = sorted(
        (int(r.doc_id), int(r.dup_of))
        for r in pd.concat(list(_bucket_dedup_kernel((0,), iter([b4]), state))).itertuples()
    )
    assert out4 == [(10, 3), (12, 3)]
    # converged min-fold now equals the batch rule on {3, 10, 11, 12}
    # (3 is everyone's smallest qualifying smaller id; 11 matches nothing)


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    sigs=st.lists(
        st.lists(st.integers(min_value=0, max_value=3), min_size=8, max_size=8),
        min_size=1,
        max_size=12,
    ),
    split=st.integers(min_value=0, max_value=12),
    order_seed=st.integers(min_value=0, max_value=10**6),
)
def test_streaming_minhash_kernel_converges_any_order_any_split(
    sigs, split, order_seed
):
    """Property: for ANY bucket population, ANY arrival order, and ANY
    micro-batch split point, the min(dup_of)-per-doc fold of the kernel's
    emissions equals the batch rule — dup_of(d) = smallest SMALLER id
    whose signature agrees on >= half the perms. Arrival order and split
    may change which rows emit, never what the fold converges to."""
    import random

    import pandas as pd

    from executor_u1mindexer_spark.streaming.dedup_stream import (
        SIG_SIM_THRESHOLD,
        _bucket_dedup_kernel,
        _sig_sim,
    )

    # doc ids span NEGATIVE longs too — a numeric 'no best' sentinel
    # would collide with a legal id (review-caught regression class)
    docs = [(i - 3, sig) for i, sig in enumerate(sigs)]
    expect = {}
    for doc_id, sig in docs:
        q = [
            eid
            for eid, esig in docs
            if eid < doc_id and _sig_sim(sig, esig) >= SIG_SIM_THRESHOLD
        ]
        if q:
            expect[doc_id] = min(q)

    def converged(batches):
        state = _StubState()
        fold: dict[int, int] = {}
        for b in batches:
            if not len(b):
                continue
            pdf = pd.DataFrame(
                {"doc_id": [d for d, _ in b], "sig": [s for _, s in b]}
            )
            out = pd.concat(list(_bucket_dedup_kernel((0,), iter([pdf]), state)))
            for r in out.itertuples():
                d, dup = int(r.doc_id), int(r.dup_of)
                fold[d] = min(fold.get(d, dup), dup)
        return fold

    assert converged([docs]) == expect
    shuffled = docs[:]
    random.Random(order_seed).shuffle(shuffled)
    split = min(split, len(shuffled))
    assert converged([shuffled[:split], shuffled[split:]]) == expect


def test_streaming_sig_confirm_divergence_vs_exact_jaccard_is_zero_on_fixture(
    spark, sf_dir
):
    """VERDICT r09 #6 — the measured cost of the streaming trade.

    The streaming near-dedup ledger confirms banded candidates by
    SIGNATURE agreement (bounded state); the batch rule confirms by exact
    shingle jaccard. This measures the divergence on the fixture, using
    the exact production primitives for both rules over the identical
    candidate set: sf0.01 -> 25 candidate pairs, 0 false-confirms,
    0 misses; sf0.1 (measured once, r10, not asserted here for test
    budget) -> 256 candidate pairs, 0/0. The fixture's near-dups sit far
    from the 0.5 boundary, where E[sig_sim] = jaccard with sigma
    ~= sqrt(j(1-j)/32) ~= 0.09 — divergence is only possible for
    boundary pairs, and the fixture has none. The assert pins BOTH rates
    at zero so a fixture or primitive change that opens a gap is loud."""
    from executor_u1mindexer_spark.functions import text as T
    from executor_u1mindexer_spark.operators import dedup as D
    from executor_u1mindexer_spark.streaming.dedup_stream import SIG_SIM_THRESHOLD

    docs = tables.load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        D.minhash_signature("text").alias("sig"),
        T.word_shingles(F.col("text"), 3).alias("sh"),
    )
    banded = base.select(
        "doc_id", "sig", "sh",
        F.posexplode(D.lsh_band_keys(F.col("sig"))).alias("band_idx", "band_key"),
    )
    a = banded.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"),
        F.col("sh").alias("sh_a"), "band_idx", "band_key",
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"),
        F.col("sh").alias("sh_b"), "band_idx", "band_key",
    )
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
    ) / F.size("sig_a")
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    thr = float(SIG_SIM_THRESHOLD)
    r = cand.select(
        F.count(F.lit(1)).alias("n_cand"),
        F.sum(((agree >= thr) & (jac < 0.5)).cast("long")).alias("false_confirm"),
        F.sum(((agree < thr) & (jac >= 0.5)).cast("long")).alias("miss"),
    ).collect()[0]
    assert r.n_cand > 0  # the fixture must actually exercise the compare
    assert (r.false_confirm, r.miss) == (0, 0), r


def test_streaming_sessionize_capped_matches_batch(spark, sf_dir, tmp_path):
    """streaming_sessionize_capped (r11): over a time-ordered chunked
    replay (the operator's stated arrival contract — four parquet files
    sorted by ts, one file per micro-batch), the drained CLOSED sessions
    must equal the batch sessionize_capped output minus each user's
    final (still-open) session."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from executor_u1mindexer_spark import tables
    from executor_u1mindexer_spark.operators import events as E
    from executor_u1mindexer_spark.streaming import stateful as ST

    gap_s, cap_s = 43_200, 86_400
    events = tables.load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    src = str(tmp_path / "sorted_events")
    # four time-ordered chunks: ntile(4) over (ts, event_id) keeps every
    # file's range disjoint, so per-key arrival is monotone across
    # micro-batches (the test runs at sf0.001 — the global ntile sort is
    # fixture-sized, not an operator under test)
    ranked = events.withColumn(
        "__q", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        ranked.filter(F.col("__q") == i).drop("__q").coalesce(1).write.mode(
            "append" if i > 1 else "overwrite"
        ).parquet(src)
    # overwrite wrote part files unordered in one dir — instead re-list:
    # Spark's file stream picks files in modification order, which the
    # sequential writes above produce; with maxFilesPerTrigger=1 each
    # quartile is its own micro-batch
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_files >= 4
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ST.streaming_sessionize_capped(stream, gap_s, cap_s)
    q = (
        out.writeStream.format("memory")
        .queryName("capped_sessions_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_s, r.session_end_s, r.n_events)
        for r in spark.table("capped_sessions_stream").collect()
    }

    batch = E.sessionize_capped(events, gap_s, cap_s)
    w = Window.partitionBy("user_id").orderBy(F.col("session_start_s").desc())
    closed_batch = (
        batch.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") > 1)  # drop each user's final (open) session
        .drop("__r")
    )
    want = {
        (r.user_id, r.session_start_s, r.session_end_s, r.n_events)
        for r in closed_batch.collect()
    }
    assert got == want and len(want) > 50
