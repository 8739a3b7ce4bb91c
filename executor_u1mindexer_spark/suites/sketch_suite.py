"""Sketch suite (operators/sketch.py): HyperLogLog distinct counting.

Every oracle below is generated from the SAME SQL fragment source as the
Spark implementation (operators/sketch.py), so the register states and
estimates match the DuckDB oracle bit-for-bit — see the module docstring
for the determinism engineering. The registered scale points (p, column)
are chosen so the linear-counting correction branch (the one op without a
cross-engine bit guarantee) never triggers at sf0.01/sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.operators import maintenance as M
from executor_u1mindexer_spark.operators import quantile as QT
from executor_u1mindexer_spark.operators import sketch as SK

P_REGISTERS = 10  # user_id register state: <= 1024 rows, hash-exact
P_EVENTS = 10  # event_id estimate: n ~ 10k/100k >> 2.5 * 1024, no correction
P_USERS = 5  # user_id estimate: n = 150/1500 > 2.5 * 32, no correction
# pass/fail band for the estimate: 5 sigma with sigma ~= 1.04 / sqrt(m).
# The literal gets an explicit e0 exponent — a bare decimal would parse as
# DECIMAL in Spark but DOUBLE in DuckDB (the trap operators/sketch.py pins)
_BOUND = {}
for _p in (P_EVENTS, P_USERS):
    _r = repr(5.0 * 1.04 / (1 << _p) ** 0.5)
    assert "e" not in _r and "E" not in _r, _r
    _BOUND[_p] = _r + "e0"


def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw mergeable sketch state over events.user_id — the artifact a
    100 TB rollup pipeline would persist per day/partition and merge later.
    Integer-only output, bit-exact vs the oracle."""
    events = tables.load(spark, sf_dir, "events")
    return SK.hll_registers(events, "user_id", P_REGISTERS)


def _with_accuracy(est: DataFrame, exact: DataFrame, p: int) -> DataFrame:
    return est.crossJoin(exact).select(
        "est_distinct",
        "n_zero_registers",
        "exact_distinct",
        F.expr(
            "abs(est_distinct - exact_distinct) / exact_distinct "
            f"<= {_BOUND[p]}"
        ).alias("rel_err_ok"),
    )


def sketch_hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL estimate of distinct event_id (p=10, ~3.25% sigma) next to the
    exact count and a 5-sigma accuracy verdict."""
    events = tables.load(spark, sf_dir, "events")
    est = SK.hll_distinct(events, "event_id", P_EVENTS)
    exact = events.agg(F.countDistinct("event_id").alias("exact_distinct"))
    return _with_accuracy(est, exact, P_EVENTS)


def sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract at a deliberately tiny m=32 (p=5, ~18% sigma) over the
    low-cardinality user_id column — the small-register regime."""
    events = tables.load(spark, sf_dir, "events")
    est = SK.hll_distinct(events, "user_id", P_USERS)
    exact = events.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return _with_accuracy(est, exact, P_USERS)


def sketch_hll_merge_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability, the property that makes HLL a 100 TB operator: the
    per-register max of two disjoint half-sketches must equal the sketch of
    the whole table EXACTLY (max is associative/commutative/idempotent)."""
    events = tables.load(spark, sf_dir, "events")
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    merged = SK.hll_merge(
        SK.hll_registers(even, "user_id", P_REGISTERS),
        SK.hll_registers(odd, "user_id", P_REGISTERS),
    )
    whole = SK.hll_registers(events, "user_id", P_REGISTERS)
    j = merged.alias("m").join(whole.alias("w"), "register", "full_outer")
    mismatch = (
        F.col("m.max_rank").isNull()
        | F.col("w.max_rank").isNull()
        | (F.col("m.max_rank") != F.col("w.max_rank"))
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        (F.sum(mismatch.cast("long")) == 0).alias("merged_equals_whole"),
    )


CMS_D, CMS_W = 4, 256
_E = "2.718281828459045e0"
# tokens: same whitespace tokenization contract as text_vocab_topk
_TOKS_SQL = (
    "(SELECT unnest(str_split_regex(lower(text), '\\s+')) AS token "
    "FROM documents)"
)


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from executor_u1mindexer_spark.functions import text as T

    docs = tables.load(spark, sf_dir, "documents")
    return docs.select(F.explode(T.words(F.lower(F.col("text")))).alias("token"))


def sketch_cms_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw count-min state over document tokens: <= d*w integer rows
    out of an arbitrarily large corpus, mergeable by SUM, hash-exact."""
    return SK.cms_state(_tokens(spark, sf_dir), "token", CMS_D, CMS_W)


def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS frequency estimates for the exact top-10 tokens, with the two
    theoretical guarantees surfaced as booleans: the estimate never
    underestimates, and overestimates by at most ceil(e*N/w)."""
    toks = _tokens(spark, sf_dir)
    state = SK.cms_state(toks, "token", CMS_D, CMS_W)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("token").asc())
        .limit(10)
    )
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    est = SK.cms_lookup(state, top, "token", CMS_D, CMS_W)
    return est.crossJoin(total).select(
        "token",
        "est_count",
        "exact_count",
        (F.col("est_count") >= F.col("exact_count")).alias("overestimate_ok"),
        F.expr(
            f"est_count <= exact_count + ceil({_E} * n_total / {CMS_W})"
        ).alias("within_eps_ok"),
    )


def sketch_cms_merge_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS mergeability: counter-wise SUM of two disjoint half-states must
    equal the whole-corpus state exactly (counters are linear)."""
    docs = tables.load(spark, sf_dir, "documents")
    from executor_u1mindexer_spark.functions import text as T

    def toks(side):
        return side.select(
            F.explode(T.words(F.lower(F.col("text")))).alias("token")
        )

    even = toks(docs.filter(F.col("doc_id") % 2 == 0))
    odd = toks(docs.filter(F.col("doc_id") % 2 == 1))
    merged = SK.cms_merge(
        SK.cms_state(even, "token", CMS_D, CMS_W),
        SK.cms_state(odd, "token", CMS_D, CMS_W),
    )
    whole = SK.cms_state(_tokens(spark, sf_dir), "token", CMS_D, CMS_W)
    j = merged.alias("m").join(whole.alias("w"), ["hash_row", "bucket"], "full_outer")
    mismatch = (
        F.col("m.cnt").isNull()
        | F.col("w.cnt").isNull()
        | (F.col("m.cnt") != F.col("w.cnt"))
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_counters"),
        (F.sum(mismatch.cast("long")) == 0).alias("merged_equals_whole"),
    )


def sketch_hll_grouped_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group rollup form — distinct users per event_type, each group
    carrying its own p=5 sketch; one (group, register) shuffle for the
    whole table, the shape of 'distinct users per country per day'."""
    events = tables.load(spark, sf_dir, "events")
    return SK.hll_distinct_grouped(events, "user_id", ["event_type"], P_USERS)


def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on sketches: |viewers ∩ purchasers| estimated by
    inclusion-exclusion over three HLL estimates (A + B − A∪B) — the
    audience-overlap question sketches answer without ever co-shuffling
    the two sides. The union sketch is hll_merge of the two branch states
    (NOT a rescan), so this also exercises merge in an estimate path;
    accuracy is checked against the exact intersection with the standard
    caveat that inclusion-exclusion error scales with the UNION size
    (bound: 5 sigma x est_union)."""
    events = tables.load(spark, sf_dir, "events")
    viewers = events.filter(F.col("event_type") == "view")
    buyers = events.filter(F.col("event_type") == "purchase")
    reg_a = SK.hll_registers(viewers, "user_id", P_USERS)
    reg_b = SK.hll_registers(buyers, "user_id", P_USERS)
    est_a = SK.hll_estimate(reg_a, P_USERS).select(
        F.col("est_distinct").alias("est_viewers")
    )
    est_b = SK.hll_estimate(reg_b, P_USERS).select(
        F.col("est_distinct").alias("est_buyers")
    )
    est_u = SK.hll_estimate(SK.hll_merge(reg_a, reg_b), P_USERS).select(
        F.col("est_distinct").alias("est_union")
    )
    exact = (
        viewers.select("user_id")
        .distinct()
        .join(buyers.select("user_id").distinct(), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    sigma5 = _BOUND[P_USERS]
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .crossJoin(exact)
        .select(
            "est_viewers",
            "est_buyers",
            "est_union",
            F.expr("est_viewers + est_buyers - est_union").alias(
                "est_intersection"
            ),
            "exact_intersection",
            F.expr(
                "abs((est_viewers + est_buyers - est_union) - "
                f"exact_intersection) <= {sigma5} * est_union"
            ).alias("err_ok"),
        )
    )


_INTERSECTION_ORACLE = f"""
WITH a AS ({SK.oracle_estimate_sql(
    "(SELECT * FROM events WHERE event_type = 'view')", "user_id", P_USERS)}),
b AS ({SK.oracle_estimate_sql(
    "(SELECT * FROM events WHERE event_type = 'purchase')", "user_id", P_USERS)}),
u AS ({SK.oracle_estimate_sql(
    "(SELECT * FROM events WHERE event_type IN ('view', 'purchase'))",
    "user_id", P_USERS)}),
exact AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_intersection
  FROM ((SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
        INTERSECT
        (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')) i
)
SELECT a.est_distinct AS est_viewers,
       b.est_distinct AS est_buyers,
       u.est_distinct AS est_union,
       (a.est_distinct + b.est_distinct - u.est_distinct) AS est_intersection,
       exact_intersection,
       (abs((a.est_distinct + b.est_distinct - u.est_distinct)
            - exact_intersection) <= {{bound}} * u.est_distinct) AS err_ok
FROM a CROSS JOIN b CROSS JOIN u CROSS JOIN exact
""".replace("{bound}", _BOUND[P_USERS])


BLOOM_K, BLOOM_M = 4, 4096


def sketch_bloom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom set-bit positions over documents.doc_id — the membership
    member of the sketch trio; <= mbits integer rows, OR-mergeable."""
    docs = tables.load(spark, sf_dir, "documents")
    return SK.bloom_state(docs, "doc_id", BLOOM_K, BLOOM_M)


def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe 10 inserted ids and 10 never-inserted ids: every inserted id
    MUST read present (no false negatives — fn_ok pins the guarantee);
    absent ids may read present only at the engineered fp rate, and both
    engines compute the identical verdicts."""
    docs = tables.load(spark, sf_dir, "documents")
    state = SK.bloom_state(docs, "doc_id", BLOOM_K, BLOOM_M)
    present = docs.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("probe_id"), F.lit(True).alias("expected")
    )
    absent = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000_000).alias("probe_id"),
        F.lit(False).alias("expected"),
    )
    probes = present.unionByName(absent)
    got = SK.bloom_contains(state, probes, "probe_id", BLOOM_K, BLOOM_M)
    return got.select(
        "probe_id",
        "expected",
        "maybe_present",
        (~F.col("expected") | F.col("maybe_present")).alias("fn_ok"),
    )


BLOOM_JOIN_K, BLOOM_JOIN_M = 4, 65536  # sized so sf0.1's ~3k dim keys stay sparse


def sketch_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch family's actual 100 TB use (VERDICT r05 #3): build a
    Bloom state on the small dim side (one customer segment), stamp its
    <= mbits bits into the orders scan as a literal integer predicate
    (sketch.bloom_member_expr — no join, no shuffle, no Python), and
    verify the two guarantees as data: the pruned join equals the direct
    join EXACTLY (no false negatives), and the scan kept strictly fewer
    rows (the measured reduction). All-integer output, hash-exact."""
    cust = tables.load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = tables.load(spark, sf_dir, "orders")
    pruned = SK.bloom_prune_scan(
        orders, cust, "o_custkey", "c_custkey", BLOOM_JOIN_K, BLOOM_JOIN_M
    )
    # r16: the row read the fact side four times (total count, pruned
    # count, direct join, pruned join). Each scan-count + join pair now
    # rides ONE broadcast left join: count(*) is the scan total,
    # count(__hit) / sum(if hit) are the join lanes (c_custkey is the
    # customer PK, so a fact row matches at most once and the left join
    # emits it exactly once). 4 fact passes -> 2 — the pruned-vs-direct
    # comparison the row exists for is untouched.
    dimf = cust.select("c_custkey", F.lit(True).alias("__hit"))
    a_c = (
        orders.join(
            F.broadcast(dimf), orders["o_custkey"] == dimf["c_custkey"], "left"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fact_total"),
            F.count("__hit").cast("long").alias("n_join_direct"),
            F.sum(F.when(F.col("__hit"), F.col("o_orderkey")))
            .cast("long")
            .alias("cs_direct"),
        )
    )
    b_d = (
        pruned.join(
            F.broadcast(dimf), pruned["o_custkey"] == dimf["c_custkey"], "left"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fact_pruned"),
            F.count("__hit").cast("long").alias("n_join_pruned"),
            F.sum(F.when(F.col("__hit"), F.col("o_orderkey")))
            .cast("long")
            .alias("cs_pruned"),
        )
    )
    return (
        a_c.crossJoin(b_d)
        .select(
            "n_fact_total",
            "n_fact_pruned",
            "n_join_direct",
            "n_join_pruned",
            (
                (F.col("n_join_direct") == F.col("n_join_pruned"))
                & (F.col("cs_direct") == F.col("cs_pruned"))
            ).alias("results_equal"),
            (F.col("n_fact_pruned") < F.col("n_fact_total")).alias("scan_reduced"),
        )
    )


def sketch_cms_lookup_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the CMS with 5 observed tokens AND 5 synthetic never-inserted
    tokens — the regression row for the r06 left-join default: unseen
    probes must come back (10 rows always) with their min-counter
    estimate, which still obeys both CMS guarantees (never below the true
    count — 0 for unseen — and within eps*N above it)."""
    toks = _tokens(spark, sf_dir)
    state = SK.cms_state(toks, "token", CMS_D, CMS_W)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("token").asc())
        .limit(5)
    )
    unseen = spark.range(5).select(
        F.concat(F.lit("__never_inserted_"), F.col("id")).alias("token"),
        F.lit(0).cast("long").alias("exact_count"),
    )
    probes = top.unionByName(unseen)
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    est = SK.cms_lookup(state, probes, "token", CMS_D, CMS_W)
    return est.crossJoin(total).select(
        "token",
        "est_count",
        "exact_count",
        (F.col("est_count") >= F.col("exact_count")).alias("overestimate_ok"),
        F.expr(
            f"est_count <= exact_count + ceil({_E} * n_total / {CMS_W})"
        ).alias("within_eps_ok"),
    )


def _lang_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from executor_u1mindexer_spark.functions import text as T

    docs = tables.load(spark, sf_dir, "documents")
    return docs.select(
        "lang", F.explode(T.words(F.lower(F.col("text")))).alias("token")
    )


_LANG_TOKS_SQL = (
    "(SELECT lang, unnest(str_split_regex(lower(text), '\\s+')) AS token "
    "FROM documents)"
)


def sketch_cms_grouped_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group CMS states — token frequencies per language, the 'top
    URLs per day' rollup shape (VERDICT r05 #7): ONE (group, row, bucket)
    shuffle, <= n_langs * d * w integer rows out, SUM-mergeable per
    group, hash-exact vs the oracle."""
    return SK.cms_state_grouped(
        _lang_tokens(spark, sf_dir), "token", ["lang"], CMS_D, CMS_W
    )


def sketch_cms_grouped_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tokens per language with both CMS guarantees checked against
    each group's OWN eps budget (eps = e/w of that language's token
    count) — per-group frequency estimates out of one shared shuffle."""
    from pyspark.sql import Window

    toks = _lang_tokens(spark, sf_dir)
    state = SK.cms_state_grouped(toks, "token", ["lang"], CMS_D, CMS_W)
    counts = toks.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    wspec = Window.partitionBy("lang").orderBy(
        F.col("exact_count").desc(), F.col("token").asc()
    )
    top = (
        counts.withColumn("__rn", F.row_number().over(wspec))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
    )
    totals = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_total_lang")
    )
    est = SK.cms_lookup_grouped(state, top, "token", ["lang"], CMS_D, CMS_W)
    return est.join(totals, "lang").select(
        "lang",
        "token",
        "est_count",
        "exact_count",
        (F.col("est_count") >= F.col("exact_count")).alias("overestimate_ok"),
        F.expr(
            f"est_count <= exact_count + ceil({_E} * n_total_lang / {CMS_W})"
        ).alias("within_eps_ok"),
    )


QP, QS_TILES = 8, 64  # <= 512 state rows; err_budget ~ N/64 + 8


def sketch_quantile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable equi-depth quantile state (operators/quantile.py —
    Munro-Paterson/MRL-style, the family's quantile member, VERDICT r05
    #4) over orders.o_totalprice: <= p*s (bucket, tile, rep_value,
    weight) rows out of any input size, bit-exact vs the oracle (rep
    values are comparisons-only — no float arithmetic anywhere)."""
    orders = tables.load(spark, sf_dir, "orders")
    return QT.quantile_state(orders, "o_totalprice", "o_orderkey", QP, QS_TILES)


def sketch_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank queries (p50/p90/p99) from the state, with the sketch's two
    rank guarantees verified as booleans against the exact data ranks:
    count(v <= est) >= target, and count(v < est) <= target + max_tile +
    err_budget — every bound computed EXACTLY from the state itself. The
    estimate is a raw data value, so it matches the oracle bit-for-bit."""
    orders = tables.load(spark, sf_dir, "orders")
    st = QT.quantile_state(orders, "o_totalprice", "o_orderkey", QP, QS_TILES)
    est = QT.quantile_estimate(st, [0.5, 0.9, 0.99])
    vals = orders.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    ).select(F.col("o_totalprice").cast("double").alias("v"))
    ranks = (
        vals.crossJoin(F.broadcast(est))
        .groupBy("q", "n_total", "target", "err_budget", "max_tile", "est_value")
        .agg(
            F.sum((F.col("v") <= F.col("est_value")).cast("long"))
            .cast("long")
            .alias("rank_le"),
            F.sum((F.col("v") < F.col("est_value")).cast("long"))
            .cast("long")
            .alias("rank_lt"),
        )
    )
    return ranks.select(
        "q",
        "est_value",
        "n_total",
        "target",
        "err_budget",
        "max_tile",
        "rank_le",
        "rank_lt",
        (F.col("rank_le") >= F.col("target")).alias("lo_ok"),
        (
            F.col("rank_lt")
            <= F.col("target") + F.col("max_tile") + F.col("err_budget")
        ).alias("hi_ok"),
    )


def sketch_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability: states built on two disjoint halves, UNIONED (never
    rescanning raw data), answering p25/p75 over the WHOLE table within
    the summed error budgets — the per-day rollup property that makes
    this a 100 TB operator."""
    orders = tables.load(spark, sf_dir, "orders")
    even = orders.filter(F.col("o_orderkey") % 2 == 0)
    odd = orders.filter(F.col("o_orderkey") % 2 == 1)
    merged = QT.quantile_merge(
        QT.quantile_state(even, "o_totalprice", "o_orderkey", QP, QS_TILES),
        QT.quantile_state(odd, "o_totalprice", "o_orderkey", QP, QS_TILES),
    )
    est = QT.quantile_estimate(
        merged,
        [0.25, 0.75],
        bucket_cols=["src", "bucket"],
        order_cols=["src", "bucket", "tile"],
    )
    vals = orders.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    ).select(F.col("o_totalprice").cast("double").alias("v"))
    ranks = (
        vals.crossJoin(F.broadcast(est))
        .groupBy("q", "n_total", "target", "err_budget", "max_tile", "est_value")
        .agg(
            F.sum((F.col("v") <= F.col("est_value")).cast("long"))
            .cast("long")
            .alias("rank_le"),
            F.sum((F.col("v") < F.col("est_value")).cast("long"))
            .cast("long")
            .alias("rank_lt"),
        )
    )
    return ranks.select(
        "q",
        "est_value",
        "n_total",
        "target",
        "err_budget",
        "max_tile",
        "rank_le",
        "rank_lt",
        (F.col("rank_le") >= F.col("target")).alias("lo_ok"),
        (
            F.col("rank_lt")
            <= F.col("target") + F.col("max_tile") + F.col("err_budget")
        ).alias("hi_ok"),
    )


def sketch_quantile_grouped_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group equi-depth states — value quantiles per event_type, the
    'p99 per endpoint per day' rollup shape: ONE (group, bucket) shuffle,
    <= p*s rows per group, bit-exact vs the oracle."""
    events = tables.load(spark, sf_dir, "events")
    return QT.quantile_state_grouped(
        events, "value", "event_id", ["event_type"], QP, QS_TILES
    )


def sketch_quantile_grouped_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90 of events.value PER event_type from the grouped state, each
    group's rank guarantees checked against its own exact ranks."""
    events = tables.load(spark, sf_dir, "events")
    st = QT.quantile_state_grouped(
        events, "value", "event_id", ["event_type"], QP, QS_TILES
    )
    est = QT.quantile_estimate_grouped(st, [0.5, 0.9], ["event_type"])
    vals = events.filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    ).select("event_type", F.col("value").cast("double").alias("v"))
    ranks = (
        vals.join(F.broadcast(est), "event_type")
        .groupBy(
            "event_type", "q", "n_total", "target", "err_budget", "max_tile",
            "est_value",
        )
        .agg(
            F.sum((F.col("v") <= F.col("est_value")).cast("long"))
            .cast("long")
            .alias("rank_le"),
            F.sum((F.col("v") < F.col("est_value")).cast("long"))
            .cast("long")
            .alias("rank_lt"),
        )
    )
    return ranks.select(
        "event_type",
        "q",
        "est_value",
        "n_total",
        "target",
        "err_budget",
        "max_tile",
        "rank_le",
        "rank_lt",
        (F.col("rank_le") >= F.col("target")).alias("lo_ok"),
        (
            F.col("rank_lt")
            <= F.col("target") + F.col("max_tile") + F.col("err_budget")
        ).alias("hi_ok"),
    )


def sketch_quantile_clip_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch USED by a pipeline (r06): winsorization bounds.
    p1/p99 cut points come from the sketch (raw data values — bit-exact),
    then one scan partitions orders into below/kept/above. The 100 TB
    shape of robust-scaling / outlier-capping a feature pipeline runs:
    sketch pass + map-only filter, never a global sort."""
    orders = tables.load(spark, sf_dir, "orders")
    st = QT.quantile_state(orders, "o_totalprice", "o_orderkey", QP, QS_TILES)
    est = QT.quantile_estimate(st, [0.01, 0.99])
    bounds = est.agg(
        F.min(F.when(F.col("q") == 0.01, F.col("est_value"))).alias("lo_cut"),
        F.min(F.when(F.col("q") == 0.99, F.col("est_value"))).alias("hi_cut"),
    )
    vals = orders.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    ).select(F.col("o_totalprice").cast("double").alias("v"))
    return vals.crossJoin(F.broadcast(bounds)).agg(
        F.min("lo_cut").alias("lo_cut"),
        F.min("hi_cut").alias("hi_cut"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum((F.col("v") < F.col("lo_cut")).cast("long"))
        .cast("long")
        .alias("n_below"),
        F.sum(
            ((F.col("v") >= F.col("lo_cut")) & (F.col("v") <= F.col("hi_cut"))).cast(
                "long"
            )
        )
        .cast("long")
        .alias("n_kept"),
        F.sum((F.col("v") > F.col("hi_cut")).cast("long"))
        .cast("long")
        .alias("n_above"),
    )


AMS_D = 64
# 5 sigma with sigma_rel = sqrt(2/d) for the F2 estimator
_AMS_R = repr(5.0 * (2.0 / AMS_D) ** 0.5)
assert "e" not in _AMS_R and "E" not in _AMS_R, _AMS_R
_AMS_BOUND = _AMS_R + "e0"


def sketch_ams_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second frequency moment (r06, the frequency-MOMENT member of
    the sketch family — Alon-Matias-Szegedy): F2 = sum f(token)^2 (the
    token repeat rate / self-join size) estimated from d=64 signed
    counters next to the exact value and a 5-sigma verdict. Counters are
    exact integers, bit-identical to the oracle; only the final relative-
    error compare is the HLL rows' shared-double pattern."""
    toks = _tokens(spark, sf_dir).filter(F.col("token").isNotNull())
    st = SK.ams_state(toks, "token", AMS_D)
    est = SK.ams_f2_estimate(st, AMS_D)
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .agg(F.sum(F.col("__n") * F.col("__n")).cast("long").alias("exact_f2"))
    )
    return est.crossJoin(exact).select(
        "est_f2",
        "n_counters",
        "exact_f2",
        F.expr(
            "abs(CAST(est_f2 AS DOUBLE) - CAST(exact_f2 AS DOUBLE))"
            f" / CAST(exact_f2 AS DOUBLE) <= {_AMS_BOUND}"
        ).alias("rel_err_ok"),
    )


def sketch_ams_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-CARDINALITY estimation without the join (r06) — the query-
    planner primitive: orders and lineitem key columns sketched with the
    SAME sign hashes, |orders JOIN lineitem| estimated as the counter
    inner product. Verified against the executed join with the standard
    5*sqrt(2*F2a*F2b/d) bound; sum_products is the bit-exact integer
    artifact, the scalar estimate its engine-identical double."""
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    sa = SK.ams_state(orders, "o_orderkey", AMS_D)
    sb = SK.ams_state(li, "l_orderkey", AMS_D)
    est = SK.ams_inner_product(sa, sb, AMS_D)
    exact = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join_size"))
    )

    def _f2(df, key):
        return (
            df.filter(F.col(key).isNotNull())
            .groupBy(key)
            .agg(F.count(F.lit(1)).cast("long").alias("__n"))
            .agg(F.sum(F.col("__n") * F.col("__n")).cast("long").alias("f2"))
        )

    f2a = _f2(orders, "o_orderkey").withColumnRenamed("f2", "f2_a")
    f2b = _f2(li, "l_orderkey").withColumnRenamed("f2", "f2_b")
    return (
        est.crossJoin(exact)
        .crossJoin(f2a)
        .crossJoin(f2b)
        .select(
            "sum_products",
            "est_join_size",
            "exact_join_size",
            "f2_a",
            "f2_b",
            F.expr(
                "abs(est_join_size - CAST(exact_join_size AS DOUBLE)) <= "
                "5.0e0 * sqrt(2.0e0 * CAST(f2_a AS DOUBLE)"
                f" * CAST(f2_b AS DOUBLE) / {AMS_D}.0e0)"
            ).alias("err_ok"),
        )
    )


_VARIANT_QUERIES = {
    "sketch_hll_registers": sketch_hll_registers,
    "sketch_hll_distinct_events": sketch_hll_distinct_events,
    "sketch_hll_distinct_users": sketch_hll_distinct_users,
    "sketch_hll_merge_partitions": sketch_hll_merge_partitions,
    "sketch_cms_state": sketch_cms_state,
    "sketch_cms_heavy_hitters": sketch_cms_heavy_hitters,
    "sketch_cms_merge_partitions": sketch_cms_merge_partitions,
    "sketch_bloom_state": sketch_bloom_state,
    "sketch_bloom_membership": sketch_bloom_membership,
    "sketch_hll_grouped_by_type": sketch_hll_grouped_by_type,
    "sketch_hll_intersection": sketch_hll_intersection,
    "sketch_bloom_join_prune": sketch_bloom_join_prune,
    "sketch_cms_lookup_unseen": sketch_cms_lookup_unseen,
    "sketch_cms_grouped_state": sketch_cms_grouped_state,
    "sketch_cms_grouped_heavy_hitters": sketch_cms_grouped_heavy_hitters,
    "sketch_quantile_state": sketch_quantile_state,
    "sketch_quantile_estimate": sketch_quantile_estimate,
    "sketch_quantile_merge": sketch_quantile_merge,
    "sketch_quantile_grouped_state": sketch_quantile_grouped_state,
    "sketch_quantile_grouped_estimate": sketch_quantile_grouped_estimate,
    "sketch_quantile_clip_outliers": sketch_quantile_clip_outliers,
    "sketch_ams_f2_tokens": sketch_ams_f2_tokens,
    "sketch_ams_join_size": sketch_ams_join_size,
}


def _estimate_oracle(col: str, p: int) -> str:
    est = SK.oracle_estimate_sql("events", col, p)
    return f"""
WITH est AS ({est}),
exact AS (SELECT CAST(count(DISTINCT {col}) AS BIGINT) AS exact_distinct
          FROM events WHERE {col} IS NOT NULL)
SELECT est_distinct, n_zero_registers, exact_distinct,
       (abs(est_distinct - exact_distinct) / exact_distinct <= {_BOUND[p]})
         AS rel_err_ok
FROM est CROSS JOIN exact
"""


_MERGE_ORACLE = f"""
WITH even_regs AS ({SK.oracle_registers_sql(
    "(SELECT * FROM events WHERE event_id % 2 = 0)", "user_id", P_REGISTERS)}),
odd_regs AS ({SK.oracle_registers_sql(
    "(SELECT * FROM events WHERE event_id % 2 = 1)", "user_id", P_REGISTERS)}),
merged AS (
  SELECT register, CAST(max(max_rank) AS BIGINT) AS max_rank
  FROM (SELECT * FROM even_regs UNION ALL SELECT * FROM odd_regs) u
  GROUP BY register
),
whole AS ({SK.oracle_registers_sql("events", "user_id", P_REGISTERS)})
SELECT CAST(count(*) AS BIGINT) AS n_registers,
       (CAST(sum(CASE WHEN m.max_rank IS NULL OR w.max_rank IS NULL
                        OR m.max_rank <> w.max_rank
                      THEN 1 ELSE 0 END) AS BIGINT) = 0) AS merged_equals_whole
FROM merged m FULL OUTER JOIN whole w USING (register)
"""


def _cms_probe_arms(item_source: str) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT token, exact_count, {i} AS hash_row, "
        f"CAST({SK._sliced_pos_sql('token', i, CMS_W, 'cms', 'duck')} AS BIGINT)"
        f" AS bucket FROM {item_source}"
        for i in range(CMS_D)
    )


_CMS_HH_ORACLE = f"""
WITH toks AS {_TOKS_SQL},
state AS ({SK.oracle_cms_state_sql("toks", "token", CMS_D, CMS_W)}),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks
          WHERE token IS NOT NULL),
top AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY token
  ORDER BY exact_count DESC, token ASC LIMIT 10
),
probes AS ({_cms_probe_arms("top")}),
est AS (
  -- left join + coalesce(0) mirrors cms_lookup's unseen-item default
  SELECT p.token, p.exact_count,
         CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est_count
  FROM probes p LEFT JOIN state s USING (hash_row, bucket)
  GROUP BY p.token, p.exact_count
)
SELECT token, est_count, exact_count,
       (est_count >= exact_count) AS overestimate_ok,
       (est_count <= exact_count + ceil({_E} * n_total / {CMS_W}))
         AS within_eps_ok
FROM est CROSS JOIN total
"""


_TOKS_EVEN = (
    "(SELECT unnest(str_split_regex(lower(text), '\\s+')) AS token "
    "FROM documents WHERE doc_id % 2 = 0)"
)
_TOKS_ODD = (
    "(SELECT unnest(str_split_regex(lower(text), '\\s+')) AS token "
    "FROM documents WHERE doc_id % 2 = 1)"
)

_CMS_MERGE_ORACLE = f"""
WITH even_state AS ({SK.oracle_cms_state_sql(_TOKS_EVEN, "token", CMS_D, CMS_W)}),
odd_state AS ({SK.oracle_cms_state_sql(_TOKS_ODD, "token", CMS_D, CMS_W)}),
merged AS (
  SELECT hash_row, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM (SELECT * FROM even_state UNION ALL SELECT * FROM odd_state) u
  GROUP BY hash_row, bucket
),
whole AS ({SK.oracle_cms_state_sql(_TOKS_SQL, "token", CMS_D, CMS_W)})
SELECT CAST(count(*) AS BIGINT) AS n_counters,
       (CAST(sum(CASE WHEN m.cnt IS NULL OR w.cnt IS NULL OR m.cnt <> w.cnt
                      THEN 1 ELSE 0 END) AS BIGINT) = 0) AS merged_equals_whole
FROM merged m FULL OUTER JOIN whole w USING (hash_row, bucket)
"""


def _bloom_probe_arms() -> str:
    probes = (
        "(SELECT doc_id AS probe_id, true AS expected FROM documents "
        "WHERE doc_id < 10 "
        "UNION ALL "
        "SELECT doc_id + 1000000000 AS probe_id, false AS expected "
        "FROM documents WHERE doc_id < 10)"
    )
    return "\nUNION ALL\n".join(
        f"SELECT probe_id, expected, "
        f"CAST({SK._sliced_pos_sql('probe_id', i, BLOOM_M, 'bloom', 'duck')} AS BIGINT)"
        f" AS bit FROM {probes} probes{i}"
        for i in range(BLOOM_K)
    )


_BLOOM_MEMBERSHIP_ORACLE = f"""
WITH state AS ({SK.oracle_bloom_state_sql("documents", "doc_id", BLOOM_K, BLOOM_M)}),
coords AS ({_bloom_probe_arms()}),
verdicts AS (
  -- all-bits-set as "no missing bit" (mirrors the operator's min(hit)==1;
  -- a sum(hit)==k form would false-negative on duplicated probe rows)
  SELECT c.probe_id, c.expected,
         (CAST(sum(CASE WHEN s.bit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            = 0) AS maybe_present
  FROM coords c LEFT JOIN state s USING (bit)
  GROUP BY c.probe_id, c.expected
)
SELECT probe_id, expected, maybe_present,
       ((NOT expected) OR maybe_present) AS fn_ok
FROM verdicts
"""


def _bloom_join_probe_arms() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT o_orderkey, "
        f"CAST({SK._sliced_pos_sql('o_custkey', i, BLOOM_JOIN_M, 'bloom', 'duck')}"
        f" AS BIGINT) AS bit FROM orders"
        for i in range(BLOOM_JOIN_K)
    )


_BLOOM_JOIN_ORACLE = f"""
WITH dim AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
state AS ({SK.oracle_bloom_state_sql("dim", "c_custkey", BLOOM_JOIN_K, BLOOM_JOIN_M)}),
coords AS ({_bloom_join_probe_arms()}),
kept AS (
  SELECT o_orderkey
  FROM coords c LEFT JOIN state s USING (bit)
  GROUP BY o_orderkey
  HAVING CAST(sum(CASE WHEN s.bit IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0
),
pruned AS (SELECT o.* FROM orders o JOIN kept USING (o_orderkey)),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_fact_total FROM orders),
b AS (SELECT CAST(count(*) AS BIGINT) AS n_fact_pruned FROM pruned),
c AS (SELECT CAST(count(*) AS BIGINT) AS n_join_direct,
             CAST(sum(o_orderkey) AS BIGINT) AS cs_direct
      FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey),
d2 AS (SELECT CAST(count(*) AS BIGINT) AS n_join_pruned,
              CAST(sum(o_orderkey) AS BIGINT) AS cs_pruned
       FROM pruned p JOIN dim d ON p.o_custkey = d.c_custkey)
SELECT n_fact_total, n_fact_pruned, n_join_direct, n_join_pruned,
       (n_join_direct = n_join_pruned AND cs_direct = cs_pruned) AS results_equal,
       (n_fact_pruned < n_fact_total) AS scan_reduced
FROM a CROSS JOIN b CROSS JOIN c CROSS JOIN d2
"""


_CMS_UNSEEN_ORACLE = f"""
WITH toks AS {_TOKS_SQL},
state AS ({SK.oracle_cms_state_sql("toks", "token", CMS_D, CMS_W)}),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks
          WHERE token IS NOT NULL),
top AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY token
  ORDER BY exact_count DESC, token ASC LIMIT 5
),
unseen AS (
  SELECT concat('__never_inserted_', CAST(r AS VARCHAR)) AS token,
         CAST(0 AS BIGINT) AS exact_count
  FROM range(5) t(r)
),
probes_src AS (SELECT * FROM top UNION ALL SELECT * FROM unseen),
probes AS ({_cms_probe_arms("probes_src")}),
est AS (
  SELECT p.token, p.exact_count,
         CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est_count
  FROM probes p LEFT JOIN state s USING (hash_row, bucket)
  GROUP BY p.token, p.exact_count
)
SELECT token, est_count, exact_count,
       (est_count >= exact_count) AS overestimate_ok,
       (est_count <= exact_count + ceil({_E} * n_total / {CMS_W}))
         AS within_eps_ok
FROM est CROSS JOIN total
"""


def _cms_grouped_probe_arms(item_source: str) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT lang, token, exact_count, {i} AS hash_row, "
        f"CAST({SK._sliced_pos_sql('token', i, CMS_W, 'cms', 'duck')} AS BIGINT)"
        f" AS bucket FROM {item_source}"
        for i in range(CMS_D)
    )


_CMS_GROUPED_HH_ORACLE = f"""
WITH toks AS {_LANG_TOKS_SQL},
state AS ({SK.oracle_cms_state_grouped_sql("toks", "token", ["lang"], CMS_D, CMS_W)}),
counts AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY lang, token
),
top AS (
  SELECT lang, token, exact_count FROM (
    SELECT *, row_number() OVER (PARTITION BY lang
               ORDER BY exact_count DESC, token ASC) AS rn
    FROM counts
  ) r WHERE rn <= 3
),
totals AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total_lang
           FROM toks GROUP BY lang),
probes AS ({_cms_grouped_probe_arms("top")}),
est AS (
  SELECT p.lang, p.token, p.exact_count,
         CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est_count
  FROM probes p LEFT JOIN state s USING (lang, hash_row, bucket)
  GROUP BY p.lang, p.token, p.exact_count
)
SELECT e.lang, token, est_count, exact_count,
       (est_count >= exact_count) AS overestimate_ok,
       (est_count <= exact_count + ceil({_E} * n_total_lang / {CMS_W}))
         AS within_eps_ok
FROM est e JOIN totals t ON e.lang = t.lang
"""


_QSTATE_SQL = QT.oracle_state_sql("orders", "o_totalprice", "o_orderkey", QP, QS_TILES)

_QRANK_TAIL = """
vals AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
         WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL),
ranks AS (
  SELECT q, n_total, target, err_budget, max_tile, est_value,
         CAST(sum(CASE WHEN v <= est_value THEN 1 ELSE 0 END) AS BIGINT)
           AS rank_le,
         CAST(sum(CASE WHEN v < est_value THEN 1 ELSE 0 END) AS BIGINT)
           AS rank_lt
  FROM vals CROSS JOIN est
  GROUP BY q, n_total, target, err_budget, max_tile, est_value
)
SELECT q, est_value, n_total, target, err_budget, max_tile, rank_le, rank_lt,
       (rank_le >= target) AS lo_ok,
       (rank_lt <= target + max_tile + err_budget) AS hi_ok
FROM ranks
"""

_QEST_ORACLE = f"""
WITH state AS ({_QSTATE_SQL}),
est AS ({QT.oracle_estimate_body_sql("state", [0.5, 0.9, 0.99])}),
{_QRANK_TAIL}
"""

_QMERGE_ORACLE = f"""
WITH se AS ({QT.oracle_state_sql(
    "(SELECT * FROM orders WHERE o_orderkey % 2 = 0)",
    "o_totalprice", "o_orderkey", QP, QS_TILES)}),
so AS ({QT.oracle_state_sql(
    "(SELECT * FROM orders WHERE o_orderkey % 2 = 1)",
    "o_totalprice", "o_orderkey", QP, QS_TILES)}),
merged AS (SELECT CAST(0 AS BIGINT) AS src, * FROM se
           UNION ALL SELECT CAST(1 AS BIGINT) AS src, * FROM so),
est AS ({QT.oracle_estimate_body_sql(
    "merged", [0.25, 0.75], ["src", "bucket"], ["src", "bucket", "tile"])}),
{_QRANK_TAIL}
"""


_QGSTATE_SQL = QT.oracle_state_grouped_sql(
    "events", "value", "event_id", ["event_type"], QP, QS_TILES
)

_QGEST_ORACLE = f"""
WITH state AS ({_QGSTATE_SQL}),
est AS ({QT.oracle_estimate_grouped_body_sql("state", [0.5, 0.9], ["event_type"])}),
vals AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
         WHERE value IS NOT NULL AND event_id IS NOT NULL),
ranks AS (
  SELECT est.event_type, q, n_total, target, err_budget, max_tile, est_value,
         CAST(sum(CASE WHEN v <= est_value THEN 1 ELSE 0 END) AS BIGINT)
           AS rank_le,
         CAST(sum(CASE WHEN v < est_value THEN 1 ELSE 0 END) AS BIGINT)
           AS rank_lt
  FROM vals JOIN est ON vals.event_type = est.event_type
  GROUP BY est.event_type, q, n_total, target, err_budget, max_tile, est_value
)
SELECT event_type, q, est_value, n_total, target, err_budget, max_tile,
       rank_le, rank_lt,
       (rank_le >= target) AS lo_ok,
       (rank_lt <= target + max_tile + err_budget) AS hi_ok
FROM ranks
"""


_VARIANT_ORACLES = {
    "sketch_hll_registers": SK.oracle_registers_sql("events", "user_id", P_REGISTERS),
    "sketch_hll_distinct_events": _estimate_oracle("event_id", P_EVENTS),
    "sketch_hll_distinct_users": _estimate_oracle("user_id", P_USERS),
    "sketch_hll_merge_partitions": _MERGE_ORACLE,
    "sketch_cms_state": SK.oracle_cms_state_sql(_TOKS_SQL, "token", CMS_D, CMS_W),
    "sketch_cms_heavy_hitters": _CMS_HH_ORACLE,
    "sketch_cms_merge_partitions": _CMS_MERGE_ORACLE,
    "sketch_bloom_state": SK.oracle_bloom_state_sql(
        "documents", "doc_id", BLOOM_K, BLOOM_M
    ),
    "sketch_bloom_membership": _BLOOM_MEMBERSHIP_ORACLE,
    "sketch_hll_grouped_by_type": SK.oracle_estimate_grouped_sql(
        "events", "user_id", ["event_type"], P_USERS
    ),
    "sketch_hll_intersection": _INTERSECTION_ORACLE,
    "sketch_bloom_join_prune": _BLOOM_JOIN_ORACLE,
    "sketch_cms_lookup_unseen": _CMS_UNSEEN_ORACLE,
    "sketch_cms_grouped_state": SK.oracle_cms_state_grouped_sql(
        _LANG_TOKS_SQL, "token", ["lang"], CMS_D, CMS_W
    ),
    "sketch_cms_grouped_heavy_hitters": _CMS_GROUPED_HH_ORACLE,
    "sketch_quantile_state": _QSTATE_SQL,
    "sketch_quantile_estimate": _QEST_ORACLE,
    "sketch_quantile_merge": _QMERGE_ORACLE,
    "sketch_quantile_grouped_state": _QGSTATE_SQL,
    "sketch_quantile_grouped_estimate": _QGEST_ORACLE,
    "sketch_ams_f2_tokens": f"""
WITH toks AS {_TOKS_SQL},
state AS ({SK.oracle_ams_state_sql("toks", "token", AMS_D)}),
est AS (
  SELECT CAST(sum(z * z) // {AMS_D} AS BIGINT) AS est_f2,
         CAST(count(*) AS BIGINT) AS n_counters
  FROM state
),
exact AS (
  SELECT CAST(sum(__n * __n) AS BIGINT) AS exact_f2
  FROM (SELECT CAST(count(*) AS BIGINT) AS __n
        FROM toks WHERE token IS NOT NULL GROUP BY token) c
)
SELECT est_f2, n_counters, exact_f2,
       (abs(CAST(est_f2 AS DOUBLE) - CAST(exact_f2 AS DOUBLE))
          / CAST(exact_f2 AS DOUBLE) <= {_AMS_BOUND}) AS rel_err_ok
FROM est CROSS JOIN exact
""",
    "sketch_ams_join_size": f"""
WITH sa AS ({SK.oracle_ams_state_sql("orders", "o_orderkey", AMS_D)}),
sb AS ({SK.oracle_ams_state_sql("lineitem", "l_orderkey", AMS_D)}),
est AS (
  SELECT CAST(sum(coalesce(a.z, 0) * coalesce(b.z, 0)) AS BIGINT)
           AS sum_products
  FROM sa a FULL OUTER JOIN sb b USING (hash_row)
),
exact AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_join_size
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
f2a AS (
  SELECT CAST(sum(__n * __n) AS BIGINT) AS f2_a
  FROM (SELECT CAST(count(*) AS BIGINT) AS __n
        FROM orders WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey) x
),
f2b AS (
  SELECT CAST(sum(__n * __n) AS BIGINT) AS f2_b
  FROM (SELECT CAST(count(*) AS BIGINT) AS __n
        FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey) x
)
SELECT sum_products,
       (CAST(sum_products AS DOUBLE) / {AMS_D}.0e0) AS est_join_size,
       exact_join_size, f2_a, f2_b,
       (abs((CAST(sum_products AS DOUBLE) / {AMS_D}.0e0)
            - CAST(exact_join_size AS DOUBLE)) <=
        5.0e0 * sqrt(2.0e0 * CAST(f2_a AS DOUBLE) * CAST(f2_b AS DOUBLE)
                     / {AMS_D}.0e0)) AS err_ok
FROM est CROSS JOIN exact CROSS JOIN f2a CROSS JOIN f2b
""",
    "sketch_quantile_clip_outliers": f"""
WITH state AS ({_QSTATE_SQL}),
est AS ({QT.oracle_estimate_body_sql("state", [0.01, 0.99])}),
bounds AS (
  SELECT min(CASE WHEN q = 0.01e0 THEN est_value END) AS lo_cut,
         min(CASE WHEN q = 0.99e0 THEN est_value END) AS hi_cut
  FROM est
),
vals AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
         WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL)
SELECT min(lo_cut) AS lo_cut, min(hi_cut) AS hi_cut,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN v < lo_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       CAST(sum(CASE WHEN v >= lo_cut AND v <= hi_cut THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN v > hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM vals CROSS JOIN bounds
""",
}


# -- registry folding (VERDICT r09 #3) ----------------------------------------
# The 23-row sketch grid (state/estimate/merge/grouped x HLL/CMS/Bloom/
# quantile/AMS) folds into 5 parameterized twin rows under the canonical
# melted schema of suites/_fold.py — every variant's every output column
# still reaches the driver compare (tagged variant+metric), but the family
# consumes ONE driver-window slot instead of 21. The two structurally
# distinct rows (bloom_join_prune: a scan-prune plan op; quantile_clip:
# a composed pipeline op) stay registered individually. Composite integer
# key expressions keep the <=2-string-key melt shape: the multipliers
# (1000) strictly dominate the folded-in coordinate's range (tile <= 64,
# bucket < 256), so the packing is collision-free; float q keys round to
# integer percentiles before the string cast (no cross-engine float
# formatting dependency).

from executor_u1mindexer_spark.suites import _fold as FD

_Q100 = "CAST(round(q * 100, 0) AS BIGINT)"
_QEST_METRICS = [
    "est_value", "n_total", "target", "err_budget", "max_tile",
    "rank_le", "rank_lt", "lo_ok", "hi_ok",
]
_QEST_LANES = {"bools": {"lo_ok", "hi_ok"}}
_CMS_PROBE_METRICS = ["est_count", "exact_count", "overestimate_ok", "within_eps_ok"]
_CMS_PROBE_LANES = {"bools": {"overestimate_ok", "within_eps_ok"}}

FAMILIES = {
    "sketch_hll": [
        ("sketch_hll_registers", ["register"], ["max_rank"], {}),
        ("sketch_hll_distinct_events", [],
         ["est_distinct", "n_zero_registers", "exact_distinct", "rel_err_ok"],
         {"bools": {"rel_err_ok"}}),
        ("sketch_hll_distinct_users", [],
         ["est_distinct", "n_zero_registers", "exact_distinct", "rel_err_ok"],
         {"bools": {"rel_err_ok"}}),
        ("sketch_hll_merge_partitions", [],
         ["n_registers", "merged_equals_whole"],
         {"bools": {"merged_equals_whole"}}),
        ("sketch_hll_grouped_by_type", ["event_type"],
         ["est_distinct", "n_zero_registers"], {}),
        ("sketch_hll_intersection", [],
         ["est_viewers", "est_buyers", "est_union", "est_intersection",
          "exact_intersection", "err_ok"],
         {"bools": {"err_ok"}}),
    ],
    "sketch_cms": [
        ("sketch_cms_state", ["hash_row", "bucket"], ["cnt"], {}),
        ("sketch_cms_heavy_hitters", ["token"], _CMS_PROBE_METRICS, _CMS_PROBE_LANES),
        ("sketch_cms_merge_partitions", [],
         ["n_counters", "merged_equals_whole"],
         {"bools": {"merged_equals_whole"}}),
        ("sketch_cms_lookup_unseen", ["token"], _CMS_PROBE_METRICS, _CMS_PROBE_LANES),
        ("sketch_cms_grouped_state", ["lang", "hash_row * 1000 + bucket"],
         ["cnt"], {}),
        ("sketch_cms_grouped_heavy_hitters", ["lang", "token"],
         _CMS_PROBE_METRICS, _CMS_PROBE_LANES),
    ],
    "sketch_bloom": [
        ("sketch_bloom_state", [], ["bit"], {}),
        ("sketch_bloom_membership", ["probe_id"],
         ["expected", "maybe_present", "fn_ok"],
         {"bools": {"expected", "maybe_present", "fn_ok"}}),
    ],
    "sketch_quantile": [
        ("sketch_quantile_state", ["bucket", "tile"], ["rep_value", "weight"], {}),
        ("sketch_quantile_estimate", [_Q100], _QEST_METRICS, _QEST_LANES),
        ("sketch_quantile_merge", [_Q100], _QEST_METRICS, _QEST_LANES),
        ("sketch_quantile_grouped_state", ["event_type", "bucket * 1000 + tile"],
         ["rep_value", "weight"], {}),
        ("sketch_quantile_grouped_estimate", ["event_type", _Q100],
         _QEST_METRICS, _QEST_LANES),
    ],
    "sketch_ams": [
        ("sketch_ams_f2_tokens", [],
         ["est_f2", "n_counters", "exact_f2", "rel_err_ok"],
         {"bools": {"rel_err_ok"}}),
        ("sketch_ams_join_size", [],
         ["sum_products", "est_join_size", "exact_join_size", "f2_a", "f2_b",
          "err_ok"],
         {"bools": {"err_ok"}}),
    ],
}

_KEPT = ("sketch_bloom_join_prune", "sketch_quantile_clip_outliers")

QUERIES = {k: _VARIANT_QUERIES[k] for k in _KEPT}
ORACLES = {k: _VARIANT_ORACLES[k] for k in _KEPT}
for _fam, _members in FAMILIES.items():
    QUERIES[_fam], ORACLES[_fam] = FD.fold_family(
        _fam, _members, _VARIANT_QUERIES, _VARIANT_ORACLES
    )


MG_K = 64


def sketch_heavy_hitters_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters with exact verify (r12, VERDICT r11 #5;
    operators/sketch.misra_gries_partials / heavy_hitters_verified): the
    item stream is lineitem's partkey with a DETERMINISTIC hot-key
    injection — rows of every fourth order map to l_partkey % 10, so ten
    items each carry ~2.5% of the stream while the other ~part-count
    items stay far below threshold (the same deterministic-skew device
    as events_range_join_amplified / dq_backlog_cross_batch; TPC-H
    columns alone are uniform and would make the row vacuous). Per
    partition a bounded k-counter MG summary (k=64) plus a row-count
    sentinel; candidates = the union of partition summaries (no false
    negatives by the Mergeable-Summaries bound, regardless of partition
    boundaries); the exact-count verify over just the candidates makes
    the output deterministic: exactly the items with true count >
    n/(k+1), with exact counts. The oracle computes that set directly
    from a full group-by, so a dropped candidate (a false negative — the
    one thing MG must never do) or a wrong threshold diverges."""
    li = tables.load(spark, sf_dir, "lineitem")
    items = li.select(
        F.when(F.col("l_orderkey") % 4 == 0, F.col("l_partkey") % 10)
        .otherwise(F.col("l_partkey"))
        .alias("item")
    )
    return SK.heavy_hitters_verified(items, "item", MG_K).orderBy("item")


_MG_HH_SQL = f"""
WITH items AS (
  SELECT CASE WHEN l_orderkey % 4 = 0 THEN l_partkey % 10
              ELSE l_partkey END AS item
  FROM lineitem
)
SELECT item, CAST(count(*) AS BIGINT) AS n_exact
FROM items
GROUP BY item
HAVING count(*) * {MG_K + 1} > (SELECT count(*) FROM items)
ORDER BY item
"""

QUERIES["sketch_heavy_hitters_verified"] = sketch_heavy_hitters_verified
ORACLES["sketch_heavy_hitters_verified"] = _MG_HH_SQL


def sketch_heavy_hitters_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP Misra-Gries heavy hitters (r12,
    sketch.heavy_hitters_verified_grouped): per event_type, the users
    with in-group frequency > n_g/(k+1), exact — the "bounded k-counter
    state per group" form of the family. The item stream injects five
    hot users per type (every fourth event maps to user_id % 5) over the
    otherwise-uniform user domain, so each group has exactly 5 true
    heavy hitters above threshold while thousands of cold users stay
    below. Oracle = full per-group group-by with the same threshold."""
    ev = tables.load(spark, sf_dir, "events")
    items = ev.select(
        "event_type",
        F.when(F.col("event_id") % 4 == 0, F.col("user_id") % 5)
        .otherwise(F.col("user_id"))
        .alias("item"),
    )
    return SK.heavy_hitters_verified_grouped(
        items, "event_type", "item", MG_K
    ).orderBy("event_type", "item")


_MG_HH_GROUPED_SQL = f"""
WITH items AS (
  SELECT event_type,
         CASE WHEN event_id % 4 = 0 THEN user_id % 5 ELSE user_id END AS item
  FROM events
),
tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_group FROM items GROUP BY 1)
SELECT i.event_type, i.item, CAST(count(*) AS BIGINT) AS n_exact, t.n_group
FROM items i JOIN tot t USING (event_type)
GROUP BY i.event_type, i.item, t.n_group
HAVING count(*) * {MG_K + 1} > t.n_group
ORDER BY i.event_type, i.item
"""

QUERIES["sketch_heavy_hitters_grouped"] = sketch_heavy_hitters_grouped
ORACLES["sketch_heavy_hitters_grouped"] = _MG_HH_GROUPED_SQL


KMV_K = 256
# 5-sigma accuracy band: the Beyer et al. (k-1)/U_(k) estimator has
# relative sigma ~ 1/sqrt(k-2). Literal spelled with an explicit e0
# exponent (the module's DECIMAL-vs-DOUBLE parse trap).
_KMV_BOUND = repr(5.0 / (KMV_K - 2) ** 0.5)
assert "e" not in _KMV_BOUND and "E" not in _KMV_BOUND, _KMV_BOUND
_KMV_BOUND += "e0"
_KMV_EST, _ = SK.kmv_estimate_fragments(KMV_K)
_KMV_REL_OK = (
    f"abs({_KMV_EST} - CAST(exact_distinct AS DOUBLE)) "
    f"/ CAST(exact_distinct AS DOUBLE) <= {_KMV_BOUND}"
)


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct sketch (r12, operators/sketch.kmv_bottomk):
    the k=256 smallest distinct 60-bit hashes of events.event_id, with
    (1) the Beyer et al. unbiased (k-1)/U_(k) estimate next to the exact
    distinct count and a 5-sigma accuracy verdict, and (2) a mergeability
    witness: the merge of the even-id and odd-id half-sketches must equal
    the whole-table sketch EXACTLY (bottom-k of a union is the union of
    bottom-ks filtered to k — the pigeonhole the per-partition fold also
    relies on), checked as an empty symmetric difference. Every column is
    integer/boolean except the estimate, which is one int->double cast,
    one multiply and one divide — correctly-rounded IEEE ops shared
    textually with the oracle, hence bit-equal."""
    ev = tables.load(spark, sf_dir, "events")
    bk = SK.kmv_bottomk(ev, "event_id", KMV_K)
    bke = SK.kmv_bottomk(ev.filter(F.col("event_id") % 2 == 0), "event_id", KMV_K)
    bko = SK.kmv_bottomk(ev.filter(F.col("event_id") % 2 == 1), "event_id", KMV_K)
    merged = SK.kmv_merge(bke, bko, KMV_K)
    n_diff = (
        merged.subtract(bk)
        .unionByName(bk.subtract(merged))
        .agg(F.count(F.lit(1)).cast("long").alias("n_diff"))
    )
    agg = bk.agg(
        F.count(F.lit(1)).cast("long").alias("k_seen"),
        F.max("h").alias("kth_hash"),
    )
    exact = ev.filter(F.col("event_id").isNotNull()).agg(
        F.countDistinct("event_id").alias("exact_distinct")
    )
    return (
        agg.crossJoin(exact)
        .crossJoin(n_diff)
        .select(
            "k_seen",
            "kth_hash",
            F.expr(_KMV_EST).alias("est_distinct"),
            "exact_distinct",
            F.expr(_KMV_REL_OK).alias("rel_err_ok"),
            (F.col("n_diff") == 0).alias("merge_ok"),
        )
    )


_KMV_SQL = f"""
WITH bk AS ({SK.oracle_kmv_bottomk_sql("events", "event_id", KMV_K)}),
bke AS ({SK.oracle_kmv_bottomk_sql(
    "(SELECT event_id FROM events WHERE event_id % 2 = 0)", "event_id", KMV_K)}),
bko AS ({SK.oracle_kmv_bottomk_sql(
    "(SELECT event_id FROM events WHERE event_id % 2 = 1)", "event_id", KMV_K)}),
mrg AS (
  SELECT h FROM (SELECT h FROM bke UNION SELECT h FROM bko) u
  ORDER BY h LIMIT {KMV_K}
),
a AS (SELECT CAST(count(*) AS BIGINT) AS k_seen, max(h) AS kth_hash FROM bk),
x AS (SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct
      FROM events WHERE event_id IS NOT NULL),
d AS (SELECT CAST(count(*) AS BIGINT) AS n_diff FROM (
        (SELECT h FROM mrg EXCEPT SELECT h FROM bk)
        UNION ALL
        (SELECT h FROM bk EXCEPT SELECT h FROM mrg)) t)
SELECT k_seen, kth_hash, {_KMV_EST} AS est_distinct, exact_distinct,
       {_KMV_REL_OK} AS rel_err_ok,
       n_diff = 0 AS merge_ok
FROM a, x, d
"""

QUERIES["sketch_kmv_distinct"] = sketch_kmv_distinct
ORACLES["sketch_kmv_distinct"] = _KMV_SQL


KMV_GK = 128
_KMV_GBOUND = repr(5.0 / (KMV_GK - 2) ** 0.5)
assert "e" not in _KMV_GBOUND and "E" not in _KMV_GBOUND, _KMV_GBOUND
_KMV_GBOUND += "e0"
_KMV_GEST, _ = SK.kmv_estimate_fragments(KMV_GK)
_KMV_GREL_OK = (
    f"abs({_KMV_GEST} - CAST(exact_distinct AS DOUBLE)) "
    f"/ CAST(exact_distinct AS DOUBLE) <= {_KMV_GBOUND}"
)


def sketch_kmv_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV distinct estimates (r12, sketch.kmv_bottomk_grouped):
    distinct users per event_type from independent per-group bottom-k
    (k=128) summaries — the grouped rollup form the HLL/CMS/MG families
    also carry. Each group row shows the k_seen/kth_hash state, the
    estimate (exact when the summary is not full — the sf0.001 groups
    exercise exactly that branch), the exact count, and a 5-sigma
    accuracy verdict; the estimate fragment is shared textually with
    the oracle so the doubles are bit-equal."""
    ev = tables.load(spark, sf_dir, "events")
    bk = SK.kmv_bottomk_grouped(ev, "event_type", "user_id", KMV_GK)
    agg = bk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k_seen"),
        F.max("h").alias("kth_hash"),
    )
    exact = (
        ev.filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type",
            "k_seen",
            "kth_hash",
            F.expr(_KMV_GEST).alias("est_distinct"),
            "exact_distinct",
            F.expr(_KMV_GREL_OK).alias("rel_err_ok"),
        )
        .orderBy("event_type")
    )


_KMV_G_SQL = f"""
WITH bk AS ({SK.oracle_kmv_bottomk_grouped_sql("events", "event_type", "user_id", KMV_GK)}),
a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k_seen,
             max(h) AS kth_hash
      FROM bk GROUP BY event_type),
x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type)
SELECT a.event_type, a.k_seen, a.kth_hash,
       {_KMV_GEST} AS est_distinct, x.exact_distinct,
       {_KMV_GREL_OK} AS rel_err_ok
FROM a JOIN x USING (event_type)
ORDER BY a.event_type
"""

QUERIES["sketch_kmv_grouped"] = sketch_kmv_grouped
ORACLES["sketch_kmv_grouped"] = _KMV_G_SQL


def sketch_kmv_streaming_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming KMV ledger's driver-facing row (r13, VERDICT r12 #5):
    a three-batch drained backlog over events, each micro-batch folded
    to its bounded ledger entry (sketch_stream.kmv_batch_entry, <= k
    BIGINT values of driver-side state per batch) and read back through
    the ledger merge sketch_stream.kmv_state.

    The verdict column is the strongest oracle a sketch can have: by
    the pigeonhole (any hash in the backlog's global bottom-k is in its
    own batch's bottom-k) the merged ledger must be BIT-EQUAL to the
    batch sketch of the whole table — checked as an empty symmetric
    difference — so a dropped batch, a truncation-order bug, or a
    ledger-merge error diverges exactly, not statistically. Batches
    split by event_id % 3 so the oracle replays the same boundaries
    (the merge is boundary-invariant, which is the property under
    test). Estimate/accuracy columns mirror sketch_kmv_distinct."""
    from executor_u1mindexer_spark.streaming import sketch_stream as SS

    ev = tables.load(spark, sf_dir, "events")
    states = {
        bid: SS.kmv_batch_entry(
            ev.filter(F.col("event_id") % 3 == bid), "event_id", KMV_K
        )
        for bid in range(3)
    }
    merged = SS.kmv_state(states, KMV_K)
    ledger = M.id_frame(spark, merged, "h")
    bk = SK.kmv_bottomk(ev, "event_id", KMV_K)
    n_diff = (
        ledger.subtract(bk)
        .unionByName(bk.subtract(ledger))
        .agg(F.count(F.lit(1)).cast("long").alias("n_diff"))
    )
    agg = ledger.agg(
        F.count(F.lit(1)).cast("long").alias("k_seen"),
        F.max("h").alias("kth_hash"),
    )
    exact = ev.filter(F.col("event_id").isNotNull()).agg(
        F.countDistinct("event_id").alias("exact_distinct")
    )
    return (
        agg.crossJoin(exact)
        .crossJoin(n_diff)
        .select(
            F.lit(len(states)).cast("long").alias("n_batches"),
            "k_seen",
            "kth_hash",
            F.expr(_KMV_EST).alias("est_distinct"),
            "exact_distinct",
            F.expr(_KMV_REL_OK).alias("rel_err_ok"),
            (F.col("n_diff") == 0).alias("ledger_eq_batch"),
        )
    )


_KMV_STREAM_SQL = f"""
WITH b0 AS ({SK.oracle_kmv_bottomk_sql(
    "(SELECT event_id FROM events WHERE event_id % 3 = 0)", "event_id", KMV_K)}),
b1 AS ({SK.oracle_kmv_bottomk_sql(
    "(SELECT event_id FROM events WHERE event_id % 3 = 1)", "event_id", KMV_K)}),
b2 AS ({SK.oracle_kmv_bottomk_sql(
    "(SELECT event_id FROM events WHERE event_id % 3 = 2)", "event_id", KMV_K)}),
led AS (
  SELECT h FROM (SELECT h FROM b0 UNION SELECT h FROM b1 UNION SELECT h FROM b2) u
  ORDER BY h LIMIT {KMV_K}
),
bk AS ({SK.oracle_kmv_bottomk_sql("events", "event_id", KMV_K)}),
a AS (SELECT CAST(count(*) AS BIGINT) AS k_seen, max(h) AS kth_hash FROM led),
x AS (SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct
      FROM events WHERE event_id IS NOT NULL),
d AS (SELECT CAST(count(*) AS BIGINT) AS n_diff FROM (
        (SELECT h FROM led EXCEPT SELECT h FROM bk)
        UNION ALL
        (SELECT h FROM bk EXCEPT SELECT h FROM led)) t)
SELECT CAST(3 AS BIGINT) AS n_batches, k_seen, kth_hash,
       {_KMV_EST} AS est_distinct, exact_distinct,
       {_KMV_REL_OK} AS rel_err_ok,
       n_diff = 0 AS ledger_eq_batch
FROM a, x, d
"""

QUERIES["sketch_kmv_streaming_backlog"] = sketch_kmv_streaming_backlog
ORACLES["sketch_kmv_streaming_backlog"] = _KMV_STREAM_SQL


def sketch_hll_intersection_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL intersection error audit (r13, VERDICT r12 #6a — the
    one HLL form that had no exact-verify row): per day-of-month (the
    fixture's events span one calendar month, so day is the natural
    30-group rollup dimension),
    |viewers ∩ purchasers| estimated by inclusion-exclusion over three
    per-group HLL estimates, each row carrying the EXACT intersection
    and a 5-sigma-x-union accuracy verdict (inclusion-exclusion error
    scales with the union size, the same caveat as the ungrouped row).

    The union sketch is the grouped REGISTER MERGE of the two branch
    states (union + groupBy(group, register) max — the rollup-pipeline
    merge, NOT a rescan), so the row also exercises grouped merge in an
    estimate path; the oracle estimates over the IN-filtered source,
    which is register-identical by the counters-are-max argument the
    ungrouped row pins. Months with estimates on both sides but zero
    overlapping users keep their row (exact LEFT-joined, coalesced 0) —
    the estimator's behavior on empty intersections is part of what the
    audit measures. At sf0.001 the per-month register states trigger the
    linear-counting branch on all three estimates — the grouped-by-type
    row's precedent says the shared ln fragment is fixture-stable."""
    events = tables.load(spark, sf_dir, "events")
    dom = F.dayofmonth("ts").cast("long").alias("dom")
    viewers = events.filter(F.col("event_type") == "view").select(dom, "user_id")
    buyers = events.filter(F.col("event_type") == "purchase").select(dom, "user_id")
    reg_a = SK.hll_registers_grouped(viewers, "user_id", ["dom"], P_USERS)
    reg_b = SK.hll_registers_grouped(buyers, "user_id", ["dom"], P_USERS)
    reg_u = (
        reg_a.unionByName(reg_b)
        .groupBy("dom", "register")
        .agg(F.max("max_rank").cast("long").alias("max_rank"))
    )
    est_a = SK.hll_estimate_grouped(reg_a, ["dom"], P_USERS).select(
        "dom", F.expr("round(est_distinct, 9)").alias("est_viewers")
    )
    est_b = SK.hll_estimate_grouped(reg_b, ["dom"], P_USERS).select(
        "dom", F.expr("round(est_distinct, 9)").alias("est_buyers")
    )
    est_u = SK.hll_estimate_grouped(reg_u, ["dom"], P_USERS).select(
        "dom", F.expr("round(est_distinct, 9)").alias("est_union")
    )
    exact = (
        viewers.distinct()
        .join(buyers.distinct(), ["dom", "user_id"])
        .groupBy("dom")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    sigma5 = _BOUND[P_USERS]
    return (
        est_a.join(est_b, "dom")
        .join(est_u, "dom")
        .join(exact, "dom", "left")
        .fillna(0, subset=["exact_intersection"])
        .select(
            "dom",
            "est_viewers",
            "est_buyers",
            "est_union",
            F.expr("est_viewers + est_buyers - est_union").alias(
                "est_intersection"
            ),
            "exact_intersection",
            F.expr(
                "abs((est_viewers + est_buyers - est_union) - "
                f"exact_intersection) <= {sigma5} * est_union"
            ).alias("err_ok"),
        )
        .orderBy("dom")
    )


_HLL_IX_G_VIEW = (
    "(SELECT CAST(day(ts) AS BIGINT) AS dom, user_id FROM events"
    " WHERE event_type = 'view')"
)
_HLL_IX_G_BUY = (
    "(SELECT CAST(day(ts) AS BIGINT) AS dom, user_id FROM events"
    " WHERE event_type = 'purchase')"
)
_HLL_IX_G_UNION = (
    "(SELECT CAST(day(ts) AS BIGINT) AS dom, user_id FROM events"
    " WHERE event_type IN ('view', 'purchase'))"
)

_HLL_IX_GROUPED_SQL = f"""
WITH a AS ({SK.oracle_estimate_grouped_sql(_HLL_IX_G_VIEW, "user_id", ["dom"], P_USERS)}),
b AS ({SK.oracle_estimate_grouped_sql(_HLL_IX_G_BUY, "user_id", ["dom"], P_USERS)}),
u AS ({SK.oracle_estimate_grouped_sql(_HLL_IX_G_UNION, "user_id", ["dom"], P_USERS)}),
ex AS (
  SELECT dom, CAST(count(*) AS BIGINT) AS exact_intersection FROM (
    SELECT DISTINCT dom, user_id FROM {_HLL_IX_G_VIEW} t1
    INTERSECT
    SELECT DISTINCT dom, user_id FROM {_HLL_IX_G_BUY} t2
  ) t GROUP BY dom
)
SELECT a.dom, round(a.est_distinct, 9) AS est_viewers,
       round(b.est_distinct, 9) AS est_buyers,
       round(u.est_distinct, 9) AS est_union,
       round(a.est_distinct, 9) + round(b.est_distinct, 9)
         - round(u.est_distinct, 9) AS est_intersection,
       coalesce(ex.exact_intersection, CAST(0 AS BIGINT)) AS exact_intersection,
       abs((round(a.est_distinct, 9) + round(b.est_distinct, 9)
            - round(u.est_distinct, 9))
           - coalesce(ex.exact_intersection, CAST(0 AS BIGINT)))
         <= {_BOUND[P_USERS]} * round(u.est_distinct, 9) AS err_ok
FROM a JOIN b USING (dom) JOIN u USING (dom) LEFT JOIN ex USING (dom)
ORDER BY a.dom
"""

QUERIES["sketch_hll_intersection_grouped"] = sketch_hll_intersection_grouped
ORACLES["sketch_hll_intersection_grouped"] = _HLL_IX_GROUPED_SQL


# 5-sigma band for the KMV Jaccard estimator: the k-sample estimate of a
# proportion has sigma = sqrt(J(1-J)/k) <= sqrt(0.25/k); in micros.
_KMV_J_BOUND_MICRO = int(5.0 * (0.25 / KMV_K) ** 0.5 * 1_000_000)


def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set operations (r13): the Jaccard/intersection estimates the
    module docstring advertises as KMV's edge over HLL
    (operators/sketch.py:1130 — Beyer et al. SIGMOD'07 §5: over the
    SHARED hash space, the union summary's members can be tested
    against each side's summary), now an oracle-checked row. Sides:
    custkeys ordering in 1996 vs in 1997 — true Jaccard ~0.65 with
    union 1.4k/14.3k at sf0.01/0.1, so the k=256 summaries genuinely
    subsample (the view-vs-purchase user sets would be degenerate:
    every fixture user does both, J = 1 with the sketch never full);
    at sf0.001 the union (140) is below k, exercising the exact branch.

    Unlike the HLL inclusion-exclusion rows the CORE estimate here is
    pure integer counting — n_ab = |U ∩ A ∩ B| over bottom-k hash SETS,
    jaccard_micro = 1e6 * n_ab DIV k_seen — so it is hash-exact with no
    transcendental anywhere; the only doubles are the shared Beyer
    union-estimate fragment and the one mult+div intersection scale-up,
    9-digit-rounded textually identically on both sides. The exact
    Jaccard rides along in micros with a 5*sqrt(0.25/k) verdict band,
    and membership tests are leftsemi joins on bounded (<= k-row)
    summaries — at 100 TB all post-sketch work is O(k)."""
    orders = tables.load(spark, sf_dir, "orders")
    side_a = orders.filter(F.year("o_orderdate") == 1996)
    side_b = orders.filter(F.year("o_orderdate") == 1997)
    a = SK.kmv_bottomk(side_a, "o_custkey", KMV_K)
    b = SK.kmv_bottomk(side_b, "o_custkey", KMV_K)
    u = SK.kmv_merge(a, b, KMV_K)
    n_ab = (
        u.join(a, "h", "leftsemi")
        .join(b, "h", "leftsemi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    agg = u.agg(
        F.count(F.lit(1)).cast("long").alias("k_seen"),
        F.max("h").alias("kth_hash"),
    )
    exact = (
        side_a.select("o_custkey")
        .distinct()
        .join(side_b.select("o_custkey").distinct(), "o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
        .crossJoin(
            orders.filter(
                F.year("o_orderdate").isin(1996, 1997)
                & F.col("o_custkey").isNotNull()
            )
            .agg(F.countDistinct("o_custkey").alias("exact_union"))
        )
    )
    return (
        agg.crossJoin(n_ab)
        .crossJoin(exact)
        .select(
            "k_seen",
            "kth_hash",
            "n_ab",
            F.expr(
                "CAST(1000000 * n_ab DIV nullif(k_seen, 0) AS BIGINT)"
            ).alias("jaccard_micro"),
            F.expr(f"round({_KMV_EST}, 9)").alias("est_union"),
            F.expr(
                f"round(round({_KMV_EST}, 9) * CAST(n_ab AS DOUBLE)"
                " / CAST(nullif(k_seen, 0) AS DOUBLE), 9)"
            ).alias("est_intersection"),
            "exact_union",
            "exact_intersection",
            F.expr(
                "CAST(1000000 * exact_intersection DIV nullif(exact_union, 0)"
                " AS BIGINT)"
            ).alias("exact_jaccard_micro"),
            F.expr(
                "abs(CAST(1000000 * n_ab DIV nullif(k_seen, 0) AS BIGINT)"
                " - CAST(1000000 * exact_intersection"
                " DIV nullif(exact_union, 0) AS BIGINT))"
                f" <= {_KMV_J_BOUND_MICRO}"
            ).alias("jaccard_err_ok"),
        )
    )


_KMV_JACCARD_SQL = f"""
WITH a AS ({SK.oracle_kmv_bottomk_sql(
    "(SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)",
    "o_custkey", KMV_K)}),
b AS ({SK.oracle_kmv_bottomk_sql(
    "(SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)",
    "o_custkey", KMV_K)}),
u AS (
  SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) t
  ORDER BY h LIMIT {KMV_K}
),
nab AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ab FROM u
  WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)
),
ag AS (SELECT CAST(count(*) AS BIGINT) AS k_seen, max(h) AS kth_hash FROM u),
ex AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM (
       (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
       INTERSECT
       (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
     ) t) AS exact_intersection,
    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
     WHERE year(o_orderdate) IN (1996, 1997) AND o_custkey IS NOT NULL)
      AS exact_union
)
SELECT k_seen, kth_hash, n_ab,
       CAST(1000000 * n_ab // nullif(k_seen, 0) AS BIGINT) AS jaccard_micro,
       round({_KMV_EST}, 9) AS est_union,
       round(round({_KMV_EST}, 9) * CAST(n_ab AS DOUBLE)
             / CAST(nullif(k_seen, 0) AS DOUBLE), 9) AS est_intersection,
       exact_union, exact_intersection,
       CAST(1000000 * exact_intersection // nullif(exact_union, 0) AS BIGINT)
         AS exact_jaccard_micro,
       abs(CAST(1000000 * n_ab // nullif(k_seen, 0) AS BIGINT)
           - CAST(1000000 * exact_intersection // nullif(exact_union, 0)
                  AS BIGINT))
         <= {_KMV_J_BOUND_MICRO} AS jaccard_err_ok
FROM ag, nab, ex
"""

QUERIES["sketch_kmv_jaccard"] = sketch_kmv_jaccard
ORACLES["sketch_kmv_jaccard"] = _KMV_JACCARD_SQL


def sketch_mg_streaming_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming Misra-Gries ledger's driver-facing row (r13): a
    three-batch drained backlog over the same deterministically-skewed
    item stream as the batch row (sketch_heavy_hitters_verified), each
    micro-batch folded to its ledger entry
    (sketch_stream.mg_batch_entry) and merged by heavy_hitters_state —
    the item-wise-sum ledger read, whose no-false-negative guarantee is
    exactly the Mergeable-Summaries bound per batch.

    The output is the DETERMINISTIC exact-verified heavy-hitter set
    (items with true count > n/(k+1), with exact counts — the batch
    row's scheme): MG's order-dependent lower bounds never leave the
    candidate stage; the stream length comes from the LEDGER's sentinel
    lane (bit-equal to the exact row count by construction, so a lost
    sentinel also diverges). A true heavy hitter dropped anywhere in
    fold/merge/read would be missing from the candidates and hence the
    output — rows_match catches it against the oracle's full group-by."""
    from executor_u1mindexer_spark.streaming import sketch_stream as SS

    li = tables.load(spark, sf_dir, "lineitem")
    item = (
        F.when(F.col("l_orderkey") % 4 == 0, F.col("l_partkey") % 10)
        .otherwise(F.col("l_partkey"))
        .alias("item")
    )
    states = {
        bid: SS.mg_batch_entry(
            li.filter(F.col("l_orderkey") % 3 == bid).select(item), "item", MG_K
        )
        for bid in range(3)
    }
    merged = SS.heavy_hitters_state(states)
    n_total = merged.pop(None, 0)  # sentinel lane: exact stream length
    cand = M.id_frame(spark, list(merged), "item")
    exact = (
        li.select(item)
        .join(F.broadcast(cand), "item", "leftsemi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    return exact.filter(
        F.col("n_exact") * (MG_K + 1) > F.lit(int(n_total))
    ).orderBy("item")


QUERIES["sketch_mg_streaming_backlog"] = sketch_mg_streaming_backlog
ORACLES["sketch_mg_streaming_backlog"] = _MG_HH_SQL


def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed equi-depth histogram (r12,
    operators/quantile.equidepth_octiles): 8 equal-frequency buckets of
    events.value — the optimizer-statistics/profiling artifact beside
    the approximate quantile sketch. The corpus folds to a value-domain-
    bounded (value, frequency) histogram (map-side combinable; ≤ ~56k
    rows at ANY corpus size) and the frequency-weighted percentile runs
    over that bounded state; the oracle is DuckDB's NATIVE quantile_cont
    over raw rows — a formulation-independent check that the fold +
    weighting is exact, not a replay."""
    ev = tables.load(spark, sf_dir, "events")
    return QT.equidepth_octiles(ev, "value")


QUERIES["events_equidepth_histogram"] = events_equidepth_histogram
ORACLES["events_equidepth_histogram"] = QT.oracle_equidepth_octiles_sql(
    "events", "value"
)


def events_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor (r13,
    operators/quantile.psi_drift): events.value in the month's second
    half (days 16+) scored against the first half's octile bins — the
    standard ML-monitoring answer to "did the feature distribution
    move", one tier above the per-point CUSUM/MAD anomaly rows. Exact
    integer count/proportion lanes, 9-digit-rounded per-bin ln terms,
    and a fold-order-free DECIMAL-lane psi_total with the conventional
    < 0.1 stable verdict riding every row; the fixture's two halves
    draw from the same generator, so `stable` = true is the expected
    non-vacuous outcome (a generator or binning bug flips it)."""
    ev = tables.load(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15)
    cmp = ev.filter(F.dayofmonth("ts") >= 16)
    return QT.psi_drift(ref, cmp, "value")


QUERIES["events_psi_value_drift"] = events_psi_value_drift
ORACLES["events_psi_value_drift"] = QT.oracle_psi_drift_sql(
    "(SELECT * FROM events WHERE day(ts) <= 15)",
    "(SELECT * FROM events WHERE day(ts) >= 16)",
    "value",
)


def events_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test (r14, VERDICT r13 #5a,
    operators/quantile.ks_two_sample): the distribution-free member
    completing the drift family — binned (PSI/chi2), sequential
    (CUSUM), robust per-point (MAD), and now distribution-free
    whole-shape (KS) — over the same first-half/second-half split as
    the PSI row. The exact D statistic rides integer cross-multiplied
    CDF deviations (max over exact BIGINTs) and the 5% Smirnov verdict
    runs in DECIMAL(38,0)/HUGEINT lanes; the fixture's same-generator
    halves make `drift_detected` = false the expected non-vacuous null
    (the shifted-sample pytest pins detection, mirroring PSI's)."""
    ev = tables.load(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15)
    cmp = ev.filter(F.dayofmonth("ts") >= 16)
    return QT.ks_two_sample(ref, cmp, "value")


QUERIES["events_ks_value_drift"] = events_ks_value_drift
ORACLES["events_ks_value_drift"] = QT.oracle_ks_two_sample_sql(
    "(SELECT * FROM events WHERE day(ts) <= 15)",
    "(SELECT * FROM events WHERE day(ts) >= 16)",
    "value",
)


def events_mwu_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum drift test (r14,
    operators/quantile.mann_whitney_u): the rank-based LOCATION member
    beside KS over the same first-half/second-half split — KS answers
    "did the shape change anywhere", MWU answers the sharper "did
    values shift up or down", and the two share the centi-grid
    prefix-sum machinery (_merged_value_cdf) verbatim. Exact BIGINT
    doubled-midrank lanes (r1_doubled, u1_doubled), HUGEINT/DECIMAL
    tie-correction fold, one shared rounded-double z resolution, 5%
    verdict on the rounded z; the fixture's same-generator halves make
    drift_detected = false the expected non-vacuous null (the
    shifted-sample pytest pins detection and replays u1 exactly)."""
    ev = tables.load(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15)
    cmp = ev.filter(F.dayofmonth("ts") >= 16)
    return QT.mann_whitney_u(ref, cmp, "value")


QUERIES["events_mwu_value_drift"] = events_mwu_value_drift
ORACLES["events_mwu_value_drift"] = QT.oracle_mann_whitney_u_sql(
    "(SELECT * FROM events WHERE day(ts) <= 15)",
    "(SELECT * FROM events WHERE day(ts) >= 16)",
    "value",
)


def events_ks_value_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type two-sample KS drift (r15, VERDICT r14 #4b,
    operators/quantile.ks_two_sample_by_group): the slice-level form of
    events_ks_value_drift — one KS verdict PER event_type between the
    month's halves, each with the slice's own totals and critical
    line, so a single type's distribution shift can't hide inside a
    stable pooled statistic (the same audit eval_ann_recall_by_group
    added for recall). The machinery is the ungrouped row's
    _merged_value_cdf grown by a group key — still ONE histogram fold,
    group-scoped windows and offset joins, per-group broadcast totals
    — and the exact in-plan isqrt verdict chain runs once per group.
    Five same-generator slices make five false verdicts the expected
    non-vacuous nulls (the shifted-slice pytest pins detection and the
    slice-isolation contract)."""
    ev = tables.load(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15)
    cmp = ev.filter(F.dayofmonth("ts") >= 16)
    return QT.ks_two_sample_by_group(ref, cmp, "value", "event_type")


QUERIES["events_ks_value_drift_by_type"] = events_ks_value_drift_by_type
ORACLES["events_ks_value_drift_by_type"] = QT.oracle_ks_two_sample_by_group_sql(
    "(SELECT * FROM events WHERE day(ts) <= 15)",
    "(SELECT * FROM events WHERE day(ts) >= 16)",
    "value",
    "event_type",
)


def events_mwu_value_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type Mann-Whitney U drift (built r15, registered r16
    per VERDICT r15 #2; operators/quantile.mann_whitney_u_by_group):
    the location-test sibling of events_ks_value_drift_by_type,
    completing the grouped two-sample pair — one rank-sum z verdict PER
    event_type between the month's halves, so a single slice's upward
    or downward value shift can't hide inside a stable pooled rank
    statistic. Same grouped _merged_value_cdf fold as the grouped KS
    row (one pass, per-group broadcast totals, group-scoped windows and
    offset joins); the _MWU_* guarded lanes run per group, so a
    degenerate slice (one-sided, n < 2, fully tied) yields z NULL and
    drift false instead of an ANSI divide-by-zero. Five same-generator
    slices make five false verdicts the expected non-vacuous nulls (the
    shifted-slice pytest pins detection and slice isolation)."""
    ev = tables.load(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15)
    cmp = ev.filter(F.dayofmonth("ts") >= 16)
    return QT.mann_whitney_u_by_group(ref, cmp, "value", "event_type")


QUERIES["events_mwu_value_drift_by_type"] = events_mwu_value_drift_by_type
ORACLES["events_mwu_value_drift_by_type"] = QT.oracle_mann_whitney_u_by_group_sql(
    "(SELECT * FROM events WHERE day(ts) <= 15)",
    "(SELECT * FROM events WHERE day(ts) >= 16)",
    "value",
    "event_type",
)


def events_psi_value_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type PSI drift (r16, VERDICT r15 #3a;
    operators/quantile.psi_drift_by_group): the binned-proportion
    member completing the grouped drift trio beside the grouped KS and
    grouped MWU rows — one PSI verdict PER event_type between the
    month's halves, each slice binned by its own reference octiles, so
    a single type's distribution shift can't hide inside a stable
    pooled index. Output is the ungrouped events_psi_value_drift shape
    grown by the group key: (type, bucket) rows with exact integer
    count/proportion lanes and the slice's psi_total + stable verdict
    riding. Five same-generator slices make five stable verdicts the
    expected non-vacuous nulls (the shifted-slice pytest pins
    detection, slice isolation, and the loud NULL-PSI contract for
    cmp-only slices)."""
    ev = tables.load(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15)
    cmp = ev.filter(F.dayofmonth("ts") >= 16)
    return QT.psi_drift_by_group(ref, cmp, "value", "event_type")


QUERIES["events_psi_value_drift_by_type"] = events_psi_value_drift_by_type
ORACLES["events_psi_value_drift_by_type"] = QT.oracle_psi_drift_by_group_sql(
    "(SELECT * FROM events WHERE day(ts) <= 15)",
    "(SELECT * FROM events WHERE day(ts) >= 16)",
    "value",
    "event_type",
)
