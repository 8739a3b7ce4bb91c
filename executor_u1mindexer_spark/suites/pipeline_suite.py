"""Training-data pipeline suite (operators/pipeline.py): hash sampling,
source mixing, token budgeting, sliding-window chunking, int8 quantization.
All hash-deterministic -> exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.operators import linalg as L
from executor_u1mindexer_spark.operators import pipeline as P

FRACTION = 0.1
STRATA = {"en": 0.5, "zh": 0.3, "__default__": 0.1}
WEIGHTS = {"de": 1.0, "en": 3.0, "es": 1.0, "fr": 2.0, "zh": 0.5}
BUDGET = 5_000
CHUNK, STRIDE = 32, 16


def sample_hash_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return P.sample_fraction(docs, "doc_id", FRACTION).select("doc_id", "lang")


def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return P.sample_stratified(docs, "doc_id", "lang", STRATA).select("doc_id", "lang")


def mixture_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample languages to a pretraining mixture; output per-lang kept
    counts (the recipe-auditing view)."""
    docs = tables.load(spark, sf_dir, "documents")
    kept = P.mixture_weights(docs, "doc_id", "lang", WEIGHTS)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("lang")


def mixture_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing audit view (r10): per-lang natural count, the
    alpha=1/2 hash threshold, and the kept count after
    P.mixture_temperature down-sampling. The keep fraction
    sqrt(n_min/n_s) is bit-exact cross-engine (IEEE correctly-rounded
    div + sqrt — the operator docstring has the determinism argument),
    so the oracle restates the whole chain in closed form."""
    docs = tables.load(spark, sf_dir, "documents")
    kept = P.mixture_temperature(docs, "doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    mn = counts.agg(F.min("n_docs").alias("__nmin"))
    thr = counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_docs",
        (
            F.floor(
                F.sqrt(F.col("__nmin").cast("double") / F.col("n_docs").cast("double"))
                * F.lit(P.HASH_BUCKETS)
            )
        )
        .cast("long")
        .alias("threshold"),
    )
    kc = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("__nk"))
    return (
        thr.join(kc, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "threshold",
            F.coalesce(F.col("__nk"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("lang")
    )


QUOTA_CAP = 10


def sample_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain hard cap (r10, P.domain_quota): at most 10 docs per
    `source`, chosen by salted-hash rank. Output the recipe-audit view:
    per-source natural count, kept, dropped, and the kept chars — the
    numbers a mixture report would show."""
    docs = tables.load(spark, sf_dir, "documents")
    kept = P.domain_quota(docs, "doc_id", "source", QUOTA_CAP)
    nat = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    kc = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_kept_chars"),
    )
    return (
        nat.join(kc, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_docs") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce("sum_kept_chars", F.lit(0)).cast("long").alias("sum_kept_chars"),
        )
        .orderBy("source")
    )


DQ_CONSTRAINTS = {
    "price_positive": "o_totalprice > 0",
    "price_below_400k": "o_totalprice < 400000",
    "status_in_domain": "o_orderstatus IN ('F', 'O', 'P')",
    "custkey_nonnull": "o_custkey IS NOT NULL",
    "date_in_1995": "o_orderdate < TIMESTAMP '1996-01-01 00:00:00'",
}


def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (r10, P.dq_audit — the
    Deequ/Great-Expectations constraint-suite shape): five row-level
    predicates counted in ONE scan over orders (sum-of-CASE melted to
    long form), o_orderkey uniqueness in the same pass, and the
    orders→customer referential check as one anti-join. One row per
    constraint: (check_name, n_violations, passed) — a mix of passing
    and legitimately-failing constraints so both verdicts are
    oracle-checked."""
    orders = tables.load(spark, sf_dir, "orders")
    customer = tables.load(spark, sf_dir, "customer")
    return P.dq_audit(
        orders,
        DQ_CONSTRAINTS,
        unique_cols=["o_orderkey"],
        fk=("o_custkey", customer, "c_custkey"),
    )


def dq_backlog_cross_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch DQ audit over a drained backlog (r11, VERDICT r10
    #6): uniqueness and referential checks are cross-batch properties
    a per-batch monitor cannot decide, so this is the batch operator
    for them: run dq_audit's uniqueness/FK lanes in BATCH mode
    over the UNION of two micro-batches, with an injected cross-batch
    duplicate set so the uniqueness lane has real work to find.

    Batch A = even-orderkey orders; batch B = odd-orderkey orders PLUS
    the A rows with o_orderkey % 100 == 0, re-delivered with their
    custkey NEGATED — each injected row is a duplicate A∩B orderkey
    (invisible to any per-batch uniqueness check) AND an FK break
    (negative custkeys match no customer). Deterministic, so the oracle
    replays the same injection."""
    orders = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = tables.load(spark, sf_dir, "customer")
    batch_a = orders.filter(F.col("o_orderkey") % 2 == 0)
    injected = batch_a.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        (-F.col("o_custkey")).alias("o_custkey"),
        "o_totalprice",
    )
    batch_b = orders.filter(F.col("o_orderkey") % 2 == 1).unionByName(injected)
    backlog = batch_a.unionByName(batch_b)
    return P.dq_audit(
        backlog,
        {"price_positive": "o_totalprice > 0"},
        unique_cols=["o_orderkey"],
        fk=("o_custkey", customer, "c_custkey"),
    )


def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return P.pack_token_budget(docs, BUDGET)


def chunk_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    out = P.chunk_sliding_window(docs, size=CHUNK, stride=STRIDE)
    return out.select("doc_id", "chunk_idx", "chunk_words")


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return P.quantize_int8(emb)


def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted 90/5/5 holdout assignment (P.split_assign);
    salted so it is independent of the other hash-sampling decisions."""
    docs = tables.load(spark, sf_dir, "documents")
    return P.split_assign(docs, "doc_id").select("doc_id", "lang", "split")


def shuffle_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch shuffle: every doc gets its position in
    md5('42:'||doc_id) order via the range-partition + broadcast-offset
    rank (P.deterministic_shuffle) — no single-task global window."""
    docs = tables.load(spark, sf_dir, "documents")
    out = P.deterministic_shuffle(docs.select("doc_id", "lang"), "doc_id", seed="42")
    return out.select("doc_id", "lang", "shuffle_pos")


def drift_chi2_value_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring (r06, operators/pipeline.py
    drift_chi2_buckets) — the check an ML-ops pipeline runs between data
    periods: chi-square profile of events.value between the month's two
    halves (scenario 'same_month' — must NOT flag) and against a +150-
    shifted copy (scenario 'shifted' — MUST flag). Per-bucket counts are
    bit-exact integers; contributions are nano-scaled ints so the total
    statistic is an order-free integer sum; the drift verdicts are
    oracle-checked booleans against a 60-sigma-ish critical value."""
    from pyspark.sql import Window

    ev = tables.load(spark, sf_dir, "events")
    a = ev.filter(F.dayofmonth("ts") <= 15)
    b = ev.filter(F.dayofmonth("ts") > 15)
    same = P.drift_chi2_buckets(a, b, "value", 25.0, 20).withColumn(
        "scenario", F.lit("same_month")
    )
    shifted = P.drift_chi2_buckets(
        a, b.withColumn("value", F.col("value") + 150.0), "value", 25.0, 20
    ).withColumn("scenario", F.lit("shifted"))
    u = same.unionByName(shifted)
    w = Window.partitionBy("scenario")
    return (
        u.withColumn("chi2_nano", F.sum("contrib_nano").over(w).cast("long"))
        .withColumn("drift_flag", F.col("chi2_nano") > F.lit(60 * 10**9))
        .select(
            "scenario", "bucket", "n_a", "n_b", "contrib_nano",
            "chi2_nano", "drift_flag",
        )
    )


def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (probability-proportional-to-size) systematic sampling
    without replacement over documents, weight = n_chars, target k = 40
    (r07, operators/pipeline.py pps_systematic). All BIGINT cross-
    multiplication — the pick set is bit-identical across engines; the
    oracle replays the rule with a single plain window cumsum, so any
    error in the Spark side's partitioned two-pass cumulative sum
    (bucket boundaries, offsets, totals) diverges."""
    docs = tables.load(spark, sf_dir, "documents")
    return P.pps_systematic(docs, key="doc_id", weight_col="n_chars", k=40)


def embedding_gram_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact scaled-integer second moments of the embedding cloud — one
    row per dimension pair (i <= j) with (n, sum_qi, sum_qj, sum_qq)
    over q = round(x*1000) (r07, operators/linalg.py gram_moments): the
    covariance/whitening/PCA primitive computed the 100 TB way (one
    numpy int64 Gram per partition, one bounded groupBy-sum — shuffled
    bytes O(partitions * d^2), never O(n * d^2)). The oracle computes
    the same 2080 moments relationally (explode dims x dims); every
    value is an order-free BIGINT so the match is bit-exact."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return L.gram_moments(emb)


def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score point-anomaly flags over events.value
    (r07, operators/pipeline.py rolling_zscore_anomaly) — the companion
    monitor to drift_chi2_value_periods: trailing 20-row window per
    user, flag |z| > 3. The z-test is CROSS-MULTIPLIED integer
    arithmetic over round(value*1000) BIGINTs (no division, no sqrt),
    so every flag is bit-identical across engines and partition
    orders. Partitioned ROWS windows only — no global window."""
    ev = tables.load(spark, sf_dir, "events")
    return P.rolling_zscore_anomaly(
        ev,
        key="user_id",
        order_cols=("ts", "event_id"),
        value_col="value",
        id_col="event_id",
    ).orderBy("event_id")


QUERIES = {
    "sample_hash_fraction": sample_hash_fraction,
    "mixture_temperature_resample": mixture_temperature_resample,
    "sample_pps_systematic": sample_pps_systematic,
    "embedding_gram_moments": embedding_gram_moments,
    "events_rolling_zscore": events_rolling_zscore,
    "shuffle_epoch_order": shuffle_epoch_order,
    "sample_stratified_by_lang": sample_stratified_by_lang,
    "sample_domain_quota": sample_domain_quota,
    "dq_constraint_audit": dq_constraint_audit,
    "dq_backlog_cross_batch": dq_backlog_cross_batch,
    "mixture_weighted_sources": mixture_weighted_sources,
    "pack_token_budget": pack_token_budget,
    "chunk_sliding_window": chunk_sliding_window,
    "embedding_quantize_int8": embedding_quantize_int8,
    "split_train_val_test": split_train_val_test,
    "drift_chi2_value_periods": drift_chi2_value_periods,
}

_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000"
)

_STRAT_THRESHOLD = """
CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 300000 ELSE 100000 END
"""

# mixture: fractions = weight / max_weight (max=3.0 for en)
_MIX_THRESHOLD = """
CASE lang
  WHEN 'de' THEN CAST(1000000.0 * (1.0/3.0) AS BIGINT)
  WHEN 'en' THEN 1000000
  WHEN 'es' THEN CAST(1000000.0 * (1.0/3.0) AS BIGINT)
  WHEN 'fr' THEN CAST(1000000.0 * (2.0/3.0) AS BIGINT)
  WHEN 'zh' THEN CAST(1000000.0 * (0.5/3.0) AS BIGINT)
  ELSE 0 END
"""

_SPLIT_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) AS BIGINT)"
    " % 1000000"
)


_DRIFT_SAME = P.oracle_drift_chi2_sql(
    "(SELECT * FROM events WHERE day(ts) <= 15)",
    "(SELECT * FROM events WHERE day(ts) > 15)",
    "value", 25.0, 20,
)
_DRIFT_SHIFT = P.oracle_drift_chi2_sql(
    "(SELECT * FROM events WHERE day(ts) <= 15)",
    "(SELECT event_id, ts, user_id, event_type, value + 150.0e0 AS value, props"
    " FROM events WHERE day(ts) > 15)",
    "value", 25.0, 20,
)
_DRIFT_ORACLE = f"""
WITH same AS ({_DRIFT_SAME}),
shift AS ({_DRIFT_SHIFT}),
u AS (
  SELECT 'same_month' AS scenario, * FROM same
  UNION ALL
  SELECT 'shifted' AS scenario, * FROM shift
)
SELECT scenario, bucket, n_a, n_b, contrib_nano,
       CAST(sum(contrib_nano) OVER (PARTITION BY scenario) AS BIGINT)
         AS chi2_nano,
       (CAST(sum(contrib_nano) OVER (PARTITION BY scenario) AS BIGINT)
          > 60000000000) AS drift_flag
FROM u
"""

ORACLES = {
    "sample_hash_fraction": f"""
SELECT doc_id, lang FROM documents WHERE {_BUCKET} < 100000
""",
    # temperature mixing at alpha = 1/2: keep_frac_s = sqrt(n_min/n_s),
    # IEEE-correctly-rounded div+sqrt => the integer threshold is exact
    # in both engines (operators/pipeline.mixture_temperature docstring)
    "mixture_temperature_resample": f"""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), m AS (
  SELECT min(n_docs) AS nmin FROM c
), t AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    * 1000000) AS BIGINT) AS threshold
  FROM c CROSS JOIN m
), k AS (
  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
  FROM documents d JOIN t ON d.lang = t.lang
  WHERE {_BUCKET} < t.threshold
  GROUP BY d.lang
)
SELECT t.lang, t.n_docs, t.threshold, COALESCE(k.n_kept, 0) AS n_kept
FROM t LEFT JOIN k ON t.lang = k.lang
ORDER BY t.lang
""",
    "events_rolling_zscore": P.oracle_rolling_zscore_sql(
        "events",
        key="user_id",
        order_cols=("ts", "event_id"),
        value_col="value",
        id_col="event_id",
    ) + " ORDER BY event_id",
    # PPS systematic rule replayed with ONE plain window cumsum (a
    # deliberately different formulation from Spark's partitioned
    # two-pass): select where floor(cum*k/total) crosses
    "sample_pps_systematic": """
WITH b AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents WHERE n_chars > 0
), c AS (
  SELECT doc_id, w,
         CAST(sum(w) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM b
), t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM b)
SELECT doc_id, w AS weight, cum,
       CAST(((cum - w) * 40) // total + 1 AS BIGINT) AS pick_idx,
       CAST((cum * 40) // total - ((cum - w) * 40) // total AS BIGINT) AS n_hits
FROM c, t
WHERE (cum * 40) // total > ((cum - w) * 40) // total
ORDER BY doc_id
""",
    # q = round(x*1000) BIGINT; moments per dim pair via dims x dims
    # explode — relational, vs Spark's per-partition numpy Gram kernel
    "embedding_gram_moments": """
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT CAST(ti.i AS INT) AS i, CAST(tj.j AS INT) AS j,
       count(*) AS n,
       CAST(sum(qv[ti.i + 1]) AS BIGINT) AS sum_qi,
       CAST(sum(qv[tj.j + 1]) AS BIGINT) AS sum_qj,
       CAST(sum(qv[ti.i + 1] * qv[tj.j + 1]) AS BIGINT) AS sum_qq
FROM q, range(64) AS ti(i), range(64) AS tj(j)
WHERE ti.i <= tj.j
GROUP BY ti.i, tj.j
ORDER BY i, j
""",
    "shuffle_epoch_order": """
SELECT doc_id, lang,
       CAST(row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)))
            - 1 AS BIGINT) AS shuffle_pos
FROM documents
""",
    "split_train_val_test": f"""
SELECT doc_id, lang,
       CASE WHEN {_SPLIT_BUCKET} < 50000 THEN 'val'
            WHEN {_SPLIT_BUCKET} < 100000 THEN 'test'
            ELSE 'train' END AS split
FROM documents
""",
    "sample_stratified_by_lang": f"""
SELECT doc_id, lang FROM documents WHERE {_BUCKET} < ({_STRAT_THRESHOLD})
""",
    "mixture_weighted_sources": f"""
SELECT lang, count(*) AS n_kept FROM documents
WHERE {_BUCKET} < ({_MIX_THRESHOLD})
GROUP BY lang ORDER BY lang
""",
    "dq_constraint_audit": """
WITH rowc AS (
  SELECT CAST(count(*) - count(CASE WHEN o_totalprice > 0 THEN 1 END) AS BIGINT) AS price_positive,
         CAST(count(*) - count(CASE WHEN o_totalprice < 400000 THEN 1 END) AS BIGINT) AS price_below_400k,
         CAST(count(*) - count(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 1 END) AS BIGINT) AS status_in_domain,
         CAST(count(*) - count(CASE WHEN o_custkey IS NOT NULL THEN 1 END) AS BIGINT) AS custkey_nonnull,
         CAST(count(*) - count(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00' THEN 1 END) AS BIGINT) AS date_in_1995,
         CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS unique_o_orderkey
  FROM orders
), fk AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
), longf AS (
  SELECT 'price_positive' AS check_name, price_positive AS n_violations FROM rowc
  UNION ALL SELECT 'price_below_400k', price_below_400k FROM rowc
  UNION ALL SELECT 'status_in_domain', status_in_domain FROM rowc
  UNION ALL SELECT 'custkey_nonnull', custkey_nonnull FROM rowc
  UNION ALL SELECT 'date_in_1995', date_in_1995 FROM rowc
  UNION ALL SELECT 'unique_o_orderkey', unique_o_orderkey FROM rowc
  UNION ALL SELECT 'fk_o_custkey', n FROM fk
)
SELECT check_name, n_violations, (n_violations = 0) AS passed
FROM longf ORDER BY check_name
""",
    # same injection as the Spark builder: even/odd orderkey batches,
    # the %100==0 A-rows re-delivered into B with negated custkeys
    "dq_backlog_cross_batch": """
WITH a AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
), injected AS (
  SELECT o_orderkey, -o_custkey AS o_custkey, o_totalprice
  FROM a WHERE o_orderkey % 100 = 0
), b AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 1
  UNION ALL SELECT * FROM injected
), backlog AS (
  SELECT * FROM a UNION ALL SELECT * FROM b
), rowc AS (
  SELECT CAST(count(*) - count(CASE WHEN o_totalprice > 0 THEN 1 END) AS BIGINT) AS price_positive,
         CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS unique_o_orderkey
  FROM backlog
), fk AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM backlog o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
), longf AS (
  SELECT 'price_positive' AS check_name, price_positive AS n_violations FROM rowc
  UNION ALL SELECT 'unique_o_orderkey', unique_o_orderkey FROM rowc
  UNION ALL SELECT 'fk_o_custkey', n FROM fk
)
SELECT check_name, n_violations, (n_violations = 0) AS passed
FROM longf ORDER BY check_name
""",
    "sample_domain_quota": f"""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) ASC,
                    doc_id ASC) AS qrk
  FROM documents
  WHERE doc_id IS NOT NULL  -- mirror domain_quota's NULL-key drop (ADVICE r10)
), kc AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(n_chars) AS BIGINT) AS sum_kept_chars
  FROM ranked WHERE qrk <= {QUOTA_CAP} GROUP BY source
), nat AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
)
SELECT nat.source, nat.n_docs,
       coalesce(kc.n_kept, 0) AS n_kept,
       CAST(nat.n_docs - coalesce(kc.n_kept, 0) AS BIGINT) AS n_dropped,
       coalesce(kc.sum_kept_chars, 0) AS sum_kept_chars
FROM nat LEFT JOIN kc ON kc.source = nat.source
ORDER BY nat.source
""",
    "pack_token_budget": f"""
WITH c AS (
  SELECT lang, doc_id, n_chars,
         CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cost
  FROM documents
)
SELECT lang, doc_id, n_chars, cum_cost FROM c WHERE cum_cost <= {BUDGET}
""",
    "chunk_sliding_window": f"""
WITH t AS (
  SELECT doc_id, str_split_regex(text, '\\s+') AS toks,
         len(str_split_regex(text, '\\s+')) AS n
  FROM documents
), idx AS (
  SELECT doc_id, toks,
         unnest(range(greatest(CAST(ceil((n - {CHUNK}) / {STRIDE}.0) AS BIGINT) + 1, 1)))
           AS chunk_idx
  FROM t
), c AS (
  SELECT doc_id, chunk_idx,
         array_to_string(toks[chunk_idx*{STRIDE}+1 : chunk_idx*{STRIDE}+{CHUNK}], ' ') AS chunk_text
  FROM idx
)
SELECT doc_id, chunk_idx,
       len(str_split_regex(chunk_text, '\\s+')) AS chunk_words
FROM c
""",
    "embedding_quantize_int8": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(round(x / scale, 0) AS INT)) AS qv
  FROM s
)
SELECT vec_id, scale,
       list_reduce(list_prepend(0, qv), (a, x) -> a + x) AS q_checksum,
       round(list_max(list_transform(list_zip(qv, v),
             p -> abs(CAST(p[1] AS DOUBLE) * scale - p[2]))), 9) AS max_abs_err
FROM q
""",
    "drift_chi2_value_periods": _DRIFT_ORACLE,
}


PRIO_K = 64


def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (r12, operators/pipeline.priority_sample —
    Duffield-Lund-Thorup JACM'07): the k=64 documents with the highest
    hash-deterministic priorities q = n_chars/u, with the (k+1)-th
    priority as the Horvitz-Thompson threshold and adjusted weights
    max(w, tau) — the weighted without-replacement sampler whose sample
    supports unbiased subset-sum estimation (the 'estimate any slice's
    token total from one fixed sample' pipeline primitive). One scan,
    map-side partial top-(k+1), no shuffle; the priority double is
    bit-identical cross-engine (one exact product + one correctly-
    rounded division — the DLT w/u form exists here precisely because
    the A-ES u^(1/w) key needs a pow with no cross-engine rounding
    contract). The unbiasedness property is pytest-pinned
    (tests/test_pipeline.py) over disjoint key-salt draws."""
    docs = tables.load(spark, sf_dir, "documents")
    return P.priority_sample(docs, key="doc_id", weight_col="n_chars", k=PRIO_K)


QUERIES["sample_priority_weighted"] = sample_priority_weighted
ORACLES["sample_priority_weighted"] = P.oracle_priority_sample_sql(
    "documents", "doc_id", "n_chars", PRIO_K
)
