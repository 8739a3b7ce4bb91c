"""Vector-search suite: the reference's /search surface (SURVEY.md §2.A #1-8).

Every oracle reproduces the Spark plan's arithmetic with the SAME
left-to-right double fold over the embedding arrays, so distances are
bit-identical between Spark and DuckDB (verified in tests) — no tolerance
needed for the driver's value-hash comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.operators import knn

N_QUERIES = 5  # query vectors = the N lowest vec_ids (FIXTURES.md guidance)
K = 10
ARROW_MIN_BATCH = 16  # impl crossover; measurement in _knn_batch docstring


def _queries_df(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )


def _knn(spark: SparkSession, sf_dir: str, metric: str, is_distance: bool = True) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return knn.knn_search(emb, _queries_df(emb), k=K, metric=metric, is_distance=is_distance)


def knn_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn(spark, sf_dir, "cosine")


def knn_search_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn(spark, sf_dir, "euclidean")


def knn_search_inner_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn(spark, sf_dir, "inner_product")


def score_transform_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_distance=False similarity rewrite (executor.py:117-124)."""
    return _knn(spark, sf_dir, "euclidean", is_distance=False)


def payload_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN matches carry the full document row (executor.py:116)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    docs = tables.load(spark, sf_dir, "documents")
    out = knn.knn_search(emb, _queries_df(emb), k=K, metric="cosine", payload=docs)
    return out.select("query_id", "vec_id", "rank", "score", "text", "lang", "source", "n_chars")


def limit_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k larger than the corpus: result degrades to corpus size
    (executor.py:97-102)."""
    emb = tables.load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 7)
    q = emb.filter(F.col("vec_id") < 1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    return knn.knn_search(emb, q, k=100, metric="cosine")


def dim_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Width-validation aggregate (executor.py:105-110): rows per observed
    embedding width + whether the batch would be accepted at dim=64."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return (
        emb.groupBy(F.size("embedding").alias("dim"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("accepted", F.col("dim") == F.lit(tables.EMBEDDING_DIM))
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles. The fold
#   list_reduce(list_transform(list_zip(a, b), x -> x[1]*x[2]), (s,y) -> s+y)
# is the same left-to-right double fold as Spark's aggregate(zip_with(...)).
# ---------------------------------------------------------------------------

_E = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < {nq}
)
"""

_DOT = "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1]*x[2]), (s,y) -> s+y)"
_NORM = "sqrt(" + _DOT.format(a="{a}", b="{a}") + ")"
_L2SQ = "list_reduce(list_transform(list_zip({a}, {b}), x -> (x[1]-x[2])*(x[1]-x[2])), (s,y) -> s+y)"

_COS_DIST = f"1.0 - {_DOT.format(a='q.qemb', b='e.emb')} / ({_NORM.format(a='q.qemb')} * {_NORM.format(a='e.emb')})"
_IP_DIST = f"1.0 - {_DOT.format(a='q.qemb', b='e.emb')}"
_L2_DIST = _L2SQ.format(a="q.qemb", b="e.emb")


def _knn_oracle(dist_expr: str, score_expr: str = "dist", k: int = K, nq: int = N_QUERIES) -> str:
    return (
        _E.format(nq=nq)
        + f"""
, scored AS (
  SELECT q.query_id, e.vec_id, {dist_expr} AS dist FROM e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS "rank"
  FROM scored
)
SELECT query_id, vec_id, "rank", {score_expr} AS score FROM ranked WHERE "rank" <= {k}
"""
    )


def _knn_batch(spark: SparkSession, sf_dir: str, nq: int) -> DataFrame:
    """Baseline-comparable search shapes (reference README.md:26-31 measures
    query batches of 1/8/64 at k=20, executor.py:19).

    The two impls are bit-identical (equivalence pinned in tests/test_knn.py)
    so the choice is pure routing: the arrow kernel (operators/knn.
    _arrow_scored) has a small marginal cost per query where the
    interpreted per-pair HOF fold grows with every query, but pays a fixed
    pack/broadcast cost per batch that dominates tiny batches. Measured on
    a 4-core Xeon, local[4], k=20, best of 3 after a warm-up, toPandas:
    sf0.1 embeddings at batch 8 read 0.63 s catalyst vs 0.69 s arrow,
    batch 64 1.43 vs 0.64, batch 512 8.72 vs 1.05. Each impl wins its own
    range, so batches below ARROW_MIN_BATCH route catalyst (zero Python in
    the plan, same story as the flagship knn_search_cosine), larger route
    arrow."""
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    impl = "catalyst" if nq < ARROW_MIN_BATCH else "arrow"
    return knn.knn_search(emb, q, k=20, metric="cosine", impl=impl)


BATCH_SIZES = (1, 8, 64, 512)


def knn_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized twin of the four batch-size rows (VERDICT r09 #3):
    the 1/8/64/512 query batches UNION'd under a batch_size tag — four
    flagship rows, one driver-window slot, identical per-variant plans
    (each union arm is the same _knn_batch build as before; the catalyst/
    arrow ARROW_MIN_BATCH routing is exercised on both sides of the
    crossover in one row). bench.py still times each size separately via
    its folded-row compat table (batch scaling is the measurement)."""
    parts = [
        _knn_batch(spark, sf_dir, nq).select(
            F.lit(nq).cast("int").alias("batch_size"), "*"
        )
        for nq in BATCH_SIZES
    ]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def knn_search_batch1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_batch(spark, sf_dir, 1)


def knn_search_batch8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_batch(spark, sf_dir, 8)


def knn_search_batch64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_batch(spark, sf_dir, 64)


def knn_search_batch512(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_batch(spark, sf_dir, 512)


def embedding_matryoshka_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: norms of the full vs first-16-dim
    prefix and the retained-energy ratio — the check run before shipping
    truncated embeddings (MRL-style) to cut storage/ANN cost. Pure
    Catalyst; folds match the oracle's order, so values are bit-exact."""
    from executor_u1mindexer_spark.functions import vector as V

    emb = tables.load(spark, sf_dir, "embeddings")
    v = V.as_double_array("embedding")
    v16 = F.slice(v, 1, 16)
    nf, n16 = V.norm(v), V.norm(v16)
    return emb.select(
        "vec_id",
        nf.alias("norm_full"),
        n16.alias("norm_16"),
        ((n16 * n16) / (nf * nf)).alias("retained_energy"),
    )


QUERIES = {
    "knn_search_cosine": knn_search_cosine,
    "knn_search_batch": knn_search_batch,
    "embedding_matryoshka_stats": embedding_matryoshka_stats,
    "knn_search_euclidean": knn_search_euclidean,
    "knn_search_inner_product": knn_search_inner_product,
    "score_transform_similarity": score_transform_similarity,
    "payload_fetch": payload_fetch,
    "limit_clamp": limit_clamp,
    "dim_validate": dim_validate,
}

ORACLES = {
    "knn_search_cosine": _knn_oracle(_COS_DIST),
    "knn_search_batch": "\nUNION ALL\n".join(
        f"SELECT {nq} AS batch_size, __b.* "
        f"FROM ({_knn_oracle(_COS_DIST, k=20, nq=nq)}) __b"
        for nq in (1, 8, 64, 512)
    ),
    "embedding_matryoshka_stats": f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), t AS (
  SELECT vec_id, emb, list_slice(emb, 1, 16) AS emb16 FROM e
)
SELECT vec_id,
       {_NORM.format(a='emb')} AS norm_full,
       {_NORM.format(a='emb16')} AS norm_16,
       ({_NORM.format(a='emb16')} * {_NORM.format(a='emb16')})
         / ({_NORM.format(a='emb')} * {_NORM.format(a='emb')}) AS retained_energy
FROM t
""",
    "knn_search_euclidean": _knn_oracle(_L2_DIST),
    "knn_search_inner_product": _knn_oracle(_IP_DIST),
    # euclidean similarity transform: 1/(1+d) (executor.py:121-122)
    "score_transform_similarity": _knn_oracle(_L2_DIST, score_expr="1.0/(1.0 + dist)"),
    "payload_fetch": (
        _E.format(nq=N_QUERIES)
        + f"""
, scored AS (
  SELECT q.query_id, e.vec_id, {_COS_DIST} AS dist FROM e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS "rank"
  FROM scored
)
SELECT r.query_id, r.vec_id, r."rank", r.dist AS score,
       d.text, d.lang, d.source, d.n_chars
FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
WHERE r."rank" <= {K}
"""
    ),
    "limit_clamp": (
        """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id < 7
), q AS (
  SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 1
), scored AS (
  SELECT q.query_id, e.vec_id, """
        + _COS_DIST
        + """ AS dist FROM e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS "rank"
  FROM scored
)
SELECT query_id, vec_id, "rank", dist AS score FROM ranked WHERE "rank" <= 100
"""
    ),
    "dim_validate": f"""
SELECT len(embedding) AS dim, COUNT(*) AS n_rows,
       len(embedding) = {tables.EMBEDDING_DIM} AS accepted
FROM embeddings GROUP BY 1 ORDER BY 1
""",
}
