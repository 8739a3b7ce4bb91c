"""Composed end-to-end pipelines — the operators chained the way a real
training-data job chains them. Each stage is an operator already verified
in isolation; these queries verify the COMPOSITIONS (schema hand-offs,
filter interactions) with a single oracle over the whole chain.

llm_corpus_pipeline: documents -> quality gate -> language gate -> 50%
hash sample -> sliding-window chunks -> corpus accounting.

vector_dedup_quantize: embeddings -> drop near-duplicate vectors (keep the
lowest id of each cosine-near pair, IVF-blocked) -> int8 quantization ->
storage accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from executor_u1mindexer_spark import cache, tables
from executor_u1mindexer_spark.functions import text as T
from executor_u1mindexer_spark.operators import dedup as D
from executor_u1mindexer_spark.operators import pipeline as P

QUALITY_MIN = 0.5
LANGS = ("en", "de")
SAMPLE = 0.5
COS_DUP = 0.6


def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    gated = docs.filter(T.quality_score(F.col("text")) >= QUALITY_MIN).filter(
        F.col("lang").isin(*LANGS)
    )
    sampled = P.sample_fraction(gated, "doc_id", SAMPLE)
    # r16: lang rides through the chunker as a passenger column instead
    # of a join back to `sampled` — the join re-evaluated the whole
    # docs-scan + quality-gate subtree a second time just to recover
    # lang (2 scans + BroadcastHashJoin -> 1 scan, no join; every chunk
    # row matched exactly one sampled row, so the rows are identical).
    chunks = P.chunk_sliding_window(sampled, size=32, stride=16, keep=("lang",))
    return (
        chunks.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_words").alias("sum_chunk_words"),
        )
        .orderBy("lang")
    )


def vector_dedup_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    dup_pairs = D.embedding_near_dup_pairs(emb, block_col="label", max_cos_dist=COS_DUP)
    drop = dup_pairs.select(F.col("id_b").alias("vec_id")).distinct()
    kept = emb.join(drop, on="vec_id", how="left_anti")
    q = P.quantize_int8(kept)
    return q.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("q_checksum").alias("sum_checksums"),
        F.sum(F.round(F.col("scale") * 1e9).cast("long")).alias("sum_scale_nano"),
    )


MIN_PIXEL_AREA = 9
MIN_DURATION_US = 1500


def multimodal_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal capstone chain: REAL image decode + REAL audio decode +
    text quality, joined per doc, gated on decoded facts (pixel area,
    audio duration) and quality, accounted per language — the manifest a
    multimodal training job reads. Every gate uses values the decoders
    produced, so a codec regression changes the manifest, not just a
    per-operator row."""
    from executor_u1mindexer_spark.operators import multimodal as MM

    docs = tables.load(spark, sf_dir, "documents")
    img = MM.decode_images_metadata(MM.attach_synthetic_images(docs)).select(
        "doc_id", "width", "height", "pixel_sum"
    )
    aud = MM.decode_audio_metadata(MM.attach_synthetic_audio(docs)).select(
        "doc_id", "duration_us"
    )
    q = docs.select("doc_id", "lang", T.quality_score(F.col("text")).alias("q"))
    gated = (
        q.join(img, "doc_id")
        .join(aud, "doc_id")
        .filter(
            (F.col("width") * F.col("height") >= MIN_PIXEL_AREA)
            & (F.col("duration_us") >= MIN_DURATION_US)
            & (F.col("q") >= QUALITY_MIN)
        )
    )
    return (
        gated.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pixel_sum").alias("sum_pixels"),
            F.sum("duration_us").alias("sum_duration_us"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )
        .orderBy("lang")
    )


RRF_C = 60  # the standard reciprocal-rank-fusion constant
RRF_N = 50  # per-list depth
RRF_K = 20  # fused output size


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval capstone: fuse the BM25 lexical top-50 (r04's
    text_bm25_topk scoring, fixed 3-term query) with the vector top-50
    (exact cosine KNN, query = vec_id 0's embedding) by reciprocal-rank
    fusion: rrf = 1/(C+rank_bm25) + 1/(C+rank_vec), missing-list docs
    contribute 0. The modern lexical+dense retrieval stack as one plan.

    100 TB shape: each branch ends in a bounded 50-row list (BM25:
    TakeOrderedAndProject then a rank window over ONLY those 50 rows —
    never a global rank window; KNN: the pinned broadcast/BNLJ plan), so
    the fusion join is trivially tiny. Determinism: rrf terms are exact
    rational arithmetic (no ln at fusion level) summed in fixed order;
    list truncation tie-breaks by doc_id everywhere."""
    from executor_u1mindexer_spark.operators import knn
    from executor_u1mindexer_spark.suites.text_suite import bm25_scores

    docs = tables.load(spark, sf_dir, "documents")
    emb = tables.load(spark, sf_dir, "embeddings")

    bm_top = (
        bm25_scores(docs)
        .orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(RRF_N)
    )
    # rank assignment over the ALREADY-truncated 50 rows, IN-PLAN via the
    # triangular broadcast self-join of maintenance.dense_rank_by
    # (VERDICT r09 #2): rank(d) = count of list rows at-or-above d in the
    # total (score desc, doc_id asc) order. 50x50 broadcast comparisons,
    # no SinglePartition window (the r08 #4 lint win is kept), and no
    # driver collect (the r09 collect+stamp added a Spark job per call).
    # Determinism needs no shared materialization: the exact micro-int
    # scores + doc_id tiebreak make the top-50 a total order, so both
    # sides of the self-join compute the identical list. The 50-row list
    # IS materialized once so the two sides share one computation of the
    # BM25 token-aggregate branch — exchange reuse does not fire across
    # the broadcast alias, and without it the branch runs twice.
    bm_top = cache.materialize(bm_top)
    lhs = bm_top.select("doc_id", "score_micro")
    rhs = lhs.select(
        F.col("doc_id").alias("__d2"), F.col("score_micro").alias("__s2")
    )
    at_or_above = (F.col("__s2") > F.col("score_micro")) | (
        (F.col("__s2") == F.col("score_micro")) & (F.col("__d2") <= F.col("doc_id"))
    )
    bm_ranked = (
        lhs.join(F.broadcast(rhs), at_or_above)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("bm25_rank"))
    )

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    vec_ranked = (
        knn.knn_search(emb, q, k=RRF_N, metric="cosine")
        .select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("vec_rank"))
    )

    fused = bm_ranked.join(vec_ranked, on="doc_id", how="full_outer").select(
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf_score"),
        F.coalesce(F.col("bm25_rank"), F.lit(0)).alias("bm25_rank"),
        F.coalesce(F.col("vec_rank"), F.lit(0)).alias("vec_rank"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc()).limit(RRF_K)


# The RRF query batch: (query_id = a corpus vec_id for the dense side,
# term tuple for the lexical side). Different arities on purpose.
RRF_QUERIES = (
    (0, ("query", "table", "spark")),
    (1, ("join", "hash", "merge", "sort")),
    (2, ("data", "stream", "vector", "filter", "scan")),
)


def hybrid_search_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hybrid_search_rrf generalized to a QUERY SET — the batch contract
    knn_search's batch path set, applied to the fused stack: each query
    fuses its own BM25 top-50 (its own term set) with its own cosine-KNN
    top-50 (its vec_id's embedding), rank windows partitioned by
    query_id, fusion join on (query_id, doc_id).

    100 TB shape: the lexical side pays ONE token-aggregate shuffle for
    the whole batch (bm25_multi_scores — tf columns for the union of all
    queries' terms, per-query scores as codegen expressions, post-agg
    struct explode); per-query truncation is a query_id-partitioned rank
    window (the exact shape of the batched KNN merge — no single-task
    window); the dense side is the pinned broadcast KNN plan; both
    branches are <= 50 rows per query at the fusion join."""
    from pyspark.sql import Window

    from executor_u1mindexer_spark.operators import knn
    from executor_u1mindexer_spark.suites.text_suite import bm25_multi_scores

    docs = tables.load(spark, sf_dir, "documents")
    emb = tables.load(spark, sf_dir, "embeddings")

    scored = bm25_multi_scores(docs, RRF_QUERIES)
    w_b = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    bm_ranked = (
        scored.withColumn("bm25_rank", F.row_number().over(w_b))
        .filter(F.col("bm25_rank") <= RRF_N)
        .select("query_id", "doc_id", "bm25_rank")
    )

    q = emb.filter(F.col("vec_id").isin([qid for qid, _ in RRF_QUERIES])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    vec_ranked = knn.knn_search(emb, q, k=RRF_N, metric="cosine").select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rank").alias("vec_rank")
    )

    fused = bm_ranked.join(
        vec_ranked, on=["query_id", "doc_id"], how="full_outer"
    ).select(
        "query_id",
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf_score"),
        F.coalesce(F.col("bm25_rank"), F.lit(0)).alias("bm25_rank"),
        F.coalesce(F.col("vec_rank"), F.lit(0)).alias("vec_rank"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= RRF_K)
        .orderBy("query_id", "fused_rank")
    )


BENCH_MOD = 97  # mirrors text_suite's holdout rule
PACK_BUDGET = 5_000


def decontaminated_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 capstone chain: drop the benchmark holdout AND every training
    doc sharing a word 4-gram with it (decontamination), gate on quality,
    pack each language to a char budget, account the final mixture."""
    from executor_u1mindexer_spark.operators import dedup as D

    docs = tables.load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    contam = D.benchmark_contamination(train, bench, n_shingle=4).select("doc_id")
    clean = train.join(contam, on="doc_id", how="left_anti")
    gated = clean.filter(T.quality_score(F.col("text")) >= QUALITY_MIN)
    packed = P.pack_token_budget(gated, PACK_BUDGET)
    return (
        packed.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang")
    )


# the SAME injection device as dedup_suite — imported, not copied, so the
# two suites cannot silently diverge
from executor_u1mindexer_spark.suites.dedup_suite import DUP_OFFSET, N_DUP  # noqa: E402


def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-hygiene capstone: exact dedup (keep-list) -> span-level dedup
    over the SURVIVORS -> quality gate on the CLEANED text -> per-language
    accounting. Exercises the hand-off a real hygiene job depends on: the
    span stage must see only deduplicated docs (the injected exact copies
    never reach it), and the quality gate must score the cleaned text, not
    the original. Dup injection = dedup_suite's device (doc_id < 50
    re-appears shifted +DUP_OFFSET)."""
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    shifted = docs.filter(F.col("doc_id") < N_DUP).select(
        (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text", "lang"
    )
    dups = docs.unionByName(shifted)
    keep = D.exact_dedup(dups).select(F.col("keep_id").alias("doc_id"))
    survivors = dups.join(keep, on="doc_id", how="left_semi")
    cleaned = D.span_dedup(survivors.select("doc_id", "text"), span_words=5)
    enriched = cleaned.join(survivors.select("doc_id", "lang"), on="doc_id")
    ok = T.quality_score(F.col("clean_text")) >= QUALITY_MIN
    return (
        enriched.select(
            "lang",
            "n_spans",
            "n_dropped",
            F.length("clean_text").alias("clean_chars"),
            ok.alias("ok"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("ok"), F.lit(1))).alias("n_quality_docs"),
            F.sum("n_spans").alias("sum_spans"),
            F.sum("n_dropped").alias("sum_dropped"),
            F.sum("clean_chars").alias("sum_clean_chars"),
        )
        .orderBy("lang")
    )


_VARIANT_QUERIES = {
    "clean_corpus_pipeline": clean_corpus_pipeline,
    "llm_corpus_pipeline": llm_corpus_pipeline,
    "vector_dedup_quantize": vector_dedup_quantize,
    "decontaminated_training_mix": decontaminated_training_mix,
    "multimodal_training_manifest": multimodal_training_manifest,
    "hybrid_search_rrf": hybrid_search_rrf,
    "hybrid_search_rrf_batch": hybrid_search_rrf_batch,
}

# oracle fragments reused from the per-operator suites
from executor_u1mindexer_spark.suites.text_suite import _QUALITY  # noqa: E402
from executor_u1mindexer_spark.suites.pipeline_suite import _BUCKET  # noqa: E402
from executor_u1mindexer_spark.suites.dedup_suite import _EBUCKETS, _ECOS  # noqa: E402
from executor_u1mindexer_spark.suites.text_suite import _SHINGLE4_HS  # noqa: E402
from executor_u1mindexer_spark.suites.text_suite import (  # noqa: E402
    _BM25_WORDS,
    BM25_TERMS,
    bm25_sql_fragments,
)

_BM25_TF, _BM25_CONTRIB, _RRF_DFS = bm25_sql_fragments(BM25_TERMS)

_RRF_DOT = "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1]*x[2]), (s,y) -> s+y)"
_RRF_NORM = "sqrt(" + _RRF_DOT.format(a="{a}", b="{a}") + ")"
_RRF_COS = (
    f"1.0 - {_RRF_DOT.format(a='qv.qv', b='e.v')} / "
    f"({_RRF_NORM.format(a='qv.qv')} * {_RRF_NORM.format(a='e.v')})"
)
_LANGS_SQL = "('en', 'de')"


def _rrf_branch_sql(qid: int, terms: tuple[str, ...]) -> str:
    """One query's CTE chain of the batched-RRF oracle — the single-query
    hybrid_search_rrf oracle parameterized by (query_id, term set) with
    suffixed CTE names so the branches compose under one WITH."""
    tf, contrib, dfs = bm25_sql_fragments(terms)
    return f"""
per_doc_{qid} AS (
  SELECT doc_id, len({_BM25_WORDS}) AS dl,
         {tf}
  FROM documents
), stats_{qid} AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl, {dfs} FROM per_doc_{qid}
), bm_top_{qid} AS (
  SELECT doc_id, brank FROM (
    SELECT doc_id, score_micro,
           row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS brank
    FROM (SELECT doc_id,
                 CAST(round(({contrib}) * 1000000, 0) AS BIGINT) AS score_micro
          FROM per_doc_{qid} CROSS JOIN stats_{qid}))
  WHERE brank <= {RRF_N}
), vec_top_{qid} AS (
  SELECT vec_id, vrank FROM (
    SELECT e.vec_id,
           row_number() OVER (ORDER BY {_RRF_COS} ASC, e.vec_id ASC) AS vrank
    FROM e CROSS JOIN (SELECT v AS qv FROM e WHERE vec_id = {qid}) qv)
  WHERE vrank <= {RRF_N}
), out_{qid} AS (
  SELECT CAST({qid} AS BIGINT) AS query_id, doc_id, rrf_score,
         bm25_rank, vec_rank,
         CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS INT)
           AS fused_rank
  FROM (
    SELECT COALESCE(b.doc_id, v.vec_id) AS doc_id,
           COALESCE(1.0 / ({RRF_C} + b.brank), 0.0)
             + COALESCE(1.0 / ({RRF_C} + v.vrank), 0.0) AS rrf_score,
           CAST(COALESCE(b.brank, 0) AS INT) AS bm25_rank,
           CAST(COALESCE(v.vrank, 0) AS INT) AS vec_rank
    FROM bm_top_{qid} b FULL OUTER JOIN vec_top_{qid} v ON b.doc_id = v.vec_id)
  QUALIFY fused_rank <= {RRF_K}
)"""


_RRF_BATCH_SQL = (
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    " FROM embeddings),"
    + ",".join(_rrf_branch_sql(qid, ts) for qid, ts in RRF_QUERIES)
    + "\n"
    + "\nUNION ALL\n".join(f"SELECT * FROM out_{qid}" for qid, _ in RRF_QUERIES)
    + "\nORDER BY query_id, fused_rank"
)

_VARIANT_ORACLES = {
    "hybrid_search_rrf_batch": _RRF_BATCH_SQL,
    # The span stage replays the dedup_repeated_spans oracle formulation
    # (word-explode + string_agg) over the exact-dedup survivors; the
    # quality gate reuses text_suite's _QUALITY twin with the CLEANED text
    # aliased as `text`.
    "clean_corpus_pipeline": f"""
WITH dups AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + {DUP_OFFSET}, text, lang FROM documents WHERE doc_id < {N_DUP}),
keep AS (SELECT min(doc_id) AS doc_id FROM dups GROUP BY md5(text)),
survivors AS (SELECT d.* FROM dups d JOIN keep k ON d.doc_id = k.doc_id),
spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(ws[i*5+1 : i*5+5], ' ') AS span
  FROM (SELECT doc_id, str_split(coalesce(text, ''), ' ') AS ws
        FROM survivors) s,
       unnest(range(CAST(ceil(len(ws)/5.0) AS BIGINT))) AS t(i)),
firsts AS (
  SELECT span, min(ROW(doc_id, span_idx)) AS first_occ FROM spans GROUP BY span),
cleaned AS (
  SELECT s.doc_id,
         coalesce(string_agg(CASE WHEN ROW(s.doc_id, s.span_idx) = f.first_occ
                                  THEN s.span END, ' ' ORDER BY s.span_idx),
                  '') AS text,
         count(*) AS n_spans,
         count(CASE WHEN ROW(s.doc_id, s.span_idx) <> f.first_occ THEN 1 END)
           AS n_dropped
  FROM spans s JOIN firsts f ON s.span = f.span
  GROUP BY s.doc_id),
enriched AS (
  SELECT c.text, c.n_spans, c.n_dropped, v.lang, ({_QUALITY}) AS q
  FROM cleaned c JOIN (SELECT doc_id, lang FROM survivors) v
    ON c.doc_id = v.doc_id)
SELECT lang, count(*) AS n_docs,
       count(CASE WHEN q >= {QUALITY_MIN} THEN 1 END) AS n_quality_docs,
       CAST(sum(n_spans) AS BIGINT) AS sum_spans,
       CAST(sum(n_dropped) AS BIGINT) AS sum_dropped,
       CAST(sum(length(text)) AS BIGINT) AS sum_clean_chars
FROM enriched
GROUP BY lang
ORDER BY lang
""",
    # hybrid RRF: both branch rankings replicated exactly (BM25 fragments
    # shared with text_suite; cosine fold identical to the KNN oracles);
    # rrf terms are rational arithmetic summed in fixed order — bit-exact
    "hybrid_search_rrf": f"""
WITH per_doc AS (
  SELECT doc_id, len({_BM25_WORDS}) AS dl,
         {_BM25_TF}
  FROM documents
), stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl, {_RRF_DFS} FROM per_doc
), bm AS (
  SELECT doc_id, CAST(round(({_BM25_CONTRIB}) * 1000000, 0) AS BIGINT) AS score_micro
  FROM per_doc CROSS JOIN stats
), bm_top AS (
  SELECT doc_id, brank FROM (
    SELECT doc_id, score_micro,
           row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS brank
    FROM bm)
  ORDER BY score_micro DESC, doc_id ASC LIMIT {RRF_N}
), e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), qv AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
), vscore AS (
  SELECT e.vec_id, {_RRF_COS} AS dist FROM e CROSS JOIN qv
), vec_top AS (
  SELECT vec_id, vrank FROM (
    SELECT vec_id, dist,
           row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS vrank
    FROM vscore)
  ORDER BY dist ASC, vec_id ASC LIMIT {RRF_N}
), fused AS (
  SELECT COALESCE(b.doc_id, v.vec_id) AS doc_id,
         COALESCE(1.0 / ({RRF_C} + b.brank), 0.0)
           + COALESCE(1.0 / ({RRF_C} + v.vrank), 0.0) AS rrf_score,
         CAST(COALESCE(b.brank, 0) AS INT) AS bm25_rank,
         CAST(COALESCE(v.vrank, 0) AS INT) AS vec_rank
  FROM bm_top b FULL OUTER JOIN vec_top v ON b.doc_id = v.vec_id
)
SELECT doc_id, rrf_score, bm25_rank, vec_rank
FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT {RRF_K}
""",
    # image/audio closed forms from the generation rules (multimodal_suite)
    "multimodal_training_manifest": f"""
WITH m AS (
  SELECT doc_id, lang, ({_QUALITY}) AS q,
         (doc_id % 5 + 2) * (doc_id % 3 + 2) AS area,
         CAST(CASE WHEN doc_id % 8 = 3
              THEN (doc_id % 5 + 2) * (doc_id % 3 + 2) * ((doc_id * 7) % 256)
              WHEN doc_id % 8 = 7
              THEN (doc_id % 5 + 2) * (doc_id % 3 + 2)
                   * ((doc_id * 7) % 256 + (doc_id * 11) % 256 + (doc_id * 13) % 256)
              ELSE list_sum(list_transform(
                     range(0, (doc_id % 5 + 2) * (doc_id % 3 + 2) * 3),
                     i -> (doc_id * 7 + i) % 256))
         END AS BIGINT) AS pixel_sum,
         CAST((doc_id % 40 + 5) * 1000000 // (8000 * (doc_id % 3 + 1)) AS BIGINT) AS duration_us
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(pixel_sum) AS BIGINT) AS sum_pixels,
       CAST(sum(duration_us) AS BIGINT) AS sum_duration_us,
       round(avg(q), 6) AS avg_quality
FROM m
WHERE area >= {MIN_PIXEL_AREA} AND duration_us >= {MIN_DURATION_US} AND q >= {QUALITY_MIN}
GROUP BY lang ORDER BY lang
""",
    "llm_corpus_pipeline": f"""
WITH gated AS (
  SELECT doc_id, lang, text FROM documents
  WHERE ({_QUALITY}) >= {QUALITY_MIN} AND lang IN {_LANGS_SQL}
), sampled AS (
  SELECT * FROM gated WHERE {_BUCKET} < {int(SAMPLE * P.HASH_BUCKETS)}
), t AS (
  SELECT doc_id, lang, str_split_regex(text, '\\s+') AS toks,
         len(str_split_regex(text, '\\s+')) AS n
  FROM sampled
), idx AS (
  SELECT doc_id, lang, toks,
         unnest(range(greatest(CAST(ceil((n - 32) / 16.0) AS BIGINT) + 1, 1))) AS chunk_idx
  FROM t
), c AS (
  SELECT doc_id, lang,
         len(str_split_regex(array_to_string(toks[chunk_idx*16+1 : chunk_idx*16+32], ' '), '\\s+'))
           AS chunk_words
  FROM idx
)
SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
       CAST(sum(chunk_words) AS BIGINT) AS sum_chunk_words
FROM c GROUP BY lang ORDER BY lang
""",
    # the dedup stage mirrors the banded sign-LSH candidate generation of
    # dedup_suite.near_dedup_embedding_cosine (same plane literals), then
    # confirms candidates with the exact cosine — identical to the Spark op
    "vector_dedup_quantize": f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), eb AS (
  SELECT vec_id, label, [{_EBUCKETS}] AS bks FROM e
), banded AS (
  SELECT vec_id, label, r.range AS band_idx, bks[r.range + 1] AS bkt
  FROM eb, range({D.EMB_BANDS}) r
), cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM banded l JOIN banded r
    ON l.label = r.label AND l.band_idx = r.band_idx AND l.bkt = r.bkt
   AND l.vec_id < r.vec_id
), pairs AS (
  SELECT c.id_b AS dup_id
  FROM cand c JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b
  WHERE {_ECOS} <= {COS_DUP}
), kept AS (
  SELECT * FROM e WHERE vec_id NOT IN (SELECT DISTINCT dup_id FROM pairs)
), s AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM kept
), q AS (
  SELECT vec_id, scale,
         list_reduce(list_prepend(0, list_transform(v, x -> CAST(round(x / scale, 0) AS INT))),
                     (a, x) -> a + x) AS q_checksum
  FROM s
)
SELECT count(*) AS n_vectors, CAST(sum(q_checksum) AS BIGINT) AS sum_checksums,
       CAST(sum(CAST(round(scale * 1e9, 0) AS BIGINT)) AS BIGINT) AS sum_scale_nano
FROM q
""",
    "decontaminated_training_mix": f"""
WITH t AS (
  SELECT doc_id, str_split_regex(text, '\\s+') AS toks FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLE4_HS} AS hs FROM t
), bench AS (
  SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % {BENCH_MOD} = 0
), train_h AS (
  SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % {BENCH_MOD} != 0
), contam AS (
  SELECT DISTINCT train_h.doc_id FROM train_h JOIN bench ON train_h.h = bench.h
), clean AS (
  SELECT d.lang, d.doc_id, d.n_chars FROM documents d
  WHERE d.doc_id % {BENCH_MOD} != 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contam)
    AND ({_QUALITY}) >= {QUALITY_MIN}
), c AS (
  SELECT lang, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_cost
  FROM clean
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM c WHERE cum_cost <= {PACK_BUDGET}
GROUP BY lang ORDER BY lang
""",
}


# -- registry folding (VERDICT r09 #3) ----------------------------------------
# The single-query and batch RRF rows fold into ONE registered
# hybrid_search_rrf row: both arms run their full pipelines and union
# under a variant tag with NULL-padded batch-only columns (no melt needed
# — the schemas align). bench.py still times the single-query arm alone
# via its folded-row compat table so the bench series stays comparable.


def _hybrid_search_rrf_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    single = hybrid_search_rrf(spark, sf_dir).select(
        F.lit("single").alias("variant"),
        F.lit(None).cast("long").alias("query_id"),
        "doc_id",
        "rrf_score",
        "bm25_rank",
        "vec_rank",
        F.lit(None).cast("int").alias("fused_rank"),
    )
    batch = hybrid_search_rrf_batch(spark, sf_dir).select(
        F.lit("batch").alias("variant"),
        "query_id",
        "doc_id",
        "rrf_score",
        "bm25_rank",
        "vec_rank",
        "fused_rank",
    )
    return single.unionByName(batch)


_RRF_ALL_SQL = (
    "SELECT 'single' AS variant, CAST(NULL AS BIGINT) AS query_id, "
    "doc_id, rrf_score, bm25_rank, vec_rank, CAST(NULL AS INT) AS fused_rank "
    f"FROM ({_VARIANT_ORACLES['hybrid_search_rrf']}) __single "
    "UNION ALL "
    "SELECT 'batch' AS variant, query_id, doc_id, rrf_score, bm25_rank, "
    f"vec_rank, fused_rank FROM ({_RRF_BATCH_SQL}) __batch"
)

QUERIES = {
    k: v for k, v in _VARIANT_QUERIES.items() if k != "hybrid_search_rrf_batch"
}
QUERIES["hybrid_search_rrf"] = _hybrid_search_rrf_all
ORACLES = {
    k: v for k, v in _VARIANT_ORACLES.items() if k != "hybrid_search_rrf_batch"
}
ORACLES["hybrid_search_rrf"] = _RRF_ALL_SQL
