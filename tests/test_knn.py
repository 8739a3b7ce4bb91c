"""KNN flagship: exact results vs a numpy brute-force oracle, plus the
reference's semantic quirks (squared L2, 1-d transforms, clamp)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.operators import knn


def _numpy_topk(emb: dict[int, np.ndarray], queries: dict[int, np.ndarray], k: int, metric: str):
    ids = sorted(emb)
    M = np.stack([emb[i] for i in ids]).astype(np.float64)
    out = {}
    for qid, qv in queries.items():
        q = qv.astype(np.float64)
        if metric == "cosine":
            d = 1.0 - (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
        elif metric == "euclidean":
            d = ((M - q) ** 2).sum(axis=1)  # squared L2, hnswlib 0.5.2 semantics
        else:
            d = 1.0 - M @ q
        order = sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))[:k]
        out[qid] = [ids[i] for i in order]
    return out


@pytest.fixture(scope="module")
def emb_df(spark, sf_dir):
    return tables.load(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def emb_np(emb_df):
    rows = emb_df.collect()
    return {r.vec_id: np.array(r.embedding, dtype=np.float32) for r in rows}


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "inner_product"])
def test_knn_matches_numpy_bruteforce(spark, emb_df, emb_np, metric):
    k = 10
    qids = sorted(emb_np)[:5]
    queries = emb_df.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    got = knn.knn_search(emb_df, queries, k=k, metric=metric).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    want = _numpy_topk(emb_np, {q: emb_np[q] for q in qids}, k, metric)
    assert by_q == want


def test_self_match_is_rank1_with_zero_distance(spark, emb_df):
    queries = emb_df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    rows = knn.knn_search(emb_df, queries, k=3, metric="euclidean").orderBy("rank").collect()
    assert rows[0].vec_id == 0 and rows[0].rank == 1
    assert rows[0].score == 0.0  # exact self squared-L2


def test_similarity_transform(spark, emb_df):
    # is_distance=False: cosine -> 1-d (executor.py:119-120)
    queries = emb_df.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    d = knn.knn_search(emb_df, queries, k=1, metric="cosine", is_distance=True).collect()[0]
    s = knn.knn_search(emb_df, queries, k=1, metric="cosine", is_distance=False).collect()[0]
    assert abs((1.0 - d.score) - s.score) < 1e-12
    d2 = knn.knn_search(emb_df, queries, k=1, metric="euclidean", is_distance=False).collect()[0]
    assert d2.score == pytest.approx(1.0, abs=1e-9)  # 1/(1+0) for self match


def test_k_larger_than_corpus_degrades(spark, emb_df):
    small = emb_df.filter(F.col("vec_id") < 5)
    queries = small.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    ).limit(1)
    rows = knn.knn_search(small, queries, k=100, metric="cosine").collect()
    assert len(rows) == 5  # clamp semantics (executor.py:97-102)


def test_payload_fetch_returns_full_rows(spark, emb_df, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    queries = emb_df.filter(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    out = knn.knn_search(emb_df, queries, k=5, metric="cosine", payload=docs)
    rows = out.collect()
    assert len(rows) == 5
    assert {"text", "lang", "source", "n_chars"} <= set(out.columns)


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "inner_product"])
def test_arrow_impl_bit_identical_to_catalyst(spark, emb_df, metric):
    """The arrow kernel folds distances dimension-by-dimension in the same
    left-to-right order as the Catalyst HOF fold, so scores must be
    BIT-identical (the driver's value hash is bit-sensitive) — not merely
    approximately equal."""
    import struct

    queries = emb_df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    key = lambda r: (r.query_id, r["rank"], r.vec_id, struct.pack("<d", r.score))
    a = sorted(map(key, knn.knn_search(emb_df, queries, k=20, metric=metric, impl="arrow").collect()))
    c = sorted(map(key, knn.knn_search(emb_df, queries, k=20, metric=metric, impl="catalyst").collect()))
    assert a == c and len(a) > 0


def test_hnsw_impl_matches_exact_on_fixture(spark, emb_df):
    """The per-partition HNSW graph search has effectively recall 1.0 on
    the fixture corpus, so its MATCH SETS equal exact knn_search's
    (distances may differ at the last bit — the graph kernel computes
    1 - dot on pre-normalized rows)."""
    from executor_u1mindexer_spark.operators.similarity import hnsw_partitioned_topk

    queries = emb_df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    h = hnsw_partitioned_topk(emb_df, queries, k=10).collect()
    c = knn.knn_search(emb_df, queries, k=10).collect()
    assert {r.query_id for r in h} == {r.query_id for r in c}
    assert {(r.query_id, r.vec_id) for r in h} == {(r.query_id, r.vec_id) for r in c}
    assert all(hasattr(r, "rank") and hasattr(r, "dist") for r in h)


def test_arrow_impl_empty_query_batch(spark, emb_df):
    queries = emb_df.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    assert knn.knn_search(emb_df, queries, k=5, impl="arrow").count() == 0
