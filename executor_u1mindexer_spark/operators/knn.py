"""Exact top-k nearest-neighbor search — the flagship operator.

Reference semantics (executor.py:73-125, the `/search` endpoint): for each
query vector, return the k nearest stored vectors under the configured
metric (executor.py:112 `knn_query`), attach the FULL stored row for every
match (executor.py:116, README.md:14 "Always return full Documents"), apply
the optional distance→similarity transform (executor.py:117-124), clamp k
to the active index size (executor.py:97-102), and validate embedding width
(executor.py:105-110).

Spark-first design (no port of the HNSW graph):
- The query set is small relative to the corpus → `F.broadcast(queries)`
  + cross join = a broadcast nested-loop join. Each executor scans only its
  partitions of the stored vectors against an in-memory copy of the
  queries: embarrassingly parallel, no shuffle of the big side, scales
  linearly with executors at 100 TB.
- Distance = higher-order array functions (zip_with/aggregate) → stays in
  whole-stage codegen (the Tungsten answer to the reference's C++ kernel).
- Per-query top-k = row_number window, partitioned by query id. Spark's
  WindowGroupLimit (3.5+) pushes the rank-limit into a per-partition top-k
  heap before the shuffle, so only ~k rows per query per partition move.
- Ties broken on stored id so results are deterministic across partition
  orders (floats are folded in fixed order — see functions/vector.py).
- Exact search ⇒ recall 1.0; the reference's ef/M recall knobs
  (executor.py:22-24) have no exact-path equivalent. For corpora where a
  sub-linear batch path matters, see operators/similarity.py (LSH / IVF).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from executor_u1mindexer_spark.functions import vector as V

DEFAULT_K = 20  # reference default `limit: int = 20` (executor.py:19)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n,d) x (m,d) -> (n,m) dot products accumulated DIMENSION BY
    DIMENSION, reproducing the left-to-right double fold of
    functions/vector.dot (and the DuckDB oracle's list_reduce) bit-exactly:
    each acc step adds exactly one a_i*b_i product in dim order. A BLAS
    matmul (a @ b.T) would use pairwise/blocked summation — same math,
    different bits — and break the driver's value-hash comparison."""
    n, m = a.shape[0], b.shape[0]
    acc = np.zeros((n, m), dtype=np.float64)
    for d in range(a.shape[1]):
        acc += a[:, d, None] * b[None, :, d]
    return acc


def _fold_l2sq(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n,d) x (m,d) -> (n,m) squared-L2, same dim-order fold as
    functions/vector.l2_sq_distance."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for d in range(a.shape[1]):
        diff = a[:, d, None] - b[None, :, d]
        acc += diff * diff
    return acc


def _fold_sqnorm(a: np.ndarray) -> np.ndarray:
    """(n,d) -> (n,) squared norms with the same dim-order fold."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc += a[:, d] * a[:, d]
    return acc


def _arrow_scored(
    stored: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """(query_id, vec_id, __dist) candidates via a vectorized numpy kernel:
    each candidate row survives a per-chunk local top-k, so the global
    window sees ~k rows per query per corpus chunk instead of the full
    cross product.

    Fully distributed — no driver collect anywhere in the build path:
    - the query batch (the /search request payload — small by contract)
      is packed into ONE row via collect_list and broadcast;
    - the corpus is packed chunk-wise by mapInArrow (zero-copy views of
      the Arrow list buffers; partitioning untouched, no shuffle);
    - scoring unpacks both sides to numpy, folds distances in dim order
      (bit-identical to the Catalyst/DuckDB fold — see _fold_dot) and
      emits each chunk's top-k per query.
    This is the plug-in point where a per-partition ANN library build
    (reference executor.py:112 knn_query) would replace the exact kernel;
    the pack/broadcast/merge topology is identical.
    """
    s = stored.select(
        F.col(id_col).cast("long").alias("__sid"),
        V.as_double_array(vec_col).alias("__svec"),
    )
    q_packed = queries.select(
        F.col(query_id_col).cast("long").alias("__qid"),
        V.as_double_array(query_vec_col).alias("__qvec"),
    ).agg(F.collect_list(F.struct("__qid", "__qvec")).alias("__qs"))

    pack_schema = "ids array<bigint>, mat array<double>"

    def pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            vecs = batch.column(1)
            flat = vecs.flatten()  # list<double> values buffer, zero-copy
            yield pa.RecordBatch.from_arrays(
                [
                    pa.ListArray.from_arrays([0, len(ids)], ids),
                    pa.ListArray.from_arrays([0, len(flat)], flat),
                ],
                schema=pa.schema(
                    [("ids", pa.list_(pa.int64())), ("mat", pa.list_(pa.float64()))]
                ),
            )

    packed = s.mapInArrow(pack, pack_schema)
    joined = packed.crossJoin(F.broadcast(q_packed))

    out_fields = pa.schema(
        [
            (query_id_col, pa.int64()),
            (id_col, pa.int64()),
            ("__dist", pa.float64()),
        ]
    )

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids_col, mat_col, qs_col = (batch.column(i) for i in range(3))
            for i in range(batch.num_rows):
                # .values on a ListScalar slices the child buffer zero-copy;
                # only the tiny query list is materialized to Python.
                ids = ids_col[i].values.to_numpy()
                flat = mat_col[i].values.to_numpy()
                qs = qs_col[i].as_py()
                if len(ids) == 0 or not qs:
                    continue
                qids = np.asarray([r["__qid"] for r in qs], dtype=np.int64)
                qmat = np.asarray([r["__qvec"] for r in qs], dtype=np.float64)
                mat = flat.reshape(len(ids), -1)
                if metric == "cosine":
                    d = 1.0 - _fold_dot(mat, qmat) / (
                        np.sqrt(_fold_sqnorm(qmat))[None, :]
                        * np.sqrt(_fold_sqnorm(mat))[:, None]
                    )
                elif metric == "euclidean":
                    d = _fold_l2sq(mat, qmat)
                else:  # inner_product
                    d = 1.0 - _fold_dot(mat, qmat)
                kk = min(k, len(ids))
                # local top-k per query (argpartition), ties on id resolved
                # by the global window — emit kk+tie margin? Not needed:
                # argpartition keeps ALL candidates with the kk smallest
                # distances only if distances are distinct; to stay exact
                # under ties we keep everything within the kk-th distance.
                part = np.argpartition(d, kk - 1, axis=0)[:kk]  # (kk, m)
                thresh = np.take_along_axis(d, part, axis=0).max(axis=0)  # (m,)
                keep_r, keep_q = np.nonzero(d <= thresh[None, :])
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qids[keep_q], type=pa.int64()),
                        pa.array(ids[keep_r], type=pa.int64()),
                        pa.array(d[keep_r, keep_q], type=pa.float64()),
                    ],
                    schema=out_fields,
                )

    return joined.mapInArrow(
        score, f"{query_id_col} bigint, {id_col} bigint, __dist double"
    )


def knn_search(
    stored: DataFrame,
    queries: DataFrame,
    *,
    k: int = DEFAULT_K,
    metric: str = "cosine",
    is_distance: bool = True,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    payload: DataFrame | None = None,
    payload_key: str = "doc_id",
    impl: str = "catalyst",
) -> DataFrame:
    """Top-k exact KNN of each query against the stored vector table.

    Returns one row per (query, match) with columns
    (query_id, vec_id, rank, score) plus all payload columns when a payload
    DataFrame is given (the executor.py:116 full-Document fetch).

    `k` must be >= 1. Spark's rank filter naturally returns fewer rows
    when the corpus is smaller than k — same observable behavior as the
    reference's clamp (executor.py:97-102).

    impl='catalyst' (default): BNL join + codegen'd higher-order-function
    distances — zero Python in the plan, the right default for wide scans.
    impl='arrow': chunk-packed numpy kernel with per-chunk local top-k
    (see _arrow_scored) — value-identical INCLUDING bit-level distances
    (same fold order), ~10x less per-pair interpretation overhead for
    large query batches; the shape an hnswlib-style per-partition index
    would plug into.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if impl == "arrow":
        scored = _arrow_scored(
            stored,
            queries,
            k=k,
            metric=metric,
            id_col="vec_id",
            vec_col="embedding",
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
    else:
        q = queries.select(
            F.col(query_id_col),
            V.as_double_array(query_vec_col).alias("__qvec"),
        )
        s = stored.select(
            F.col("vec_id"),
            V.as_double_array("embedding").alias("__svec"),
        )
        if metric == "cosine":
            # norms once per ROW before the join, not once per PAIR inside the
            # distance expression (q queries x n vectors would fold each norm
            # q times); the arithmetic 1 - dot/(qn*sn) is bit-identical to
            # V.cosine_distance, just factored out of the pair loop.
            q = q.withColumn("__qn", V.norm(F.col("__qvec")))
            s = s.withColumn("__sn", V.norm(F.col("__svec")))

        # Broadcast the small query side; BNL join keeps the corpus un-shuffled.
        joined = s.crossJoin(F.broadcast(q))
        if metric == "cosine":
            dist = F.lit(1.0) - V.dot(F.col("__qvec"), F.col("__svec")) / (
                F.col("__qn") * F.col("__sn")
            )
        else:
            dist = V.distance(metric, F.col("__qvec"), F.col("__svec"))
        scored = joined.select(
            query_id_col,
            "vec_id",
            dist.alias("__dist"),
        )

    w = Window.partitionBy(query_id_col).orderBy(F.col("__dist").asc(), F.col("vec_id").asc())
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(k))
        .select(
            query_id_col,
            "vec_id",
            "rank",
            V.score_transform(metric, F.col("__dist"), is_distance).alias("score"),
        )
    )
    if payload is not None:
        # executor.py:116 — every match carries the full stored row. The
        # top-k side (k rows per query) broadcasts into the payload scan:
        # a shuffle join would hash-partition the whole payload table for
        # k x queries result rows.
        topk = (
            F.broadcast(topk)
            .join(payload, on=topk["vec_id"] == payload[payload_key], how="inner")
            .drop(payload_key)
        )
    return topk


def dim_guard(col: Column, dim: int) -> Column:
    """Width-validating pass-through of an embedding column — LAZY form.

    `CASE WHEN size(col)=dim THEN col ELSE raise_error(...) END`: the check
    rides the column into whatever pass materializes it, so enforcement
    costs zero extra jobs and zero extra reads. At 100 TB the eager
    validate-then-ingest shape scans the batch twice; this guard validates
    in the single ingest pass. Error timing therefore moves from the
    endpoint call to the first action that touches the data (dump/search
    collection) — the Spark-first analogue of the reference's per-request
    ValueError (executor.py:105-110, 144-148, 199-204), surfaced as
    USER_RAISED_EXCEPTION with the same message text.
    """
    return F.when(V.dim_check(col, dim), col).otherwise(
        F.raise_error(
            F.lit(
                "Attempted to process vectors whose dimension != the index "
                f"dim ({dim})"
            )
        )
    )
