"""Distributed linear algebra over embedding columns — exact Gram/moment
accumulation (the covariance/whitening primitive) with the repo's
scaled-integer bit-exactness discipline.

The 100 TB shape is the point: computing a d x d covariance over n
vectors must NEVER shuffle n * d^2 rows (the naive posexplode +
self-join + groupBy). The right factorization is the classic partial
Gram accumulation: each partition reduces its vectors to ONE d x d
int64 matrix (numpy `M.T @ M` over the Arrow batch — exact integer
arithmetic), emits the d*(d+1)/2 upper-triangle entries, and a single
bounded groupBy-sum merges partitions. Shuffled bytes are O(partitions
* d^2) regardless of n — the same bounded-state principle as the
HLL/CMS/quantile sketch family, except the "sketch" here is exact.

Bit-exactness: vectors are quantized q_i = round(x_i * scale) as BIGINT
first (the embedding_quantize_int8 convention), so every downstream sum
is an order-free integer — partition count, engine, and fold order
cannot move a bit, and the DuckDB oracle can state the same moments
relationally. Overflow bound: |q| <= scale * max|x|; with unit-norm-ish
embeddings at scale=1000, sum q_i*q_j stays under 2^63 up to ~10^12
vectors (documented, asserted in the kernel).

[NOT IN REFERENCE — executor.py:6 stores embeddings opaquely; this is
beyond-reference breadth for the training-data-pipeline mandate.]
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRAM_SCALE = 1000

_MOMENT_SCHEMA = (
    "i int, j int, n_part long, sum_qi long, sum_qj long, sum_qq long"
)


def quantized_vectors(
    emb: DataFrame, *, vec_col: str = "embedding", scale: int = GRAM_SCALE
) -> DataFrame:
    """(qv: array<long>) with q_i = round(x_i * scale) — the shared
    quantization fragment (Spark round and DuckDB round agree on the
    half-away-from-zero convention; proven by the quantize_int8 row)."""
    v = F.col(vec_col).cast("array<double>")
    return emb.select(
        F.transform(v, lambda x: F.round(x * F.lit(float(scale))).cast("long")).alias(
            "qv"
        )
    )


def gram_moments(emb: DataFrame) -> DataFrame:
    """Exact second-moment accumulation: one row per dimension pair
    (i <= j) with (n, sum_qi, sum_qj, sum_qq) over quantized vectors.
    Everything a covariance/correlation/whitening step needs, in
    order-free BIGINT arithmetic. Per partition: one numpy int64
    M.T @ M; across partitions: one groupBy-sum over <= parts * d(d+1)/2
    rows."""
    import numpy as np

    q = quantized_vectors(emb, vec_col="embedding", scale=GRAM_SCALE)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        sums = None
        n = 0
        qmax = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf["qv"].tolist(), dtype=np.int64)
            qmax = max(qmax, int(np.abs(m).max()))
            if acc is None:
                acc = m.T @ m
                sums = m.sum(axis=0)
            else:
                acc += m.T @ m
                sums += m.sum(axis=0)
            n += m.shape[0]
        if acc is None:
            return
        # overflow tripwire: int64 matmul wraps silently if violated
        assert float(qmax) ** 2 * n < 2**62, "gram scale overflow"
        iu = np.triu_indices(acc.shape[0])
        yield pd.DataFrame(
            {
                "i": iu[0].astype("int32"),
                "j": iu[1].astype("int32"),
                "n_part": np.int64(n),
                "sum_qi": sums[iu[0]],
                "sum_qj": sums[iu[1]],
                "sum_qq": acc[iu],
            }
        )

    parts = q.mapInPandas(partial, schema=_MOMENT_SCHEMA)
    return (
        parts.groupBy("i", "j")
        .agg(
            F.sum("n_part").alias("n"),
            F.sum("sum_qi").alias("sum_qi"),
            F.sum("sum_qj").alias("sum_qj"),
            F.sum("sum_qq").alias("sum_qq"),
        )
        .orderBy("i", "j")
    )
