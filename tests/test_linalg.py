"""linalg operators: exact Gram moments vs brute force and across
partitionings."""

from __future__ import annotations

import numpy as np

from executor_u1mindexer_spark.operators import linalg as L


def _emb_df(spark, mat):
    rows = [(i, [float(x) for x in row]) for i, row in enumerate(mat)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_gram_moments_match_brute_force(spark):
    rng = np.random.default_rng(42)
    mat = rng.normal(scale=0.3, size=(37, 5)).astype(np.float32)
    got = {
        (r.i, r.j): (r.n, r.sum_qi, r.sum_qj, r.sum_qq)
        for r in L.gram_moments(_emb_df(spark, mat)).collect()
    }
    q = np.round(mat.astype(np.float64) * L.GRAM_SCALE).astype(np.int64)
    g = q.T @ q
    s = q.sum(axis=0)
    assert len(got) == 5 * 6 // 2
    for i in range(5):
        for j in range(i, 5):
            assert got[(i, j)] == (37, s[i], s[j], g[i, j]), (i, j)


def test_gram_moments_partition_invariant(spark):
    rng = np.random.default_rng(7)
    mat = rng.normal(scale=0.5, size=(64, 4)).astype(np.float32)
    df = _emb_df(spark, mat)
    a = sorted(map(tuple, L.gram_moments(df).collect()))
    b = sorted(map(tuple, L.gram_moments(df.repartition(13)).collect()))
    assert a == b
