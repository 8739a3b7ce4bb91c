"""Z-order layout (operators/layout.py): Morton-code correctness, rank-
space mapping, and the layout theorem on a synthetic uniform grid."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from executor_u1mindexer_spark.operators import layout as L


def _morton_py(a: int, b: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_morton_interleave_matches_python(spark):
    rows = [(a, b) for a in (0, 1, 5, 170, 255) for b in (0, 3, 77, 128, 255)]
    df = spark.createDataFrame(rows, "a long, b long")
    expr = L.morton_interleave_sql("a", "b", 8, "spark")
    got = {(r.a, r.b): r.z for r in df.select("a", "b", F.expr(expr).alias("z")).collect()}
    for (a, b), z in got.items():
        assert z == _morton_py(a, b, 8), (a, b)


def test_rank_space_map_is_uniform_and_order_preserving(spark):
    df = spark.createDataFrame([(v,) for v in (3, 30, 7, 1000, 7, 3)], "x long")
    got = {r.value: r.mapped for r in L._rank_space_maps(df, ["x"], 4)["x"].collect()}
    # 4 distinct values spread over [0, 16): ranks 1..4 -> 0, 4, 8, 12
    assert got == {3: 0, 7: 4, 30: 8, 1000: 12}


def test_zorder_theorem_on_uniform_grid(spark):
    # 64x64 uniform grid: z-order must cluster BOTH dims; the by-a sort
    # keeps a-spans tighter but leaves b-spans at the full range
    rows = [(a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, "a long, b long")
    r = L.zorder_layout_stats(df, "a", "b", bits=6, n_bucket_bits=4).collect()[0]
    assert r.zorder_clusters_b
    assert r.single_dim_wins_own_dim
    # quantified: 16 z-buckets each cover a 16x16 tile of the 64x64 rank
    # space -> per-bucket spans well below the full 2^6 range
    assert r.z_sum_b_span < r.a_sum_b_span / 2


def test_morton_validates_bits():
    with pytest.raises(ValueError, match="bits"):
        L.morton_interleave_sql("a", "b", 0, "spark")


def test_rank_space_map_no_single_partition_window(spark, sf_dir):
    """VERDICT r06 #2 pin: the zorder path must never feed a Window from a
    SinglePartition exchange — ranks run in per-coarse-bucket partitions."""
    from executor_u1mindexer_spark import plans

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert not plans.unpartitioned_window(
        plans.nodes(L._rank_space_maps(li, ["l_partkey"])["l_partkey"])
    )
    assert not plans.unpartitioned_window(
        plans.nodes(L.zorder_layout_stats(li, "l_partkey", "l_suppkey"))
    )


def test_hilbert_python_reference_is_the_textbook_curve():
    """The plain-Python reference walks the canonical order at bits=2 and
    keeps the defining Hilbert property — consecutive curve positions are
    grid-adjacent (unit Manhattan step), which Morton violates — so the
    engine unrollings below are pinned to the real curve, not merely to
    each other."""
    seq = [(0, 0), (1, 0), (1, 1), (0, 1), (0, 2), (0, 3), (1, 3), (1, 2),
           (2, 2), (2, 3), (3, 3), (3, 2), (3, 1), (2, 1), (2, 0), (3, 0)]
    assert [L.hilbert_xy2d_py(2, x, y) for x, y in seq] == list(range(16))
    inv = {L.hilbert_xy2d_py(5, x, y): (x, y) for x in range(32) for y in range(32)}
    assert len(inv) == 1024  # bijective
    for d in range(1023):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d


def test_hilbert_apply_matches_python(spark):
    rows = [(a, b) for a in (0, 1, 5, 170, 255) for b in (0, 3, 77, 128, 255)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {(r.a, r.b): r.h for r in L.hilbert_apply(df, "a", "b", 8, out="h").collect()}
    for (a, b), h in got.items():
        assert h == L.hilbert_xy2d_py(8, a, b), (a, b)


def test_hilbert_layout_on_uniform_grid(spark):
    """On the 64x64 uniform grid both curves cluster both dims vs the
    single-column sort, and Hilbert's combined spans tie-or-beat
    Morton's — the no-diagonal-jump advantage the operator reports."""
    rows = [(a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, "a long, b long")
    r = L.hilbert_layout_stats(df, "a", "b", bits=6, n_bucket_bits=4).collect()[0]
    assert r.hilbert_clusters_b
    assert r.hilbert_spans_le_morton
    assert r.h_sum_b_span < r.a_sum_b_span / 2


def test_hilbert_apply_plan_stays_linear(spark):
    """The unrolled stages must survive as a projection chain, not an
    inlined exponential expression tree: the optimized plan's total
    string size stays far below what full inlining would produce."""
    df = spark.createDataFrame([(3, 4)], "a long, b long")
    plan = L.hilbert_apply(df, "a", "b", 8, out="h")._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 200_000, len(plan)


def test_rank_space_map_matches_single_window_reference(spark):
    """Distributed rank == the plain dense_rank formula, across types
    (int, double, date, string) including values colliding into one
    coarse bucket and heavy duplication."""
    import datetime as dt

    cases = [
        ([(v,) for v in (5, 5, 2, 9, 2, 7, 100000, -3)], "x long"),
        ([(float(v) / 7,) for v in range(40)] * 2, "x double"),
        ([(dt.date(2024, 1, 1 + i % 9),) for i in range(30)], "x date"),
        ([(s,) for s in ("pear", "apple", "  ", "zz", "apple", "Banana")], "x string"),
    ]
    for rows, schema in cases:
        df = spark.createDataFrame(rows, schema)
        got = {r.value: r.mapped for r in L._rank_space_maps(df, ["x"], 8)["x"].collect()}
        ref = {
            r.value: r.m
            for r in df.selectExpr("x AS value")
            .distinct()
            .selectExpr(
                "value",
                f"CAST(((dense_rank() OVER (ORDER BY value ASC) - 1) * 256)"
                f" DIV {len(got)} AS BIGINT) AS m",
            )
            .collect()
        }
        assert got == ref, schema
