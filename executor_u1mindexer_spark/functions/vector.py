"""Vector distance/similarity column expressions — pure Catalyst.

Mirrors the reference's three hnswlib metric spaces (executor.py:259-275,
selected at executor.py:49) and its distance→similarity rewrite
(executor.py:117-124), but as whole-stage-codegen'd higher-order array
functions instead of a C++ kernel. Semantics pinned to hnswlib 0.5.2:

- cosine:        d = 1 - <a,b> / (|a|·|b|)          (reference 'cosine')
- euclidean:     d = sum((a_i-b_i)^2)  — SQUARED L2  (reference 'l2')
- inner_product: d = 1 - <a,b>                       (reference 'ip')

All folds run left-to-right over the array in DOUBLE precision so results
are bit-reproducible and match an identically-ordered fold in any IEEE-754
engine (the DuckDB oracle uses the same fold order).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

METRICS = ("cosine", "euclidean", "inner_product")


def as_double_array(col: Column | str) -> Column:
    """Cast array<float> to array<double> before any arithmetic.

    Fixture embeddings are float32 (FIXTURES.md); promoting each element to
    double FIRST (exact) keeps every subsequent op a deterministic double op.
    """
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """<a,b> as a left-to-right double fold (zip_with + aggregate)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """Euclidean norm |a| with the same fold order as dot()."""
    return F.sqrt(dot(a, a))


def cosine_distance(a: Column, b: Column) -> Column:
    """hnswlib 'cosine' space: 1 - cos(a,b) (executor.py:263-264)."""
    return F.lit(1.0) - dot(a, b) / (norm(a) * norm(b))


def l2_sq_distance(a: Column, b: Column) -> Column:
    """hnswlib 'l2' space: SQUARED euclidean distance, no sqrt
    (executor.py:261-262 — hnswlib 0.5.2 returns d^2)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def inner_product_distance(a: Column, b: Column) -> Column:
    """hnswlib 'ip' space: 1 - <a,b> (executor.py:265-266)."""
    return F.lit(1.0) - dot(a, b)


def distance(metric: str, a: Column, b: Column) -> Column:
    """Metric dispatch, mirroring the reference's metric mapping
    (executor.py:259-275; unknown metric falls back is NOT reproduced —
    we raise, matching Spark's fail-fast idiom)."""
    if metric == "cosine":
        return cosine_distance(a, b)
    if metric == "euclidean":
        return l2_sq_distance(a, b)
    if metric == "inner_product":
        return inner_product_distance(a, b)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def score_transform(metric: str, dist: Column, is_distance: bool) -> Column:
    """Distance→similarity rewrite (executor.py:117-124).

    is_distance=True returns the raw distance; otherwise cosine/ip use
    1 - d and euclidean uses 1/(1+d).
    """
    if is_distance:
        return dist
    if metric in ("cosine", "inner_product"):
        return F.lit(1.0) - dist
    if metric == "euclidean":
        return F.lit(1.0) / (F.lit(1.0) + dist)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def dim_check(col: Column, dim: int) -> Column:
    """Boolean embedding-width validation (executor.py:105-110 raises
    ValueError on width mismatch; relationally this is a filter/assert)."""
    return F.size(col) == F.lit(dim)
