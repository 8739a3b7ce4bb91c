"""Registry folding helpers — parameterized twin rows (VERDICT r09 #3).

193 registry rows against a 50-slot driver window meant >= 4 rounds to
cycle a correctness row through every query; near-duplicate rows (the
sketch family's state/estimate/merge/grouped x HLL/CMS/Bloom/quantile/AMS
grid, the four knn batch sizes, the scalar/window/grouping showcases)
differ only by a constant or a column list, so each family folds into ONE
registered row that UNIONs its variants under a canonical MELTED schema:

    (variant string, k1 string, k2 string, metric string,
     val double, val_s string)

- ``variant`` is the old registry-row name (the audit trail: every folded
  row's coverage is findable by grepping its old name).
- ``k1``/``k2`` are the variant's key columns cast to string (NULL-padded
  when a variant has fewer keys). Key expressions must be valid in BOTH
  dialects; float keys must be rounded to integers first (e.g.
  ``CAST(round(q * 100, 0) AS BIGINT)``) — a raw float-to-string cast has
  no cross-engine formatting guarantee.
- each non-key output column becomes one (metric, val) row: numerics cast
  to double (exact below 2^53 — every folded metric is a count, rank,
  hash field, or an already-double), booleans become 1.0/0.0 (NULL stays
  NULL), strings/dates go to ``val_s`` (dates via CAST(x AS DATE) first,
  which prints identically in both engines).

What this trades away, deliberately: the driver's per-row DTYPE check on
folded rows compares doubles/strings instead of the original
bigint/boolean columns. Dtype faithfulness stays covered by the ~120
unfolded rows; value coverage is UNCHANGED (every variant's every output
column still reaches the driver compare, tagged by variant+metric).

The per-variant builder functions all remain importable and
pytest-covered in their suite modules — the fold changes only what the
registry REGISTERS, not what exists.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Columns of the canonical melted row, in order.
MELT_COLS = ("variant", "k1", "k2", "metric", "val", "val_s")


def melt_spark(
    df: DataFrame,
    variant: str,
    keys: list[str],
    metrics: list[str],
    *,
    bools: frozenset[str] | set[str] = frozenset(),
    strings: frozenset[str] | set[str] = frozenset(),
    dates: frozenset[str] | set[str] = frozenset(),
) -> DataFrame:
    """Melt one variant's DataFrame to the canonical fold schema.

    ``keys`` are SQL expressions (valid in both dialects — usually bare
    column names); ``metrics`` are column NAMES of df. The lane sets are
    the SAME declaration melt_sql receives; each is cross-checked against
    df's actual dtype so the Spark and oracle sides cannot silently
    disagree about a metric's lane."""
    if len(keys) > 2:
        raise ValueError(f"melt supports <= 2 keys, got {keys}")
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    kexprs = []
    for i in range(2):
        if i < len(keys):
            kexprs.append(F.expr(keys[i]).cast("string").alias(f"k{i + 1}"))
        else:
            kexprs.append(F.lit(None).cast("string").alias(f"k{i + 1}"))
    parts = []
    for m in metrics:
        dt = dtypes[m]
        # the date lane melts via cast-to-DATE-then-string, which would
        # silently discard a timestamp's time-of-day from the compare —
        # so only dtype 'date' is admitted; a timestamp metric must be
        # formatted by the variant builder itself (ADVICE r10)
        if dt.startswith("timestamp"):
            raise ValueError(
                f"fold metric {variant}.{m} has dtype {dt}: the date lane "
                "accepts only DATE — format timestamps to string (full "
                "precision) in the variant builder instead"
            )
        lane = (
            "bool"
            if dt == "boolean"
            else "string"
            if dt == "string"
            else "date"
            if dt.startswith("date")
            else "num"
        )
        declared = (
            "bool" if m in bools else "string" if m in strings else "date" if m in dates else "num"
        )
        if lane != declared:
            raise ValueError(
                f"fold lane mismatch for {variant}.{m}: dtype {dt} is lane "
                f"{lane!r} but the oracle-side declaration says {declared!r}"
            )
        val = F.lit(None).cast("double")
        val_s = F.lit(None).cast("string")
        if lane == "bool":
            val = F.when(F.col(m), F.lit(1.0)).when(~F.col(m), F.lit(0.0))
        elif lane == "string":
            val_s = F.col(m)
        elif lane == "date":
            val_s = F.col(m).cast("date").cast("string")
        else:
            val = F.col(m).cast("double")
        parts.append(
            df.select(
                F.lit(variant).alias("variant"),
                *kexprs,
                F.lit(m).alias("metric"),
                val.alias("val"),
                val_s.alias("val_s"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def melt_sql(
    variant: str,
    sql: str,
    keys: list[str],
    metrics: list[str],
    *,
    bools: set[str] = frozenset(),
    strings: set[str] = frozenset(),
    dates: set[str] = frozenset(),
) -> str:
    """DuckDB-side twin of melt_spark over an existing per-variant oracle
    SQL string. ``bools``/``strings``/``dates`` declare the metric lanes
    (the SQL side cannot inspect dtypes; tools/oracle_check.py fails
    loudly on any mismatch with the Spark side)."""
    if len(keys) > 2:
        raise ValueError(f"melt supports <= 2 keys, got {keys}")
    kparts = []
    for i in range(2):
        if i < len(keys):
            kparts.append(f"CAST({keys[i]} AS VARCHAR) AS k{i + 1}")
        else:
            kparts.append(f"CAST(NULL AS VARCHAR) AS k{i + 1}")
    parts = []
    for m in metrics:
        val, val_s = "CAST(NULL AS DOUBLE)", "CAST(NULL AS VARCHAR)"
        if m in bools:
            val = f"CASE WHEN {m} THEN 1.0e0 WHEN NOT {m} THEN 0.0e0 END"
        elif m in strings:
            val_s = f"CAST({m} AS VARCHAR)"
        elif m in dates:
            val_s = f"CAST(CAST({m} AS DATE) AS VARCHAR)"
        else:
            val = f"CAST({m} AS DOUBLE)"
        parts.append(
            f"SELECT '{variant}' AS variant, {kparts[0]}, {kparts[1]}, "
            f"'{m}' AS metric, {val} AS val, {val_s} AS val_s "
            f"FROM ({sql}) __melt_src"
        )
    return "\nUNION ALL\n".join(parts)


def union_all(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)


def fold_family(
    name: str,
    members: list[tuple[str, list[str], list[str], dict]],
    queries: dict,
    oracles: dict,
):
    """Build the folded (query_fn, oracle_sql) pair for one family.

    ``members``: (variant_name, keys, metrics, lanes) per variant, where
    lanes is a dict with optional bools/strings/dates sets — ONE
    declaration consumed by BOTH engine sides (melt_spark cross-checks it
    against real dtypes). ``queries``/``oracles`` are the suite's
    per-variant registries; the variant entries stay importable and
    pytest-covered, the fold only changes what the REGISTRY registers."""

    def q(spark, sf_dir):
        return union_all(
            [
                melt_spark(
                    queries[v](spark, sf_dir),
                    v,
                    keys,
                    metrics,
                    **{k: set(s) for k, s in lanes.items()},
                )
                for v, keys, metrics, lanes in members
            ]
        )

    q.__name__ = name
    # mechanical fold marker (VERDICT r10 #4): tests/test_fold_witness.py
    # enumerates folded registry rows by this attribute and re-runs each
    # family's WIDEST variant through the UNFOLDED builder against its
    # original-dtype oracle — the folded row compares doubles/strings by
    # design, so every family keeps one dtype-faithful witness in pytest.
    q.__fold_members__ = members
    q.__fold_sources__ = (queries, oracles)
    q.__doc__ = (
        f"Parameterized twin row (VERDICT r09 #3): UNION of "
        f"{[m[0] for m in members]} under the canonical melted schema — "
        "see suites/_fold.py."
    )
    sql = "\nUNION ALL\n".join(
        melt_sql(v, oracles[v], keys, metrics, **{k: set(s) for k, s in lanes.items()})
        for v, keys, metrics, lanes in members
    )
    return q, sql
