"""Fixture-table loaders.

The driver's test data (/root/testdata/sf*/ — see TESTDATA.md) is the
engine's source-of-truth input: a TPC-H-ish star schema plus `events`,
`documents` and `embeddings`. Loading is plain `spark.read.parquet` so
Catalyst keeps predicate pushdown / column pruning / partition pruning —
the Spark equivalent of the reference's load path (executor.py:51-63).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fixture embedding dimensionality (reference default was 768, config.yml:3;
# the driver fixture uses 64 — see FIXTURES.md).
EMBEDDING_DIM = 64


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table as a DataFrame (vectorized parquet scan).

    events.ts is TIMESTAMP(NANOS) in the fixture; Spark reads it as int64
    nanos (see session.py nanosAsLong) and we convert to a microsecond
    timestamp here (truncating, matching DuckDB's ns→us cast).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # set on the CALLER's session, not only ours (session.py): the
        # driver harness passes its own vanilla SparkSession, which rejects
        # TIMESTAMP(NANOS) parquet without this (runtime-settable legacy conf)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer DIV, not `/`: ns epochs (~1.7e18) exceed double's 2^53
        # exact-integer range, so float division corrupts the low microseconds.
        # Cast to timestamp_ntz to match the other fixture tables (parquet
        # isAdjustedToUTC=false) — keeps every timestamp column tz-naive so
        # Arrow conversions can't diverge from the DuckDB oracle.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every fixture table; keys match DuckDB oracle view names."""
    return {name: load(spark, sf_dir, name) for name in TABLES}

