"""Bucketed tables — pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of a fact-fact join is the shuffle. Writing both
tables bucketed (and sorted) by the join key moves that shuffle to write
time, once; every subsequent join on the key is exchange-free: Spark's
bucketing-aware scan feeds the sort-merge join directly.

tests/test_plans.py::test_bucketed_join_has_no_join_exchange pins the
exchange-free plan shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str) -> None:
    """Persist as a bucketed+sorted managed table (idempotent overwrite).

    A managed table's warehouse dir can survive from a previous session
    whose (local derby) metastore is gone — saveAsTable then refuses with
    LOCATION_ALREADY_EXISTS; drop both the catalog entry and the orphan dir.
    """
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key_left: str,
    key_right: str,
) -> DataFrame:
    """Join two same-bucketed tables on their bucket keys. The MERGE hint
    keeps the plan on sort-merge (a broadcast would hide the co-location);
    with matching bucket counts there is no exchange before the join."""
    l = spark.table(left_table)
    r = spark.table(right_table).hint("MERGE")
    return l.join(r, l[key_left] == r[key_right])
