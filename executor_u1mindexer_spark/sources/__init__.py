"""Source/sink IO — the engine's scan/load surface (SURVEY.md §2.B).

The reference's persistence is index.bin + ids.json + a memmap dir
(executor.py:51-62, 233-236); the Spark engine's state is format-agnostic
tables. Parquet is the primary format (columnar, predicate pushdown,
column pruning); ORC is the second columnar option (same pushdown/pruning
machinery, built into vanilla Spark); CSV/JSON are supported for
interchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

FORMATS = ("parquet", "orc", "csv", "json")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Read one table. CSV defaults to header+inferSchema unless a schema is
    given (explicit schema avoids the double-pass inference scan — at 100 TB
    always pass one)."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options = {"header": "true", **({} if schema else {"inferSchema": "true"}), **options}
    return reader.options(**options).format(fmt).load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: Sequence[str] = (),
    **options: str,
) -> None:
    """Write one table snapshot. partition_by gives partition pruning on
    read — the on-disk analog of a coarse index."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {FORMATS}")
    writer = df.write.mode("overwrite").options(**options)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)
