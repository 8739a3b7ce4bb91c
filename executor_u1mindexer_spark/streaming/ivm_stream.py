"""Streaming twin of incremental view maintenance: the drained CDC ledger.

operators/maintenance.ivm_retract_merge IS the streaming-sink pattern: a
changelog stream reduces each micro-batch to its per-key partial state
(maintenance.ivm_retract_state_cdc — grouped keys, never facts; each row
carries a +1/-1 sign, so DELETE rows retract without any base rescan),
and the maintained view is the grouped fold of those per-batch partials.
All three lanes are plain sums, so the fold order is free and the view
of a drained backlog is bit-identical to the batch operator's.

State bound: (#batches seen) x (keys per batch) grouped rows — the
per-batch entry is key-cardinality-sized regardless of batch row count,
which is what makes the driver-side fold legitimate. The registered row
suites/maintenance_suite.ivm_retract_cdc_backlog drives this path.

[NOT IN REFERENCE — executor.py has no streaming surface.]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from executor_u1mindexer_spark.operators import maintenance as M


def retract_ivm_view(
    spark: SparkSession, states: dict[int, list], keys: list[str]
) -> DataFrame:
    """Maintained retractable view over the drained backlog: the grouped
    fold of the per-batch CDC partials through the SAME
    maintenance.ivm_retract_merge path as the batch operator (fully-
    retracted keys leave the view; a net-negative key — retraction of
    never-inserted rows — fails loudly). Read it over a DRAINED backlog:
    mid-drain, a key whose delete landed in an earlier-read batch than
    its insert can be transiently negative; the drained fold is exact
    because addition commutes."""
    rows = [tuple(e) for entry in states.values() for e in entry]
    schema = ", ".join(
        [f"{k} string" for k in keys]
        + ["n_rows long", "sum_milli long", "sumsq_milli2 decimal(38,0)"]
    )
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    return M.ivm_retract_merge(df.limit(0), df, keys)
