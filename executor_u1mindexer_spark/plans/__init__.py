"""Plan-inspection helpers — make physical-plan quality assertable.

The 100 TB design contract for every operator in this engine:
- filters and column selection reach the parquet scan (PushedFilters /
  pruned ReadSchema),
- small sides broadcast (BroadcastHashJoin / BroadcastNestedLoopJoin, never
  a shuffled join against a dim table),
- global top-k plans as TakeOrderedAndProject (per-partition heap),
- expressions stay inside WholeStageCodegen spans.

tests/test_plans.py pins these properties so a regression that silently
de-optimizes a plan (e.g. a lost broadcast hint → 100 TB shuffle) fails CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (df.explain prints to stdout; this
    returns it for asserting). mode: formatted|simple|extended|codegen|cost."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters lines of every scan in the plan."""
    return "\n".join(
        ln.strip() for ln in physical_plan(df).splitlines() if "PushedFilters" in ln
    )


def read_schemas(df: DataFrame) -> str:
    """The ReadSchema lines of every scan (column-pruning evidence)."""
    return "\n".join(
        ln.strip() for ln in physical_plan(df).splitlines() if "ReadSchema" in ln
    )


def window_over_single_partition(df: DataFrame) -> bool:
    """True if any Window operator is fed by a SinglePartition exchange —
    the whole-table-through-one-task shape (a partition-less Window.orderBy).
    Scalar global aggregates also use SinglePartition but only over the tiny
    partial-agg output, so they are deliberately NOT flagged."""
    return window_over_single_partition_text(physical_plan(df, "simple"))


def has_cartesian_product(plan_text: str) -> bool:
    """True if the plan contains a CartesianProduct node — the all-pairs
    shuffle-everything join Spark falls back to when a non-equi join has
    no broadcastable side. Deliberate bounded cross joins (1-row scalar
    aggregates, literal tables) plan as BroadcastNestedLoopJoin and are
    NOT flagged."""
    return "CartesianProduct" in plan_text


def window_over_single_partition_text(plan_text: str) -> bool:
    """Text-level twin of window_over_single_partition, for callers that
    already hold the plan string (registry-wide lints compile each query
    plan once and run every shape check on it)."""
    import re

    lines = plan_text.splitlines()
    for i, ln in enumerate(lines):
        # exact Window node (not WindowGroupLimit, which is a top-k pushdown)
        if re.match(r"^[\s:+*-]*Window\s", ln):
            # child chain is Window <- Sort <- Exchange within a few lines
            for nxt in lines[i + 1 : i + 4]:
                if "Exchange" in nxt:
                    if "SinglePartition" in nxt:
                        return True
                    break
    return False


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen subtrees. Uses the `codegen` explain
    mode because AQE plans don't expose codegen ids in `formatted` output
    before execution."""
    plan = physical_plan(df, mode="codegen")
    for ln in plan.splitlines():
        if "WholeStageCodegen subtrees" in ln:  # "Found N WholeStageCodegen subtrees."
            return int(ln.split("Found")[1].split("WholeStageCodegen")[0].strip())
    return 0
