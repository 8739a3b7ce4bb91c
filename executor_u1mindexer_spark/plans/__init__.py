"""Plan inspection — make physical-plan quality assertable.

The 100 TB design contract for every operator in this engine:
- filters and column selection reach the parquet scan (PushedFilters /
  pruned ReadSchema),
- small sides broadcast (BroadcastHashJoin / BroadcastNestedLoopJoin, never
  a shuffled join against a dim table),
- global top-k plans as TakeOrderedAndProject (per-partition heap),
- expressions stay inside WholeStageCodegen spans.

tests/test_plans.py pins these properties so a regression that silently
de-optimizes a plan (e.g. a lost broadcast hint → 100 TB shuffle) fails CI.
The pins ask the plan tree, never explain text: ``nodes(df)`` walks the
executed physical plan through py4j and returns one ``Node`` per operator,
so a pin breaks when the plan changes, not when its printout does.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Node:
    """One physical operator. Only the fields that apply to it are set."""

    name: str  # Spark's node name: "Exchange", "Window", "Scan parquet", ...
    depth: int  # distance from the root; a child is one deeper
    join: str | None = None  # joins: "Inner", "LeftSemi", "LeftOuter", ...
    partitioning: str | None = None  # Exchange: "hash", "range", "single", ...
    keys: tuple[str, ...] = ()  # Exchange partitioning keys; Window partition keys
    scan: dict[str, str] = field(default_factory=dict)  # file scans: PushedFilters, ReadSchema, Location
    plan: Any = field(default=None, repr=False, compare=False)  # the JVM node

    def terms(self) -> frozenset[str]:
        """Column, alias and function names in this node's own
        expressions, e.g. ``{"max", "user_id"}``. Walked on demand: few
        pins need it and it costs py4j calls per expression."""
        out: set[str] = set()
        todo = _seq(self.plan.expressions())
        while todo:
            e = todo.pop()
            kind = e.nodeName()
            out.add(e.name() if kind in ("AttributeReference", "Alias") else e.prettyName())
            todo += _seq(e.children())
        return frozenset(out)


_SCAN_METADATA = ("PushedFilters", "ReadSchema", "Location")


def nodes(df: DataFrame) -> list[Node]:
    """The executed physical plan of ``df`` as pre-order ``Node`` records.

    The walk sees through ``AdaptiveSparkPlan`` (its current plan: the
    initial plan before execution, the final one after) and query stages,
    and descends into subquery plans. WholeStageCodegen and InputAdapter
    are recorded like any operator. A ``ReusedExchange`` is a leaf, and a
    subquery that two expressions share is walked once, so node counts
    match the operators that run."""
    out: list[Node] = []
    walked: set[int] = set()  # hash codes of the subquery plans walked

    def walk(p: Any, depth: int) -> None:
        name = p.nodeName().strip()
        if name == "AdaptiveSparkPlan":
            return walk(p.executedPlan(), depth)
        if name.endswith("QueryStage"):
            return walk(p.plan(), depth)
        out.append(_node(p, name, depth))
        for child in _seq(p.children()):
            walk(child, depth + 1)
        for sub in _seq(p.subqueries()):
            if sub.hashCode() not in walked:
                walked.add(sub.hashCode())
                walk(sub, depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return out


def unpartitioned_window(plan: list[Node]) -> bool:
    """True if any Window has no partition keys: the whole relation runs
    through one task (a partition-less ``Window.orderBy``). Scalar global
    aggregates also gather into one partition, but only their tiny
    partial-agg output, so they are deliberately not flagged."""
    return any(n.name == "Window" and not n.keys for n in plan)


def _seq(s: Any) -> list[Any]:
    return [s.apply(i) for i in range(s.size())]


def _key(e: Any) -> str:
    """A partitioning key's column name (its SQL if it is not a column)."""
    if e.nodeName() == "SortOrder":
        e = e.child()
    return e.name() if e.nodeName() == "AttributeReference" else e.sql()


def _node(p: Any, name: str, depth: int) -> Node:
    if name.endswith("Join"):
        return Node(name, depth, join=p.joinType().toString(), plan=p)
    if name == "Exchange":
        part = p.outputPartitioning()
        kind = part.getClass().getSimpleName().rstrip("$").lower()
        kind = kind.replace("partitioning", "").replace("partition", "")
        keys = tuple(_key(k) for k in _seq(part.children())) if kind in ("hash", "range") else ()
        return Node(name, depth, partitioning=kind, keys=keys, plan=p)
    if name == "Window":
        return Node(name, depth, keys=tuple(_key(k) for k in _seq(p.partitionSpec())), plan=p)
    if name.startswith("Scan ") and p.getClass().getSimpleName() == "FileSourceScanExec":
        meta = p.metadata()
        scan = {k: meta.get(k).get() for k in _SCAN_METADATA if meta.contains(k)}
        return Node(name, depth, scan=scan, plan=p)
    return Node(name, depth, plan=p)
