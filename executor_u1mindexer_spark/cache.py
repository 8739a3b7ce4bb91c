"""The engine's one materialization idiom, plus per-query release hooks.

Every intermediate an operator shares between plan branches (self-join and
confirm-join sharing points, where exchange reuse does not fire across join
aliases), every bounded state an iterative operator carries between rounds,
and every lineage cut in the facade goes through ``materialize``. A loop
that needs a number about the frame it just materialized (a frontier
size, a convergence signature) takes it from ``materialize_observed``,
which computes it in the checkpoint job itself. The policy lives here and
nowhere else:

- eager: the DataFrame is computed before the call returns, so no two
  consumers can race to populate it, and its lineage collapses to one
  LogicalRDD leaf (``Scan ExistingRDD`` in physical plans);
- local: blocks stay on the executors that computed them, with no
  checkpoint directory to configure;
- not registered for release: a local checkpoint cannot be recomputed once
  its blocks are dropped, so nothing here unpersists it. Spark's
  ContextCleaner frees the blocks once the DataFrame is unreachable.

Module-level memos of materialized DataFrames register an ``on_release``
callback; query harnesses call ``release_all`` between queries (bench.py,
tools/oracle_check.py, perfbench) so those memos drop their references.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, Row

_CALLBACKS: list[Callable[[], None]] = []


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute ``df`` into a local checkpoint and return it."""
    return df.localCheckpoint(eager=True)


def materialize_observed(df: DataFrame, **aggs: Column) -> tuple[DataFrame, Row]:
    """``materialize(df)``, plus the aggregates ``aggs`` (name -> aggregate
    Column) over the rows it checkpointed. They ride the checkpoint job as
    a Spark ``Observation``, so no second job scans the frame."""
    obs = Observation()
    observed = df.observe(obs, *(c.alias(name) for name, c in aggs.items()))
    return materialize(observed), Row(**obs.get)


def on_release(cb: Callable[[], None]) -> None:
    """Register a callback run by release_all() (e.g. clearing a
    module-level DataFrame memo so it cannot outlive its query)."""
    _CALLBACKS.append(cb)


def release_all() -> None:
    for cb in _CALLBACKS:
        try:
            cb()
        except Exception:  # noqa: BLE001 — a dead session must not mask cleanup
            pass
