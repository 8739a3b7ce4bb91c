"""Per-micro-batch ledger entries for the mergeable sketches.

A streaming sketch ledger keeps ONE bounded entry per micro-batch and
answers queries from the merge of the entries. The Misra-Gries entry is
at most k (item, cnt_lb) pairs plus a stream-length sentinel; the KMV
entry is at most k distinct hashes. Both merges are exact in the sense
each sketch promises (MG: no false negatives; KMV: bit-equal to the
batch bottom-k of the drained backlog), so the registered drained-backlog
rows (suites/sketch_suite.sketch_{mg,kmv}_streaming_backlog) build their
answer from these functions and check it against the batch operators in
operators/sketch.py. [NOT IN REFERENCE — executor.py has no streaming
surface.]
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def mg_batch_entry(batch_df: DataFrame, item_col: str, k: int = 64) -> list:
    """One micro-batch's MG ledger entry: partition partials merged
    in-plan by item-wise sum (a valid MG summary by the Mergeable-
    Summaries bound — no truncation between partials and the entry),
    collected as a BOUNDED list of (item, cnt_lb) pairs plus the
    stream-length sentinel (item None). Used by the drained-backlog row
    suites/sketch_suite.sketch_mg_streaming_backlog."""
    from pyspark.sql import functions as F

    from executor_u1mindexer_spark.operators import sketch as SK

    parts = SK.misra_gries_partials(batch_df, item_col, k)
    entry_df = parts.groupBy(item_col).agg(F.sum("cnt_lb").alias("cnt_lb"))
    return [(r[item_col], r["cnt_lb"]) for r in entry_df.collect()]


def heavy_hitters_state(states: dict[int, list]) -> dict:
    """Merged MG ledger view: item -> summed cnt_lb across batch entries
    (the NULL-item sentinel key carries the total stream length). Item-
    wise addition of MG summaries is the Mergeable-Summaries merge with
    the truncation step skipped — valid (the bound only improves) and
    what keeps the no-false-negative guarantee exact for the ledger."""
    out: dict = {}
    for entry in states.values():
        for item, cnt in entry:
            out[item] = out.get(item, 0) + cnt
    return out


def kmv_batch_entry(batch_df: DataFrame, col: str, k: int = 256) -> list:
    """One micro-batch's KMV ledger entry: the batch's OWN bottom-k
    distinct hashes as a sorted python list (BOUNDED driver-side state:
    <= k BIGINT values per batch). Used by the drained-backlog row
    suites/sketch_suite.sketch_kmv_streaming_backlog."""
    from executor_u1mindexer_spark.operators import sketch as SK

    return sorted(int(r["h"]) for r in SK.kmv_bottomk(batch_df, col, k).collect())


def kmv_state(states: dict[int, list], k: int = 256) -> list:
    """Merged KMV ledger view: the k smallest distinct hashes across all
    batch entries — the Mergeable-Summaries merge. Exact: any hash in
    the backlog's global bottom-k is in its own batch's bottom-k, so the
    result is bit-equal to the batch kmv_bottomk of the drained backlog."""
    merged: set = set()
    for entry in states.values():
        merged.update(entry)
    return sorted(merged)[:k]
