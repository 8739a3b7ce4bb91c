"""Custom stateful streaming operator — applyInPandasWithState.

Capped sessionization maintained as explicit GroupState across
micro-batches: the Structured Streaming equivalent of the reference's
in-process mutable maintenance state (executor.py:49-62), but partitioned
by key and fault-tolerant.

Scale notes: state lives in the state store partitioned by user_id; each
micro-batch touches only the keys present in the batch; timeouts (not used
here) bound state growth for expired keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_s", LongType()),
        StructField("session_end_s", LongType()),
        StructField("n_events", LongType()),
    ]
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("sess_start", LongType()),
        StructField("prev_t", LongType()),
        StructField("n", LongType()),
    ]
)


def streaming_sessionize_capped(
    events: DataFrame, gap_s: int, cap_s: int
) -> DataFrame:
    """Streaming twin of operators/events.sessionize_capped (r11): the
    gap + max-duration split recurrence as explicit GroupState — state
    per user is exactly the three integers the batch fold carries
    (open-session start, previous ts, count), CLOSED sessions emit in
    append mode the moment their successor event arrives.

    Arrival contract (stated, and what the twin test constructs): events
    must reach each key time-ordered ACROSS micro-batches (within a
    batch the fold sorts) — the split recurrence is order-sensitive, so
    a late event under this operator splits differently than the batch
    replay; a deployment needing late-data exactness buffers behind a
    watermark instead. Under the contract, drained CLOSED sessions == the
    batch operator's sessions minus each user's final (still-open) one —
    pinned in tests/test_stateful_streaming.py."""

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            start, prev, n = state.get
        else:
            start = prev = None
            n = 0
        closed = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            # ns-normalize first — see operators/events.sessionize_capped
            # (a datetime64[us] series would silently shift every boundary)
            for t in pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000_000:
                t = int(t)
                if start is None:
                    start, prev, n = t, t, 1
                    continue
                if t - prev >= gap_s or t - start > cap_s:
                    closed.append((uid, start, prev, n))
                    start, n = t, 1
                else:
                    n += 1
                prev = t
        state.update((start, prev, n))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start_s", "session_end_s", "n_events"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
