"""As-of join edge semantics on hand-built event tables."""

from __future__ import annotations


def test_asof_nearest_tie_and_boundary_semantics(spark):
    """asof_join_nearest edge semantics (r11): equal timestamps count in
    BOTH directions (<= and >=), exact-tie gaps resolve to the backward
    match, and one-sided keys return the available side — hand-built
    cases where every rule fires."""
    from datetime import datetime as DT

    from executor_u1mindexer_spark.operators import events as E

    def ts(m):
        return DT(2025, 1, 1, 12, m)

    left = spark.createDataFrame(
        [(1, 10, ts(30)),   # equal-ts right exists -> both sides = 12:30
         (2, 20, ts(30)),   # right at 12:20 and 12:40 -> exact tie -> backward
         (3, 30, ts(30)),   # right only before
         (4, 40, ts(30)),   # right only after
         (5, 50, ts(30))],  # no right at all
        "u long, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, ts(30)),
         (2, ts(20)), (2, ts(40)),
         (3, ts(25)),
         (4, ts(35))],
        "u long, ts timestamp",
    )
    got = {r.event_id: (r.before_ts, r.after_ts, r.nearest_ts)
           for r in E.asof_join_nearest(left, right, on="u").collect()}
    assert got[10] == (ts(30), ts(30), ts(30))
    assert got[20] == (ts(20), ts(40), ts(20))   # tie -> backward
    assert got[30] == (ts(25), None, ts(25))
    assert got[40] == (None, ts(35), ts(35))
    assert got[50] == (None, None, None)
