"""Event-stream operators — batch-computable windowing over the `events`
fixture table (ts, user_id, event_type, value, props).

[NOT IN REFERENCE] — the reference is strictly request/response batch
(executor.py:73-257 is the whole API); these are the north-star event
operators. Every builder here runs identically in batch and (except where
noted) under Structured Streaming — streaming/stateful.py holds the
GroupState twin of sessionize_capped.

Scale notes (100 TB):
- tumbling/sliding windows are a plain groupBy on (window, keys): one
  shuffle, partial aggregation map-side;
- session windows use Spark's native session_window merge (grouped
  iterative merge per user partition);
- the as-of join is the union+window formulation: ONE shuffle on the
  session key instead of a per-row range probe — the idiomatic Spark way
  to as-of-join two big tables (no broadcast needed on either side).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TS_COL = "ts"
USER_COL = "user_id"
TYPE_COL = "event_type"
ORDER_COLS = ("ts", "event_id")
PROB_SCALE = 10**6
VIEW_TYPE = "view"
CONVERT_TYPE = "purchase"


def tumbling_window(
    events: DataFrame,
    duration: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] | None = None,
) -> DataFrame:
    """Fixed (tumbling) window aggregation: F.window(ts, duration)."""
    aggs = list(aggs) if aggs else [F.count(F.lit(1)).alias("n_events")]
    out = events.groupBy(F.window(F.col(TS_COL), duration).alias("w"), *keys).agg(*aggs)
    agg_cols = [c for c in out.columns if c != "w" and c not in keys]
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        *agg_cols,
    )


def sliding_window(
    events: DataFrame,
    duration: str,
    slide: str,
    aggs: Sequence[Column] | None = None,
) -> DataFrame:
    """Sliding window: each event lands in duration/slide windows."""
    aggs = list(aggs) if aggs else [F.count(F.lit(1)).alias("n_events")]
    out = events.groupBy(F.window(F.col(TS_COL), duration, slide).alias("w")).agg(*aggs)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[c for c in out.columns if c != "w"],
    )


def sessionize(
    events: DataFrame,
    gap: str,
    aggs: Sequence[Column] | None = None,
) -> DataFrame:
    """Session windows: events of one user closer than `gap` merge into one
    session (F.session_window — native stateful merge; in batch mode a
    grouped sort-merge per user). window.end = last event + gap."""
    aggs = list(aggs) if aggs else [F.count(F.lit(1)).alias("n_events")]
    out = events.groupBy(F.session_window(F.col(TS_COL), gap).alias("w"), USER_COL).agg(*aggs)
    agg_cols = [c for c in out.columns if c != "w" and c != USER_COL]
    return out.select(
        USER_COL,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *agg_cols,
    )


def sessionize_capped(events: DataFrame, gap_s: int, cap_s: int) -> DataFrame:
    """Sessionization with BOTH an inactivity gap and a max-duration cap
    (r11) — the web-analytics session rule (GA/Snowplow default: 30-min
    idle OR the absolute session ceiling) that neither F.session_window
    nor the gaps-and-islands window trick can express: a session splits
    when ts - prev_ts >= gap_s OR ts - session_start > cap_s, and
    session_start itself depends on where the previous split happened —
    a data-dependent recurrence that is not prefix-decomposable, so no
    fixed window frame computes it. This is the honest custom-stateful
    lane: one shuffle on the user key, then an O(n_user) sequential fold
    per user inside Arrow-batched applyInPandas.

    Semantics (replayed exactly by the recursive-CTE oracle): events of
    one user in (ts, id) total order; the first event opens a session;
    event i starts a NEW session iff t_i - t_{i-1} >= gap_s or
    t_i - session_start > cap_s. All integer epoch seconds. Session
    starts strictly increase (gap_s > 0), so (user, session_start) is a
    key. Output: (user, session_start_s, session_end_s, n_events).

    Scale shape: the per-user fold is inherent to the semantics, not an
    implementation shortcut — parallelism comes from the user-key
    partitioning, state per task is three integers."""
    if gap_s <= 0 or cap_s <= 0:
        raise ValueError(f"gap_s and cap_s must be > 0, got {gap_s}, {cap_s}")
    out_schema = (
        f"{USER_COL} long, session_start_s long, session_end_s long, n_events long"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([TS_COL, "event_id"], kind="mergesort")
        # normalize to ns resolution BEFORE the epoch division: pandas 2.x
        # can deliver datetime64[us]/[ms] series from Arrow, where a bare
        # .astype('int64') would silently yield wrong "seconds" and shift
        # every session boundary (ADVICE r11)
        t = (
            pdf[TS_COL].astype("datetime64[ns]").astype("int64") // 1_000_000_000
        ).to_numpy()
        uid = pdf[USER_COL].iloc[0]
        rows = []
        start = prev = None
        n = 0
        for ti in t:
            ti = int(ti)
            if start is None:
                start, prev, n = ti, ti, 1
                continue
            if ti - prev >= gap_s or ti - start > cap_s:
                rows.append((uid, start, prev, n))
                start, n = ti, 1
            else:
                n += 1
            prev = ti
        if start is not None:
            rows.append((uid, start, prev, n))
        return pd.DataFrame(
            rows, columns=[USER_COL, "session_start_s", "session_end_s", "n_events"]
        )

    return events.groupBy(USER_COL).applyInPandas(fold, out_schema)


def asof_join_last_before(
    left: DataFrame,
    right: DataFrame,
    on: str,
    asof_col: str = "asof_ts",
) -> DataFrame:
    """As-of join: for each left row, the greatest right timestamp of the
    same key with right ts <= left ts (NULL when none).

    Union+window formulation: tag both sides, sort per key by (ts, tag) with
    right rows first at equal timestamps (<= semantics), then propagate the
    last seen right timestamp with last(ignorenulls) over an unbounded-
    preceding frame. One shuffle on the key; both sides can be arbitrarily
    large (DuckDB's ASOF JOIN is the oracle equivalent).
    """
    rts_type = right.schema[TS_COL].dataType  # keep tz-ness identical to the input
    l_tag = left.select(
        F.col(on).alias("__k"),
        F.col(TS_COL).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__row"),
        F.lit(None).cast(rts_type).alias("__rts"),
    )
    r_tag = right.select(
        F.col(on).alias("__k"),
        F.col(TS_COL).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_tag.schema["__row"].dataType).alias("__row"),
        F.col(TS_COL).alias("__rts"),
    )
    u = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        u.withColumn(asof_col, F.last("__rts", ignorenulls=True).over(w))
        .filter(F.col("__is_left") == 1)
        .select("__row.*", asof_col)
    )
    return out


def asof_join_nearest(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """The other two as-of directions in one pass (r11): for each left
    row, ``before_ts`` = greatest right ts <= left ts (what
    asof_join_last_before returns), ``after_ts`` = smallest right ts >=
    left ts (the FORWARD as-of), and ``nearest_ts`` = whichever is
    closer in absolute MICROSECONDS (full timestamp precision), ties to
    the backward match (the pandas/QuestDB merge_asof
    direction='nearest' rule).

    Same union+window device as asof_join_last_before — ONE shuffle on
    the key serves both directions; the two frames need opposite
    left/right tie orders at equal timestamps (<= must see an equal-ts
    right row behind it, >= ahead of it), so the plan is one exchange
    with two sorted Window nodes over it, still no join and no
    per-row probe."""
    rts_type = right.schema[TS_COL].dataType
    l_tag = left.select(
        F.col(on).alias("__k"),
        F.col(TS_COL).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__row"),
        F.lit(None).cast(rts_type).alias("__rts"),
    )
    r_tag = right.select(
        F.col(on).alias("__k"),
        F.col(TS_COL).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_tag.schema["__row"].dataType).alias("__row"),
        F.col(TS_COL).alias("__rts"),
    )
    u = l_tag.unionByName(r_tag)
    wb = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__is_left").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # materialize the two window results FIRST, then derive nearest from
    # the materialized columns — referencing the raw window expressions
    # inside the CASE would re-evaluate each window a second time (4
    # Window nodes instead of 2; measured on the executed plan)
    both = u.select(
        "*",
        F.last("__rts", ignorenulls=True).over(wb).alias("before_ts"),
        F.first("__rts", ignorenulls=True).over(wf).alias("after_ts"),
    )
    before, after = F.col("before_ts"), F.col("after_ts")

    # microsecond precision (ADVICE r11): fixture timestamps are
    # sub-second, and whole-second unix_timestamp diffs can tie where the
    # true gaps differ — flipping the nearest pick vs any oracle that
    # compares at full precision. NTZ columns reject unix_micros
    # directly; the session tz is pinned UTC (session.py), so the
    # NTZ->TIMESTAMP cast is an exact epoch-micros reinterpretation and
    # any fixed offset cancels in the two differences anyway.
    def _us(c):
        return F.unix_micros(c.cast("timestamp"))

    d_b = _us(F.col("__ts")) - _us(before)
    d_f = _us(after) - _us(F.col("__ts"))
    nearest = (
        F.when(before.isNull(), after)
        .when(after.isNull(), before)
        .when(d_b <= d_f, before)  # tie -> backward
        .otherwise(after)
    )
    return (
        both.withColumn("nearest_ts", nearest)
        .filter(F.col("__is_left") == 1)
        .select("__row.*", "before_ts", "after_ts", "nearest_ts")
    )


def funnel_stages(events: DataFrame, stages: Sequence[str]) -> DataFrame:
    """Ordered-funnel analysis: per user, the earliest time each stage was
    reached STRICTLY AFTER the previous stage (view → click → purchase
    style). Returns one row per user who completed stage 1, with a nullable
    reach-time per later stage.

    Plan shape: each stage is a groupBy(user) min-aggregate over that
    stage's filtered events, joined against the previous reached-set. The
    reached-set shrinks monotonically down the funnel (it is per-user, not
    per-event), so Catalyst broadcasts it against the next stage's events —
    each stage costs one shuffle of its own filtered events and the big
    events table is never joined against itself."""
    if not stages:
        raise ValueError("funnel needs at least one stage")
    reached = (
        events.filter(F.col(TYPE_COL) == stages[0])
        .groupBy(USER_COL)
        .agg(F.min(TS_COL).alias("stage_1_ts"))
    )
    for i, stage in enumerate(stages[1:], start=2):
        nxt = (
            events.filter(F.col(TYPE_COL) == stage)
            .join(reached.select(USER_COL, f"stage_{i-1}_ts"), on=USER_COL)
            .filter(F.col(TS_COL) > F.col(f"stage_{i-1}_ts"))
            .groupBy(USER_COL)
            .agg(F.min(TS_COL).alias(f"stage_{i}_ts"))
        )
        reached = reached.join(nxt, on=USER_COL, how="left")
    return reached


def json_get_int(col: Column | str, path: str) -> Column:
    """get_json_object + int cast (the events.props '{"k": N}' shape)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path).cast("int")


def gapfill_hourly(events: DataFrame) -> DataFrame:
    """Time-bucket rollup with GAP FILLING + forward fill — the hypertable
    op TSDBs ship natively: hourly sums per key over a dense hour spine
    (every hour between the corpus min and max, whether or not events
    landed in it), empty buckets carrying the last seen value forward.

    Scale shape: the raw events aggregate ONCE (hash agg on (hour, key));
    the spine is generated from a 1-row min/max aggregate via sequence +
    explode and cross-joined with the distinct key set — spine × keys is
    summary-sized (hours × cardinality), so the forward-fill window runs
    over the SUMMARY, never the event stream. Sum in decimal so the filled
    values are partition-order independent."""
    hour = F.date_trunc("hour", F.col(TS_COL))
    hourly = events.groupBy(hour.alias("h"), F.col(TYPE_COL)).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min(TS_COL)).alias("lo"),
        F.date_trunc("hour", F.max(TS_COL)).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h")
    )
    keys = events.select(TYPE_COL).distinct()
    full = spine.crossJoin(keys)
    w = (
        Window.partitionBy(TYPE_COL)
        .orderBy(F.col("h").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = full.join(hourly, on=["h", TYPE_COL], how="left")
    return joined.select(
        F.col("h").alias("hour"),
        F.col(TYPE_COL),
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("v").isNull().alias("is_gap"),
    )


def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-key event chains
    (r07) — the user-behavior model a product-analytics pipeline fits:
    for each (from_type, to_type) pair, the transition count over all
    consecutive event pairs of the same key, and the row-normalized
    probability as a MICRO-SCALED INTEGER ((cnt * PROB_SCALE) DIV
    row_total — exact floor division, so the matrix is bit-identical
    across engines; probabilities in a row sum to PROB_SCALE minus the
    floor remainders, which is the documented convention, not an error).

    Scale shape: one lag window PARTITIONED by key (state = 1 row), one
    grouped count over (from, to) — map-side partial — and the row
    totals come from a second tiny aggregate over the <= |types|^2
    matrix itself, broadcast back. No global window, no driver scalar.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(USER_COL).orderBy(*ORDER_COLS)
    pairs = events.select(
        F.col(TYPE_COL).alias("to_type"),
        F.lag(TYPE_COL).over(w).alias("from_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("__row_total")
    )
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr(f"(n_transitions * {PROB_SCALE}L) DIV __row_total")
            .cast("long")
            .alias("prob_micro"),
        )
        .orderBy("from_type", "to_type")
    )


def oracle_markov_sql() -> str:
    order = ", ".join(ORDER_COLS)
    return f"""
WITH pairs AS (
  SELECT lag({TYPE_COL}) OVER (PARTITION BY {USER_COL} ORDER BY {order})
           AS from_type,
         {TYPE_COL} AS to_type
  FROM events
), c AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
), t AS (
  SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS row_total
  FROM c GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n_transitions,
       CAST((c.n_transitions * {PROB_SCALE}) // t.row_total AS BIGINT)
         AS prob_micro
FROM c JOIN t ON c.from_type = t.from_type
ORDER BY c.from_type, c.to_type
"""


def _interval_islands(
    df: DataFrame,
    key: str,
    start_col: str,
    end_col: str,
    id_col: str,
) -> DataFrame:
    """Shared gaps-and-islands core for interval_union_coverage and
    interval_gap_report: hardened input -> one island row per merged
    interval group, (key, __is, __ie, __n), via the running-max-of-ends
    flag and its prefix sum over the (start, end, id) total order. Two
    key-partitioned windows + one aggregate; all BIGINT."""
    flagged = df.select(
        key,
        F.col(start_col).cast("long").alias("__s"),
        F.col(end_col).cast("long").alias("__e"),
        F.col(id_col).alias("__id"),
    ).filter(
        # input hardening: an interval without a bound has no coverage,
        # a NULL in the window's order key would rank-diverge across
        # engines (Spark asc = NULLS FIRST, DuckDB = NULLS LAST), and
        # empty/reversed intervals carry no coverage and would break the
        # covered <= span invariant (see the callers' docstring policy)
        F.col("__s").isNotNull()
        & F.col("__e").isNotNull()
        & F.col("__id").isNotNull()
        & (F.col("__e") > F.col("__s"))
    ).withColumn(
        "__new",
        F.when(F.col("__s") > F.coalesce(
            F.max("__e").over(
                Window.partitionBy(key)
                .orderBy("__s", "__e", "__id")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(-(1 << 62)),
        ), 1).otherwise(0),
    )
    islanded = flagged.withColumn(
        "__island",
        F.sum("__new").over(
            Window.partitionBy(key)
            .orderBy("__s", "__e", "__id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return islanded.groupBy(key, "__island").agg(
        F.min("__s").alias("__is"),
        F.max("__e").alias("__ie"),
        F.count(F.lit(1)).alias("__n"),
    )


def interval_union_coverage(
    df: DataFrame,
    key: str,
    start_col: str,
    end_col: str,
    id_col: str,
) -> DataFrame:
    """Merge overlapping/adjacent [start, end) integer intervals per key
    and report coverage — the classic gaps-and-islands union (time on
    site, SLA coverage, sensor uptime) that sessionize's fixed-gap rule
    cannot express (here the merge rule is interval OVERLAP, decided by
    a running max of the interval ENDS, not a gap threshold between
    points: an early long interval must swallow later short ones).

    Determinism: rows are ordered by (start, end, id) — a total order —
    so the running max, the island flags, and every island id are pure
    functions of the data and the DuckDB oracle replays the identical
    windows. All arithmetic is BIGINT.

    Output one row per key: (key, n_intervals, n_islands,
    covered_units, span_units) with covered <= span by construction.

    Input policy (ADVICE r10): NULL-bound intervals are dropped (no
    coverage, and a NULL order key would rank-diverge across engines),
    and so are EMPTY or REVERSED intervals (end <= start) — a reversed
    interval could make an island's min(start)/max(end) inconsistent and
    push covered_units past span_units, breaking the invariant above; a
    zero-width interval covers nothing. Only end > start rows count.

    Scale shape: two windows and one aggregate, all PARTITIONED by the
    key — state per task is one running max; no unpartitioned window,
    no self-join (the O(n^2) interval-overlap formulation)."""
    islands = _interval_islands(df, key, start_col, end_col, id_col)
    return (
        islands.groupBy(key)
        .agg(
            F.sum("__n").cast("long").alias("n_intervals"),
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.sum(F.col("__ie") - F.col("__is")).cast("long").alias("covered_units"),
            (F.max("__ie") - F.min("__is")).cast("long").alias("span_units"),
        )
        .orderBy(key)
    )


def interval_gap_report(
    df: DataFrame,
    key: str,
    start_col: str,
    end_col: str,
    id_col: str,
) -> DataFrame:
    """The complement of interval_union_coverage (r11, VERDICT r10 #7):
    one row per DOWNTIME GAP between consecutive coverage islands — the
    SLA report ("when was the key NOT covered, and for how long") that
    the coverage totals summarize away. Same island machinery, same
    input policy (NULL-bound and end <= start intervals dropped), same
    BIGINT arithmetic.

    Islands within a key are disjoint and strictly separated (touching
    intervals merge — the island rule is start > running max of ends),
    so consecutive islands ordered by island start define gaps of
    gap_units >= 1; keys with a single island emit no rows.

    Output: (key, gap_start, gap_end, gap_units) where gap_start is the
    previous island's end and gap_end the next island's start.

    Scale shape: the islands' two key-partitioned windows + one
    aggregate, then ONE more key-partitioned lag over the (tiny) island
    rows — no unpartitioned window, no self-join."""
    islands = _interval_islands(df, key, start_col, end_col, id_col)
    w = Window.partitionBy(key).orderBy("__is")
    return (
        islands.withColumn("__prev_e", F.lag("__ie").over(w))
        .filter(F.col("__prev_e").isNotNull())
        .select(
            key,
            F.col("__prev_e").cast("long").alias("gap_start"),
            F.col("__is").cast("long").alias("gap_end"),
            (F.col("__is") - F.col("__prev_e")).cast("long").alias("gap_units"),
        )
        .orderBy(key, "gap_start")
    )


def decayed_counts(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Exponentially time-decayed counts, EXACT (r12): per key, the sum of
    per-event weights 2^(event_day − oldest_day) — a per-day half-life-one
    decay read newest-heaviest, kept in BIGINT so the score is bit-exact
    cross-engine (float decay factors like 0.9^age are not associative
    under re-ordered partial sums; power-of-two integer weights are).
    The day anchor is the stream's own oldest day, computed in-plan as a
    1-row aggregate broadcast back over the scan — no collect, no
    SinglePartition window.

    Overflow is a data property, not a silent wrap: the exponent is
    guarded at 33 (n·2^33 stays under 2^63 for
    any n < 2^29 rows) and an out-of-range day span fails loudly via
    raise_error. For longer horizons, pre-bucket ts to weeks/months so
    the span fits, which is also the semantically honest reading of "decay"
    at those horizons.

    Scale shape: one scan + one grouped sum on the caller's keys (map-side
    partial), plus the broadcast 1-row anchor. [NOT IN REFERENCE —
    beyond-reference events-analytics breadth.]"""
    day = F.date_trunc("day", F.col(ts_col))
    tagged = events.select(*keys, day.alias("__day"))
    anchor = tagged.agg(F.min("__day").alias("__day0"))
    exp = F.datediff(F.col("__day"), F.col("__day0"))
    checked = F.when(
        (exp >= 0) & (exp <= 33), exp
    ).otherwise(
        F.raise_error(
            F.lit(
                "decayed_counts: day span exceeds max_exponent=33 "
                "(the BIGINT-exact weight range) — pre-bucket the timestamp"
            )
        )
    )
    return (
        tagged.crossJoin(F.broadcast(anchor))
        .withColumn("__exp", checked)
        # the Python shiftleft() wrapper only takes a literal int exponent;
        # the SQL ShiftLeft expression takes any integral column
        .groupBy(*keys)
        .agg(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), __exp)"))
            .cast("long")
            .alias("decayed_score")
        )
    )


def decayed_leaderboard(
    events: DataFrame,
    group_col: str,
    entity_col: str,
    top_n: int = 3,
) -> DataFrame:
    """Top-N entities per group by exact decayed score (decayed_counts),
    ties broken by entity id ascending — the "trending now" leaderboard
    as a deterministic artifact. One grouped sum + one key-partitioned
    window; at scale the rank never sees more than one group per
    partition slice and the hot-group variant is topk_per_group_salted."""
    scored = decayed_counts(events, [group_col, entity_col], TS_COL)
    w = Window.partitionBy(group_col).orderBy(
        F.col("decayed_score").desc(), F.col(entity_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(group_col, "rank", entity_col, "decayed_score")
        .orderBy(group_col, "rank")
    )


def cusum_drift(events: DataFrame) -> DataFrame:
    """One-sided CUSUM drift statistic over per-key daily counts (r12) —
    the classic sequential changepoint monitor (Page 1954): with daily
    deviations d_i = x_i − ref (ref = the key's floor-mean daily count),
    S_i = max(0, S_{i−1} + d_i). The recurrence LOOKS stateful, but the
    closed form S_i = P_i − min(0, min_{j≤i} P_j) over prefix sums P is
    two window functions — so unlike sessionize_capped this lane is PURE
    CATALYST: one grouped count, one per-key mean joined back, two
    key-partitioned windows. All BIGINT (counts and floor means), so
    bit-exact cross-engine. A day is flagged when 2·S_i > ref — drift
    exceeding half an average day, a relative threshold that scales with
    the key's own volume. (The alarm-RESET CUSUM variant re-zeroes S at
    each flag and is genuinely non-prefix-decomposable; this is the
    standard non-resetting drift statistic, stated so the boundary is
    explicit.)

    100 TB shape: the daily rollup shrinks the input to keys × days rows
    before any window runs; everything after is over that tiny relation.
    [NOT IN REFERENCE — beyond-reference monitoring breadth beside
    rolling_zscore / drift_chi2.]"""
    daily = (
        events.groupBy(
            TYPE_COL, F.date_trunc("day", F.col(TS_COL)).cast("date").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    # integer DIV, not double /: a double quotient can round UP across an
    # integer boundary for large sums, and the oracle floors
    ref = daily.groupBy(TYPE_COL).agg(
        F.expr("sum(x) DIV count(1)").cast("long").alias("ref")
    )
    w = Window.partitionBy(TYPE_COL).orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = daily.join(ref, TYPE_COL).withColumn("dev", F.col("x") - F.col("ref"))
    p = d.withColumn("pref", F.sum("dev").over(w))
    s = p.withColumn(
        "cusum",
        F.col("pref") - F.least(F.lit(0).cast("long"), F.min("pref").over(w)),
    )
    return s.select(
        TYPE_COL,
        "day",
        "x",
        "ref",
        F.col("cusum").cast("long").alias("cusum"),
        (F.col("cusum") * 2 > F.col("ref")).alias("flagged"),
    ).orderBy(TYPE_COL, "day")


# ------------------------------------------------- per-group OLS (r12)
#
# Closed-form simple linear regression per group, EXACT through the
# sufficient statistics: x = epoch minutes (integer), y = centi-units
# (floor(value*100 + 0.5), round-half-up — recovers the intended cents
# for 2-decimal data, where a bare floor(value*100) truncates the
# float representation error of e.g. 5.07 down a cent; deterministic
# for any double either way), all five sums (n, Σx, Σy, Σxy, Σx²)
# and min(x) kept in exact wide-integer arithmetic (Spark DECIMAL(38,0)
# lanes / DuckDB HUGEINT — the ivm_retractable_delta precedent), so the
# aggregate is associative under ANY partial-sum order — the property a
# float Σxy cannot offer. Only the FINAL slope/intercept resolve to
# doubles, rounded at 9 digits: DuckDB's HUGEINT→DOUBLE cast is
# double-rounded (upper*2^64 + lower), not correctly rounded like
# Spark's BigDecimal path, so the last-bit contract doesn't hold for
# sums beyond 2^53 — round(·, 9) absorbs the ≤2-ulp gap exactly as the
# BM25/bigram-LM rows absorb libm ulps. [NOT IN REFERENCE.]

OLS_SLOPE_FINAL = (
    "round(CAST(__num AS DOUBLE) / CAST(__den AS DOUBLE) * 14.4e0, 9)"
)  # centi-units/minute -> units/day: *1440/100
OLS_YHAT_FINAL = (
    "round((CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE)"
    " - CAST(__num AS DOUBLE) / CAST(__den AS DOUBLE)"
    " * (CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE)"
    " - CAST(__minx AS DOUBLE))) / 100.0e0, 9)"
)


def ols_trend_by_group(
    df: DataFrame, group_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """Per-group linear trend fit: (group, n, start_minute, slope_per_day,
    value_at_start) — slope in value-units per day, intercept evaluated
    at the group's first minute (anchor-free sufficient statistics; the
    at-start value derives algebraically from the same single pass).

    Scale shape: ONE grouped aggregate with map-side partial combine —
    six exact integer statistics per group, no window, no second scan;
    den = 0 (all x equal in a group) yields NULL fit columns rather
    than a division error."""
    x = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) DIV 60000000")
    y = F.expr(f"CAST(floor({value_col} * 100.0e0 + 0.5e0) AS BIGINT)")
    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col),
        x.alias("__x"),
        y.alias("__y"),
    )
    # ADVICE r12: multiply with a DECIMAL operand (not BIGINT-then-cast,
    # which overflows in the 64-bit lane first) and keep __sx/__sy sums
    # in DECIMAL(38,0) — the exact-wide-integer lane then matches the
    # DuckDB twin's HUGEINT behavior at 100 TB row counts instead of
    # tripping an ANSI overflow. Final expressions cast to DOUBLE, so
    # the lane change is value-invariant at any SF.
    agg = base.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("__x").cast("decimal(38,0)")).alias("__sx"),
        F.sum(F.col("__y").cast("decimal(38,0)")).alias("__sy"),
        F.sum(F.expr("CAST(__x AS DECIMAL(28,0)) * __y"))
        .cast("decimal(38,0)")
        .alias("__sxy"),
        F.sum(F.expr("CAST(__x AS DECIMAL(28,0)) * __x"))
        .cast("decimal(38,0)")
        .alias("__sxx"),
        F.min("__x").alias("__minx"),
    )
    wide = agg.select(
        group_col,
        "__n",
        "__sx",
        "__sy",
        "__minx",
        F.expr(
            "CAST(__n AS DECIMAL(38,0)) * __sxy"
            " - CAST(__sx AS DECIMAL(38,0)) * CAST(__sy AS DECIMAL(38,0))"
        ).alias("__num"),
        F.expr(
            "CAST(__n AS DECIMAL(38,0)) * __sxx"
            " - CAST(__sx AS DECIMAL(38,0)) * CAST(__sx AS DECIMAL(38,0))"
        ).alias("__den"),
    )
    return wide.select(
        group_col,
        F.col("__n").alias("n"),
        F.col("__minx").alias("start_minute"),
        F.expr(
            f"CASE WHEN __den = 0 THEN NULL ELSE {OLS_SLOPE_FINAL} END"
        ).alias("slope_per_day"),
        F.expr(
            f"CASE WHEN __den = 0 THEN NULL ELSE {OLS_YHAT_FINAL} END"
        ).alias("value_at_start"),
    ).orderBy(group_col)


def oracle_ols_trend_sql(
    source: str, group_col: str, ts_col: str, value_col: str
) -> str:
    """DuckDB twin of ols_trend_by_group — HUGEINT exact statistics,
    identical final double text."""
    return f"""
WITH __base AS (
  SELECT {group_col},
         epoch_us({ts_col}) // 60000000 AS __x,
         CAST(floor({value_col} * 100.0e0 + 0.5e0) AS BIGINT) AS __y
  FROM {source}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
),
__agg AS (
  SELECT {group_col},
         CAST(count(*) AS BIGINT) AS __n,
         sum(__x) AS __sx,
         sum(__y) AS __sy,
         sum(CAST(__x AS HUGEINT) * __y) AS __sxy,
         sum(CAST(__x AS HUGEINT) * __x) AS __sxx,
         CAST(min(__x) AS BIGINT) AS __minx
  FROM __base GROUP BY {group_col}
),
__wide AS (
  SELECT {group_col}, __n, __sx, __sy, __minx,
         CAST(__n AS HUGEINT) * __sxy
           - CAST(__sx AS HUGEINT) * CAST(__sy AS HUGEINT) AS __num,
         CAST(__n AS HUGEINT) * __sxx
           - CAST(__sx AS HUGEINT) * CAST(__sx AS HUGEINT) AS __den
  FROM __agg
)
SELECT {group_col}, __n AS n, __minx AS start_minute,
       CASE WHEN __den = 0 THEN NULL ELSE {OLS_SLOPE_FINAL} END
         AS slope_per_day,
       CASE WHEN __den = 0 THEN NULL ELSE {OLS_YHAT_FINAL} END
         AS value_at_start
FROM __wide ORDER BY {group_col}
"""


# ---------------------------------------------- MAD robust outliers (r12)
#
# Median / median-absolute-deviation outlier detection (the robust
# companion to the rolling-zscore and CUSUM rows): an observation is an
# outlier when |x - median| > 3 * MAD. Everything is EXACT integer
# arithmetic via 2x scaling: on centi-unit integers the interpolated
# median is integer-or-half, so med2 = 2*median and mad4 = 2*median(
# |2y - med2|) are exact integers in both engines, and the decision
# rule |x-med| > 3*MAD becomes the pure integer comparison
# 2*dev2 > 3*mad4 — no float enters the verdict at all (a float MAD
# rule would hinge on last-bit division behavior). The emitted
# median/MAD resolve by one correctly-rounded division each.
# MAD = 0 (>= half the group at the median) makes every off-median row
# an outlier — the standard MAD hazard, deliberate and documented.


def mad_outliers_by_group(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """(group, n, median_value, mad_value, n_outliers, outlier_rate) —
    three exact grouped passes (median, MAD, verdict count), each a
    map-side-combinable aggregate plus one broadcast join of the tiny
    per-group scalars; an approximate one-pass variant would use the
    quantile sketch, this row is the exact artifact."""
    y = F.expr(f"CAST(floor({value_col} * 100.0e0 + 0.5e0) AS BIGINT)")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col), y.alias("__y")
    )
    g1 = base.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.expr("CAST(2.0e0 * percentile(__y, 0.5e0) AS BIGINT)").alias("__med2"),
    )
    dev = base.join(F.broadcast(g1), group_col).select(
        group_col,
        "__n",
        "__med2",
        F.abs(F.lit(2) * F.col("__y") - F.col("__med2")).alias("__dev2"),
    )
    g2 = dev.groupBy(group_col, "__n", "__med2").agg(
        F.expr("CAST(2.0e0 * percentile(__dev2, 0.5e0) AS BIGINT)").alias("__mad4"),
    )
    verdict = (
        dev.join(
            F.broadcast(g2.select(group_col, "__mad4")), group_col
        )
        .groupBy(group_col)
        .agg(
            F.sum(
                F.when(
                    F.lit(2) * F.col("__dev2") > F.lit(3) * F.col("__mad4"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("__nout"),
        )
    )
    return (
        g2.join(verdict, group_col)
        .select(
            group_col,
            F.col("__n").alias("n"),
            F.expr("CAST(__med2 AS DOUBLE) / 200.0e0").alias("median_value"),
            F.expr("CAST(__mad4 AS DOUBLE) / 400.0e0").alias("mad_value"),
            F.col("__nout").alias("n_outliers"),
            F.expr(
                "CAST(__nout AS DOUBLE) / CAST(__n AS DOUBLE)"
            ).alias("outlier_rate"),
        )
        .orderBy(group_col)
    )


def oracle_mad_outliers_sql(
    source: str, group_col: str, value_col: str
) -> str:
    """DuckDB twin — quantile_cont is the continuous (interpolated)
    median matching Spark's percentile()."""
    return f"""
WITH __base AS (
  SELECT {group_col},
         CAST(floor({value_col} * 100.0e0 + 0.5e0) AS BIGINT) AS __y
  FROM {source} WHERE {value_col} IS NOT NULL
),
__g1 AS (
  SELECT {group_col}, CAST(count(*) AS BIGINT) AS __n,
         CAST(2.0e0 * quantile_cont(__y, 0.5e0) AS BIGINT) AS __med2
  FROM __base GROUP BY {group_col}
),
__dev AS (
  SELECT b.{group_col}, g.__n, g.__med2,
         abs(2 * b.__y - g.__med2) AS __dev2
  FROM __base b JOIN __g1 g USING ({group_col})
),
__g2 AS (
  SELECT {group_col}, __n, __med2,
         CAST(2.0e0 * quantile_cont(__dev2, 0.5e0) AS BIGINT) AS __mad4
  FROM __dev GROUP BY {group_col}, __n, __med2
),
__v AS (
  SELECT d.{group_col},
         CAST(sum(CASE WHEN 2 * d.__dev2 > 3 * g.__mad4 THEN 1 ELSE 0 END)
              AS BIGINT) AS __nout
  FROM __dev d JOIN __g2 g USING ({group_col})
  GROUP BY d.{group_col}
)
SELECT g.{group_col}, g.__n AS n,
       CAST(g.__med2 AS DOUBLE) / 200.0e0 AS median_value,
       CAST(g.__mad4 AS DOUBLE) / 400.0e0 AS mad_value,
       v.__nout AS n_outliers,
       CAST(v.__nout AS DOUBLE) / CAST(g.__n AS DOUBLE) AS outlier_rate
FROM __g2 g JOIN __v v USING ({group_col})
ORDER BY g.{group_col}
"""


# ------------------------------------------------ A/B conversion (r12)
#
# Hash-split A/B conversion analysis — the product-analytics classic
# over the funnel machinery: users split into two arms by the module's
# deterministic md5 hash (no RNG — the same reproducibility contract as
# every sampler in pipeline.py), conversion = a purchase within
# 24 hours strictly after the user's first view (the bounded window is
# what makes the metric discriminate — the dense fixture converts every
# user eventually, collapsing the unbounded form to 100%/100%; compared
# at MICROSECOND precision like the asof family), and the 2x2
# chi-square computed EXACTLY
# through wide-integer lanes (Spark DECIMAL(38,0) / DuckDB HUGEINT, the
# ols_trend precedent): chi2 = n(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) with
# every product exact, resolving to a 9-digit-rounded double at the
# very end (absorbing the HUGEINT→DOUBLE double-rounding).

_AB_CHI2 = (
    "round(CAST(__num AS DOUBLE) / CAST(__den AS DOUBLE), 9)"
)


AB_WINDOW_US = 86_400_000_000  # 24 h in microseconds


def ab_conversion_lift(df: DataFrame) -> DataFrame:
    """(arm, n_users, n_converted, conv_rate, rel_lift, chi2) — one row
    per arm; rel_lift (arm 1 vs arm 0) and the exact chi-square ride
    both rows as the experiment-level columns. One grouped min per
    user for the first view, one semi-join-shaped conversion probe,
    one tiny 2x2 crossJoin — no window, no collect.

    ADVICE r12 guards: rel_lift is NULL when arm 0 has zero conversions
    (a/(a+b) = 0 — the unguarded division throws DIVIDE_BY_ZERO under
    Spark 4 ANSI while DuckDB returns NULL, a latent crash plus
    cross-engine divergence on sparse funnels); and the experiment-level
    columns attach to per_arm by LEFT join, so when either arm is empty
    (tiny inputs hashing to one arm) the surviving arm's occupancy row
    still emits, with NULL rel_lift/chi2 where the 2x2 cannot form."""
    h32 = (
        f"CAST(conv(substr(md5(CAST({USER_COL} AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT)"
    )
    users = (
        df.filter(F.col(USER_COL).isNotNull())
        .select(USER_COL)
        .distinct()
        .withColumn("arm", F.expr(f"{h32} % 2"))
    )
    fv = (
        df.filter(F.col(TYPE_COL) == VIEW_TYPE)
        .groupBy(USER_COL)
        .agg(F.min(TS_COL).alias("__fv"))
    )
    conv = (
        df.filter(F.col(TYPE_COL) == CONVERT_TYPE)
        .select(USER_COL, F.col(TS_COL).alias("__ct"))
        .join(fv, USER_COL)
        .filter(
            (F.col("__ct") > F.col("__fv"))
            & (
                F.expr("unix_micros(CAST(__ct AS TIMESTAMP))")
                - F.expr("unix_micros(CAST(__fv AS TIMESTAMP))")
                <= F.lit(AB_WINDOW_US)
            )
        )
        .select(USER_COL)
        .distinct()
        .withColumn("__conv", F.lit(1))
    )
    per_arm = (
        users.join(conv, USER_COL, "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.coalesce("__conv", F.lit(0))).cast("long").alias("n_converted"),
        )
    )
    a0 = per_arm.filter(F.col("arm") == 0).select(
        F.col("n_converted").alias("__a"),
        (F.col("n_users") - F.col("n_converted")).alias("__b"),
    )
    a1 = per_arm.filter(F.col("arm") == 1).select(
        F.col("n_converted").alias("__c"),
        (F.col("n_users") - F.col("n_converted")).alias("__d"),
    )
    wide = a0.crossJoin(a1).select(
        F.expr(
            "CAST(__a + __b + __c + __d AS DECIMAL(38,0))"
            " * (CAST(__a AS DECIMAL(19,0)) * CAST(__d AS DECIMAL(19,0))"
            "    - CAST(__b AS DECIMAL(19,0)) * CAST(__c AS DECIMAL(19,0)))"
            " * (CAST(__a AS DECIMAL(19,0)) * CAST(__d AS DECIMAL(19,0))"
            "    - CAST(__b AS DECIMAL(19,0)) * CAST(__c AS DECIMAL(19,0)))"
        ).alias("__num"),
        F.expr(
            "CAST(__a + __b AS DECIMAL(38,0)) * CAST(__c + __d AS DECIMAL(19,0))"
            " * CAST(__a + __c AS DECIMAL(19,0)) * CAST(__b + __d AS DECIMAL(19,0))"
        ).alias("__den"),
        F.expr(
            "CASE WHEN __a = 0 THEN NULL ELSE"
            " round((CAST(__c AS DOUBLE) / CAST(__c + __d AS DOUBLE))"
            " / (CAST(__a AS DOUBLE) / CAST(__a + __b AS DOUBLE)) - 1.0e0, 9)"
            " END"
        ).alias("rel_lift"),
    )
    return (
        per_arm.join(F.broadcast(wide), F.lit(True), "left")
        .select(
            "arm",
            "n_users",
            "n_converted",
            F.expr(
                "round(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE), 9)"
            ).alias("conv_rate"),
            "rel_lift",
            F.expr(f"CASE WHEN __den = 0 THEN NULL ELSE {_AB_CHI2} END").alias(
                "chi2"
            ),
        )
        .orderBy("arm")
    )


def oracle_ab_conversion_sql(source: str) -> str:
    h32 = (
        f"CAST(concat('0x', substr(md5(CAST({USER_COL} AS STRING)), 1, 8))"
        " AS BIGINT)"
    )
    return f"""
WITH __users AS (
  SELECT DISTINCT {USER_COL}, {h32} % 2 AS arm
  FROM {source} WHERE {USER_COL} IS NOT NULL
),
__fv AS (
  SELECT {USER_COL}, min({TS_COL}) AS __fv FROM {source}
  WHERE {TYPE_COL} = '{VIEW_TYPE}' GROUP BY {USER_COL}
),
__conv AS (
  SELECT DISTINCT s.{USER_COL} FROM {source} s JOIN __fv f USING ({USER_COL})
  WHERE s.{TYPE_COL} = '{CONVERT_TYPE}' AND s.{TS_COL} > f.__fv
    AND epoch_us(s.{TS_COL}) - epoch_us(f.__fv) <= {AB_WINDOW_US}
),
__per_arm AS (
  SELECT u.arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(count(c.{USER_COL}) AS BIGINT) AS n_converted
  FROM __users u LEFT JOIN __conv c USING ({USER_COL})
  GROUP BY u.arm
),
__w AS (
  SELECT a0.n_converted AS __a, a0.n_users - a0.n_converted AS __b,
         a1.n_converted AS __c, a1.n_users - a1.n_converted AS __d
  FROM (SELECT * FROM __per_arm WHERE arm = 0) a0
  CROSS JOIN (SELECT * FROM __per_arm WHERE arm = 1) a1
),
__wide AS (
  SELECT CAST(__a + __b + __c + __d AS HUGEINT)
           * (CAST(__a AS HUGEINT) * __d - CAST(__b AS HUGEINT) * __c)
           * (CAST(__a AS HUGEINT) * __d - CAST(__b AS HUGEINT) * __c) AS __num,
         CAST(__a + __b AS HUGEINT) * (__c + __d) * (__a + __c) * (__b + __d)
           AS __den,
         CASE WHEN __a = 0 THEN NULL ELSE
           round((CAST(__c AS DOUBLE) / CAST(__c + __d AS DOUBLE))
             / (CAST(__a AS DOUBLE) / CAST(__a + __b AS DOUBLE)) - 1.0e0, 9)
         END AS rel_lift
  FROM __w
)
SELECT p.arm, p.n_users, p.n_converted,
       round(CAST(p.n_converted AS DOUBLE) / CAST(p.n_users AS DOUBLE), 9)
         AS conv_rate,
       w.rel_lift,
       CASE WHEN w.__den = 0 THEN NULL ELSE {_AB_CHI2} END AS chi2
FROM __per_arm p LEFT JOIN __wide w ON true
ORDER BY p.arm
"""
