"""Index-maintenance operators — the reference's write/maintenance endpoints
re-expressed as pure relational builders over immutable DataFrames.

Reference surface (executor.py):
- /index  = keyed upsert: new ids get the next dense internal ids in arrival
  order (executor.py:151-156); existing ids are updated in place keeping
  their internal id (executor.py:157-161).
- /update = like upsert but ONLY already-indexed ids; unknown ids are
  skipped with a warning (executor.py:188-196).
- /delete = tombstone by id list; unknown ids silently ignored
  (executor.py:221-225); the HNSW slot survives (`mark_deleted`,
  executor.py:223) so `count_indexed` still counts it.
- /status = scalar counts (executor.py:246-257).
- /dump + load = persist/restore state (executor.py:227-236, 51-63).
- /clear  = drop everything (executor.py:238-244).

Spark-first state model: the "index" is a DataFrame with columns
(id, internal_id, emb) — internal_id reproduces the reference's dense
insertion-order ints. A fixture state ranks its ids with dense_rank_by (a
range exchange plus per-partition offsets, so the rank never depends on
how the input happened to be partitioned); an upsert ranks only the new
ids of its batch, on the driver (new_ids), from a slot base the caller
supplies.

Scale notes (100 TB): the state side is the big side and is never
shuffled by these builders; maintenance batches are small → explicitly
broadcast. Insert ranks read the batch's (id, seq) keys only, never the
state beyond a semi join of its id column. Id lists built on the driver
enter plans as Arrow local relations (id_frame), never as parallelized
Python RDDs.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from executor_u1mindexer_spark import cache

VALUE_SCALE = 1000

ID = "id"
IID = "internal_id"
EMB = "emb"
SEQ = "seq"  # explicit arrival-order column (reference: list position)


def dense_rank_by(df: DataFrame, order_col: str, out_col: str) -> DataFrame:
    """Attach a 0-based dense global rank by ``order_col`` WITHOUT a global
    single-task window (`Window.orderBy` with no partitionBy funnels the whole
    table through one task — the 100×-scale killer flagged in r01).

    Scheme: range-partition on the key (partition boundaries are contiguous
    key ranges, so partition id order == key order), sort each partition by
    the key, number its rows locally, and add the cumulative count of all
    earlier partitions. The offsets table is one row per partition — its
    triangular self-join is over ~10²-10⁵ rows at any data scale — and
    broadcasts back onto the ranked rows. Output is invariant to where the
    (sampled, nondeterministic) range boundaries land, and to how AQE
    coalesces the range partitions (it merges contiguous ones, and the local
    number and ``__pid`` are both read in the task that sorted them),
    because ranks only depend on the total order of the unique key.
    Requires ``order_col`` values to be unique.

    The local number is ``monotonically_increasing_id()`` minus the
    partition's base (``spark_partition_id() << 33``), taken right after the
    in-partition sort. A ``row_number()`` window over ``__pid`` would add a
    hash exchange on ``__pid``, though the range exchange already holds each
    ``__pid`` in one task; the broadcast offsets join keeps the range
    partitioning, so the rank costs one exchange.

    The ranking pipeline runs on the KEY COLUMN ONLY (the payload — e.g.
    768-dim embeddings — would otherwise ride the range exchange); ranks
    join back on the unique key, so wide rows shuffle exactly once."""
    keys = df.select(order_col)
    # The boundary-dependent ``__pid`` feeds BOTH the offsets branch and the
    # ranked stream. repartitionByRange samples its boundaries
    # nondeterministically per materialization, so the two branches MUST read
    # ONE materialization of this exchange — otherwise ranks silently
    # desync. Spark's ReuseExchange rule guarantees that here (identical
    # exchange subtrees collapse to one; AQE reuses the shuffle stage the
    # same way); tests/test_plans.py::test_dense_rank_materializes_range_
    # exchange_once pins it so plan drift cannot silently break the
    # invariant. An eager localCheckpoint would also pin it but costs a full
    # extra materialization + partition copy per ingest batch (measured
    # +57% on the ingest bench in r03) — rejected.
    pid = F.spark_partition_id()
    parted = (
        keys.repartitionByRange(F.col(order_col))
        .sortWithinPartitions(order_col)
        .select(
            order_col,
            pid.alias("__pid"),
            (F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)).alias(
                "__local"
            ),
        )
    )
    counts = parted.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    # cumulative offsets via a triangular self-join over the per-partition
    # counts (n_partitions² pairs — trivial at any scale) instead of a
    # partition-less running-sum window, so NO operator in the whole plan
    # requires a SinglePartition exchange (pinned in test_plans).
    earlier = counts.select(
        F.col("__pid").alias("__pid_e"), F.col("__cnt").alias("__cnt_e")
    )
    offsets = (
        counts.join(F.broadcast(earlier), F.col("__pid_e") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__cnt_e"), F.lit(0)).alias("__off"))
    )
    ranked = parted.join(F.broadcast(offsets), on="__pid").select(
        order_col, (F.col("__local") + F.col("__off")).alias(out_col)
    )
    return df.join(ranked, on=order_col)


def index_state(emb_df: DataFrame) -> DataFrame:
    """Build the canonical index-state DataFrame from a raw vector table.

    internal_id = dense insertion-order int; for the fixture we define
    arrival order := vec_id order (deterministic, matches the oracle).
    Rank assignment is the parallel partition-offset scheme (dense_rank_by),
    not a partition-less window.
    """
    ranked = dense_rank_by(emb_df.select("vec_id", "embedding"), "vec_id", IID)
    return ranked.select(
        F.col("vec_id").alias(ID),
        F.col(IID),
        F.col("embedding").cast("array<double>").alias(EMB),
    )


def dedup_latest(batch: DataFrame) -> DataFrame:
    """Keep-latest per id (last write in arrival order wins) — the batch-side
    half of upsert (executor.py:157-161 reprocesses duplicate ids in order;
    last assignment wins).

    Shape: groupBy + max_by, NOT a row_number window. The aggregate gets
    map-side partial combine (duplicate ids collapse BEFORE the exchange,
    so a skewed 100 TB batch ships one row per id per map task), while the
    window form must shuffle and sort every duplicate. Ties on SEQ pick
    an arbitrary winner in both forms."""
    others = [c for c in batch.columns if c not in (ID, SEQ)]
    agged = batch.groupBy(ID).agg(
        F.max_by(F.struct(*others), F.col(SEQ)).alias("__kept"),
        F.max(SEQ).alias(SEQ),
    )
    return agged.select(ID, *[F.col(f"__kept.{c}").alias(c) for c in others], SEQ)


def slot_mark() -> Column:
    """The next free internal id as an aggregate: max(internal_id) + 1, or
    0 on an empty state. This is the slot base of inserts (see upsert)."""
    return F.coalesce(F.max(IID) + 1, F.lit(0)).cast("long")


def next_slot_of(state: DataFrame) -> int:
    """``slot_mark()`` of ``state`` on the driver (one scalar aggregate)."""
    return int(state.agg(slot_mark()).collect()[0][0])


def new_ids(state: DataFrame, batch: DataFrame) -> np.ndarray:
    """The batch's ids that ``state`` does not hold, deduplicated and in
    arrival order — the one insert-ranking path: an inserted id takes the
    slot base plus its position here as its internal_id.

    Classified on the driver in two O(batch) reads, with no shuffle:
    - read the batch's (id, seq) keys and keep the latest seq per id
      (dedup_latest's keep-latest rule);
    - find the known ids with one semi join of the state's id column
      against those ids as a broadcast local relation (``id_frame``).

    Arrival order is seq, ties broken by id. A null id matches no state
    row and cannot be ranked, so it is never inserted. Both reads are
    plain collects: a batch built from a driver frame is a local
    relation, which Spark collects without a job."""
    spark = batch.sparkSession
    keys = batch.select(ID, SEQ).where(F.col(ID).isNotNull()).collect()
    latest = pd.DataFrame(keys, columns=[ID, SEQ]).groupby(ID, sort=False)[SEQ].max()
    ids = id_frame(spark, latest.index.to_numpy(np.int64))
    known = state.select(ID).join(F.broadcast(ids), on=ID, how="left_semi").collect()
    new = latest[~latest.index.isin([r[0] for r in known])].reset_index()
    return new.sort_values([SEQ, ID], kind="stable")[ID].to_numpy(np.int64)


def _inserted(b: DataFrame, ids: np.ndarray, base: int) -> DataFrame:
    """The 'inserted' lane: rows of the deduplicated batch ``b`` whose id
    is in ``ids`` (new ids in arrival order), each with internal_id
    ``base`` + its arrival position. The ranks enter as a broadcast local
    relation, so the lane costs no exchange of its own."""
    ranks = _long_frame(
        b.sparkSession, {ID: ids, IID: base + np.arange(len(ids), dtype=np.int64)}
    )
    return (
        b.join(F.broadcast(ranks), on=ID)
        .select(ID, IID, EMB)
        .withColumn("status", F.lit("inserted"))
    )


def upsert(state: DataFrame, batch: DataFrame, next_slot: int) -> DataFrame:
    """Keyed upsert (the /index endpoint, executor.py:127-168).

    Returns the new state (id, internal_id, emb, status) where status marks
    provenance: 'kept' (untouched), 'updated' (id existed; embedding
    replaced, internal_id preserved — executor.py:157-161), 'inserted'
    (new id; dense internal_id = next slot + arrival rank among new rows
    — executor.py:151-156).

    ``next_slot`` is the caller's slot base: the internal-id high-water
    mark (``slot_mark``), NOT the live row count. After a delete the two
    diverge, and a count-based base would hand a new id an internal_id
    still held by a surviving row (hnswlib never reuses slots —
    element_count includes tombstones, executor.py:252). On a
    never-deleted state the two are equal, which is why the fixture
    oracles agree bit-for-bit. New ids are classified on the driver
    (``new_ids``), so the plan never shuffles the state.
    """
    b = dedup_latest(batch)
    return _apply_updates(state, b).unionByName(
        _inserted(b, new_ids(state, batch), next_slot)
    )


def _apply_updates(state: DataFrame, b: DataFrame) -> DataFrame:
    """kept+updated lanes of upsert/update in one broadcast left join.

    ``b`` MUST be unique per id (dedup_latest output) so each state row
    is emitted exactly once. Status rides an explicit match flag rather
    than the joined embedding's nullness, so a batch row carrying a NULL
    embedding still replaces and classifies as 'updated' — bit-identical
    to the inner+anti pair this replaces, with one state pass and one
    broadcast build instead of two of each."""
    hits = b.select(ID, F.col(EMB).alias("__bemb"), F.lit(True).alias("__hit"))
    return state.join(F.broadcast(hits), on=ID, how="left").select(
        ID,
        IID,
        F.when(F.col("__hit").isNotNull(), F.col("__bemb"))
        .otherwise(F.col(EMB))
        .alias(EMB),
        F.when(F.col("__hit").isNotNull(), F.lit("updated"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )


def upsert_capacity_bound(
    state: DataFrame, batch: DataFrame, capacity: int, next_slot: int
) -> tuple[DataFrame, DataFrame]:
    """Capacity-bounded upsert — the reference's `max_elements` semantics
    (executor.py:21, 43, 54, 67: hnswlib preallocates a fixed slot count
    and add_items on a full index raises) as an OPTIONAL validation, per
    SURVEY.md §2.A #20. The engine's default upsert stays unbounded (the
    100 TB north star); this variant is for callers that want the
    reference's admission contract.

    Semantics, matched to hnswlib:
    - updates to EXISTING ids never consume capacity (replace-in-place,
      executor.py:157-161);
    - NEW ids are admitted in arrival order (seq, the reference's list
      position) while `next_slot + arrival < capacity`, each taking the
      next internal id exactly like the unbounded path;
    - the overflow is returned as a `rejected` warn-set (id rows), the
      update_skipped pattern — the relational analogue of the hnswlib
      raise, which a caller can turn back into the reference's hard
      failure by checking the set is empty.

    Admission is a driver-side cut of the same arrival ranks the
    unbounded path assigns (``new_ids``), so ``rejected`` is a local
    relation that is ready the moment this returns.

    Slot accounting: ``next_slot`` is the high-water mark (see upsert),
    so a tombstone BELOW the mark keeps occupying its slot — hnswlib's
    deletes-don't-refund semantics (mark_deleted keeps the element count,
    executor.py:223) — with one documented divergence at THIS level:
    deleting the HIGHEST-slot row lowers the mark and frees that slot,
    where hnswlib would not. The engine facade closes even that: it
    records the freed top slots as debt and index() shrinks the capacity
    it passes by the debt, so engine admission is strict element-count
    semantics (see engine.py). What can never happen anywhere is two live
    rows sharing an internal_id, which a live-row-count base would
    produce on the first insert after any delete.

    Returns (new_state, rejected): new_state has the upsert's
    (id, internal_id, emb, status) shape, rejected is (id) only.
    """
    if capacity < 0:
        raise ValueError(f"capacity must be >= 0, got {capacity}")
    new = new_ids(state, batch)
    room = max(capacity - next_slot, 0)
    b = dedup_latest(batch)
    new_state = _apply_updates(state, b).unionByName(_inserted(b, new[:room], next_slot))
    return new_state, id_frame(batch.sparkSession, new[room:])


def update_existing(state: DataFrame, batch: DataFrame) -> DataFrame:
    """The /update endpoint (executor.py:170-211): only already-indexed ids
    are re-embedded; unknown ids are skipped (executor.py:188-196)."""
    # No pre-semi-join against the state ids: the left join classifies
    # unknown batch ids out naturally (they match nothing and state rows
    # keep 'kept'), which is exactly the skip semantics — and it saves a
    # third state pass (r16).
    return _apply_updates(state, dedup_latest(batch))


def skipped_updates(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Ids an /update would warn about and skip (executor.py:188-196):
    batch ids not present in the index, classified on the driver
    (``new_ids``) and returned as a local relation."""
    return id_frame(batch.sparkSession, new_ids(state, batch))


def id_frame(spark: SparkSession, ids: Sequence[int], col: str = ID) -> DataFrame:
    """A driver-side list of integer ids (Python or numpy ints) as a
    one-column BIGINT DataFrame that every plan reads on the JVM.

    Built from an int64 pandas frame, which Arrow turns into a local
    relation (`LocalTableScan`). A parallelized Python list
    (`createDataFrame([(i,), ...])`) is a `Scan ExistingRDD` instead, and
    every plan that reads it starts Python workers to re-run the list — a
    delete list is read by the docstore anti-join, the next status, search
    and checkpoint. An empty list is a
    literal-false filter, which Catalyst folds to an empty relation. A
    list of anything but integers raises ValueError naming its type."""
    arr = np.asarray(ids)
    if arr.size and arr.dtype.kind not in "iu":
        raise ValueError(f"id column {col!r} has type {arr.dtype.name}; ids must be integers")
    return _long_frame(spark, {col: arr})


def _long_frame(spark: SparkSession, cols: dict[str, np.ndarray]) -> DataFrame:
    """Equal-length driver arrays as a BIGINT local relation (see
    id_frame); no rows is a literal-false filter."""
    if len(next(iter(cols.values()))) == 0:
        nulls = ", ".join(f"CAST(NULL AS BIGINT) AS {c}" for c in cols)
        return spark.sql(f"SELECT {nulls}").where(F.lit(False))
    frame = pd.DataFrame({c: np.asarray(a).astype(np.int64) for c, a in cols.items()})
    return spark.createDataFrame(frame, ", ".join(f"{c} long" for c in cols))


def check_integer_ids(df: DataFrame, col: str) -> None:
    """Raise ValueError unless ``df[col]`` is an integer column. Reads the
    schema only, so it runs no Spark job: state ids are BIGINT, and a
    string id column would otherwise fail later, deep in a search or the
    next upsert, as a cast error."""
    dtype = df.schema[col].dataType
    if not isinstance(dtype, IntegralType):
        raise ValueError(
            f"id column {col!r} has type {dtype.simpleString()}; ids must be integers"
        )


def delete_by_ids(state: DataFrame, ids: DataFrame | Sequence[int]) -> DataFrame:
    """The /delete endpoint (executor.py:213-225): remove rows whose id is in
    the list; unknown ids silently ignored (set-intersection semantics,
    executor.py:221). Anti join keeps the big state side shuffle-free when
    the id list broadcasts."""
    if not isinstance(ids, DataFrame):
        ids = id_frame(state.sparkSession, ids)
    return state.join(F.broadcast(ids.select(ID)), on=ID, how="left_anti")


def status_counts(state: DataFrame, active: DataFrame) -> DataFrame:
    """The /status endpoint (executor.py:246-257).

    count_indexed = total slots ever allocated (tombstones included —
    hnswlib's element_count keeps deleted slots, executor.py:252);
    count_active = live rows; count_deleted = indexed - active;
    size_dam = doc-store size = active (doc-store rows are evicted on
    delete, executor.py:225).
    """
    i = state.agg(F.count(F.lit(1)).alias("count_indexed"))
    a = active.agg(F.count(F.lit(1)).alias("count_active"))
    return (
        i.crossJoin(a)
        .withColumn("count_deleted", F.col("count_indexed") - F.col("count_active"))
        .withColumn("size_dam", F.col("count_active"))
        .select("count_indexed", "count_active", "count_deleted", "size_dam")
    )


def dump(state: DataFrame, path: str) -> None:
    """Persist state (the /dump endpoint, executor.py:227-236) — one parquet
    snapshot instead of index.bin + ids.json + memmap flush.

    Written to a temp dir then swapped: the state DataFrame's lineage may
    lazily READ the very path being overwritten (load -> upsert -> dump),
    and a direct overwrite would delete the input mid-plan. The swap makes
    dump safe to call on state derived from a previous dump — on a real
    deployment this is the snapshot-then-commit pattern (or a table format's
    transactional MERGE).
    """
    import shutil

    tmp = path.rstrip("/") + "._tmp"
    state.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def load(spark, path: str) -> DataFrame:
    """Restore state (executor.py:51-57)."""
    return spark.read.parquet(path)


def clear(spark, like: DataFrame) -> DataFrame:
    """The /clear endpoint (executor.py:238-244): same schema, zero rows."""
    return spark.createDataFrame([], like.schema)


def state_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff: classify every id across two index states as
    inserted / deleted / updated / unchanged — the audit op between two
    dump() snapshots (what changed since the last backup? did a restore
    lose rows?). [NOT IN REFERENCE — the reference has no way to compare
    two of its dumps short of reloading both into hnswlib.]

    100 TB shape: ONE full outer join on id (both sides shuffle once on
    the key — unavoidable for a full diff); change detection compares the
    embedding arrays with <=> (null-safe equality) so it runs codegen-side
    inside the join's output projection, never in Python. Emits only
    changed rows by default (unchanged is the overwhelming majority at
    scale, and callers auditing a diff want the exceptions).
    """
    o = old.select(
        F.col(ID), F.col(IID).alias("__old_iid"), F.col(EMB).alias("__old_emb")
    )
    n = new.select(
        F.col(ID), F.col(IID).alias("__new_iid"), F.col(EMB).alias("__new_emb")
    )
    joined = o.join(n, on=ID, how="full_outer")
    change = (
        F.when(F.col("__old_iid").isNull(), F.lit("inserted"))
        .when(F.col("__new_iid").isNull(), F.lit("deleted"))
        .when(
            F.col("__old_emb").eqNullSafe(F.col("__new_emb"))
            & (F.col("__old_iid") == F.col("__new_iid")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("updated"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change") != "unchanged")
        .select(
            ID,
            "change",
            F.col("__old_iid").alias("old_internal_id"),
            F.col("__new_iid").alias("new_internal_id"),
        )
    )


def scd2_merge(
    base: DataFrame,
    updates: DataFrame,
    *,
    key_col: str,
    attr_cols: Sequence[str],
    base_from: str = "1995-01-01",
    effective_date: str = "2000-01-01",
    carry_valid_from: bool = False,
) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 merge — the lakehouse MERGE pattern
    the reference's in-place /update endpoint (executor.py:188-196) cannot
    express: instead of overwriting, every attribute change CLOSES the old
    version (valid_to = effective date, is_current = false) and OPENS a new
    one, so the dimension keeps full history.

    Per key: update absent or attribute-identical -> one open row
    (null-safe comparison, so NULL attrs don't read as a change); update
    differing -> closed old version + open new version; key new in the
    update -> one open row starting at the effective date.

    CONTRACT: both inputs are SNAPSHOTS — exactly one row per key. Feeding
    a full SCD2 history (multiple versions per key) back in would multiply
    versions through the full-outer join; to apply a second batch on top
    of a produced history, use :func:`scd2_apply`, which passes closed
    versions through untouched and re-merges only the current slice.
    ``carry_valid_from=True`` (set by scd2_apply) preserves each base
    row's own ``valid_from`` instead of the ``base_from`` constant, so
    open dates survive composition — an explicit opt-in, never inferred
    from column names (a source extract may carry an unrelated
    ``valid_from`` column that must NOT silently override ``base_from``).

    Returns (key_col, *attr_cols, valid_from, valid_to date, is_current).

    At 100 TB: one full-outer hash shuffle on the key — the irreducible
    cost of a merge that must see both sides (full-outer cannot broadcast);
    the version fan-out is an array-explode of at most 2 structs per key,
    map-side, no window and no second shuffle. [NOT IN REFERENCE]
    """
    import functools
    import operator as op

    base_vfrom = (
        F.col("valid_from")  # fails loudly if the column is absent
        if carry_valid_from
        else F.lit(base_from).cast("date")
    )
    b = base.select(
        F.col(key_col).alias("_k"),
        *[F.col(c).alias(f"_b_{c}") for c in attr_cols],
        base_vfrom.alias("_b_from"),
    )
    u = updates.select(
        F.col(key_col).alias("_uk"),
        *[F.col(c).alias(f"_u_{c}") for c in attr_cols],
    )
    j = b.join(u, F.col("_k") == F.col("_uk"), "full_outer")
    has_b = F.col("_k").isNotNull()
    has_u = F.col("_uk").isNotNull()
    same = functools.reduce(
        op.and_,
        [F.col(f"_b_{c}").eqNullSafe(F.col(f"_u_{c}")) for c in attr_cols],
    )
    d0 = F.col("_b_from")
    d1 = F.lit(effective_date).cast("date")
    no_date = F.lit(None).cast("date")

    def _ver(side: str, vfrom, vto, cur: bool):
        return F.struct(
            *[F.col(f"_{side}_{c}").alias(c) for c in attr_cols],
            vfrom.alias("valid_from"),
            vto.alias("valid_to"),
            F.lit(cur).alias("is_current"),
        )

    versions = (
        F.when(~has_u, F.array(_ver("b", d0, no_date, True)))
        .when(~has_b, F.array(_ver("u", d1, no_date, True)))
        .when(same, F.array(_ver("b", d0, no_date, True)))
        .otherwise(
            F.array(_ver("b", d0, d1, False), _ver("u", d1, no_date, True))
        )
    )
    ex = j.select(
        F.coalesce(F.col("_k"), F.col("_uk")).alias(key_col),
        F.explode(versions).alias("_v"),
    )
    return ex.select(
        key_col,
        *[F.col(f"_v.{c}").alias(c) for c in attr_cols],
        F.col("_v.valid_from").alias("valid_from"),
        F.col("_v.valid_to").alias("valid_to"),
        F.col("_v.is_current").alias("is_current"),
    )


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    *,
    key_col: str,
    attr_cols: Sequence[str],
    effective_date: str,
) -> DataFrame:
    """Apply an update batch on top of an EXISTING SCD2 history (the output
    shape of :func:`scd2_merge`): closed versions pass through untouched;
    only the current slice (one row per key by construction) re-enters the
    merge, with each row's own valid_from preserved. This is the correct
    composition path — merging a raw multi-version history would multiply
    versions through the full-outer join (see the scd2_merge contract).

    At 100 TB the pass-through is a filter (no shuffle); only the current
    slice pays the merge's key shuffle.
    """
    out_cols = [
        key_col,
        *attr_cols,
        "valid_from",
        "valid_to",
        "is_current",
    ]
    closed = history.filter(~F.col("is_current")).select(*out_cols)
    current = history.filter(F.col("is_current")).select(
        key_col, *attr_cols, "valid_from"
    )
    merged = scd2_merge(
        current,
        updates,
        key_col=key_col,
        attr_cols=attr_cols,
        effective_date=effective_date,
        carry_valid_from=True,
    )
    return closed.unionByName(merged.select(*out_cols))


# -- incremental view maintenance (r10) ---------------------------------------


IVM_STATE_COLS = ("n_rows", "sum_milli", "min_milli", "max_milli")


def ivm_agg_state(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    """Partial aggregate state for incremental view maintenance: per key,
    (n_rows, sum_milli, min_milli, max_milli) over the milli-scaled value
    (round(value*scale) BIGINT — the module-wide exact-integer
    convention, so merge order can never move a bit). These are exactly
    the distributive aggregates — count/sum/min/max merge associatively,
    and avg/variance derive from them at read time — which is what makes
    a materialized view maintainable without rescanning its base."""
    v = F.round(F.col(value_col) * F.lit(float(VALUE_SCALE))).cast("long")
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(v).cast("long").alias("sum_milli"),
        F.min(v).cast("long").alias("min_milli"),
        F.max(v).cast("long").alias("max_milli"),
    )


def ivm_merge(state: DataFrame, delta_state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge a delta batch's partial state into the maintained view state
    — the materialized-view / streaming-sink maintenance step. The BASE
    TABLE IS NEVER RESCANNED: the merge touches |state| + |delta| rows
    (grouped keys, not facts), which is what survives a 100 TB base with
    a GB-sized key space. Keys present only in the delta appear, keys
    untouched by the delta pass through, and repeated maintenance
    composes (merge(merge(s, d1), d2) == state of base ∪ d1 ∪ d2,
    exactly — all four aggregates are associative+commutative in BIGINT).

    [NOT IN REFERENCE — executor.py rebuilds derived state from scratch;
    this is the beyond-reference scale path for maintained aggregates.]"""
    return (
        state.unionByName(delta_state)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_milli").cast("long").alias("sum_milli"),
            F.min("min_milli").cast("long").alias("min_milli"),
            F.max("max_milli").cast("long").alias("max_milli"),
        )
    )


IVM_RETRACT_STATE_COLS = ("n_rows", "sum_milli", "sumsq_milli2")


def ivm_retract_state(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    sign: int = 1,
) -> DataFrame:
    """Partial state for the RETRACTABLE incremental-view lanes (r11) —
    the Flink retract-stream distinction that ivm_agg_state cannot make:
    count/sum/sum-of-squares are group-invertible (a delete is the
    inserted row with sign -1), so a maintained view over them absorbs
    DELETE deltas without ever rescanning the base; min/max are NOT
    invertible (a retracted maximum forces a rescan) and are deliberately
    absent from this state.

    Per key: (n_rows, sum_milli, sumsq_milli2) over the milli-scaled
    BIGINT value, each multiplied by ``sign`` (+1 insert batch, -1
    retraction batch). sumsq_milli2 is DECIMAL(38,0): squares of milli
    values overflow BIGINT at realistic corpus scales (Σv² > 2^63 needs
    only ~10^6 rows of |value|~10^3), and exact 38-digit decimal sums are
    bit-identical across engines the way doubles are not. avg and
    variance derive at read time (ivm_retract_view)."""
    if sign not in (1, -1):
        raise ValueError(f"sign must be +1 or -1, got {sign}")
    v = F.round(F.col(value_col) * F.lit(float(VALUE_SCALE))).cast("long")
    v_dec = v.cast("decimal(18,0)")
    return df.groupBy(*keys).agg(
        (F.lit(sign) * F.count(F.lit(1))).cast("long").alias("n_rows"),
        (F.lit(sign) * F.sum(v)).cast("long").alias("sum_milli"),
        (F.lit(sign).cast("decimal(2,0)") * F.sum(v_dec * v_dec))
        .cast("decimal(38,0)")
        .alias("sumsq_milli2"),
    )


def ivm_retract_state_cdc(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    sign_col: str,
) -> DataFrame:
    """ivm_retract_state over a CHANGELOG batch (the CDC/retract-stream
    shape): each row carries its own sign in ``sign_col`` (+1 insert,
    -1 delete), so one grouped pass folds a mixed batch — an insert and
    its same-batch retraction cancel exactly. Signs other than ±1 fail
    loudly at evaluation (they would silently scale the lanes)."""
    sg = F.col(sign_col).cast("long")
    checked = F.when((sg == 1) | (sg == -1), sg).otherwise(
        F.raise_error(F.lit("ivm_retract_state_cdc: sign must be +1 or -1"))
    )
    v = F.round(F.col(value_col) * F.lit(float(VALUE_SCALE))).cast("long")
    v_dec = v.cast("decimal(18,0)")
    return df.groupBy(*keys).agg(
        F.sum(checked).cast("long").alias("n_rows"),
        F.sum(checked * v).cast("long").alias("sum_milli"),
        F.sum(checked.cast("decimal(2,0)") * (v_dec * v_dec))
        .cast("decimal(38,0)")
        .alias("sumsq_milli2"),
    )


def ivm_retract_merge(
    state: DataFrame, delta_state: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Merge a (possibly negative-signed) delta state into the retractable
    view state: plain addition on all three lanes, |state| + |delta|
    grouped rows touched, base never rescanned. A fully-retracted key
    (n_rows == 0) is dropped — it has left the view; n_rows < 0 means the
    caller retracted rows never inserted and fails loudly rather than
    carrying an impossible state."""
    merged = (
        state.unionByName(delta_state)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_milli").cast("long").alias("sum_milli"),
            F.sum("sumsq_milli2").cast("decimal(38,0)").alias("sumsq_milli2"),
        )
    )
    guard = F.when(
        F.col("n_rows") < 0,
        F.raise_error(F.lit("ivm_retract_merge: negative n_rows — retraction of never-inserted rows")),
    ).otherwise(F.col("n_rows"))
    return merged.withColumn("n_rows", guard).filter(F.col("n_rows") > 0)


def ivm_retract_view(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Read-time derivation over the retractable state: the three state
    integers plus the EXACT variance fraction var_num/var_den, where
    var_num = n*Σv² − (Σv)² and var_den = n² (population variance of the
    milli values = var_num/var_den — kept as an exact integer pair, not
    divided, so the artifact is bit-identical cross-engine; a reader
    divides). var_num ≥ 0 by Cauchy-Schwarz; both in DECIMAL(38,0)."""
    n_dec = F.col("n_rows").cast("decimal(20,0)")
    s_dec = F.col("sum_milli").cast("decimal(20,0)")
    return state.select(
        *keys,
        "n_rows",
        "sum_milli",
        "sumsq_milli2",
        (n_dec * F.col("sumsq_milli2") - s_dec * s_dec)
        .cast("decimal(38,0)")
        .alias("var_num"),
        (F.col("n_rows") * F.col("n_rows")).cast("long").alias("var_den"),
    ).orderBy(*keys)


# --------------------------------------------- rendezvous sharding (r12)
#
# Highest-random-weight (HRW / rendezvous) hashing — Thaler &
# Ravishankar, IEEE/ACM ToN 1998: route each key to the shard with the
# highest hash(key, shard) score. The property that makes it THE shard
# router for a distributed index (the reference's single-node index
# would shard exactly this way at scale): when a shard is ADDED, the
# only keys that move are those whose new shard IS the added one
# (argmax over a superset changes only if the new element wins), so a
# resize reshuffles ~1/(S+1) of the corpus instead of (S-1)/S as naive
# `hash % S` routing would. [NOT IN REFERENCE — beyond-reference
# breadth; executor.py is single-shard.]

HRW_SALT = "#rdz"


def hrw_score_sql(key: str, shard: int, engine: str) -> str:
    """60-bit score of (key, shard): same md5 fragment family as the
    sketch module — one md5 per (key, shard) pair, shared text across
    engines."""
    hx = f"substr(md5(concat(CAST({key} AS STRING), '{HRW_SALT}{shard}')), 1, 15)"
    if engine == "spark":
        return f"CAST(conv({hx}, 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', {hx}) AS BIGINT)"


def hrw_argmax_sql(n_shards: int) -> str:
    """Argmax over precomputed score columns __h0..__h{n-1}: greatest()
    + a first-match CASE (ties are first-wins — deterministic, though a
    60-bit tie needs an md5 collision). Engine-neutral text."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    cols = [f"__h{s}" for s in range(n_shards)]
    if n_shards == 1:
        return "0"
    # greatest() of column refs is folded cheaply by both engines, so
    # it is inlined per arm — n-1 comparisons, last shard is the ELSE
    m = f"greatest({', '.join(cols)})"
    arms = " ".join(
        f"WHEN __h{s} = {m} THEN {s}" for s in range(n_shards - 1)
    )
    return f"CAST(CASE {arms} ELSE {n_shards - 1} END AS BIGINT)"


def rendezvous_assign(df: DataFrame, key: str, n_shards: int) -> DataFrame:
    """(key, shard) under HRW routing: one md5 per (row, shard) computed
    ONCE in an inner projection, argmax in the outer — a pure map-side
    operator (no shuffle, no UDF; at 100 TB this is S hash evaluations
    per row inside whole-stage codegen)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    inner = df.filter(F.col(key).isNotNull()).select(
        F.col(key),
        *[
            F.expr(hrw_score_sql(key, s, "spark")).alias(f"__h{s}")
            for s in range(n_shards)
        ],
    )
    return inner.select(
        F.col(key), F.expr(hrw_argmax_sql(n_shards)).alias("shard")
    )


def rendezvous_resize_audit(
    df: DataFrame, key: str, n_shards: int
) -> DataFrame:
    """Per-shard occupancy under S and S+1 shards plus the minimal-
    movement audit: (shard, n_before, n_after, arrivals, moved_ok) —
    arrivals counts keys that CHANGED shard into this one, and moved_ok
    asserts HRW's contract that every move lands on the new shard
    (arrivals = 0 everywhere else).

    Scale shape: ONE scan computes the S+1 scores and both argmaxes per
    row, then folds to the <= S*(S+1) (before, after) transition cube;
    all shard-level counts derive from that tiny cube joined to an
    in-plan shard spine. No second pass, no window."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    spark = df.sparkSession
    inner = df.filter(F.col(key).isNotNull()).select(
        *[
            F.expr(hrw_score_sql(key, s, "spark")).alias(f"__h{s}")
            for s in range(n_shards + 1)
        ],
    )
    assigned = inner.select(
        F.expr(hrw_argmax_sql(n_shards)).alias("s_before"),
        F.expr(hrw_argmax_sql(n_shards + 1)).alias("s_after"),
    )
    # materialize the <= S*(S+1)-row cube ONCE: the three shard-level
    # aggregates below would otherwise each replay the full scan+argmax
    # lineage — the plan pin in test_plans asserts the final plan re-reads
    # no parquet
    cube = cache.materialize(
        assigned.groupBy("s_before", "s_after")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spine = spark.range(n_shards + 1).select(F.col("id").alias("shard"))
    before = cube.groupBy(F.col("s_before").alias("shard")).agg(
        F.sum("n").alias("n_before")
    )
    after = cube.groupBy(F.col("s_after").alias("shard")).agg(
        F.sum("n").alias("n_after")
    )
    moved = (
        cube.filter(F.col("s_before") != F.col("s_after"))
        .groupBy(F.col("s_after").alias("shard"))
        .agg(F.sum("n").alias("arrivals"))
    )
    return (
        spine.join(before, "shard", "left")
        .join(after, "shard", "left")
        .join(moved, "shard", "left")
        .select(
            "shard",
            F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            F.coalesce("arrivals", F.lit(0)).cast("long").alias("arrivals"),
            (
                F.coalesce("arrivals", F.lit(0))
                == F.when(
                    F.col("shard") == n_shards, F.coalesce("n_after", F.lit(0))
                ).otherwise(F.lit(0))
            ).alias("moved_ok"),
        )
        .orderBy("shard")
    )


def oracle_rendezvous_resize_sql(source: str, key: str, n_shards: int) -> str:
    """DuckDB twin of rendezvous_resize_audit — same fragments, same
    one-scan transition-cube shape."""
    scores = ", ".join(
        f"{hrw_score_sql(key, s, 'duck')} AS __h{s}" for s in range(n_shards + 1)
    )
    return f"""
WITH __scored AS (
  SELECT {scores} FROM {source} WHERE {key} IS NOT NULL
),
__assigned AS (
  SELECT {hrw_argmax_sql(n_shards)} AS s_before,
         {hrw_argmax_sql(n_shards + 1)} AS s_after
  FROM __scored
),
__cube AS (
  SELECT s_before, s_after, CAST(count(*) AS BIGINT) AS n
  FROM __assigned GROUP BY s_before, s_after
),
__spine AS (SELECT CAST(range AS BIGINT) AS shard FROM range({n_shards + 1})),
__before AS (SELECT s_before AS shard, CAST(sum(n) AS BIGINT) AS n_before
             FROM __cube GROUP BY s_before),
__after AS (SELECT s_after AS shard, CAST(sum(n) AS BIGINT) AS n_after
            FROM __cube GROUP BY s_after),
__moved AS (SELECT s_after AS shard, CAST(sum(n) AS BIGINT) AS arrivals
            FROM __cube WHERE s_before <> s_after GROUP BY s_after)
SELECT s.shard,
       CAST(coalesce(b.n_before, 0) AS BIGINT) AS n_before,
       CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after,
       CAST(coalesce(m.arrivals, 0) AS BIGINT) AS arrivals,
       coalesce(m.arrivals, 0) = CASE WHEN s.shard = {n_shards}
         THEN coalesce(a.n_after, 0) ELSE 0 END AS moved_ok
FROM __spine s
LEFT JOIN __before b ON s.shard = b.shard
LEFT JOIN __after a ON s.shard = a.shard
LEFT JOIN __moved m ON s.shard = m.shard
ORDER BY s.shard
"""
