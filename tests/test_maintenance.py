"""Maintenance semantics pinned to the reference quirks:
upsert keeps internal id (executor.py:157-161), dense arrival-order ids for
new rows (executor.py:151-156), update skips unknown ids (executor.py:188-196),
delete ignores unknown ids (executor.py:221), status arithmetic
(executor.py:252-257)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from executor_u1mindexer_spark.operators import maintenance as M


@pytest.fixture(scope="module")
def state(spark):
    rows = [(i, [float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return M.index_state(df)


def _batch(spark, rows):
    return spark.createDataFrame(rows, f"{M.ID} long, {M.EMB} array<double>, {M.SEQ} long")


def test_dense_rank_by_matches_global_sort_order(spark):
    """The partition-offset rank scheme must equal row_number-by-key minus 1
    regardless of input partitioning (shuffled input, many partitions), of
    the range-partition count (1, 7 and 32), and of how AQE coalesces the
    range partitions. The key set is skewed (a dense run of 3,000 keys
    between a sparse head and a sparse tail), and a 2 KB advisory partition
    size makes AQE coalesce unevenly: at 32 partitions the range exchange
    of these keys reads back as 17 partitions, the end ones holding one
    range partition and the rest two."""
    import random

    keys = (
        list(range(0, 2000, 3))
        + list(range(10_000, 13_000))
        + list(range(10**6, 10**7, 99_991))
    )
    random.Random(7).shuffle(keys)
    df = spark.createDataFrame([(k, k * 2) for k in keys], "k long, payload long").repartition(16)
    confs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
    }
    prev = {k: spark.conf.get(k) for k in [*confs, "spark.sql.shuffle.partitions"]}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for n in (1, 7, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            rows = M.dense_rank_by(df, "k", "rank").collect()
            out = {r.k: (r.rank, r.payload) for r in rows}
            assert len(rows) == len(out) == len(keys), n
            for pos, k in enumerate(sorted(keys)):
                assert out[k] == (pos, k * 2), (n, k)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_dense_rank_by_empty_and_single_row(spark):
    empty = spark.createDataFrame([], "k long")
    assert M.dense_rank_by(empty, "k", "rank").count() == 0
    one = spark.createDataFrame([(42,)], "k long")
    assert M.dense_rank_by(one, "k", "rank").collect()[0].rank == 0


def test_upsert_keeps_internal_id_and_assigns_dense_new_ids(spark, state):
    batch = _batch(
        spark,
        [
            (3, [99.0, 99.0], 0),   # update: keeps internal_id 3
            (100, [1.0, 0.0], 1),   # insert: internal_id 10
            (200, [2.0, 0.0], 2),   # insert: internal_id 11
        ],
    )
    out = {r[M.ID]: r for r in M.upsert(state, batch, M.next_slot_of(state)).collect()}
    assert len(out) == 12
    assert out[3][M.IID] == 3 and out[3]["status"] == "updated"
    assert out[3][M.EMB] == [99.0, 99.0]
    assert out[100][M.IID] == 10 and out[100]["status"] == "inserted"
    assert out[200][M.IID] == 11
    assert out[0]["status"] == "kept"


def test_upsert_duplicate_ids_last_write_wins(spark, state):
    batch = _batch(spark, [(5, [1.0, 1.0], 0), (5, [2.0, 2.0], 7)])
    out = {r[M.ID]: r for r in M.upsert(state, batch, M.next_slot_of(state)).collect()}
    assert out[5][M.EMB] == [2.0, 2.0]  # seq 7 arrived later


def test_upsert_after_delete_never_reuses_live_internal_ids(spark, state):
    """Slot base is the internal-id high-water mark, not the live count:
    after deleting a low-slot row, a new id must take max(iid)+1, never
    an internal_id still held by a survivor (hnswlib never reuses slots,
    executor.py:252)."""
    gapped = M.delete_by_ids(state, [0, 1, 2])  # live iids 3..9, count 7
    batch = _batch(spark, [(500, [1.0, 1.0], 0)])
    out = {r[M.ID]: r for r in M.upsert(gapped, batch, M.next_slot_of(gapped)).collect()}
    assert out[500][M.IID] == 10  # count-based would collide at 7
    live_iids = [r[M.IID] for r in M.upsert(gapped, batch, M.next_slot_of(gapped)).collect()]
    assert len(live_iids) == len(set(live_iids))
    # capacity twin: the same base drives admission — live 7, mark 10,
    # so capacity 10 has NO room even though the live count suggests 3
    st2, rej2 = M.upsert_capacity_bound(gapped, batch, 10, M.next_slot_of(gapped))
    assert [r[M.ID] for r in rej2.collect()] == [500]
    st3, rej3 = M.upsert_capacity_bound(gapped, batch, 11, M.next_slot_of(gapped))
    assert {r[M.ID]: r[M.IID] for r in st3.collect()}[500] == 10
    assert rej3.count() == 0


def test_upsert_capacity_admits_in_arrival_order(spark, state):
    """Reference max_elements semantics (executor.py:21, 67): new ids are
    admitted by seq while slots remain; updates never consume capacity."""
    batch = _batch(
        spark,
        [
            (3, [9.0, 9.0], 50),     # update — admitted even at full capacity
            (300, [3.0, 0.0], 30),   # arrival rank 1 -> rejected (cap 11)
            (100, [1.0, 0.0], 10),   # arrival rank 0 -> internal_id 10
            (400, [4.0, 0.0], 40),   # arrival rank 2 -> rejected
        ],
    )
    new_state, rejected = M.upsert_capacity_bound(state, batch, 11, M.next_slot_of(state))
    out = {r[M.ID]: r for r in new_state.collect()}
    assert len(out) == 11
    assert out[3]["status"] == "updated" and out[3][M.IID] == 3
    assert out[100]["status"] == "inserted" and out[100][M.IID] == 10
    assert sorted(r[M.ID] for r in rejected.collect()) == [300, 400]


def test_upsert_capacity_full_and_roomy_extremes(spark, state):
    batch = _batch(spark, [(7, [5.0, 5.0], 0), (500, [1.0, 1.0], 1)])
    # capacity == current count: updates land, every new id is rejected
    st_full, rej_full = M.upsert_capacity_bound(state, batch, 10, M.next_slot_of(state))
    assert st_full.count() == 10
    assert st_full.filter(F.col(M.ID) == 7).collect()[0]["status"] == "updated"
    assert [r[M.ID] for r in rej_full.collect()] == [500]
    # roomy capacity: identical to the unbounded upsert, empty warn-set
    st_room, rej_room = M.upsert_capacity_bound(state, batch, 1000, M.next_slot_of(state))
    unbounded = M.upsert(state, batch, M.next_slot_of(state))
    unbounded = {(r[M.ID], r[M.IID], r["status"]) for r in unbounded.collect()}
    assert {(r[M.ID], r[M.IID], r["status"]) for r in st_room.collect()} == unbounded
    assert rej_room.count() == 0
    with pytest.raises(ValueError):
        M.upsert_capacity_bound(state, batch, -1, M.next_slot_of(state))


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(
    n_state=st.integers(min_value=0, max_value=6),
    batch=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),   # id (may hit state or dup)
            st.integers(min_value=0, max_value=30),   # seq base
        ),
        max_size=8,
    ),
    headroom=st.integers(min_value=0, max_value=6),
)
def test_upsert_capacity_matches_python_replay(spark, n_state, batch, headroom):
    """Property: for arbitrary state sizes, batches (duplicate ids, ids
    overlapping the state) and capacities, the operator equals a python
    replay of the admission rule: keep-latest per id, updates free, new
    ids admitted by arrival (seq) order while count < capacity."""
    state_rows = [(i, [float(i)], i) for i in range(n_state)]
    sdf = spark.createDataFrame(
        [(i, i, [float(i)]) for i in range(n_state)],
        f"{M.ID} long, {M.IID} long, {M.EMB} array<double>",
    )
    # unique seq per row, so seq order alone is the arrival order: seq = base*10 + position
    brows = [(bid, [float(bid) + 0.5], base * 10 + pos) for pos, (bid, base) in enumerate(batch)]
    bdf = _batch(spark, brows)
    capacity = n_state + headroom

    # python replay
    latest = {}
    for bid, emb, seq in brows:
        if bid not in latest or seq > latest[bid][1]:
            latest[bid] = (emb, seq)
    existing = set(range(n_state))
    new_ids = sorted(
        (i for i in latest if i not in existing), key=lambda i: latest[i][1]
    )
    admitted = new_ids[: max(capacity - n_state, 0)]
    want_state = {
        (i, i, "updated" if i in latest else "kept") for i in existing
    } | {(i, n_state + r, "inserted") for r, i in enumerate(admitted)}
    want_rejected = sorted(set(new_ids) - set(admitted))

    got_state_df, got_rej_df = M.upsert_capacity_bound(sdf, bdf, capacity, n_state)
    got_state = {(r[M.ID], r[M.IID], r["status"]) for r in got_state_df.collect()}
    got_rejected = sorted(r[M.ID] for r in got_rej_df.collect())
    assert got_state == want_state
    assert got_rejected == want_rejected


def test_update_skips_unknown_ids(spark, state):
    batch = _batch(spark, [(4, [8.0, 8.0], 0), (999, [0.0, 0.0], 1)])
    out = M.update_existing(state, batch)
    assert out.count() == 10  # no insert happened
    assert out.filter(F.col(M.ID) == 999).count() == 0
    skipped = M.skipped_updates(state, batch).collect()
    assert [r[M.ID] for r in skipped] == [999]


def test_delete_ignores_unknown_ids(spark, state):
    out = M.delete_by_ids(state, [1, 2, 31337])
    assert sorted(r[M.ID] for r in out.collect()) == [0, 3, 4, 5, 6, 7, 8, 9]


def test_status_counts_arithmetic(spark, state):
    active = M.delete_by_ids(state, [0, 1, 2])
    row = M.status_counts(state, active).collect()[0]
    assert row.count_indexed == 10
    assert row.count_active == 7
    assert row.count_deleted == 3
    assert row.size_dam == 7


def test_dump_load_roundtrip(spark, state, tmp_path):
    p = str(tmp_path / "state")
    M.dump(state, p)
    back = M.load(spark, p)
    assert sorted(back.columns) == sorted(state.columns)
    assert back.count() == state.count()


def test_clear_empty_same_schema(spark, state):
    out = M.clear(spark, state)
    assert out.count() == 0
    assert out.schema == state.schema


def test_state_diff_classifies_all_change_kinds(spark):
    from executor_u1mindexer_spark.operators import maintenance as M
    from pyspark.sql import functions as F

    old = spark.createDataFrame(
        [(1, 0, [1.0, 2.0]), (2, 1, [3.0, 4.0]), (3, 2, [5.0, 6.0]), (4, 3, [7.0, 8.0])],
        f"{M.ID} long, {M.IID} long, {M.EMB} array<double>",
    )
    new = spark.createDataFrame(
        [
            (1, 0, [1.0, 2.0]),     # unchanged -> filtered out
            (2, 1, [30.0, 40.0]),   # updated (emb changed)
            (4, 9, [7.0, 8.0]),     # updated (internal id moved)
            (5, 4, [9.0, 9.0]),     # inserted
        ],                           # 3 deleted
        f"{M.ID} long, {M.IID} long, {M.EMB} array<double>",
    )
    got = {r.id: (r.change, r.old_internal_id, r.new_internal_id)
           for r in M.state_diff(old, new).collect()}
    assert got == {
        2: ("updated", 1, 1),
        3: ("deleted", 2, None),
        4: ("updated", 3, 9),
        5: ("inserted", None, 4),
    }


def test_scd2_merge_version_semantics(spark):
    """Changed key -> closed old + open new; unchanged update -> single
    open row; new key -> open at effective date; NULL attr equal to NULL
    is NOT a change (null-safe comparison)."""
    from executor_u1mindexer_spark.operators.maintenance import scd2_merge

    base = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, None), (3, 30.0, "C")],
        ["k", "bal", "seg"],
    )
    upd = spark.createDataFrame(
        [(1, 11.0, "A"), (2, 20.0, None), (9, 90.0, "Z")],
        ["k", "bal", "seg"],
    )
    rows = scd2_merge(
        base, upd, key_col="k", attr_cols=("bal", "seg")
    ).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    # k=1 changed: one closed (old bal) + one open (new bal)
    v1 = sorted(by_key[1], key=lambda r: (r["valid_from"]))
    assert len(v1) == 2
    assert v1[0]["bal"] == 10.0 and not v1[0]["is_current"]
    assert v1[0]["valid_to"] is not None
    assert v1[1]["bal"] == 11.0 and v1[1]["is_current"]
    assert v1[1]["valid_to"] is None
    # k=2: NULL seg == NULL seg is NOT a change
    assert len(by_key[2]) == 1 and by_key[2][0]["is_current"]
    # k=3: absent from update -> untouched open row
    assert len(by_key[3]) == 1 and by_key[3][0]["valid_to"] is None
    # k=9: new key opens at the effective date
    v9 = by_key[9][0]
    assert v9["is_current"] and str(v9["valid_from"]) == "2000-01-01"


def test_scd2_apply_composes_history(spark):
    """Applying a second batch via scd2_apply must preserve closed history,
    keep exactly one current row per key, and carry each current row's own
    valid_from through the merge (not reset it to the base constant)."""
    from executor_u1mindexer_spark.operators.maintenance import (
        scd2_apply,
        scd2_merge,
    )

    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "bal"])
    h1 = scd2_merge(
        base,
        spark.createDataFrame([(1, 11.0)], ["k", "bal"]),
        key_col="k",
        attr_cols=("bal",),
        effective_date="2000-01-01",
    )
    h2 = scd2_apply(
        h1,
        spark.createDataFrame([(1, 12.0), (3, 30.0)], ["k", "bal"]),
        key_col="k",
        attr_cols=("bal",),
        effective_date="2001-01-01",
    ).collect()
    by_key: dict[int, list] = {}
    for r in h2:
        by_key.setdefault(r["k"], []).append(r)
    # k=1: three versions, one current, dates chain 1995->2000->2001
    v1 = sorted(by_key[1], key=lambda r: r["valid_from"])
    assert [str(r["valid_from"]) for r in v1] == [
        "1995-01-01", "2000-01-01", "2001-01-01",
    ]
    assert [r["is_current"] for r in v1] == [False, False, True]
    assert str(v1[1]["valid_to"]) == "2001-01-01"  # closed by batch 2
    assert v1[2]["bal"] == 12.0
    # k=2 untouched: single current row with the original open date
    assert len(by_key[2]) == 1 and by_key[2][0]["is_current"]
    assert str(by_key[2][0]["valid_from"]) == "1995-01-01"
    # k=3 new in batch 2
    assert str(by_key[3][0]["valid_from"]) == "2001-01-01"
    # global invariant: exactly one current row per key
    for k, rows in by_key.items():
        assert sum(1 for r in rows if r["is_current"]) == 1, (k, rows)


def test_ivm_merge_composes_and_never_rescans_semantics(spark):
    from executor_u1mindexer_spark.operators import maintenance as M

    rows = [
        ("a", 1.0), ("a", 2.5), ("b", -3.0),            # base
        ("a", 4.0), ("c", 10.0),                        # delta 1 (c is new)
        ("c", -1.5),                                    # delta 2 (b untouched)
    ]
    df = spark.createDataFrame(rows, "k string, value double")
    base, d1, d2 = (df.limit(3), df.offset(3).limit(2), df.offset(5))
    keys = ["k"]
    merged = M.ivm_merge(
        M.ivm_merge(M.ivm_agg_state(base, keys, "value"),
                    M.ivm_agg_state(d1, keys, "value"), keys),
        M.ivm_agg_state(d2, keys, "value"), keys,
    )
    got = {r.k: (r.n_rows, r.sum_milli, r.min_milli, r.max_milli)
           for r in merged.collect()}
    # equality to a from-scratch recompute over the union
    want = {r.k: (r.n_rows, r.sum_milli, r.min_milli, r.max_milli)
            for r in M.ivm_agg_state(df, keys, "value").collect()}
    assert got == want
    assert got["c"] == (2, 8500, -1500, 10000)   # delta-only key appears
    assert got["b"] == (1, -3000, -3000, -3000)  # untouched key passes through


def test_ivm_retract_lanes_cancel_exactly(spark):
    """Retract-stream IVM (r11): a delete delta is the insert with sign
    -1 — merging +d then -d must return the EXACT original state (all
    lanes group-invertible); a fully-retracted key leaves the view; a
    retraction of never-inserted rows fails loudly (negative n_rows)."""
    import pytest as _pt

    base = spark.createDataFrame(
        [("a", 1.25), ("a", -2.5), ("b", 3.0), ("c", 7.125)],
        "k string, value double",
    )
    extra = spark.createDataFrame(
        [("a", 10.0), ("c", -7.125), ("d", 0.5)], "k string, value double"
    )
    keys = ["k"]
    s0 = M.ivm_retract_state(base, keys, "value")
    plus = M.ivm_retract_state(extra, keys, "value")
    minus = M.ivm_retract_state(extra, keys, "value", sign=-1)

    def snap(df):
        return {r.k: (r.n_rows, r.sum_milli, str(r.sumsq_milli2))
                for r in df.collect()}

    round_trip = M.ivm_retract_merge(M.ivm_retract_merge(s0, plus, keys), minus, keys)
    assert snap(round_trip) == snap(s0)

    # full retraction of c's single row drops the key from the view
    del_c = M.ivm_retract_state(
        base.filter(F.col("k") == "c"), keys, "value", sign=-1
    )
    left = M.ivm_retract_merge(s0, del_c, keys)
    assert set(r.k for r in left.collect()) == {"a", "b"}

    # retracting rows never inserted must raise, not carry n_rows < 0
    dup_del = M.ivm_retract_merge(del_c, del_c, keys)
    with _pt.raises(Exception, match="never-inserted"):
        dup_del.collect()


def test_ivm_retract_view_variance_fraction_is_exact(spark):
    """var_num/var_den must equal the population variance of the milli
    values exactly (integer identity n*Σv² − (Σv)² over n²), checked
    against plain-Python integers."""
    vals = [1.25, -2.5, 3.0, 0.0, 10.125]
    df = spark.createDataFrame([("a", v) for v in vals], "k string, value double")
    out = M.ivm_retract_view(M.ivm_retract_state(df, ["k"], "value"), ["k"]).collect()
    assert len(out) == 1
    r = out[0]
    m = [round(v * 1000) for v in vals]
    n = len(m)
    assert (r.n_rows, r.sum_milli) == (n, sum(m))
    assert int(r.sumsq_milli2) == sum(x * x for x in m)
    assert int(r.var_num) == n * sum(x * x for x in m) - sum(m) ** 2
    assert r.var_den == n * n
    assert int(r.var_num) >= 0


# ------------------------------------------------ rendezvous sharding (r12)


def _hrw_replay(key: int, n_shards: int) -> int:
    import hashlib

    scores = [
        int(
            hashlib.md5(f"{key}#rdz{s}".encode()).hexdigest()[:15], 16
        )
        for s in range(n_shards)
    ]
    return scores.index(max(scores))


def test_rendezvous_assign_matches_python_replay(spark):
    keys = list(range(500))
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long").repartition(5)
    got = {
        r.doc_id: r.shard
        for r in M.rendezvous_assign(df, "doc_id", 8).collect()
    }
    assert got == {k: _hrw_replay(k, 8) for k in keys}


def test_rendezvous_resize_moves_only_to_new_shard(spark):
    keys = list(range(800))
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    before = {
        r.doc_id: r.shard for r in M.rendezvous_assign(df, "doc_id", 6).collect()
    }
    after = {
        r.doc_id: r.shard for r in M.rendezvous_assign(df, "doc_id", 7).collect()
    }
    moved = {k for k in keys if before[k] != after[k]}
    assert moved, "resize moved nothing — vacuous fixture"
    assert all(after[k] == 6 for k in moved)
    # expected movement ~ 1/7 of keys; generous 3x band
    assert len(moved) < len(keys) * 3 / 7


def test_rendezvous_occupancy_roughly_uniform(spark):
    keys = list(range(2000))
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    audit = M.rendezvous_resize_audit(df, "doc_id", 8).collect()
    n_before = [r.n_before for r in audit if r.shard < 8]
    assert sum(n_before) == len(keys)
    mean = len(keys) / 8
    assert all(abs(n - mean) / mean < 0.25 for n in n_before)
    assert all(r.moved_ok for r in audit)


def test_rendezvous_n_shards_validated(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1,)], "doc_id long")
    with _pytest.raises(ValueError):
        M.rendezvous_assign(df, "doc_id", 0)
    assert M.hrw_argmax_sql(1) == "0"
