"""End-to-end facade parity: the reference's benchmark.py flow (index →
search → update → delete → dump → load → status) through U1MIndexerSpark."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.engine import U1MIndexerSpark


@pytest.fixture()
def engine(spark, sf_dir, tmp_path):
    eng = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path), metric="cosine", limit=20)
    docs = (
        tables.load(spark, sf_dir, "embeddings")
        .join(
            tables.load(spark, sf_dir, "documents"),
            F.col("vec_id") == F.col("doc_id"),
        )
        .select("doc_id", "embedding", "text", "lang")
        .filter(F.col("doc_id") < 100)
    )
    eng.index(docs)
    return eng


def test_index_then_search_returns_full_payload(spark, engine, sf_dir):
    q = (
        tables.load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 3)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding"))
    )
    rows = engine.search(q, limit=5).orderBy("rank").collect()
    assert len(rows) == 5
    assert rows[0].vec_id == 3 and rows[0].rank == 1  # self-match first
    assert rows[0].text is not None and rows[0].lang is not None


def test_update_skips_unknown_and_reembeds_known(spark, engine):
    upd = spark.createDataFrame(
        [(3, [1.0] * 64), (99999, [2.0] * 64)],
        "doc_id long, embedding array<double>",
    )
    skipped = engine.update(upd).collect()
    assert [r.id for r in skipped] == [99999]
    assert engine.status()["count_active"] == 100  # no inserts happened


def test_max_elements_caps_admission_and_counts_tombstones(spark, tmp_path):
    """executor.py:21 max_elements as the optional validation: arrival-order
    admission, overflow returned as a warn-set, tombstones still occupy
    slots (hnswlib element-count semantics), doc store excludes rejects."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path), max_elements=3)
    docs = spark.createDataFrame(
        [(i, [float(i), 1.0], f"t{i}") for i in range(5)],
        "doc_id long, embedding array<double>, text string",
    )
    rejected = eng.index(docs)
    assert sorted(r.id for r in rejected.collect()) == [3, 4]
    st = eng.status()
    assert st["count_active"] == 3 and st["size_dam"] == 3
    # updates to existing ids never consume capacity, even at full index
    upd = spark.createDataFrame([(1, [9.0, 9.0], "t1b")], "doc_id long, embedding array<double>, text string")
    assert eng.index(upd).count() == 0
    assert eng.status()["count_active"] == 3
    # a tombstone keeps its slot: deleting one id does NOT free room
    eng.delete([0])
    more = spark.createDataFrame([(7, [7.0, 1.0], "t7")], "doc_id long, embedding array<double>, text string")
    assert [r.id for r in eng.index(more).collect()] == [7]
    assert eng.status()["count_indexed"] == 3
    # STRICT element-count semantics even for the HIGHEST slot: deleting
    # the top internal_id lowers the high-water mark, but the engine's
    # slot debt keeps the freed slot counted — admission stays full
    eng2 = U1MIndexerSpark(spark, dim=2, max_elements=3)
    eng2.index(docs.filter("doc_id < 3"))
    eng2.delete([2])  # internal_id 2 — the high-water mark row
    late = spark.createDataFrame([(9, [9.0, 1.0], "t9")], "doc_id long, embedding array<double>, text string")
    assert [r.id for r in eng2.index(late).collect()] == [9]  # still full
    assert eng2.status()["count_indexed"] == 3  # 2 live + 1 tombstone
    with pytest.raises(ValueError):
        U1MIndexerSpark(spark, dim=2, max_elements=-1)


def test_delete_and_status_tombstones(spark, engine):
    engine.delete([0, 1, 31337, 1, 1])  # 31337 unknown -> ignored;
    # repeated id 1 must count its one state row ONCE in the tombstones
    st = engine.status()
    assert st["count_active"] == 98
    assert st["count_deleted"] == 2
    assert st["count_indexed"] == 100  # tombstones still counted
    assert st["size_dam"] == 98


def test_delete_ids_enter_the_plan_as_a_local_relation(spark, engine):
    """A Python id list is an Arrow local relation, not a parallelized
    Python RDD: the pending vector plan reads the pre-delete checkpoint
    (the one `Scan ExistingRDD`) and the ids as a `LocalTableScan`, so no
    later plan that reads the ids starts a Python worker."""
    from executor_u1mindexer_spark import plans

    engine.delete([0, 1, 31337])
    plan = [n.name for n in plans.nodes(engine._vectors)]
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert "LocalTableScan" in plan, plan


def test_non_integer_ids_raise_at_the_call(spark, engine):
    """State ids are BIGINT: a string id column or id list is rejected
    with a ValueError naming the column and its type, before any Spark
    job, instead of failing later as a cast error inside a search."""
    docs = spark.createDataFrame([("a", [1.0] * 64)], "doc_id string, embedding array<double>")
    with pytest.raises(ValueError, match="'doc_id' has type string"):
        engine.index(docs)
    with pytest.raises(ValueError, match="'doc_id' has type string"):
        engine.update(docs)
    with pytest.raises(ValueError, match="'id' has type str"):
        engine.delete(["a"])
    with pytest.raises(ValueError, match="'id' has type string"):
        engine.delete(spark.createDataFrame([("a",)], "id string"))
    assert engine.status()["count_active"] == 100


def test_delete_empty_list_is_a_noop(spark, engine, group_job_ids):
    """An empty delete changes nothing and is free: no lineage
    checkpoint, no accounting aggregate, no Spark job at all."""
    import uuid

    before = engine.status()
    sc = spark.sparkContext
    group = f"delete-empty-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        engine.delete([])
    finally:
        sc._jsc.clearJobGroup()
    assert group_job_ids(group) == []
    assert engine.status() == before


def test_delete_accepts_numpy_int64_ids(spark, engine):
    import numpy as np

    engine.delete(np.array([0, 1], dtype=np.int64))
    engine.delete([np.int64(2)])
    st = engine.status()
    assert st["count_active"] == 97 and st["count_deleted"] == 3


def test_dump_load_roundtrip_preserves_search(spark, engine, sf_dir, tmp_path):
    engine.dump()
    eng2 = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path))
    q = (
        tables.load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 7)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding"))
    )
    a = [(r.vec_id, r.rank) for r in engine.search(q, limit=5, with_payload=False).collect()]
    b = [(r.vec_id, r.rank) for r in eng2.search(q, limit=5, with_payload=False).collect()]
    assert sorted(a) == sorted(b)


def test_dump_after_load_same_workspace(spark, engine, tmp_path):
    """dump over a workspace the state was LOADED from (lineage reads the
    path being overwritten) — must not corrupt the snapshot, and the
    engine that dumped must stay usable: its lineage read the snapshot
    the dump swapped away."""
    engine.dump()
    eng2 = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path))
    upd = spark.createDataFrame([(3, [2.0] * 64)], "doc_id long, embedding array<double>")
    eng2.index(upd)
    eng2.dump()  # self-overwrite cycle
    eng2.index(
        spark.createDataFrame([(100, [-1.0] * 64)], "doc_id long, embedding array<double>")
    )
    assert eng2.status() == {
        "count_indexed": 101, "count_active": 101, "count_deleted": 0, "size_dam": 101,
    }
    q = spark.createDataFrame([(0, [2.0] * 64)], "query_id long, query_embedding array<double>")
    assert [r.vec_id for r in eng2.search(q, limit=1).collect()] == [3]
    eng3 = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path))
    assert eng3.status()["count_active"] == 100


def test_dim_mismatch_raises(spark, engine):
    """Dim validation is the lazy dim_guard fused into the emb column
    (knn.dim_guard): index() reads only the batch's (id, seq) keys, never
    its vectors, and the reference's ValueError message
    (executor.py:144-148) surfaces as USER_RAISED_EXCEPTION at the first
    action that materializes the bad vectors — here dump()."""
    bad = spark.createDataFrame([(1, [1.0] * 32)], "doc_id long, embedding array<double>")
    engine.index(bad)  # lazy — the guard rides the plan
    with pytest.raises(Exception, match="dimension != the index dim"):
        engine.dump()  # first pass that materializes the emb column
    # the guard must NOT be prunable away by an action that skips emb:
    # status() only counts rows, so it succeeds — enforcement is data-plane
    assert engine.status()["count_active"] >= 0


def test_failed_checkpoint_keeps_the_counters(spark, tmp_path):
    """A pending wrong-dim batch makes the next mutation's checkpoint
    raise; the engine must report the same status before and after."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))

    def batch(ids, dim):
        return spark.createDataFrame(
            [(i, [1.0] * dim) for i in ids], "doc_id long, embedding array<double>"
        )

    eng.index(batch(range(4), 2))
    eng.index(batch([4, 5], 3))  # lazy: the guard rides the pending plan
    before = eng.status()
    assert before["count_active"] == 6
    with pytest.raises(Exception, match="dimension != the index dim"):
        eng.index(batch([6], 2))
    assert eng.status() == before


def test_null_ids_never_enter_the_docstore(spark, tmp_path):
    """A null id gets no vector (M.new_ids) and no payload either, so two
    batches that each carry one leave size_dam equal to count_active."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    schema = "doc_id long, embedding array<double>, text string"
    eng.index(spark.createDataFrame([(1, [1.0, 0.0], "a"), (None, [0.0, 1.0], "n")], schema))
    eng.index(spark.createDataFrame([(2, [1.0, 1.0], "b"), (None, [1.0, 0.5], "m")], schema))
    st = eng.status()
    assert (st["count_active"], st["size_dam"]) == (2, 2)


def test_capacity_index_raises_on_wrong_dim_at_the_call(spark, tmp_path):
    """A capacity-bounded engine decides admission at index() time, and
    validates the batch there too (the deliberate error-timing split
    documented on index()): a wrong-dim batch raises at index(), not at
    the first dump or search."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path), max_elements=10)
    eng.index(spark.createDataFrame([(1, [1.0, 0.0])], "doc_id long, embedding array<double>"))
    bad = spark.createDataFrame([(2, [1.0, 0.0, 0.0])], "doc_id long, embedding array<double>")
    with pytest.raises(Exception, match="dimension != the index dim"):
        eng.index(bad)


@pytest.mark.parametrize(
    "kwargs, call_limit, match",
    [
        ({"dim": 0}, None, "dim must be >= 1"),
        ({"dim": 64, "limit": 0}, None, "limit must be >= 1"),
        ({"dim": 64, "metric": "bogus"}, None, "unknown metric 'bogus'"),
        ({"dim": 64}, 0, "k must be >= 1"),
        ({"dim": 64}, -3, "k must be >= 1"),
    ],
    ids=["dim_0", "limit_0", "bad_metric", "search_limit_0", "search_limit_neg"],
)
def test_bad_facade_inputs_raise_at_call(spark, tmp_path, kwargs, call_limit, match):
    """Bad constructor arguments raise ValueError in the constructor (not
    at the first search), and a non-positive search limit raises in
    search() instead of returning an empty result."""
    q = spark.createDataFrame(
        [(1, [1.0] * 64)], "query_id long, query_embedding array<double>"
    )
    with pytest.raises(ValueError, match=match):
        eng = U1MIndexerSpark(spark, workspace=str(tmp_path), **kwargs)
        if call_limit is not None:
            eng.search(q, limit=call_limit)


def test_traversal_paths_chunk_level_index_and_search(spark, tmp_path):
    """traversal_paths='c' (executor.py:86/138/181): chunk Documents —
    structs carrying their own id + embedding — are the operating level."""
    eng = U1MIndexerSpark(spark, dim=4, workspace=str(tmp_path), metric="cosine", limit=5)
    docs = spark.createDataFrame(
        [
            (
                1,
                [
                    {"doc_id": 101, "embedding": [1.0, 0.0, 0.0, 0.0]},
                    {"doc_id": 102, "embedding": [0.0, 1.0, 0.0, 0.0]},
                ],
            ),
            (
                2,
                [
                    {"doc_id": 201, "embedding": [0.0, 0.0, 1.0, 0.0]},
                    {"doc_id": 202, "embedding": [0.0, 0.0, 0.0, 1.0]},
                ],
            ),
        ],
        "doc_id long, chunks array<struct<doc_id: long, embedding: array<double>>>",
    )
    eng.index(docs, traversal_paths="c")
    assert eng.status()["count_active"] == 4  # chunk level, not 2 roots

    queries = spark.createDataFrame(
        [
            (
                1,
                [
                    {"query_id": 11, "query_embedding": [1.0, 0.0, 0.0, 0.0]},
                    {"query_id": 12, "query_embedding": [0.0, 0.0, 1.0, 0.0]},
                ],
            )
        ],
        "query_id long, chunks array<struct<query_id: long, query_embedding: array<double>>>",
    )
    hits = (
        eng.search(queries, traversal_paths="c", limit=1, with_payload=False)
        .orderBy("query_id")
        .collect()
    )
    assert [(r.query_id, r.vec_id) for r in hits] == [(11, 101), (12, 201)]

    # chunk-level update: known chunk id re-embedded, unknown skipped
    upd = spark.createDataFrame(
        [
            (
                9,
                [
                    {"doc_id": 102, "embedding": [9.0, 9.0, 9.0, 9.0]},
                    {"doc_id": 999, "embedding": [1.0, 1.0, 1.0, 1.0]},
                ],
            )
        ],
        "doc_id long, chunks array<struct<doc_id: long, embedding: array<double>>>",
    )
    skipped = eng.update(upd, traversal_paths="c").collect()
    assert [r.id for r in skipped] == [999]
    assert eng.status()["count_active"] == 4


def test_many_batches_checkpoint_bounds_plan_growth(spark, tmp_path):
    """Each index() embeds the previous state's logical plan; the
    per-mutation checkpoint must keep plan size AND per-batch latency O(1)
    over many batches (un-truncated, 20 batches would stack 20 upserts)
    while results stay exact."""
    eng = U1MIndexerSpark(spark, dim=4, workspace=str(tmp_path))
    for b in range(20):
        docs = spark.createDataFrame(
            [(b * 10 + i, [float(b), float(i), 1.0, 0.0]) for i in range(10)],
            "doc_id long, embedding array<double>",
        )
        eng.index(docs)
    assert eng.status()["count_active"] == 200
    plan_lines = (
        eng._vectors._jdf.queryExecution().analyzed().numberedTreeString().count("\n")
    )
    # truncation defers to the next mutation, so at most ONE un-truncated
    # level may remain — never the 20 stacked upserts
    assert plan_lines < 150, plan_lines


def test_clear_empties(spark, engine):
    engine.clear()
    st = engine.status()
    assert st == {"count_indexed": 0, "count_active": 0, "count_deleted": 0, "size_dam": 0}


def test_docstore_append_keeps_latest_payload_across_batches(spark, tmp_path):
    """LSM docstore: index() appends; keep-latest compaction at the read
    point must resolve overlapping ids to the NEWEST batch's payload (the
    state the old eager anti-join maintained per batch)."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    for b in range(5):
        docs = spark.createDataFrame(
            [(i, [float(b), float(i)], f"text-b{b}-i{i}") for i in range(4)],
            "doc_id long, embedding array<double>, text string",
        )
        eng.index(docs)
    assert eng._ds_pending > 0  # appends really were deferred
    st = eng.status()  # read point -> compaction
    assert st["count_active"] == 4
    assert st["size_dam"] == 4  # duplicates resolved, not counted
    assert eng._ds_pending == 0
    q = spark.createDataFrame([(0, [4.0, 1.0])], "query_id long, query_embedding array<double>")
    rows = eng.search(q, limit=1).collect()
    assert rows[0].text.startswith("text-b4-")  # newest batch's payload won


def test_docstore_compacts_every_threshold_batches(spark, tmp_path):
    from executor_u1mindexer_spark import engine as E

    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    for b in range(E.DOCSTORE_COMPACT_EVERY + 1):
        docs = spark.createDataFrame(
            [(b, [1.0, float(b)], f"t{b}")],
            "doc_id long, embedding array<double>, text string",
        )
        eng.index(docs)
    # the threshold compaction fired at least once mid-ingest
    assert eng._ds_pending < E.DOCSTORE_COMPACT_EVERY
    assert eng.status()["size_dam"] == E.DOCSTORE_COMPACT_EVERY + 1


def test_docstore_delete_then_reindex_resolves_to_new_payload(spark, tmp_path):
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    mk = lambda txt: spark.createDataFrame(
        [(7, [1.0, 2.0], txt)], "doc_id long, embedding array<double>, text string"
    )
    eng.index(mk("old"))
    eng.delete([7])
    assert eng.status()["size_dam"] == 0
    eng.index(mk("new"))
    q = spark.createDataFrame([(0, [1.0, 2.0])], "query_id long, query_embedding array<double>")
    rows = eng.search(q, limit=1).collect()
    assert rows[0].text == "new"


def test_docstore_delete_only_lineage_truncates(spark, tmp_path):
    """Delete-heavy sessions must still checkpoint the docstore: each
    delete stacks an anti-join layer, and the next read (or every 16
    deletes) collapses it — otherwise every read re-executes every
    anti-join since the last compaction."""
    from executor_u1mindexer_spark import engine as E

    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    docs = spark.createDataFrame(
        [(i, [1.0, float(i)], f"t{i}") for i in range(40)],
        "doc_id long, embedding array<double>, text string",
    )
    eng.index(docs)
    eng.status()  # compaction point: append log flattened
    for i in range(E.DOCSTORE_COMPACT_EVERY + 2):
        eng.delete([i])
    # the threshold compaction fired mid-stream even with no reads
    assert eng._ds_layers < E.DOCSTORE_COMPACT_EVERY
    st = eng.status()  # read point truncates the remainder
    assert eng._ds_layers == 0
    assert st["size_dam"] == 40 - (E.DOCSTORE_COMPACT_EVERY + 2)
    plan_lines = (
        eng._docstore._jdf.queryExecution().analyzed().numberedTreeString().count("\n")
    )
    assert plan_lines < 30, plan_lines  # flat LogicalRDD, not stacked joins


def test_delete_on_a_settled_engine_runs_no_job(spark, engine, tmp_path, group_job_ids):
    """Delete accounting is read from the next checkpoint (the drop in
    rows and mark), so a delete on an engine with no pending mutation —
    here one just opened from its workspace — runs no Spark job."""
    import uuid

    engine.dump()
    eng = U1MIndexerSpark(spark, dim=64, workspace=str(tmp_path))
    sc = spark.sparkContext
    group = f"delete-settled-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        eng.delete([0, 1, 31337, 1])
    finally:
        sc._jsc.clearJobGroup()
    assert group_job_ids(group) == []
    st = eng.status()
    assert st == {"count_indexed": 100, "count_active": 98, "count_deleted": 2, "size_dam": 98}


def _shuffle_inputs(ns):
    """(Exchange node, names of the nodes beneath it) for every shuffle
    Exchange in a pre-order ``plans.nodes`` list."""
    for i, n in enumerate(ns):
        if n.name == "Exchange":
            below = itertools.takewhile(lambda m, d=n.depth: m.depth > d, ns[i + 1 :])
            yield n, [m.name for m in below]


def test_pending_mutation_plans_never_shuffle_the_state(spark, engine, sf_dir):
    """index() and update() classify the batch on the driver, so the
    pending vector plan shuffles batch rows only: no range exchange (the
    insert ranks come from the driver) and no exchange over the state
    (the checkpoint, the plan's one ``Scan ExistingRDD``)."""
    from executor_u1mindexer_spark import plans

    docs = (
        tables.load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").between(50, 149))
        .select(F.col("vec_id").alias("doc_id"), "embedding")
    )
    for mutate in (engine.index, engine.update):
        mutate(docs)
        ns = plans.nodes(engine._vectors)
        assert [n.name for n in ns].count("Scan ExistingRDD") == 1, ns
        assert "range" not in [n.partitioning for n in ns], ns
        for ex, below in _shuffle_inputs(ns):
            assert "Scan ExistingRDD" not in below, (ex, below)


class _Replay:
    """Pure-Python model of the facade's counters and internal ids:
    keep-latest per id, new ids ranked by (seq, id) from the next slot
    (max live internal id + 1), admission against max_elements minus the
    freed-top-slot debt, tombstones for delete hits, and a docstore that
    keeps every row of an id's latest batch."""

    def __init__(self, max_elements=None):
        self.cap = max_elements
        self.iid: dict[int, int] = {}
        self.docs: dict[int, int] = {}  # id -> rows in its latest batch
        self.tombstones = self.debt = 0

    def mark(self):
        return max(self.iid.values(), default=-1) + 1

    def index(self, rows):
        latest = {}
        for i, seq in rows:
            latest[i] = max(seq, latest.get(i, seq))
        new = sorted((i for i in latest if i not in self.iid), key=lambda i: (latest[i], i))
        base = self.mark()
        room = len(new) if self.cap is None else max(self.cap - self.debt - base, 0)
        for r, i in enumerate(new[:room]):
            self.iid[i] = base + r
        rejected = set(new[room:])
        for i in latest:
            if i not in rejected:
                self.docs[i] = sum(1 for j, _ in rows if j == i)
        return sorted(rejected)

    def update(self, rows):
        return sorted({i for i, _ in rows} - set(self.iid))

    def delete(self, ids):
        before = self.mark()
        hit = set(ids) & set(self.iid)
        for i in hit:
            del self.iid[i]
            self.docs.pop(i, None)
        self.tombstones += len(hit)
        self.debt += before - self.mark()

    def status(self):
        return {
            "count_indexed": len(self.iid) + self.tombstones,
            "count_active": len(self.iid),
            "count_deleted": self.tombstones,
            "size_dam": sum(self.docs.values()),
        }


def _churn(spark, eng, model, seed, n_ops):
    """Run a seeded churn on ``eng`` and ``model`` side by side, checking
    every status and each op's returned id set."""
    import random

    r = random.Random(seed)
    next_id = 0
    for n in range(n_ops):
        kind = ("index", "update", "index", "delete")[n % 4]
        live = sorted(model.iid)
        if kind == "delete":
            ids = r.sample(live, min(2, len(live))) + [10**9 + r.randrange(5)]
            if live:
                ids += [max(live, key=model.iid.get), ids[0]]  # top slot, a repeat
            eng.delete(ids)
            model.delete(ids)
        else:
            fresh = list(range(next_id, next_id + r.randrange(1, 5)))
            next_id += len(fresh)
            old = r.sample(live, min(r.randrange(0, 3), len(live)))
            unknown = [10**9 + r.randrange(5)] if kind == "update" else []
            ids = fresh + old + unknown + r.sample(fresh + old, 1)  # one duplicate id
            rows = [(i, seq) for seq, i in enumerate(r.sample(ids, len(ids)))]
            docs = spark.createDataFrame(
                [(i, [float(seq), 1.0], seq, f"t{i}-{seq}") for i, seq in rows],
                "doc_id long, embedding array<double>, seq long, text string",
            )
            if kind == "index":
                got = eng.index(docs)
                want = model.index(rows)
            else:
                got = eng.update(docs)
                want = model.update(rows)
            got = [] if got is None else sorted(row.id for row in got.collect())
            assert got == want, kind
        assert eng.status() == model.status(), kind


@pytest.mark.parametrize("max_elements", [None, 16], ids=["unbounded", "capacity"])
def test_counters_match_a_python_replay(spark, tmp_path, max_elements):
    """A seeded churn — overwrites, duplicate ids within a batch, unknown
    update ids, deletes of repeated, unknown and highest-slot ids —
    reports the same status after every op as the Python replay, and ends
    with the same (id, internal_id) set."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path), max_elements=max_elements)
    model = _Replay(max_elements)
    _churn(spark, eng, model, seed=7, n_ops=15)
    got = {(row.id, row.internal_id) for row in eng._vectors.collect()}
    assert got == set(model.iid.items())


def test_reload_with_slot_gaps_inserts_above_the_mark(spark, tmp_path):
    """A dumped index keeps the internal ids of its live rows, gaps and
    all. Reopened, its counters come from the workspace: new ids start at
    max(internal_id) + 1 and never reuse a live slot."""
    eng = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    model = _Replay()
    rows = [(i, i) for i in range(8)]
    schema = "doc_id long, embedding array<double>"
    eng.index(spark.createDataFrame([(i, [1.0, float(i)]) for i, _ in rows], schema))
    model.index(rows)
    eng.delete([1, 2, 5])  # live internal ids 0, 3, 4, 6, 7
    model.delete([1, 2, 5])
    eng.dump()
    again = U1MIndexerSpark(spark, dim=2, workspace=str(tmp_path))
    model.tombstones = 0  # a dump is a compacted index
    assert again.status() == model.status()
    more = [(20, 0), (21, 1)]
    again.index(spark.createDataFrame([(i, [2.0, float(i)]) for i, _ in more], schema))
    model.index(more)
    assert again.status() == model.status()
    got = {(row.id, row.internal_id) for row in again._vectors.collect()}
    assert got == set(model.iid.items())
    assert {20: 8, 21: 9}.items() <= dict(got).items()
