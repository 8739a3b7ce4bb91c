"""U1MIndexerSpark — the user-facing facade mirroring the reference's
endpoint surface (executor.py:73-257) so a reference user can switch:

    reference endpoint            this class
    /search  (executor.py:73)  -> .search(queries_df, limit=, is_distance=)
    /index   (executor.py:127) -> .index(docs_df)
    /update  (executor.py:170) -> .update(docs_df)
    /delete  (executor.py:213) -> .delete(ids)
    /dump    (executor.py:227) -> .dump()
    /clear   (executor.py:238) -> .clear()
    /status  (executor.py:246) -> .status()

Differences by design (Spark-first, north star):
- state is immutable DataFrames snapshotted to parquet under `workspace`
  (vectors + docstore), not a mutable in-process index + memmap;
- search is EXACT (recall 1.0), so the reference's HNSW knobs
  (executor.py:22-24) have no counterpart here;
- `max_elements` (executor.py:21) is OPTIONAL and defaults to unbounded —
  the 100 TB point. When set, index() admits new ids in arrival order
  while the next slot (internal-id high-water mark; tombstones below it
  keep their slots, hnswlib element-count semantics) stays under the cap
  and returns the overflow as a `rejected` warn-set DataFrame instead of
  reproducing the hnswlib raise;
- ids are integers (the reference used strings): index, update and
  delete reject any other id type with a ValueError at the call.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from executor_u1mindexer_spark import cache
from executor_u1mindexer_spark.functions import vector as V
from executor_u1mindexer_spark.operators import knn, maintenance as M, traverse

VECTORS = "vectors"
DOCSTORE = "docstore"

# The docstore is an append log: index() appends the batch payload, tagged
# with a batch number, at O(batch) cost. One keep-latest compaction (a window
# on id over the log) runs at the next read point (search payload, dump,
# status) or every DOCSTORE_COMPACT_EVERY appends, whichever comes first.
# Deletes are eager anti-joins (they must drop every copy); each adds one
# broadcast layer, bounded by the compaction checkpoint at the next read.
DS_BATCH = "__ds_batch"
DOCSTORE_COMPACT_EVERY = 16

# Iterated mutations truncate lineage every batch. An upsert's plan embeds
# the previous state once (the kept/updated left join; insert ranks are
# classified on the driver), so N untruncated batches give an N-deep plan
# that every read and every next known-id semi join re-executes, and each
# union of lanes adds partitions. localCheckpoint (eager) collapses the
# plan to a single LogicalRDD at the cost of one materialization per batch
# — the same eager per-batch processing the reference endpoints do — and
# that job also reads the engine's counters (see _before_mutation). On a
# real cluster a durable dump()/load() snapshot is the robust form
# (localCheckpoint does not survive executor loss).


class U1MIndexerSpark:
    def __init__(
        self,
        spark: SparkSession,
        dim: int,
        *,
        workspace: str | None = None,
        metric: str = "cosine",
        limit: int = 20,
        max_elements: int | None = None,
    ) -> None:
        if dim < 1:
            raise ValueError(f"dim must be >= 1, got {dim}")
        if limit < 1:
            raise ValueError(f"limit must be >= 1, got {limit}")
        if metric not in V.METRICS:
            raise ValueError(f"unknown metric {metric!r}; expected one of {V.METRICS}")
        self.spark = spark
        self.dim = dim
        self.metric = metric
        self.limit = limit
        if max_elements is not None and max_elements < 0:
            raise ValueError(f"max_elements must be >= 0, got {max_elements}")
        self.max_elements = max_elements  # None = unbounded (the default)
        self.workspace = workspace
        self.clear()
        if workspace and os.path.exists(os.path.join(workspace, VECTORS)):
            self._vectors = M.load(spark, os.path.join(workspace, VECTORS))
            seen = self._vectors.agg(
                F.count(F.lit(1)).alias("rows"), M.slot_mark().alias("mark")
            ).collect()[0]
            self._rows, self._mark = seen["rows"], seen["mark"]
            doc_path = os.path.join(workspace, DOCSTORE)
            if os.path.exists(doc_path):
                # a dumped docstore is already compacted; batch 0 = loaded
                self._docstore = M.load(spark, doc_path).withColumn(
                    DS_BATCH, F.lit(0)
                )
                self._ds_rows = self._docstore.count()

    # -- helpers ---------------------------------------------------------

    def _empty_vectors(self) -> DataFrame:
        """Known-empty state as a one-row projection under WHERE FALSE, NOT
        `createDataFrame([])`: the latter is an RDD-backed relation whose
        emptiness Catalyst cannot see, so a fresh engine's first upsert
        would drag the kept/updated join machinery through the plan. A
        literal false filter folds to an empty LocalRelation and
        PropagateEmptyRelation then prunes the state-side branches away —
        the first batch compiles to just dedup + the insert lane."""
        return self.spark.sql(
            f"""SELECT CAST(NULL AS BIGINT) AS {M.ID},
                       CAST(NULL AS BIGINT) AS {M.IID},
                       CAST(NULL AS ARRAY<DOUBLE>) AS {M.EMB}"""
        ).where(F.lit(False))

    def _as_batch(self, docs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        """Normalize an input batch to (id, emb, seq). Arrival order := a
        `seq` column when present, else the id order (deterministic stand-in
        for the reference's list position, executor.py:151).

        Dim validation (executor.py:144-148) is the LAZY dim_guard fused
        into the emb column: it rides the batch into the pass that
        materializes it (dump/search), so ingest reads the batch's vectors
        ONCE (the key read of index()/update() touches only id and seq,
        except on a capacity-bounded index(), see there) —
        the eager validate-then-ingest shape would scan a 100 TB batch
        twice. Error timing divergence documented at knn.dim_guard."""
        seq = F.col("seq") if "seq" in docs.columns else F.col(id_col)
        return docs.select(
            F.col(id_col).alias(M.ID),
            knn.dim_guard(F.col(vec_col).cast("array<double>"), self.dim).alias(M.EMB),
            seq.alias(M.SEQ),
        )

    def _before_mutation(self) -> None:
        """Truncate pending VECTOR mutation lineage (see module note)
        BEFORE stacking another level: coalesce caps the partition fan-out
        (each upsert unions 2 branches whose broadcast joins preserve child
        partitioning — partitions would multiply per batch), then an
        eager localCheckpoint collapses the logical plan to one LogicalRDD
        so plan analysis stays O(1) per batch. Deferred to the NEXT
        mutation so the common one-shot flow (index once, then dump/search)
        pays no extra materialization. The docstore is NOT checkpointed
        here: its append-only lineage grows one externally-rooted union per
        batch, and the compaction points own its truncation (see module
        note).

        The checkpoint job also observes the engine counters (live rows
        and the next slot), so no mutation runs an aggregate of its own. A
        delete is the only mutation that lowers either: its drop in rows is
        the ids that hit (tombstones), its drop in mark the freed top
        slots. The slot debt keeps those counted for capacity admission:
        admission works off the surviving mark (see index()), so without
        the debt a delete of the highest-slot row would silently refund its
        slot — hnswlib never refunds (element_count keeps tombstones,
        executor.py:252). mark + debt = slots ever allocated, exactly.

        A checkpoint that raises (a pending wrong-dim batch) leaves the
        lineage, the flag and the counters as they were."""
        if not self._dirty:
            return
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self._vectors, seen = cache.materialize_observed(
            self._vectors.coalesce(n), rows=F.count(F.lit(1)), mark=M.slot_mark()
        )
        self._dirty = False
        self._tombstones += max(self._rows - seen.rows, 0)
        self._slot_debt += max(self._mark - seen.mark, 0)
        self._rows, self._mark = seen.rows, seen.mark

    def _docstore_compact(self) -> None:
        """Collapse the appended batch log to keep-latest-batch per id (ids
        duplicated WITHIN one batch keep all their rows). One
        shuffle on id, then an eager checkpoint so later reads and delete
        layers start from a flat plan. Delete-ONLY lineage (anti-join
        layers with no pending appends) needs no window — just the
        checkpoint — but it must still truncate, else a delete-heavy
        session re-executes every anti-join on every read."""
        if self._docstore is None or (self._ds_pending == 0 and self._ds_layers == 0):
            return
        ds = self._docstore
        if self._ds_pending > 0:
            from pyspark.sql import Window

            w = Window.partitionBy(M.ID)
            ds = (
                ds.withColumn("__ds_max", F.max(DS_BATCH).over(w))
                .filter(F.col(DS_BATCH) == F.col("__ds_max"))
                .drop("__ds_max")
            )
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self._docstore, seen = cache.materialize_observed(
            ds.coalesce(n), rows=F.count(F.lit(1))
        )
        self._ds_rows = seen.rows
        self._ds_pending = 0
        self._ds_layers = 0

    def _docstore_view(self) -> DataFrame | None:
        """Compacted docstore without bookkeeping columns — what payload
        joins, dump, and status consume."""
        if self._docstore is None:
            return None
        self._docstore_compact()
        return self._docstore.drop(DS_BATCH)

    # -- endpoints -------------------------------------------------------

    def search(
        self,
        queries: DataFrame,
        *,
        limit: int | None = None,
        is_distance: bool = True,
        traversal_paths: str = "r",
        query_id_col: str = "query_id",
        query_vec_col: str = "query_embedding",
        with_payload: bool = True,
    ) -> DataFrame:
        """Top-k exact KNN with full-payload rows (executor.py:73-125).

        traversal_paths (executor.py:86): 'r' searches the root rows; 'c'
        explodes the `chunks` array first, so each chunk Document is a
        query — the chunk struct must carry the query id/embedding fields."""
        queries = traverse.traverse_flat(queries, traversal_paths, id_col=query_id_col)
        k = limit if limit is not None else self.limit
        # lazy dim check (executor.py:105-110): guard fused into the query
        # vec column — enforced in the search pass itself, no pre-scan job
        queries = queries.withColumn(
            query_vec_col, knn.dim_guard(F.col(query_vec_col), self.dim)
        )
        stored = self._vectors.select(
            F.col(M.ID).alias("vec_id"), F.col(M.EMB).alias("embedding")
        )
        payload = self._docstore_view() if with_payload else None
        return knn.knn_search(
            stored,
            queries,
            k=k,
            metric=self.metric,
            is_distance=is_distance,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            payload=payload,
            payload_key=M.ID,
        )

    def index(
        self,
        docs: DataFrame,
        *,
        id_col: str = "doc_id",
        vec_col: str = "embedding",
        traversal_paths: str = "r",
    ) -> DataFrame | None:
        """Keyed upsert (executor.py:127-168): existing ids keep their
        internal id, new ids get dense arrival-order ids. traversal_paths
        (executor.py:138): 'c' indexes the chunk level of each document.

        With `max_elements` configured (executor.py:21), admission is
        capacity-bounded: new ids land in arrival order while the next
        slot (the internal-id high-water mark — tombstones below it keep
        their slots, hnswlib element-count semantics) stays under the
        cap, and the overflow ids are RETURNED as a warn-set DataFrame
        (the update()-skipped pattern) rather than reproducing hnswlib's
        add_items raise — callers wanting the hard failure assert the
        set is empty. Rejected ids are also kept out of the doc store.
        Unbounded engines (the default) return None.

        Either way the batch's (id, seq) keys are read once on the driver
        and the known ids found by one semi join of the state's id column
        (M.new_ids): new ids take the next slot plus their arrival rank,
        and capacity admission is a driver-side cut over the same ranks,
        so the returned warn-set is a local relation, ready at once.

        Error-timing divergence (ADVICE r09, deliberate): on a
        capacity-bounded engine the key read also evaluates the lazy
        dim_guard, so a wrong-dim batch raises AT index() TIME — matching
        the reference's request-time ValueError (hnswlib raises inside
        add_items, executor.py:151) — while the unbounded path defers the
        same error to the first dump/search (documented there). The
        warn-set contract ("callers assert it is empty") makes the
        rejection decision a request-time one, so its validation is too."""
        docs = traverse.traverse_flat(docs, traversal_paths, id_col=id_col)
        M.check_integer_ids(docs, id_col)
        self._before_mutation()
        batch = self._as_batch(docs, id_col, vec_col)
        rejected = None
        if self.max_elements is not None:
            # the key read sees only (id, seq): make seq read the guarded
            # emb column so the read raises on a wrong-dim batch
            keyed = batch.withColumn(
                M.SEQ, F.when(V.dim_check(F.col(M.EMB), self.dim), F.col(M.SEQ))
            )
            # the operator admits against the surviving high-water mark;
            # subtracting the slot debt accumulated by deletes of
            # highest-slot rows makes the admission compare against slots
            # EVER allocated — strict hnswlib element-count semantics (a
            # delete never refunds room). Internal ids may renumber into
            # freed top slots, but two live rows can never collide.
            cap = self.max_elements - self._slot_debt
            new_state, rejected = M.upsert_capacity_bound(
                self._vectors, keyed, max(cap, 0), self._mark
            )
            self._vectors = new_state.select(M.ID, M.IID, M.EMB)
            docs = docs.join(
                F.broadcast(rejected.withColumnRenamed(M.ID, id_col)),
                on=id_col,
                how="left_anti",
            )
        else:
            self._vectors = M.upsert(self._vectors, batch, self._mark).select(
                M.ID, M.IID, M.EMB
            )
        self._ds_batch_no += 1
        # a null id never gets a vector (M.new_ids), so it gets no payload
        payload = (
            docs.withColumnRenamed(id_col, M.ID)
            .filter(F.col(M.ID).isNotNull())
            .drop(vec_col)
            .withColumn(DS_BATCH, F.lit(self._ds_batch_no))
        )
        self._ds_rows = None
        if self._docstore is None:
            self._docstore = payload
        else:
            # append: keep-latest resolution happens at the next read or
            # every DOCSTORE_COMPACT_EVERY batches (see module note)
            self._docstore = self._docstore.unionByName(
                payload, allowMissingColumns=True
            )
            self._ds_pending += 1
            if self._ds_pending >= DOCSTORE_COMPACT_EVERY:
                self._docstore_compact()
        self._dirty = True
        return rejected

    def update(
        self,
        docs: DataFrame,
        *,
        id_col: str = "doc_id",
        vec_col: str = "embedding",
        traversal_paths: str = "r",
    ) -> DataFrame:
        """Re-embed only already-indexed ids (executor.py:170-211); returns
        the skipped-id DataFrame (the reference logs a warning per skip).
        traversal_paths (executor.py:181): 'c' updates the chunk level.
        The skipped ids are classified on the driver (M.new_ids) and
        returned as a local relation, so collecting them runs no job.

        Known divergence, by design: the reference's /update writes ALL
        traversed docs to its doc store, including ids it just skipped as
        not-indexed (executor.py:210-211 loops over docs_to_update, not
        docs_filtered) — so a skipped doc becomes fetchable as payload
        while having no vector. This engine's update never touches the doc
        store: payload changes go through index(). We treat the reference
        behavior as a bug rather than semantics to reproduce."""
        docs = traverse.traverse_flat(docs, traversal_paths, id_col=id_col)
        M.check_integer_ids(docs, id_col)
        self._before_mutation()
        batch = self._as_batch(docs, id_col, vec_col)
        skipped = M.skipped_updates(self._vectors, batch)
        self._vectors = M.update_existing(self._vectors, batch).select(M.ID, M.IID, M.EMB)
        self._dirty = True
        return skipped

    def delete(self, ids: DataFrame | Sequence[int]) -> None:
        """Remove ids; unknown ids silently ignored (executor.py:213-225).
        count_indexed keeps counting removed slots via the tombstones that
        status() adds to the live count; capacity admission additionally
        carries the freed-top-slot debt. Both are read from the next
        checkpoint as the drop in rows and mark (see _before_mutation), so
        delete itself runs no job. Both are driver state scoped to this
        engine's LIFE: a dump() snapshot is a COMPACTED index (live rows
        only, same reason status() shows zero tombstones after a workspace
        reload), so accounting starts fresh on load — the documented
        divergence from hnswlib's save_index, which persists dead slots. An
        empty id list returns at once: no checkpoint, no dirty mark."""
        if not isinstance(ids, DataFrame) and len(ids) == 0:
            return
        if isinstance(ids, DataFrame):
            M.check_integer_ids(ids, M.ID)
        ids_df = ids if isinstance(ids, DataFrame) else M.id_frame(self.spark, ids)
        self._before_mutation()
        self._vectors = M.delete_by_ids(self._vectors, ids_df)
        if self._docstore is not None:
            # eager anti-join over the appended log: drops every copy of
            # the id regardless of batch, so no compaction is needed first;
            # the layer still counts toward lineage truncation (a
            # delete-heavy session would otherwise stack anti-joins that
            # every read re-executes)
            self._docstore = self._docstore.join(
                F.broadcast(ids_df.select(M.ID)), on=M.ID, how="left_anti"
            )
            self._ds_rows = None
            self._ds_layers += 1
            if self._ds_layers >= DOCSTORE_COMPACT_EVERY:
                self._docstore_compact()
        self._dirty = True

    def dump(self) -> None:
        """Snapshot state to the workspace (executor.py:227-236).

        M.dump swaps the old snapshot away, and this engine's lineage may
        still read it (a loaded workspace, or an earlier dump), so both
        frames are re-read from the new snapshot. Reading with the frame's
        known schema skips the inference job over the parquet footers. The
        counters and pending flags stay: the snapshot holds exactly the
        state they describe."""
        if not self.workspace:
            raise ValueError("no workspace configured")
        path = os.path.join(self.workspace, VECTORS)
        M.dump(self._vectors, path)
        self._vectors = self.spark.read.schema(self._vectors.schema).parquet(path)
        ds = self._docstore_view()
        if ds is not None:
            path = os.path.join(self.workspace, DOCSTORE)
            M.dump(ds, path)
            self._docstore = (
                self.spark.read.schema(ds.schema).parquet(path).withColumn(DS_BATCH, F.lit(0))
            )

    def clear(self) -> None:
        """Drop everything, keep config (executor.py:238-244)."""
        self._vectors = self._empty_vectors()
        self._docstore: DataFrame | None = None
        self._ds_pending = 0  # appended batches since the last compaction
        self._ds_layers = 0  # delete anti-join layers since the last checkpoint
        self._ds_batch_no = 0
        self._ds_rows: int | None = None  # docstore rows, once compacted
        self._dirty = False  # vector lineage grew since the last checkpoint
        # Counters of the vectors as of the last checkpoint (or load), read
        # from that checkpoint's own job (see _before_mutation):
        self._rows = 0  # live rows
        self._mark = 0  # next slot: max(internal_id) + 1, the insert base
        self._tombstones = 0  # deleted ids, counted by status()
        self._slot_debt = 0  # freed top slots, charged by capacity admission

    def status(self) -> dict[str, int]:
        """Counts (executor.py:246-257): count_indexed includes tombstoned
        slots, matching hnswlib element_count semantics.

        The counters come from checkpoints: the vectors' last one (see
        _before_mutation) and the docstore compaction that this read point
        runs. Pending vector lineage is counted, not checkpointed: a count
        prunes the emb column, so a pending wrong-dim batch does not raise
        here (the guard is enforced where vectors are materialized). A
        pending delete's tombstones are the drop in that count."""
        active = self._rows
        if self._dirty:
            active = self._vectors.agg(F.count(F.lit(1))).collect()[0][0]
        tombstones = self._tombstones + max(self._rows - active, 0)
        ds = self._docstore_view()
        if ds is None:
            dam = active
        elif self._ds_rows is None:  # a lone first batch: never compacted
            dam = ds.count()
        else:
            dam = self._ds_rows
        return {
            "count_indexed": active + tombstones,
            "count_active": active,
            "count_deleted": tombstones,
            "size_dam": dam,
        }
