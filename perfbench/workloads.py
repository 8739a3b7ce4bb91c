"""The three workloads: closed loop, one client, local[nproc].

Each workload sets up, runs untimed warm-up operations, then runs as many
blocks of operations as fill the run's seconds on a nominal host (the count
depends only on --seconds, so every run does the same work), then checks
the state it leaves. Every operation's result is checked
outside its timed interval; a wrong result counts as a failed operation.

With tracing on, each call into the program runs under its own Spark job
group and span, and the per-layer metrics are read from Spark's counters
after the call returns.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext

import gen
from check import (
    FacadeModel,
    Tally,
    check_rows,
    check_search,
    check_status,
    check_workspace,
    oracle_rows,
    rows_of,
    same_rows,
)
from tracing import RssMeter, SparkProbe, Tracer, python_bytes, window_input_rows

SETUP_REPS = 3
WARMUP_OP_NO = 1_000_000  # op numbers of the untimed warm-up ops (their own inputs)
# nominal seconds of one block on a 4-core host: --seconds / this = blocks run
VECTOR_BLOCK_S, CHURN_BLOCK_S, ANALYTICS_PASS_S = 4.0, 12.0, 12.0
VEC_DOCS = 8192  # two 4,096-doc batches: the second upserts into a live index
CHURN_DOCS = 4096  # one batch; the churn ops upsert into it
SEARCH_K = 20
SEARCH_BATCHES = {"search_b1": 1, "search_b8": 8, "search_b64": 64}
ANALYTICS_COPIES = 2
ANALYTICS_QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q9_product_profit",
    "events_sessionize",
    "near_dedup_minhash_lsh",
    "exact_dedup_substring_spans",
    "graph_kcore_membership",
    "multimodal_decode_image",
    "llm_corpus_pipeline",
)
ANALYTICS_TABLES = ("nation", "supplier", "part", "orders", "lineitem", "events", "documents")

# per-layer metrics: name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "tables.scan_bytes": ("bytes", "lower"),
    "tables.scan_rows": ("rows", "lower"),
    "suites.build_s": ("s", "lower"),
    "suites.build_jobs": ("count", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.non_job_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "collect.tail_s": ("s", "lower"),
    "engine.search.plan_s": ("s", "lower"),
    "engine.search.execute_s": ("s", "lower"),
    "engine.search.jobs": ("count", "lower"),
    **{
        f"engine.{ep}.{m}": ("s" if m == "call_s" else "count", "lower")
        for ep in ("index", "dump", "update", "delete", "status")
        for m in ("call_s", "jobs")
    },
    "knn.pairs_per_cpu_s": ("1/s", "higher"),
    "knn.candidates_per_result": ("ratio", "lower"),
    "maintenance.write_amplification": ("ratio", "lower"),
    "maintenance.dump_bytes": ("bytes", "lower"),
    "cache.stored_bytes_peak": ("bytes", "lower"),
    "cache.stored_rdds": ("count", "lower"),
    "python.data_bytes": ("bytes", "lower"),
    **{
        f"analytics.{q}.{m}": ("s" if m == "s" else "count", "lower")
        for q in ANALYTICS_QUERIES
        for m in ("s", "jobs")
    },
}

# per-op means of the summed Spark counters of an op's calls
SPARK_PER_OP = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.non_job_s": "non_job_s",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.gc_s": "gc_s",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
    "tables.scan_bytes": "scan_bytes",
    "tables.scan_rows": "scan_rows",
    "python.data_bytes": "python_bytes",
}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Bench:
    """One run's state: the session, its tallies and, when traced, the
    tracer and Spark probe."""

    def __init__(self, seed: int, seconds: float, traced: bool, work: str) -> None:
        self.spark = None
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tally = Tally()
        self.rss = RssMeter()
        self.tracer = Tracer() if traced else None
        self.probe: SparkProbe | None = None
        self.lat: dict[str, list[float]] = {}  # op kind -> measured latencies
        self.sums: dict[str, float] = {}
        self.counts: dict[str, int] = {}
        self.peaks: dict[str, float] = {}
        self.setup_s: list[float] = []
        self.detail: dict[str, tuple[float, str]] = {}  # named metrics: (value, unit)
        self._op: dict | None = None
        self._n_ops = 0

    def start_session(self) -> float:
        """Start the engine's SparkSession; returns the seconds it took."""
        t0 = time.perf_counter()
        with self.span("session.start"):
            from executor_u1mindexer_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer:
            self.probe = SparkProbe(self.spark)
        return time.perf_counter() - t0

    # -- accounting ---------------------------------------------------------

    def add(self, name: str, value: float) -> None:
        self.sums[name] = self.sums.get(name, 0.0) + value
        self.counts[name] = self.counts.get(name, 0) + 1

    def mean(self, name: str) -> float:
        return self.sums[name] / self.counts[name] if self.counts.get(name) else 0.0

    def peak(self, name: str, value: float) -> None:
        self.peaks[name] = max(self.peaks.get(name, 0.0), value)

    def p50(self, kind: str) -> float:
        return statistics.median(self.lat[kind])

    def span(self, name: str, op: str | None = None):
        return self.tracer.span(name, op) if self.tracer else nullcontext()

    # -- operations ---------------------------------------------------------

    @contextmanager
    def op(self, kind: str, measured: bool = True):
        """One client operation. Its wall time joins the `kind` latency
        samples when measured; traced, its calls' counters are summed."""
        self._n_ops += 1
        op_id = f"op{self._n_ops}.{kind}"
        self._op = {"measured": measured, "counters": {}, "probe_s": 0.0}
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}", op_id):
                yield self._op
        finally:
            op, self._op = self._op, None
        # reading Spark's counters is the tracer's cost, not the op's
        dt = time.perf_counter() - t0 - op["probe_s"]
        if measured:
            self.lat.setdefault(kind, []).append(dt)
            if self.probe:
                for layer, key in SPARK_PER_OP.items():
                    self.add(layer, op["counters"].get(key, 0.0))
                held, n = self.probe.storage()
                self.peak("cache.stored_bytes_peak", held)
                self.peak("cache.stored_rdds", n)
        self.rss.sample()

    def _traced(self) -> bool:
        return self.probe is not None and self._op is not None and self._op["measured"]

    def call(self, name: str, fn):
        """One call into the program, inside the current op."""
        traced = self._traced()
        group = f"op{self._n_ops}.{name}"
        if traced:
            self.probe.begin(group)
        w0 = time.time()
        t0 = time.perf_counter()
        with self.span(name):
            out = fn()
        dt = time.perf_counter() - t0
        w1 = time.time()
        if traced:
            p0 = time.perf_counter()
            c, last_job_end = self.probe.end(group, w0, w1)
            for key, v in c.items():
                self._op["counters"][key] = self._op["counters"].get(key, 0.0) + v
            self.add(f"{name}.s", dt)
            self.add(f"{name}.jobs", c["jobs"])
            if hasattr(out, "columns") and last_job_end is not None:
                self.add("collect.tail_s", max(0.0, w1 - last_job_end))
            self._op["probe_s"] += time.perf_counter() - p0
        return out

    def collect(self, name: str, df):
        """toPandas() of `df`; traced, also its Catalyst phases and plan."""
        pdf = self.call(name, df.toPandas)
        if self._traced():
            p0 = time.perf_counter()
            for phase, s in self.probe.catalyst(df).items():
                self.add(f"catalyst.{phase}_s", s)
            nodes = self.probe.plan_nodes(df)
            self._op["counters"]["python_bytes"] = self._op["counters"].get(
                "python_bytes", 0.0
            ) + python_bytes(nodes)
            self._op["nodes"] = nodes
            self._op["probe_s"] += time.perf_counter() - p0
        return pdf

    def check(self, what: str, fn) -> bool:
        with self.span(f"check.{what}"):
            try:
                problems = fn()
            except Exception as e:  # noqa: BLE001 — a checker crash is a failed op
                problems = [f"checker raised {e!r}"]
        return self.tally.record(what, problems)

    def attempt(self, what: str, fn) -> tuple[bool, object]:
        """Run an op body: (True, its result), or (False, None) after
        counting the exception as a failed op."""
        try:
            return True, fn()
        except Exception:  # noqa: BLE001 — one failed op must not end the run
            self.tally.record(what, [traceback.format_exc(limit=3)[-400:]])
            return False, None

    def setup_rep(self, fn):
        """One timed repetition of the workload's set-up."""
        t0 = time.perf_counter()
        with self.span("setup.rep"):
            out = fn()
        self.setup_s.append(time.perf_counter() - t0)
        self.rss.sample()
        return out

    def blocks(self, kinds: tuple[str, ...], block_s: float, shuffle: bool = True):
        """(op number, kind) over the blocks that fill the run's seconds at
        `block_s` nominal seconds per block (at least one). The count
        depends only on --seconds, so every run of a workload does the
        same work and a faster program finishes it sooner. Each block
        holds `kinds`, in seeded order when `shuffle`."""
        for block in range(max(1, round(self.seconds / block_s))):
            order = gen.block_order(self.seed, block, kinds) if shuffle else kinds
            yield from enumerate(order, block * len(kinds))

    # -- results ------------------------------------------------------------

    def end_to_end(self, classes: dict[str, float], items: dict[str, float]) -> dict:
        """The end-to-end metrics every workload reports.

        classes: op kind -> how many of it one block holds;
        items:   op kind -> work items one op of that kind completes."""
        p50 = {k: self.p50(k) for k in classes}
        block_s = sum(n * p50[k] for k, n in classes.items())
        block_items = sum(n * items[k] for k, n in classes.items())
        self.detail["timed_ops_s"] = (sum(sum(self.lat[k]) for k in classes), "s")
        self.detail["timed_ops"] = (sum(len(self.lat[k]) for k in classes), "count")
        return {
            "setup_s": (statistics.median(self.setup_s), "s"),
            "op_p50_geomean_s": (geomean(list(p50.values())), "s"),
            "work_per_s": (block_items / block_s, "1/s"),
        }

    def per_layer(self, session_start_s: float) -> dict:
        out = {name: 0.0 for name in PER_LAYER}
        out["session.start_s"] = session_start_s
        for name in PER_LAYER:
            if name in SPARK_PER_OP:
                out[name] = self.mean(name)
        out["suites.build_s"] = self.mean("suites.build.s")
        out["suites.build_jobs"] = self.mean("suites.build.jobs")
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_s"] = self.mean(f"catalyst.{phase}_s")
        out["collect.tail_s"] = self.mean("collect.tail_s")
        out["engine.search.plan_s"] = self.mean("engine.search.s")
        out["engine.search.execute_s"] = self.mean("engine.search.execute.s")
        out["engine.search.jobs"] = self.mean("engine.search.jobs") + self.mean(
            "engine.search.execute.jobs"
        )
        for ep in ("index", "dump", "update", "delete", "status"):
            out[f"engine.{ep}.call_s"] = self.mean(f"engine.{ep}.s")
            out[f"engine.{ep}.jobs"] = self.mean(f"engine.{ep}.jobs")
        cpu = self.sums.get("knn.cpu_s", 0.0)
        out["knn.pairs_per_cpu_s"] = self.sums.get("knn.pairs", 0.0) / cpu if cpu else 0.0
        got = self.sums.get("knn.results", 0.0)
        out["knn.candidates_per_result"] = self.sums.get("knn.candidates", 0.0) / got if got else 0.0
        rows = self.sums.get("maintenance.batch_rows", 0.0)
        written = self.sums.get("maintenance.rows_written", 0.0)
        out["maintenance.write_amplification"] = written / rows if rows else 0.0
        out["maintenance.dump_bytes"] = self.peaks.get("maintenance.dump_bytes", 0.0)
        out["cache.stored_bytes_peak"] = self.peaks.get("cache.stored_bytes_peak", 0.0)
        out["cache.stored_rdds"] = self.peaks.get("cache.stored_rdds", 0.0)
        for q in ANALYTICS_QUERIES:
            if q in self.lat:
                out[f"analytics.{q}.s"] = self.p50(q)
                out[f"analytics.{q}.jobs"] = self.mean(f"{q}.jobs")
        return out

    # -- shared pieces --------------------------------------------------------

    def search_op(self, eng, kind, queries, k, model: FacadeModel, measured: bool) -> None:
        """One facade search (plan + toPandas), checked against the model."""
        ids = model.live_ids()

        def body():
            with self.op(kind, measured) as op:
                qdf = self.call("client.queries", lambda: self.spark.createDataFrame(queries))
                df = self.call("engine.search", lambda: eng.search(qdf, limit=k))
                pdf = self.collect("engine.search.execute", df)
            return op, pdf

        ok, res = self.attempt(kind, body)
        if not ok:
            return
        op, pdf = res
        if self.probe and measured:
            self.add("knn.pairs", len(queries) * len(ids))
            self.add("knn.cpu_s", op["counters"].get("executor_cpu_s", 0.0))
            self.add("knn.candidates", window_input_rows(op.get("nodes", [])))
            self.add("knn.results", len(pdf))
        self.check(kind, lambda: check_search(pdf, model.topk(queries, k), model.payload))

    def mutation_rows(self, op: dict, batch_rows: int) -> None:
        """Write amplification: rows the op's jobs wrote (shuffle and
        parquet output) against the rows it was asked to change."""
        if self.probe:
            c = op["counters"]
            self.add("maintenance.batch_rows", batch_rows)
            self.add("maintenance.rows_written", c.get("shuffle_write_rows", 0) + c.get("output_rows", 0))


def _ingest(bench: Bench, corpus, ws: str):
    """A fresh engine over `ws`, the corpus indexed in 4,096-doc batches,
    then dump(). Returns the engine."""
    from executor_u1mindexer_spark.engine import U1MIndexerSpark

    shutil.rmtree(ws, ignore_errors=True)
    eng = U1MIndexerSpark(bench.spark, gen.DIM, workspace=ws)
    for b in gen.batches(corpus):
        eng.index(bench.spark.createDataFrame(b))
    eng.dump()
    return eng


# -- vector_search ------------------------------------------------------------


def vector_search(bench: Bench) -> dict:
    from executor_u1mindexer_spark.engine import U1MIndexerSpark

    corpus = gen.corpus(bench.seed, VEC_DOCS)
    model = FacadeModel(corpus)
    ws = os.path.join(bench.work, "vector_search")

    def ingest_and_reload():
        _ingest(bench, corpus, ws)
        return U1MIndexerSpark(bench.spark, gen.DIM, workspace=ws)

    with bench.span("setup"):
        for _ in range(SETUP_REPS):
            eng = bench.setup_rep(ingest_and_reload)
    bench.check("dumped_workspace", lambda: check_workspace(ws, model))

    def search(n: int, kind: str, measured: bool) -> None:
        q = gen.queries(bench.seed, SEARCH_BATCHES[kind], n)
        bench.search_op(eng, kind, q, SEARCH_K, model, measured)

    with bench.span("warmup"):
        for n, kind in enumerate(SEARCH_BATCHES, WARMUP_OP_NO):
            search(n, kind, measured=False)
    with bench.span("timed"):
        for n, kind in bench.blocks(tuple(SEARCH_BATCHES), VECTOR_BLOCK_S):
            search(n, kind, measured=True)
    e2e = bench.end_to_end({k: 1 for k in SEARCH_BATCHES}, SEARCH_BATCHES)
    bench.detail.update(
        {
            "search_qps": (e2e["work_per_s"][0], "1/s"),
            **{f"{k}_p50_s": (bench.p50(k), "s") for k in SEARCH_BATCHES},
            "store_bytes_per_live_doc": (dir_bytes(ws) / VEC_DOCS, "bytes"),
            "corpus_docs": (VEC_DOCS, "count"),
        }
    )
    return e2e


# -- index_churn --------------------------------------------------------------


def index_churn(bench: Bench) -> dict:
    from executor_u1mindexer_spark.engine import U1MIndexerSpark

    corpus = gen.corpus(bench.seed, CHURN_DOCS)
    ws = os.path.join(bench.work, "index_churn")
    with bench.span("setup"):
        for _ in range(SETUP_REPS):
            eng = bench.setup_rep(lambda: _ingest(bench, corpus, ws))
    model = FacadeModel(corpus)
    bench.check("dumped_workspace", lambda: check_workspace(ws, model))
    spark = bench.spark

    def run(op_in: dict, measured: bool):
        kind = op_in["kind"]
        with bench.op(kind, measured) as op:
            if kind == "index":
                d = bench.call("client.docs", lambda: spark.createDataFrame(op_in["docs"]))
                bench.call("engine.index", lambda: eng.index(d))
                out = None
            elif kind == "update":
                d = bench.call("client.docs", lambda: spark.createDataFrame(op_in["docs"]))
                skipped = bench.call("engine.update", lambda: eng.update(d))
                out = bench.collect("engine.update.skipped", skipped)
            elif kind == "delete":
                out = bench.call("engine.delete", lambda: eng.delete(op_in["ids"]))
            else:
                out = bench.call("engine.status", eng.status)
        if measured:
            bench.mutation_rows(op, len(op_in.get("docs", op_in.get("ids", []))))
        return out

    def step(n: int, kind: str, measured: bool) -> None:
        """Generate op n from the model, run it, update the model, check."""
        op_in = gen.churn_op(bench.seed, n, kind, model.live_ids(), model.next_id)
        if kind == "search":
            bench.search_op(eng, kind, op_in["queries"], op_in["k"], model, measured)
            return
        unknown = set(op_in["docs"]["doc_id"]) - set(model.vec) if kind == "update" else set()
        ok, out = bench.attempt(kind, lambda: run(op_in, measured))
        model.apply(op_in)
        if not ok:
            return
        if kind == "status":
            bench.check(kind, lambda: check_status(out, model.status()))
        elif kind == "update":
            got = set(out["id"])
            bench.check(kind, lambda: [] if got == unknown else [f"skipped {sorted(got)[:5]}"])
        else:  # a lazy mutation: the status, search and dump checks verify it
            bench.tally.record(kind, [])

    with bench.span("warmup"):
        for n, kind in enumerate(dict.fromkeys(gen.CHURN_BLOCK), WARMUP_OP_NO):
            step(n, kind, measured=False)
    with bench.span("timed"):
        for n, kind in bench.blocks(gen.CHURN_BLOCK, CHURN_BLOCK_S, shuffle=False):
            step(n, kind, measured=True)

    with bench.span("close"):

        def close():
            with bench.op("dump", measured=True) as op:
                bench.call("engine.dump", eng.dump)
            bench.mutation_rows(op, 0)
            bench.peak("maintenance.dump_bytes", dir_bytes(ws))
            with bench.op("reload", measured=False):
                again = U1MIndexerSpark(spark, gen.DIM, workspace=ws)
                return again.status()

        ok, st = bench.attempt("dump_reload", close)
        if ok:
            want = dict(model.status(), count_deleted=0, count_indexed=len(model.vec))
            bench.check("reload_status", lambda: check_status(st, want))
            bench.check("dumped_workspace", lambda: check_workspace(ws, model))
    # the closing dump is not a churn op: keep it out of the churn latencies
    dump_s = bench.lat.pop("dump", [0.0])[0]
    classes = {k: gen.CHURN_BLOCK.count(k) for k in dict.fromkeys(gen.CHURN_BLOCK)}
    e2e = bench.end_to_end(classes, {k: 1 for k in classes})
    ingest_s = statistics.median(bench.setup_s)
    all_ops = [x for k in classes for x in bench.lat[k]]
    bench.detail.update(
        {
            "churn_ops_per_s": (e2e["work_per_s"][0], "1/s"),
            "churn_op_p50_s": (statistics.median(all_ops), "s"),
            **{f"churn_{k}_p50_s": (bench.p50(k), "s") for k in classes},
            "ingest_docs_per_s": (CHURN_DOCS / ingest_s, "1/s"),
            "final_dump_s": (dump_s, "s"),
            "store_bytes_per_live_doc": (dir_bytes(ws) / max(1, len(model.vec)), "bytes"),
            "live_docs": (len(model.vec), "count"),
        }
    )
    return e2e


# -- analytics_mix ------------------------------------------------------------


def analytics_mix(bench: Bench) -> dict:
    import duckdb

    import __spark_entry__
    from executor_u1mindexer_spark import cache, tables

    data = os.path.join(bench.work, "analytics")
    with bench.span("generate"):
        shutil.rmtree(data, ignore_errors=True)
        made = gen.analytics_tables(bench.seed, ANALYTICS_COPIES)
        gen.write_tables(made, data)
    spark = bench.spark

    def load_all():
        return {t: tables.load(spark, data, t).count() for t in ANALYTICS_TABLES}

    with bench.span("setup"):
        for _ in range(SETUP_REPS):
            counts = bench.setup_rep(load_all)
    want_counts = {t: made[t].num_rows for t in ANALYTICS_TABLES}
    bench.check("table_counts", lambda: [] if counts == want_counts else [f"{counts} != {want_counts}"])

    registry = __spark_entry__.queries()
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in ANALYTICS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")
    verified: dict = {}  # query -> its first result that matched the oracle

    def run(name: str, measured: bool):
        def body():
            with bench.op(name, measured) as op:
                df = bench.call("suites.build", lambda: registry[name](spark, data))
                pdf = bench.collect("analytics.collect", df)
            if bench.probe and measured:
                bench.add(f"{name}.jobs", op["counters"].get("jobs", 0))
            return pdf

        try:
            ok, pdf = bench.attempt(name, body)
        finally:
            cache.release_all()
        if not ok:
            return
        if name in verified:  # same query, same files: must equal the verified result
            bench.check(name, lambda: same_rows(pdf, verified[name]))
            return
        with bench.span("oracle"):
            want = oracle_rows(con, oracles[name])
        if bench.check(name, lambda: check_rows(list(pdf.columns), rows_of(pdf), *want)):
            verified[name] = pdf

    with bench.span("warmup"):
        for name in ANALYTICS_QUERIES:
            run(name, measured=False)
    with bench.span("timed"):
        for _, name in bench.blocks(ANALYTICS_QUERIES, ANALYTICS_PASS_S):
            run(name, measured=True)
    con.close()
    e2e = bench.end_to_end({q: 1 for q in ANALYTICS_QUERIES}, {q: 1 for q in ANALYTICS_QUERIES})
    bench.detail.update(
        {
            "analytics_total_s": (sum(bench.p50(q) for q in ANALYTICS_QUERIES), "s"),
            "analytics_geomean_s": (e2e["op_p50_geomean_s"][0], "s"),
            **{f"{q}_p50_s": (bench.p50(q), "s") for q in ANALYTICS_QUERIES},
            "lineitem_rows": (made["lineitem"].num_rows, "count"),
        }
    )
    return e2e


WORKLOADS = {
    "vector_search": vector_search,
    "index_churn": index_churn,
    "analytics_mix": analytics_mix,
}
