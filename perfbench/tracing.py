"""Spans, Spark's own counters, and process memory.

`Tracer` keeps spans (name, start, end, parent, op id) in memory and
computes each span's self time. `SparkProbe` reads what Spark already
records about the work a call started: jobs and stages from the status
store (looked up by job group), Catalyst phase times from
`queryExecution`, and per-node SQL metrics walked from the executed plan.
`RssMeter` reads VmHWM from /proc for this process and its descendants
(the JVM and its Python workers).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name,
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                "parent": s.parent,
                "op": s.op,
            }
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


# -- Spark counters -----------------------------------------------------------

STAGE_FIELDS = {
    # StageData accessor -> (counter name, scale)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("scan_bytes", 1),
    "inputRecords": ("scan_rows", 1),
    "outputRecords": ("output_rows", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleWriteRecords": ("shuffle_write_rows", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


class SparkProbe:
    """Per-call Spark counters, found through a job group set around the
    call. Reads only what Spark's status listener and query executions
    already hold; the UI stays off."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._no_tasks = self.jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str, t_start: float, t_end: float) -> tuple[dict, float | None]:
        """(counters of every job in `group`, when its last job ended).
        t_start/t_end are the call's wall-clock bounds (time.time()), used
        for the time no job covers."""
        self.sc._jsc.clearJobGroup()
        c = {"jobs": 0, "stages": 0, "tasks": 0}
        last_job_end = None
        for name, _ in STAGE_FIELDS.values():
            c[name] = 0
        intervals = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(job_id)
            c["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                lo, hi = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                intervals.append((lo, hi))
                last_job_end = max(last_job_end or hi, hi)
            ids = job.stageIds()
            for i in range(ids.size()):
                self._add_stage(c, ids.apply(i))
        c["non_job_s"] = max(0.0, (t_end - t_start) - _covered(intervals, t_start, t_end))
        return c, last_job_end

    def _add_stage(self, c: dict, stage_id: int) -> None:
        attempts = self.store.stageData(
            stage_id, False, self._no_tasks, False, self._no_quantiles
        )
        for a in range(attempts.size()):
            sd = attempts.apply(a)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped (its map output was reused) or failed
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            for field, (name, scale) in STAGE_FIELDS.items():
                c[name] += getattr(sd, field)() * scale

    @staticmethod
    def catalyst(df) -> dict:
        """Catalyst phase times (s) of an executed DataFrame."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for p in ("analysis", "optimization", "planning"):
            ph = phases.get(p)
            out[p] = ph.get().durationMs() / 1e3 if ph.isDefined() else 0.0
        return out

    @staticmethod
    def plan_nodes(df) -> list[tuple[str, dict, int]]:
        """(node name, SQL metrics, depth) for every node of the final
        executed plan, depth first, walking into AQE query stages."""
        out: list[tuple[str, dict, int]] = []
        root = df._jdf.queryExecution().executedPlan()
        if root.nodeName() == "AdaptiveSparkPlan":
            root = root.executedPlan()

        def walk(node, depth):
            name = node.nodeName()
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            out.append((name, metrics, depth))
            # a ReusedExchange is not descended into: its subtree ran once,
            # where it was first planned
            if name.endswith("QueryStage"):
                walk(node.plan(), depth + 1)
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i), depth + 1)

        walk(root, 0)
        return out

    def storage(self) -> tuple[int, int]:
        """(bytes held by cached or checkpointed RDDs, number of them)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        held = [i for i in infos if i.numCachedPartitions() > 0]
        return sum(i.memSize() + i.diskSize() for i in held), len(held)


def window_input_rows(nodes: list[tuple[str, dict, int]]) -> int:
    """Rows entering the top-most Window's stage: what the exchange below
    it read (the candidates that survived any partial top-k before the
    shuffle), else the nearest row count below it."""
    for i, (name, _, depth) in enumerate(nodes):
        if name != "Window":
            continue
        below = []
        for n, m, d in nodes[i + 1 :]:
            if d <= depth:
                break
            below.append((n, m))
        for n, m in below:
            if n == "Exchange" and "recordsRead" in m:
                return int(m["recordsRead"])
        for _, m in below:
            if "numOutputRows" in m:
                return int(m["numOutputRows"])
    return 0


def python_bytes(nodes: list[tuple[str, dict, int]]) -> int:
    return int(
        sum(m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0) for _, m, _ in nodes)
    )


# -- memory -------------------------------------------------------------------


def _parents() -> dict[int, int]:
    """{pid: parent pid} of every process visible in /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its closing paren
        out[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssMeter:
    """Peak resident memory of this process and every descendant (the
    JVM, its Python workers): the sum over processes of each one's VmHWM,
    sampled at op boundaries (a process that exits keeps its last
    reading)."""

    def __init__(self) -> None:
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> list[int]:
        """Read every live descendant's VmHWM; returns their pids."""
        kids: dict[int, list[int]] = {}
        for pid, ppid in _parents().items():
            kids.setdefault(ppid, []).append(pid)
        todo, live = [os.getpid()], []
        while todo:
            pid = todo.pop()
            live.append(pid)
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), _hwm_kb(pid))
            todo.extend(kids.get(pid, ()))
        return live

    @property
    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0
