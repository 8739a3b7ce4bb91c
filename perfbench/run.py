"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload index_churn --seed 1 --seconds 12 --trace 0

Run it from the repository root. BENCHMARK.json lists the workloads
index_churn and analytics_mix; vector_search runs the same way but is not
listed, because a third workload does not fit the benchmark's time budget
on a 4-core host (perfbench/layers.json describes all three).

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics; with --trace 1 they are the per-layer metrics, and the
spans, their self times and the tracing overhead (traced minus the last
untraced run of the same workload, when that run had the same seed) go to
.perfbench/trace-<workload>.json.
The line before it holds the workload's named metrics and the host.
Everything the run writes stays under .perfbench/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import signal
import sys
import time

import workloads
from tracing import self_time_by_name

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU time counters from /proc/stat (user,
    nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_info(ticks0: list[int]) -> dict:
    """The host, and the share of CPU time a hypervisor took from it
    (steal) since `ticks0`: a slow run on a shared machine shows there."""
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    delta = [b - a for a, b in zip(ticks0, cpu_ticks())]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "loadavg_1m": os.getloadavg()[0],
        "cpu_steal_share": delta[7] / sum(delta) if sum(delta) else 0.0,
    }


def configure_env() -> None:
    """Settings the Spark JVM and its Python workers inherit: one core per
    task slot of this host, the repository on the workers' import path,
    and every scratch file under WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, from any JVM spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData") if o
    )
    java_opts = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf {shlex.quote('spark.sql.warehouse.dir=' + os.path.join(WORK, 'warehouse'))}",
            f"--driver-java-options {shlex.quote(java_opts)}",
            "pyspark-shell",
        ]
    )


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session, end the JVM it launched and wait for it and every
    process it started (`pids`: this process's descendants, read just
    before the stop) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure it ends
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    alive = [p for p in pids if p != os.getpid()]
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive and time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.05)


def _metrics(values: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "executor_u1mindexer_spark", "engine.py")):
        print(
            "perfbench: the engine sources (executor_u1mindexer_spark/) are not "
            f"next to the benchmark in {ROOT}",
            file=sys.stderr,
        )
        return 2

    ticks0 = cpu_ticks()
    configure_env()
    sys.path.insert(0, ROOT)

    bench = workloads.Bench(args.seed, args.seconds, bool(args.trace), WORK)
    start_s = bench.start_session()
    try:
        with bench.span("workload"):
            e2e = getattr(workloads, args.workload)(bench)
    finally:
        stop_spark(bench.spark, bench.rss.sample())
    bench.detail["peak_rss_mb"] = (bench.rss.peak_mb, "MB")

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host_info(ticks0),
        "metrics": _metrics(
            {**e2e, **bench.detail, "error_rate": (bench.tally.error_rate, "ratio")}
        ),
        "problems": bench.tally.problems[:10],
    }
    last_e2e = os.path.join(WORK, f"e2e-{args.workload}.json")
    if args.trace:
        per_layer = bench.per_layer(start_s)
        metrics = _metrics({k: (v, workloads.PER_LAYER[k][0]) for k, v in per_layer.items()})
        # only an untraced run of the same seed has the same inputs
        overhead = "unavailable: no untraced run of this workload and seed"
        if os.path.exists(last_e2e):
            with open(last_e2e) as f:
                untraced = json.load(f)
            if untraced["seed"] == args.seed:
                m = untraced["metrics"]
                overhead = {k: v - m[k] for k, (v, _) in e2e.items() if k in m}
        detail["tracing_overhead"] = overhead
        trace_file = os.path.join(WORK, f"trace-{args.workload}.json")
        with open(trace_file, "w") as f:
            json.dump(
                {
                    **detail,
                    "per_layer": per_layer,
                    "self_time_s": self_time_by_name(bench.tracer.spans),
                    "spans": bench.tracer.to_json(),
                },
                f,
            )
        detail["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        metrics = _metrics(e2e)
        with open(last_e2e, "w") as f:
            json.dump({"seed": args.seed, "metrics": {k: v for k, (v, _) in e2e.items()}}, f)

    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": bench.tally.failed == 0,
                "attempted": bench.tally.attempted,
                "failed": bench.tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
