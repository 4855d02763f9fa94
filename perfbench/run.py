"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload fhir_resync --seed 7 --seconds 10 --trace 0

Run from the repository root. The program under test is the
``cnics_to_fhir_spark`` package beside this directory; it receives only
inputs generated here from ``--seed``. Scratch files go under
``.perfbench/`` in the repository root, which is removed at exit except for
``.perfbench/traces/`` (span dumps of traced runs).

Set-up (timed as ``setup_s``): Spark session start, input generation, and
one warm-up iteration. Then iterations run until ``--seconds`` have passed,
at least one; with ``--trace 1`` every timed iteration is traced. Every
iteration's output is checked; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fhir_initial_load", "fhir_resync", "corpus_chain")
MAX_CORES = 4

E2E_UNITS = {"wall_s": "s", "setup_s": "s", "success_ratio": "ratio",
             "ref_integrity": "ratio", "rows_per_key": "ratio"}
LAYER_UNITS = {
    "session.start_s": "s", "trace.wall_s": "s", "trace.overhead_s": "s",
    "snapshot.s": "s", "snapshot.get_requests": "count", "snapshot.rows": "count",
    "plan_build.s": "s", "plan_build.jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "plan_exec.s": "s", "plan.rows.insert": "count", "plan.rows.update": "count",
    "plan.rows.delete": "count",
    "write.window_s": "s", "write.requests.post": "count", "write.requests.put": "count",
    "write.requests.delete": "count", "write.req_per_s": "1/s",
    "write.concurrency_max": "count", "write.non2xx": "count",
    "store.service_ms.p50": "ms", "store.service_ms.p99": "ms", "store.busy_frac": "ratio",
    "store.requests": "count", "store.dangling_refs": "count", "store.duplicates": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    **{f"{e}.{m}": u for e in ("e2e10", "e2e11", "e2e13")
       for m, u in (("s", "s"), ("build_s", "s"), ("jobs", "count"), ("stages", "count"))},
}
# store counts read from the last timed iteration (they repeat exactly);
# every other layer value is a median over the timed iterations
_FROM_RECORD = {"store.requests": "requests", "store.dangling_refs": "dangling",
                "store.duplicates": "duplicates"}


def _cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def _prepare_env(work: str, cores: int) -> dict[str, str]:
    """Keep every file Spark, the JVM and the workers write inside ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM (the launcher and Spark's): temp files in ``work``, and no
    # hsperfdata directory, which the JVM would otherwise put under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "20000",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits on stdin EOF); wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(report: dict, session_s: float) -> dict:
    import workloads

    runs = report["records"]
    out = {}
    for name in LAYER_UNITS:
        if name == "session.start_s":
            out[name] = session_s
        elif name == "trace.wall_s":
            out[name] = workloads.median_of(runs, "wall")
        elif name in _FROM_RECORD:
            out[name] = runs[-1].get(_FROM_RECORD[name], 0)
        else:
            out[name] = workloads.median_of(runs, name)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load_1m = os.getloadavg()[0]
    cores = _cores()
    sys.path[:0] = [ROOT]  # the engine package and selfcheck.py
    try:
        import cnics_to_fhir_spark  # noqa: F401
        import selfcheck  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    conf = _prepare_env(work, cores)

    import workloads
    from spans import Tracer

    from cnics_to_fhir_spark.session import build_session

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    w = None
    try:
        t_setup = time.perf_counter()
        with tracer.span("session", -1):
            spark = build_session("perfbench", master=f"local[{cores}]", extra_conf=conf)
        session_s = time.perf_counter() - t_setup
        sc = spark.sparkContext
        host = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "master": sc.master,
                "default_parallelism": sc.defaultParallelism, "load_1m_at_start": load_1m}
        print("# host " + json.dumps(host), flush=True)

        ctx = workloads.Context(spark, work, args.seed, tracer)
        w = workloads.make(args.workload, ctx)
        with tracer.span("setup", -1):
            w.setup()
            w.warm_up()
        setup_s = time.perf_counter() - t_setup

        walls = []
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 < args.seconds:
            walls.append(w.iteration(len(walls) + 1, traced=bool(args.trace)))
        report = w.report()
    finally:
        if w is not None:
            w.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no traces are kept
            os.rmdir(os.path.dirname(work))

    if args.trace:
        metrics = _layer_metrics(report, session_s)
        units = LAYER_UNITS
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                    {"host": host, "metrics": metrics})
        print("# self_time_s " + json.dumps(
            {k: round(v, 4) for k, v in tracer.self_times().items()}))
    else:
        metrics = {"wall_s": statistics.median(walls), "setup_s": setup_s,
                   **report["e2e"]}
        units = E2E_UNITS
    print("# detail " + json.dumps({
        "samples": len(walls), "walls_s": [round(x, 4) for x in walls],
        "counts": report["counts"], "problems": report["problems"][:5]}))
    print(json.dumps({
        "correct": report["correct"] and report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
