"""Interleaved A/B of one perfbench workload: a git ref against the working tree.

    python tools/ab.py --ref HEAD~1 --workload fhir_resync --pairs 10 --seeds 13 14 15
    python tools/ab.py --ref HEAD~1 --workload fhir_resync --pairs 4 --trace

Exports the ref's committed files (``git archive``) into a temporary
directory and runs ``perfbench/run.py`` there and in the working tree, once
each per pair, on the same seed (seeds are used in turn). The side that
runs first alternates from pair to pair, so a host that speeds up or slows
down over the session loads both sides alike. Prints each pair's metrics,
then both sides' medians and interquartile ranges of each, and how many
pairs the working tree won on the first metric. The temporary directory is
removed afterwards. A run that fails or reports ``correct: false`` stops the
comparison.

Without ``--trace`` both sides run untraced (``--trace 0``) and the metrics
are ``wall_s`` and ``setup_s``. With ``--trace`` both run traced
(``--trace 1``) and the metrics are the iteration wall time and the layer
counts that do not drift with the host: Spark jobs, stages and tasks, plus
the snapshot, plan-build and write-window seconds.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

METRICS = ("wall_s", "setup_s")
TRACE_METRICS = ("trace.wall_s", "spark.jobs", "spark.stages", "spark.tasks", "snapshot.s",
                 "plan_build.s", "write.window_s")


def run_bench(tree: str, workload: str, seed: int, seconds: float,
              trace: bool) -> dict[str, float]:
    """The metrics of one ``perfbench/run.py`` run in ``tree``."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{tree}: {' '.join(cmd)} exited {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{tree}: seed {seed} is not correct: {lines[-2:]}")
    return {m: result["metrics"][m]["value"] for m in (TRACE_METRICS if trace else METRICS)}


def export_ref(ref: str, tree: str) -> None:
    """The ref's committed files, as ``git archive`` gives them, in ``tree``."""
    tar = subprocess.run(["git", "-C", REPO, "archive", ref], check=True,
                         capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(tree, filter="data")


def iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ref", required=True, help="git ref to compare against (side A)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs="+", default=[7])
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", action="store_true",
                    help="run both sides traced and compare layer counts")
    args = ap.parse_args()
    metrics = TRACE_METRICS if args.trace else METRICS

    base_dir = tempfile.mkdtemp(prefix="ab-")
    tree = os.path.join(base_dir, "ref")
    runs: dict[str, list[dict[str, float]]] = {"A": [], "B": []}
    try:
        export_ref(args.ref, tree)
        print(f"# A = {args.ref} ({tree}), B = working tree ({REPO}), "
              f"workload {args.workload}, trace {int(args.trace)}", flush=True)
        for i in range(args.pairs):
            seed = args.seeds[i % len(args.seeds)]
            order = [("A", tree), ("B", REPO)]
            if i % 2:
                order.reverse()
            for side, path in order:
                runs[side].append(run_bench(path, args.workload, seed, args.seconds, args.trace))
            a, b = runs["A"][-1], runs["B"][-1]
            print(f"pair {i + 1} seed {seed} first {order[0][0]}: "
                  + "  ".join(f"{m} A {a[m]:.3f} B {b[m]:.3f}" for m in metrics)
                  + f"  {'B wins' if b[metrics[0]] < a[metrics[0]] else 'A wins'}", flush=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    for m in metrics:
        meds = {side: [r[m] for r in runs[side]] for side in "AB"}
        print(f"{m}  median A {statistics.median(meds['A']):.3f} B {statistics.median(meds['B']):.3f}"
              f"  IQR A {iqr(meds['A']):.3f} B {iqr(meds['B']):.3f}")
    wins = sum(b[metrics[0]] < a[metrics[0]] for a, b in zip(runs["A"], runs["B"]))
    print(f"B won {wins}/{len(runs['A'])} pairs on {metrics[0]}")


if __name__ == "__main__":
    main()
