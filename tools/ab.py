"""Interleaved A/B of one perfbench workload: a git ref against the working tree.

    python tools/ab.py --ref HEAD~1 --workload fhir_resync --pairs 10 --seeds 13 14 15

Checks the ref out into a temporary ``git worktree`` and runs
``perfbench/run.py --trace 0`` there and in the working tree, once each per
pair, on the same seed (seeds are used in turn). The side that runs first
alternates from pair to pair, so a host that speeds up or slows down over
the session loads both sides alike. Prints each pair's ``wall_s`` and
``setup_s``, then both sides' medians and interquartile ranges of each,
and how many pairs the working tree won on ``wall_s``. The worktree is removed afterwards. A run that fails or reports
``correct: false`` stops the comparison.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


METRICS = ("wall_s", "setup_s")


def run_bench(tree: str, workload: str, seed: int, seconds: float) -> dict[str, float]:
    """``METRICS`` of one ``perfbench/run.py`` run in ``tree``."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{tree}: {' '.join(cmd)} exited {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{tree}: seed {seed} is not correct: {lines[-2:]}")
    return {m: result["metrics"][m]["value"] for m in METRICS}


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
    args = ap.parse_args()

    base_dir = tempfile.mkdtemp(prefix="ab-")
    tree = os.path.join(base_dir, "ref")
    subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach", tree, args.ref],
                   check=True, capture_output=True)
    runs: dict[str, list[dict[str, float]]] = {"A": [], "B": []}
    try:
        print(f"# A = {args.ref} ({tree}), B = working tree ({REPO}), "
              f"workload {args.workload}", flush=True)
        for i in range(args.pairs):
            seed = args.seeds[i % len(args.seeds)]
            order = [("A", tree), ("B", REPO)]
            if i % 2:
                order.reverse()
            for side, path in order:
                runs[side].append(run_bench(path, args.workload, seed, args.seconds))
            a, b = runs["A"][-1], runs["B"][-1]
            print(f"pair {i + 1} seed {seed} first {order[0][0]}: "
                  + "  ".join(f"{m} A {a[m]:.3f} s B {b[m]:.3f} s" for m in METRICS)
                  + f"  {'B wins' if b['wall_s'] < a['wall_s'] else 'A wins'}", flush=True)
    finally:
        subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", tree],
                       capture_output=True)
        subprocess.run(["git", "-C", REPO, "worktree", "prune"], capture_output=True)
        shutil.rmtree(base_dir, ignore_errors=True)
    for m in METRICS:
        for side in "AB":
            vals = [r[m] for r in runs[side]]
            print(f"{m} {side} median {statistics.median(vals):.3f} s  IQR {iqr(vals):.3f} s")
    wins = sum(b["wall_s"] < a["wall_s"] for a, b in zip(runs["A"], runs["B"]))
    print(f"B won {wins}/{len(runs['A'])} pairs on wall_s")


if __name__ == "__main__":
    main()
