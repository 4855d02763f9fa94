"""Spans around calls into the engine's layers, and Spark scheduler counts.

Spans are recorded by the benchmark around public engine calls (the engine
itself carries no tracing). Each span has a name, start, end, parent and
iteration id; they stay in memory and are written out once at the end.
A disabled tracer records nothing, so untraced runs pay only a no-op
context manager. Both classes add up the wall time their own bookkeeping
takes (``spent_s``): inside a timed region that is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spent_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, iteration: int):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "iteration": iteration,
               "parent": self._stack[-1] if self._stack else None,
               "start": t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.spent_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spent_s += time.perf_counter() - t1

    def self_times(self) -> dict[str, float]:
        """Median over iterations of each layer's self time: span duration
        minus the part of it its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        per = defaultdict(list)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            per[s["name"]].append(s["end"] - s["start"] - covered)
        return {k: statistics.median(v) for k, v in sorted(per.items())}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans, "self_time_s": self.self_times()}, f)


class SparkCounts:
    """Jobs, stages and tasks run under a job group, read from the status
    tracker. Jobs that escape the group (submitted from Python threads that
    did not inherit it) are caught as the group-less jobs that appeared
    while the group was current."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()
        self.spent_s = 0.0

    @contextlib.contextmanager
    def group(self, name: str, out: dict):
        t0 = time.perf_counter()
        before = set(self.st.getJobIdsForGroup(None))
        self.sc.setJobGroup(name, name)
        self.spent_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            # the status store is fed by the asynchronous listener bus
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            jobs = set(self.st.getJobIdsForGroup(name))
            jobs |= set(self.st.getJobIdsForGroup(None)) - before
            out.update(self.count(jobs))
            self.spent_s += time.perf_counter() - t1

    def count(self, job_ids) -> dict[str, int]:
        stages: set[int] = set()
        for j in job_ids:
            info = self.st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            info = self.st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks + info.numFailedTasks
                failed += info.numFailedTasks
        return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks,
                "failed_tasks": failed}
