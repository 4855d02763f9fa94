"""The benchmark's workloads. Each exposes ``setup()``, ``warm_up()``,
``iteration(i, traced)`` returning the iteration's timed wall seconds,
``report()`` and ``close()``.

An untraced iteration calls the engine exactly as a user does. A traced
iteration makes the same calls split at layer boundaries (``run_job``
without a writer, then ``write_action_plan``, which is what ``run_job``
does with one), each inside a span and a Spark job group. Checks and
layer probes that execute extra plans run after the timed region.
"""

from __future__ import annotations

import collections
import functools
import os
import statistics
import time

from spans import SparkCounts, Tracer

import cnics_inputs
import corpus
from store import FhirStore

SNAPSHOT_PAGE = 500
SNAPSHOT_TYPES = ("Patient", "Condition", "MedicationRequest", "Observation")


class Context:
    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer):
        self.spark, self.work_dir, self.seed, self.tracer = spark, work_dir, seed, tracer
        self.counts = SparkCounts(spark)

    def tracing_s(self) -> float:
        """Wall seconds spent so far in span and Spark-counter bookkeeping."""
        return self.tracer.spent_s + self.counts.spent_s


def _pct(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0


class FhirWorkload:
    """``fhir_initial_load`` (empty store) or ``fhir_resync`` (store holds
    the base load; the source is the seeded nightly delta)."""

    def __init__(self, ctx: Context, resync: bool):
        self.ctx, self.resync = ctx, resync
        self.store = FhirStore()
        self.iters: list[dict] = []
        self.problems: list[str] = []

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        from cnics_to_fhir_spark.config import parse_job_config, parse_settings
        from cnics_to_fhir_spark.load.http_writer import WriterConfig

        self.job = parse_job_config(cnics_inputs.JOB_INI)[0]
        self.settings = parse_settings(cnics_inputs.SETTINGS_INI)
        gen = cnics_inputs.Generator(self.ctx.seed)
        base = gen.base()
        base_dir = os.path.join(self.ctx.work_dir, "cnics_base")
        cnics_inputs.write(base, base_dir)
        self.cfg = WriterConfig(base_url=self.store.start())
        self.start_state = ({}, 1)
        self.tables = cnics_inputs.load(self.ctx.spark, base_dir)
        self.expected = (set(), cnics_inputs.expected_keys(base))
        if self.resync:
            cur = gen.mutate(base)
            self.cur_dir = os.path.join(self.ctx.work_dir, "cnics_resync")
            cnics_inputs.write(cur, self.cur_dir)
            self.cur_expected = cnics_inputs.expected_keys(cur)

    def warm_up(self) -> None:
        """One checked job run before timing. For ``fhir_resync`` it is the
        base load: afterwards the store holds exactly what an initial load
        of the base inputs leaves, and every timed iteration starts from
        that state with the mutated source."""
        self.iteration(0, traced=False)
        if self.resync:
            self.start_state = self.store.save_state()
            self.tables = cnics_inputs.load(self.ctx.spark, self.cur_dir)
            self.expected = (self.expected[1], self.cur_expected)

    def close(self) -> None:
        self.store.stop()

    # ---------------------------------------------------------- iteration
    def _snapshot(self):
        from pyspark.sql import DataFrame

        from cnics_to_fhir_spark.sources.fhir import snapshot_via_http

        parts = [snapshot_via_http(self.ctx.spark, self.store.base_url, t, page_size=SNAPSHOT_PAGE)
                 for t in SNAPSHOT_TYPES]
        # materialized before run_job: the write must not re-read a store
        # it is changing
        return functools.reduce(DataFrame.unionByName, parts).localCheckpoint(eager=True)

    def _provider(self, snap):
        tables = {**self.tables, "Snapshot": snap}
        return lambda site: tables.__getitem__

    def _untraced(self) -> float:
        from cnics_to_fhir_spark import job

        spark = self.ctx.spark
        t0 = time.perf_counter()
        snap = self._snapshot()
        self._last_plan = job.run_job(spark, self.job, self.settings, self._provider(snap),
                                      writer_cfg=self.cfg)
        return time.perf_counter() - t0

    def _traced(self, i: int, rec: dict) -> float:
        from cnics_to_fhir_spark import job
        from cnics_to_fhir_spark.load.http_writer import write_action_plan

        span, group, spark = self.ctx.tracer.span, self.ctx.counts.group, self.ctx.spark
        sc_snap, sc_build, sc_write = {}, {}, {}
        spent = self.ctx.tracing_s()
        t0 = time.perf_counter()
        with span("iteration", i):
            with span("snapshot", i), group(f"it{i}.snapshot", sc_snap):
                t = time.perf_counter()
                snap = self._snapshot()
                rec["snapshot.s"] = time.perf_counter() - t
            with span("plan_build", i), group(f"it{i}.plan_build", sc_build):
                t = time.perf_counter()
                plan = job.run_job(spark, self.job, self.settings, self._provider(snap))
                rec["plan_build.s"] = time.perf_counter() - t
            with span("write", i), group(f"it{i}.write", sc_write):
                write_action_plan(plan.drop("site"), self.cfg)
        wall = time.perf_counter() - t0
        rec["trace.overhead_s"] = self.ctx.tracing_s() - spent
        self._last_plan = plan
        rec["snapshot.rows"] = snap.count()
        rec["plan_build.jobs"] = sc_build["jobs"]
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            rec[f"spark.{k}"] = sc_snap[k] + sc_build[k] + sc_write[k]
        with span("catalyst", i):
            qe = plan._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                rec[f"catalyst.{p}_s"] = (phases.apply(p).durationMs() / 1e3
                                          if phases.contains(p) else 0.0)
        return wall

    def iteration(self, i: int, traced: bool) -> float:
        self.store.restore_state(self.start_state)
        self.store.reset_counters()
        rec: dict = {"i": i}
        rec["wall"] = self._traced(i, rec) if traced else self._untraced()
        c = self.store.reset_counters()
        counts = None
        if i > 0:  # the warm-up is checked at the store only
            with self.ctx.tracer.span("plan_exec", i):
                t = time.perf_counter()
                counts = self._plan_counts(self._last_plan)
                rec["plan_exec.s"] = time.perf_counter() - t
            for a in ("insert", "update", "delete"):
                rec[f"plan.rows.{a}"] = sum(n for (_, act), n in counts.items() if act == a)
        writes = sum(c.verbs[v] for v in ("POST", "PUT", "DELETE"))
        window = (c.last_write - c.first_write) if writes else 0.0
        ident = self.store.identifier_counts()
        integ = self.store.integrity()
        rec.update({
            "requests": sum(c.verbs.values()), "snapshot.get_requests": c.verbs["GET"],
            "writes": writes, "writes_2xx": c.write_2xx,
            "write.requests.post": c.verbs["POST"], "write.requests.put": c.verbs["PUT"],
            "write.requests.delete": c.verbs["DELETE"], "write.window_s": window,
            "write.req_per_s": writes / window if window else 0.0,
            "write.concurrency_max": c.max_in_service,
            "write.non2xx": writes - c.write_2xx,
            "store.service_ms.p50": 1e3 * _pct(c.write_service_s, 0.50),
            "store.service_ms.p99": 1e3 * _pct(c.write_service_s, 0.99),
            "store.busy_frac": sum(c.write_service_s) / window if window else 0.0,
            "stored": integ["stored"], "dangling": integ["dangling"],
            "keys": len(ident), "duplicates": sum(n - 1 for n in ident.values()),
        })
        self.iters.append(rec)
        self._check(i, counts, ident, c)
        return rec["wall"]

    # -------------------------------------------------------------- checks
    def _plan_counts(self, plan) -> collections.Counter:
        from cnics_to_fhir_spark.operators.merge import action_counts

        return collections.Counter({(r["resource_type"], r["action"]): r["n"]
                                    for r in action_counts(plan, "resource_type").collect()})

    def _check(self, i: int, plan_counts, stored: collections.Counter, c) -> None:
        """The store holds exactly the expected identifiers, once each; the
        store applied the expected creates/updates/deletes; and the plan's
        ``action_counts`` agree with the same expectation."""
        before, after = self.expected
        want = collections.Counter()
        for key in after:
            want[(key[0], "update" if key in before else "insert")] += 1
        for key in before - after:
            want[(key[0], "delete")] += 1
        if plan_counts is not None and plan_counts != want:
            self.problems.append(f"iteration {i}: plan action counts {dict(plan_counts)} "
                                 f"!= expected {dict(want)}")
        if stored != collections.Counter(after):
            self.problems.append(
                f"iteration {i}: store identifiers differ from the expectation: "
                f"{len(set(stored) - after)} unexpected, {len(after - set(stored))} missing, "
                f"{sum(n - 1 for n in stored.values())} duplicated")
        act = {a: sum(n for (_, wa), n in want.items() if wa == a)
               for a in ("insert", "update", "delete")}
        seen = {"insert": c.actions["create"], "update": c.actions["update"],
                "delete": c.actions["delete"]}
        if seen != act:
            self.problems.append(f"iteration {i}: store actions {seen} != expected {act}")

    # -------------------------------------------------------------- report
    def report(self) -> dict:
        runs = [r for r in self.iters if r["i"] > 0]
        last = runs[-1]
        writes = sum(r["writes"] for r in self.iters)
        acked = sum(r["writes_2xx"] for r in self.iters)
        return {
            "correct": not self.problems,
            "problems": self.problems,
            "attempted": writes,
            "failed": writes - acked,
            "e2e": {
                "success_ratio": sum(r["writes_2xx"] for r in runs) / sum(r["writes"] for r in runs),
                "ref_integrity": (last["stored"] - last["dangling"]) / last["stored"],
                "rows_per_key": last["stored"] / last["keys"],
            },
            "counts": {"fhir_requests": last["requests"], "dangling_refs": last["dangling"],
                       "duplicate_resources": last["duplicates"],
                       "stored_resources": last["stored"]},
            "records": runs,
        }


class ChainWorkload:
    """``corpus_chain``: e2e10 → e2e11 → e2e13 over a seeded corpus."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.outputs: dict = {}
        self.iters: list[dict] = []

    def setup(self) -> None:
        from cnics_to_fhir_spark.plans import catalog

        self.docs_dir = os.path.join(self.ctx.work_dir, "corpus")
        self.doc_ids = corpus.write_documents(self.ctx.seed, self.docs_dir)
        self.entries = [(name, name.split("_")[0], catalog()[name]) for name in corpus.CHAIN]

    def warm_up(self) -> None:
        self.iteration(0, traced=False)

    def close(self) -> None:
        pass

    def iteration(self, i: int, traced: bool) -> float:
        spark, span, group = self.ctx.spark, self.ctx.tracer.span, self.ctx.counts.group
        rec: dict = {"i": i}
        outs = {}
        spent = self.ctx.tracing_s()
        t0 = time.perf_counter()
        if traced:
            with span("iteration", i):
                for name, short, entry in self.entries:
                    sc: dict = {}
                    with span(short, i), group(f"it{i}.{short}", sc):
                        t = time.perf_counter()
                        with span(f"{short}.build", i):
                            df = entry.spark(spark, self.docs_dir)
                        rec[f"{short}.build_s"] = time.perf_counter() - t
                        outs[name] = df.toPandas()
                        rec[f"{short}.s"] = time.perf_counter() - t
                    rec[f"{short}.jobs"], rec[f"{short}.stages"] = sc["jobs"], sc["stages"]
                    for k in ("jobs", "stages", "tasks", "failed_tasks"):
                        rec[f"spark.{k}"] = rec.get(f"spark.{k}", 0) + sc[k]
        else:
            for name, _, entry in self.entries:
                outs[name] = entry.spark(spark, self.docs_dir).toPandas()
        rec["wall"] = time.perf_counter() - t0
        if traced:
            rec["trace.overhead_s"] = self.ctx.tracing_s() - spent
        rec["digests"] = {name: corpus.digest(pdf) for name, pdf in outs.items()}
        self.outputs = outs
        self.iters.append(rec)
        return rec["wall"]

    def report(self) -> dict:
        """Outputs of every pass against the oracle (computed once, outside
        timing), plus the duplicate-key and doc-id integrity ratios of the
        last pass."""
        oracle = corpus.oracle_digests(self.docs_dir)
        bad = [(r["i"], name) for r in self.iters for name, got in r["digests"].items()
               if got != oracle[name]]
        runs = [r for r in self.iters if r["i"] > 0]
        timed_run = len(runs) * len(corpus.CHAIN)
        timed_bad = sum(1 for i, _ in bad if i > 0)
        rows = keys = refs = resolved = 0
        for name, pdf in self.outputs.items():
            rows += len(pdf)
            keys += len(pdf.drop_duplicates(corpus.KEYS[name]))
            if "doc_id" in pdf.columns:
                refs += len(pdf)
                resolved += int(pdf["doc_id"].isin(self.doc_ids).sum())
        return {
            "correct": not bad,
            "problems": [f"pass {i}: {name} (rows, columns, hash) differs from its oracle"
                         for i, name in bad],
            "attempted": len(self.iters) * len(corpus.CHAIN),
            "failed": len(bad),
            "e2e": {
                "success_ratio": (timed_run - timed_bad) / timed_run,
                "ref_integrity": resolved / refs,
                "rows_per_key": rows / keys,
            },
            "counts": {name.split("_")[0] + ".rows": len(pdf) for name, pdf in self.outputs.items()},
            "records": runs,
        }


def make(name: str, ctx: Context):
    if name == "fhir_initial_load":
        return FhirWorkload(ctx, resync=False)
    if name == "fhir_resync":
        return FhirWorkload(ctx, resync=True)
    if name == "corpus_chain":
        return ChainWorkload(ctx)
    raise SystemExit(f"unknown workload {name!r}")


def median_of(records: list[dict], key: str) -> float:
    vals = [r[key] for r in records if key in r]
    return statistics.median(vals) if vals else 0.0
