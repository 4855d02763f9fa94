"""SparkSession builder tuned for this engine.

Local-mode testing runs on local[N]; the configs are chosen to also be the
right defaults on a real cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting) so the same plan survives
  scale-up without hand-tuned partition counts.
- shuffle.partitions sized to cores locally; on a cluster this is overridden
  by AQE's coalescing from the initial value.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are deployment-independent.
- Arrow enabled for any pandas-UDF path (similarity / multimodal operators).
- Codegen cache of 2,000 classes (``spark.sql.codegen.cache.maxEntries``,
  default 100). One write of a FHIR job's plan compiles ~120 generated
  classes, so at 100 entries each is evicted before its next use and every
  run recompiles all of them (115-123 compilations of 13-18 ms each per
  write); at 2,000 a repeat write compiles 0-12. A cached class holds ~2.7 KB
  of bytecode plus ~7.4 KB of source, so the full cache costs tens of MB of
  driver heap. The conf is static: it applies only when ``build_session``
  starts the JVM. A session started elsewhere (the vanilla driver session
  that imports ``__spark_entry__.py``) keeps 100 even if it later calls
  ``build_session``, which then returns that session.
- No DataFrame call-site capture
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With capture on,
  every wrapped DataFrame/Column/functions call walks the Python stack and
  makes extra py4j round trips to record its origin: a FHIR job's plan
  build sent ~8,100 py4j commands with it and ~3,200 without. The cost: an
  analysis or runtime error names the failing expression but no longer the
  Python file and line of the DataFrame call that built it. PySpark reads
  the conf once per process, from the first session active when a wrapped
  call runs; set it back to ``true`` through ``extra_conf`` to debug.
"""

from __future__ import annotations

import contextlib
import os
import re
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def build_session(
    app_name: str = "cnics_to_fhir_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 128 MiB scan splits: with ~2-4x decompression this keeps per-task
        # working sets a few hundred MiB — safe against executor spill at
        # any corpus size, and small enough that a 100 TB scan still yields
        # ~800k tasks for even scheduling. Stated explicitly (it is the
        # default) so the sizing rule is visible next to shuffle.partitions.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def session_conf(spark: SparkSession, conf: dict[str, str]):
    """Set session confs for a scoped block and restore the previous values
    (or unset keys that had none) on exit — the structural form of the
    set/try/finally-restore pattern, so a new caller can't forget the
    restore half.  Used by every catalog entry that needs a temporary
    override (bucketed-join broadcast disable, streaming state-store
    partition pinning, ...)."""
    prev: dict[str, str | None] = {}
    try:
        # the set loop runs INSIDE the try: if a later key's set() throws
        # (e.g. CANNOT_MODIFY_CONFIG on a static conf), the earlier keys
        # already recorded in ``prev`` still restore
        for k, v in conf.items():
            prev[k] = spark.conf.get(k, None)
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def overlap(spark: SparkSession, *fns: Callable[[], object], max_workers: int | None = None) -> list:
    """Run independent zero-argument driver functions on concurrent threads
    (the scheduler interleaves their Spark jobs, so one's task tail or
    collect latency back-fills another's) and return their results in
    order. Each thread inherits the caller's job group, description,
    scheduler pool and session tags: a pool thread under pinned-thread mode
    starts without them, so its jobs would escape job-group attribution and
    cancellation. Each function is wrapped on its own, so each gets its own
    copy of the properties: Spark sets per-execution properties on it."""
    with ThreadPoolExecutor(max_workers=max_workers or len(fns)) as ex:
        futures = [ex.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
        return [f.result() for f in futures]


def scratch_name(spark: SparkSession, base: str) -> str:
    """A per-session-unique identifier for side state a catalog entry owns
    (scratch databases, memory-sink view names): ``base`` suffixed with the
    Spark applicationId so two concurrent sessions on one machine never
    collide on catalog names or warehouse paths.  Sanitized to
    [A-Za-z0-9_] so it is valid as both a database and a view name."""
    app = re.sub(r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId)
    return f"{base}_{app}"
