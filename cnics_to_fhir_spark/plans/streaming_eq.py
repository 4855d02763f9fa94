"""§2.10 made driver-visible: streaming replay ≡ batch MERGE, as a catalog
entry with a full DuckDB oracle.

Rounds 1-3 proved the batch↔stream equivalence in pytest only
(tests/test_streaming.py); this entry moves it inside the driver's
CORRECTNESS gate.  The query executes a REAL Structured Streaming run —
a parquet file-source split into micro-batches (maxFilesPerTrigger=1),
``foreachBatch`` re-running the production ``merge_plan`` per batch in CDC
mode (streaming/reconcile.py, cnics_to_fhir.py:548-570 semantics) — then
returns the accumulated action plan.  The oracle computes the same
classification declaratively in SQL, so the hash compare pins that
micro-batched replay and one-shot batch semantics agree row-for-row.

CDC mode (``full_state=False``) is what makes the split-into-batches
well-defined: each row's classification depends only on (row, snapshot),
never on which micro-batch carried it, so any file-to-batch assignment
yields the same union — that independence is exactly the property under
test.  (``full_state=True`` derives deletes from per-batch absence and is
only equivalent when the whole state arrives in one batch — covered by
pytest.)

Harness-vs-production note: the per-batch ``collect`` here is the test
sink; the production sink hands each micro-batch plan to the partitioned
HTTP writer (load/http_writer.py) without driver materialization.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnics_to_fhir_spark.plans.registry import query, table
from cnics_to_fhir_spark.session import scratch_name, session_conf


def _state_partitions(spark: SparkSession, n: int = 32):
    """Pin spark.sql.shuffle.partitions for a streaming run, restore after
    (via the structural session_conf contextmanager).

    The state-store partition count is FROZEN from shuffle.partitions at
    checkpoint creation; under a vanilla 200-partition session every
    micro-batch pays 200 near-empty state-store tasks (measured 31.5 s vs
    12 s for st02 at sf0.01).  Each entry creates a fresh checkpoint, so
    pinning a right-sized count is safe — a real deployment sizes this to
    state volume once, at first checkpoint."""
    return session_conf(spark, {"spark.sql.shuffle.partitions": str(n)})


@contextlib.contextmanager
def _memory_sink(spark: SparkSession, base: str):
    """Per-session-unique memory-sink view name, dropped on exit: two
    concurrent catalog runs on one machine must not collide on (or read
    each other's) sink views."""
    name = scratch_name(spark, base)
    try:
        yield name
    finally:
        spark.catalog.dropTempView(name)


@query(
    "st01_stream_batch_equivalence",
    tags="2.10 J6 STREAM",
    oracle="""
        SELECT CAST(c_custkey AS BIGINT) AS key,
               CASE WHEN c_custkey % 3 = 0 THEN 'insert' ELSE 'update' END AS action,
               CASE WHEN c_custkey % 3 = 0 THEN NULL
                    ELSE 'srv-' || CAST(c_custkey AS VARCHAR) END AS id,
               c_name AS body
        FROM customer
    """,
)
def st01_stream_batch_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the change stream (customer rows, 4 micro-batches) through
    ``reconcile_stream`` against a snapshot missing every key ≡ 0 (mod 3);
    the streamed union of per-batch MERGE plans must equal the one-shot
    declarative classification the oracle computes."""
    from cnics_to_fhir_spark.streaming.reconcile import reconcile_stream

    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("key"),
        F.col("c_name").alias("body"),
    )
    snapshot = cust.filter(F.col("key") % 3 != 0).select(
        "key", F.concat(F.lit("srv-"), F.col("key").cast("string")).alias("id")
    )

    tmp = tempfile.mkdtemp(prefix="st01-")
    try:
        src, chk = os.path.join(tmp, "src"), os.path.join(tmp, "chk")
        cust.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("key long, body string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        rows: list = []

        def sink(plan: DataFrame, epoch_id: int) -> None:
            rows.extend(plan.collect())

        q = reconcile_stream(
            stream,
            lambda: snapshot,
            sink,
            key="key",
            checkpoint_dir=chk,
            payload_cols=["body"],
            full_state=False,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "key long, action string, id string, body string")


@query(
    "st02_stream_window_equivalence",
    tags="2.10 EV1 STREAM",
    oracle="""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def st02_stream_window_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the watermarked tumbling-window aggregation
    (streaming/windows.py) as a REAL 4-micro-batch Structured Streaming
    job and pin its append-mode output against the batch GROUP BY the
    oracle computes.

    Append mode only emits a window once the event-time watermark passes
    its end, so the stream carries one far-future sentinel row in the
    last-sorted file to flush every real window; the sentinel's own
    window is excluded from both sides.  The watermark delay spans the
    whole event range, so no real row can be late-dropped regardless of
    which micro-batch its file lands in — that invariance (any
    file→batch assignment, same output) is the property under test; the
    tighter-watermark late-drop behavior is pinned by
    tests/test_streaming.py."""
    import datetime

    from cnics_to_fhir_spark.streaming.windows import tumbling_window_stream

    ev = table(spark, sf_dir, "events").select("ts", "event_type", "value")
    span_days = (
        ev.agg(
            F.datediff(F.max("ts"), F.min("ts")).alias("d"),
            F.max("ts").alias("mx"),
        ).first()
    )
    sentinel_ts = (span_days["mx"] + datetime.timedelta(days=365)).replace(
        minute=0, second=0, microsecond=0
    )
    sentinel = spark.createDataFrame(
        [(sentinel_ts, "__sentinel__", 0.0)], "ts timestamp, event_type string, value double"
    )

    tmp = tempfile.mkdtemp(prefix="st02-")
    try:
        src, chk = os.path.join(tmp, "src"), os.path.join(tmp, "chk")
        ev.repartition(4).write.parquet(src)
        # the sentinel arrives in its own (final) file so its watermark
        # update flushes all real windows; file order within the earlier
        # batches is irrelevant because the watermark spans the range.
        import time as _time

        _time.sleep(1.1)  # strictly later mtime ⇒ sentinel file lands in the
        # LAST micro-batch (an mtime tie with a data file could order it
        # earlier, jumping the watermark past — and late-dropping — real rows)
        sentinel.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(src)
        )
        agg = tumbling_window_stream(
            stream, width="1 hour", watermark=f"{span_days['d'] + 2} days"
        )
        with _state_partitions(spark), _memory_sink(spark, "st02_sink") as sink:
            q = (
                agg.writeStream.outputMode("append")
                .format("memory")
                .queryName(sink)
                .option("checkpointLocation", chk)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            out = spark.table(sink).filter(F.col("event_type") != "__sentinel__")
            rows = out.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "window_start timestamp, event_type string, n bigint, total_value double"
    )


@query(
    "st03_stream_dedup_equivalence",
    tags="2.10 DD STREAM",
    oracle="""
        SELECT DISTINCT
               md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
        FROM documents
    """,
)
def st03_stream_dedup_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run dedup-on-ingest (dropDuplicatesWithinWatermark over the batch
    fingerprint) as a REAL multi-micro-batch stream: the original corpus
    arrives first (two files), then an exact copy of every document under
    new ids (two later files).  The streamed output must carry exactly
    the corpus's DISTINCT fingerprint set — every injected copy
    suppressed by fingerprint state, no fingerprint lost — which is the
    batch DISTINCT the oracle computes declaratively.  (The surviving
    doc_id per fingerprint is first-arrival — well-defined but
    batch-assignment-dependent for the handful of intra-corpus dups, so
    the pinned value is the fingerprint set, not ids.)  Copies land in
    later micro-batches by file modification order; their event times sit
    inside the watermark window, so suppression is state-driven, not
    expiry luck."""
    from cnics_to_fhir_spark.streaming.dedup import (
        fingerprint_dedup_stream,
        run_dedup_to_memory_sink,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    originals = docs.select(
        "doc_id", "text", (base + F.make_interval(secs=F.col("doc_id") % 600)).alias("ts")
    )
    copies = originals.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("ts"),
    )

    tmp = tempfile.mkdtemp(prefix="st03-")
    try:
        src, chk = os.path.join(tmp, "src"), os.path.join(tmp, "chk")
        originals.repartition(2).write.parquet(src)
        import time as _time

        _time.sleep(1.1)  # later mtime ⇒ later micro-batches (file-source order)
        copies.repartition(2).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        dedup = fingerprint_dedup_stream(stream, watermark="2 hours")
        with _state_partitions(spark), _memory_sink(spark, "st03_sink") as sink:
            q = run_dedup_to_memory_sink(dedup, sink, chk)
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            rows = spark.table(sink).select("fingerprint").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "fingerprint string")


@query(
    "st04_stream_session_equivalence",
    tags="2.10 EV2 STREAM UDF",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, ts, value,
                   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es
            FROM events
        ),
        s AS (
            SELECT user_id, event_id, ts, value, es,
                   CASE WHEN es - LAG(es) OVER w IS NULL
                             OR es - LAG(es) OVER w > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, value, es,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM s
        )
        SELECT user_id,
               CAST(MIN(es) AS BIGINT) AS start_es,
               CAST(MAX(es) AS BIGINT) AS end_es,
               CAST(COUNT(*) AS INT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM sess GROUP BY user_id, session_seq
    """,
)
def st04_stream_session_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STATEFUL operator under the oracle: gap-based
    sessionization via ``applyInPandasWithState`` (streaming/sessions.py)
    run as a REAL multi-micro-batch stream (time-range slices + a
    watermark sentinel), compared against the batch lag-gap-cumsum
    sessionization the oracle computes.

    Equivalence needs time-ordered arrival per key, so the stream's files
    are TIME-RANGE SLICES written in order (slice k+1's minimum ≥ slice
    k's maximum ⇒ nothing is ever late, sessions spanning a slice
    boundary ride the state store); a far-future sentinel user in the
    final file advances the watermark past every open session's
    last+gap deadline, firing the event-time timeouts that flush them.
    The sentinel's own session is excluded from both sides."""
    import time as _time

    from cnics_to_fhir_spark.streaming.sessions import sessionize_stream

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    bounds = ev.agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx"), F.count(F.lit(1)).alias("n")
    ).first()
    mn, mx = bounds["mn"], bounds["mx"]
    span = (mx - mn).total_seconds()
    # Slice count scales DOWN with data volume: the equivalence property is
    # batch-count agnostic (sessions ride the state store across any slice
    # boundary), but each micro-batch pays a fixed toll — a state-store
    # snapshot of every key and one Python dispatch per key with data. At
    # verification SFs four slices exercise more boundaries; at sf10-scale
    # (10M events × 150k keys) two slices halve that toll with identical
    # output (hash-checked at both settings).
    n_slices = 4 if bounds["n"] <= 2_000_000 else 2

    tmp = tempfile.mkdtemp(prefix="st04-")
    try:
        src, chk = os.path.join(tmp, "src"), os.path.join(tmp, "chk")
        # ONE partitioned pass writes all four time-range slices (the
        # previous four filter+coalesce(1) jobs scanned events four times
        # and serialized four single-task parquet encodes behind 1.1 s
        # mtime sleeps — the write phase rivaled the stream itself at
        # sf10). repartition on the slice id lands each slice in exactly
        # one task, so partitionBy still emits ONE file per slice — the
        # invariant that keeps slice == micro-batch — and the file-source
        # arrival order is pinned afterwards with explicit utimes instead
        # of sleeps.
        td = __import__("datetime").timedelta
        cuts = [mn + td(seconds=span * k / n_slices) for k in range(1, n_slices)]
        slc = F.lit(n_slices - 1)
        for k in range(n_slices - 2, -1, -1):
            slc = F.when(F.col("ts") < F.lit(cuts[k]), k).otherwise(slc)
        staging = os.path.join(tmp, "staging")
        ev.withColumn("slc", slc).repartition("slc").write.partitionBy(
            "slc"
        ).parquet(staging)
        os.makedirs(src, exist_ok=True)
        base_t = _time.time()
        for k in range(n_slices):
            (part,) = glob.glob(os.path.join(staging, f"slc={k}", "*.parquet"))
            dst = os.path.join(src, f"slice-{k}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (base_t + k, base_t + k))
        sentinel_ts = mx + td(days=365)
        spark.createDataFrame(
            [(-1, sentinel_ts, 0.0)], "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "sentinel"))
        (sent_part,) = glob.glob(os.path.join(tmp, "sentinel", "*.parquet"))
        sent_dst = os.path.join(src, f"slice-{n_slices}-sentinel.parquet")
        shutil.move(sent_part, sent_dst)
        os.utime(sent_dst, (base_t + n_slices, base_t + n_slices))

        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sessions = sessionize_stream(stream, gap_minutes=30, watermark="1 hour")
        # PARQUET file sink, not memory: the memory sink accumulates every
        # output row ON THE DRIVER and the old collect()+createDataFrame
        # round-tripped them again — 9.5M session rows at sf10 made that
        # driver hop the entry's dominant cost (468 s → the executor-side
        # sink keeps the output distributed end-to-end).  localCheckpoint
        # pins the result before the scratch dir is deleted.
        out_dir = os.path.join(tmp, "out")
        with _state_partitions(spark):
            q = (
                sessions.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", chk)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        out = (
            spark.read.parquet(out_dir)
            .filter(F.col("user_id") >= 0)
            .select(
                F.col("user_id").cast("long"),
                F.unix_timestamp("session_start").alias("start_es"),
                F.unix_timestamp("session_end").alias("end_es"),
                F.col("n_events").cast("int"),
                F.round("total_value", 2).alias("total_value"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st05_stream_stream_join_equivalence",
    tags="2.10 RJ J1 STREAM",
    oracle="""
        SELECT c.event_id AS click_id,
               v.event_id AS view_id,
               c.user_id,
               STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               STRFTIME(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
               ROUND(v.value, 2) AS view_value
        FROM events c JOIN events v
          ON c.user_id = v.user_id
         AND c.event_type = 'click' AND v.event_type = 'view'
         AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def st05_stream_stream_join_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the oracle: clicks and views run
    as TWO separate file streams (two micro-batched sources), joined with
    dual watermarks and an event-time range (streaming/joins.py), and the
    streamed inner-join output must equal the batch range join the oracle
    computes.  An inner stream-stream join emits exactly the rows whose
    partners arrive before state eviction; with the watermark delay
    spanning the event range nothing evicts early, so the streamed union
    over all micro-batches is the full batch answer regardless of
    file→batch interleaving across the two sources — that assignment
    invariance is the property under test (tight-watermark eviction and
    the outer-join expiry path are pinned by tests/test_streaming.py)."""
    ev = table(spark, sf_dir, "events")
    span_days = ev.agg(F.datediff(F.max("ts"), F.min("ts")).alias("d")).first()["d"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("value").alias("v_value"),
    )

    tmp = tempfile.mkdtemp(prefix="st05-")
    try:
        ldir, rdir = os.path.join(tmp, "clicks"), os.path.join(tmp, "views")
        chk = os.path.join(tmp, "chk")
        clicks.repartition(2).write.parquet(ldir)
        views.repartition(2).write.parquet(rdir)
        ls = (
            spark.readStream.schema("click_id long, c_user long, c_ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(ldir)
        )
        rs = (
            spark.readStream.schema(
                "view_id long, v_user long, v_ts timestamp, v_value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(rdir)
        )
        from cnics_to_fhir_spark.streaming.joins import interval_stream_join

        joined = interval_stream_join(
            ls,
            rs,
            key=("c_user", "v_user"),
            ts=("c_ts", "v_ts"),
            within="30 minutes",
            watermark=f"{span_days + 2} days",
        )
        with _state_partitions(spark), _memory_sink(spark, "st05_sink") as sink:
            q = (
                joined.writeStream.outputMode("append")
                .format("memory")
                .queryName(sink)
                .option("checkpointLocation", chk)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            out = spark.table(sink).select(
                "click_id",
                "view_id",
                F.col("c_user").alias("user_id"),
                F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
                F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
                F.round("v_value", 2).alias("view_value"),
            )
            rows = out.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "click_id long, view_id long, user_id long, click_ts string, "
        "view_ts string, view_value double",
    )


@query(
    "st06_stream_restart_equivalence",
    tags="2.10 EV1 STREAM CHECKPOINT",
    oracle="""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def st06_stream_restart_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-recovery equivalence: the st02 tumbling-window aggregation run
    as TWO separate streaming queries against the SAME checkpoint — the
    first query consumes roughly half the events (split by event_id parity,
    so open hourly windows genuinely span the stop) and is STOPPED; a new
    query object then resumes from the checkpoint, consumes the rest plus
    the watermark-flushing sentinel, and the union of both queries' emitted
    windows must hash-match the one-shot batch GROUP BY.  This pins the
    state-store recovery path itself: partial in-flight window sums
    persisted at stop must merge with post-restart arrivals to the exact
    batch totals (clean-run arrival-order invariance is st02's property;
    restart-with-state is this one's).  Both query incarnations run under
    the same pinned state-store partition count — the checkpoint FREEZES
    shuffle.partitions at creation, so a restart under a different session
    default must (and does) keep reading the frozen count."""
    import datetime
    import time as _time

    from cnics_to_fhir_spark.streaming.windows import tumbling_window_stream

    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    stats = ev.agg(
        F.datediff(F.max("ts"), F.min("ts")).alias("d"), F.max("ts").alias("mx")
    ).first()
    sentinel_ts = (stats["mx"] + datetime.timedelta(days=365)).replace(
        minute=0, second=0, microsecond=0
    )
    sentinel = spark.createDataFrame(
        [(sentinel_ts, "__sentinel__", 0.0)], "ts timestamp, event_type string, value double"
    )
    watermark = f"{stats['d'] + 2} days"

    tmp = tempfile.mkdtemp(prefix="st06-")
    try:
        src, chk = os.path.join(tmp, "src"), os.path.join(tmp, "chk")
        half_a = ev.filter(F.col("event_id") % 2 == 0).select("ts", "event_type", "value")
        half_b = ev.filter(F.col("event_id") % 2 == 1).select("ts", "event_type", "value")
        half_a.repartition(2).write.parquet(src)

        # foreachBatch sink, NOT the memory sink: the memory sink refuses to
        # recover from an existing checkpoint ("does not support recovering
        # from checkpoint location"), and checkpoint recovery is precisely
        # what this entry exercises.  foreachBatch is also the production
        # sink shape (streaming/reconcile.py hands plans to the HTTP writer
        # the same way) — the driver-side list is the test harness only.
        def start_query(bucket: list):
            stream = (
                spark.readStream.schema("ts timestamp, event_type string, value double")
                .option("maxFilesPerTrigger", 1)
                .option("latestFirst", "false")
                .parquet(src)
            )
            agg = tumbling_window_stream(stream, width="1 hour", watermark=watermark)

            def sink(batch_df: DataFrame, epoch_id: int) -> None:
                bucket.extend(batch_df.collect())

            return (
                agg.writeStream.outputMode("append")
                .foreachBatch(sink)
                .option("checkpointLocation", chk)
                .start()
            )

        rows_a: list = []
        rows_b: list = []
        with _state_partitions(spark):
            # incarnation 1: half the events, then a hard stop — the
            # watermark spans the range so NO window finalizes yet; all
            # of incarnation 1's aggregation state lives only in the
            # checkpointed state store at this point.
            q1 = start_query(rows_a)
            try:
                q1.processAllAvailable()
            finally:
                q1.stop()

            _time.sleep(1.1)  # strictly later mtimes ⇒ new files form new batches
            half_b.repartition(2).write.mode("append").parquet(src)
            _time.sleep(1.1)
            sentinel.coalesce(1).write.mode("append").parquet(src)

        # incarnation 2 restarts from the checkpoint under a DIFFERENT
        # session shuffle.partitions default, proving the frozen
        # state-store partition count governs recovery, not the session.
        with _state_partitions(spark, 8):
            q2 = start_query(rows_b)
            try:
                q2.processAllAvailable()
            finally:
                q2.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    out_schema = "window_start timestamp, event_type string, n bigint, total_value double"
    emitted = spark.createDataFrame(rows_a + rows_b, out_schema)
    return emitted.filter(F.col("event_type") != "__sentinel__")


@query(
    "st07_stream_incremental_dedup_state",
    tags="2.10 DD STREAM J5",
    oracle="""
        SELECT md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_id
        FROM documents GROUP BY 1
    """,
)
def st07_stream_incremental_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd11's production shape under the oracle: streaming ingest dedup
    against an ACCUMULATING KEEPER TABLE.  Three ordered micro-batches
    (originals split by id range, then an exact copy of every doc under
    +1M ids) run through ``foreachBatch``: within-batch min-id dedup →
    left-anti join against the state table on fingerprint → append the
    genuinely-new keepers.  The final table must hold exactly one row per
    corpus fingerprint with the GLOBAL min doc_id as keeper — cross-batch
    duplicates suppressed by table state (not watermark expiry — st03
    covers that form), within-batch ones by the pre-append agg.

    Determinism: batches are id-RANGE slices in mtime order, so the first
    batch containing a fingerprint also carries its smallest id; copies
    arrive last under larger ids — hence keeper ≡ corpus-wide min and the
    declarative oracle replays the whole streaming run.  At 100 TB the
    state table is the bucketed store dd11 documents (ingest shuffles
    only the batch; the anti-join probes the fingerprint-keyed table),
    and the append is per-micro-batch atomic exactly as here."""
    import time as _time

    from cnics_to_fhir_spark.operators.textanalysis import fingerprint

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    median = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    copies = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")

    db = scratch_name(spark, "st07_state")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    state_tbl = f"{db}.keepers"
    spark.createDataFrame([], "fingerprint string, keeper_id long").write.saveAsTable(
        state_tbl
    )
    tmp = tempfile.mkdtemp(prefix="st07-")
    try:
        src, chk = os.path.join(tmp, "src"), os.path.join(tmp, "chk")
        docs.filter(F.col("doc_id") < median).coalesce(1).write.parquet(src)
        _time.sleep(1.1)  # strictly later mtimes ⇒ ordered micro-batches
        docs.filter(F.col("doc_id") >= median).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        copies.coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def upsert(batch: DataFrame, epoch_id: int) -> None:
            fresh = (
                batch.select(fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
                .groupBy("fingerprint")
                .agg(F.min("doc_id").alias("keeper_id"))
            )
            seen = batch.sparkSession.table(state_tbl).select("fingerprint")
            (
                fresh.join(seen, "fingerprint", "left_anti")
                .write.mode("append")
                .saveAsTable(state_tbl)
            )

        with _state_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(upsert)
                .option("checkpointLocation", chk)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        rows = spark.table(state_tbl).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return spark.createDataFrame(rows, "fingerprint string, keeper_id long")


@query(
    "st08_stream_cdc_table_merge",
    tags="2.10 J6 S-sink STREAM O-layout",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS key, o_totalprice AS val
            FROM orders WHERE year(o_orderdate) = 1996
        ),
        final AS (
            SELECT key,
                   CASE WHEN key % 2 = 1 THEN val + 2.0 ELSE val END AS val
            FROM base WHERE key % 5 <> 0
        )
        SELECT CAST(key % 2 AS INTEGER) AS b,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(val*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM final GROUP BY 1
    """,
)
def st08_stream_cdc_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay through the REAL streaming machinery into the
    copy-on-write table sink: an ordered change log (insert wave → update
    wave → delete wave over 1996's orders) arrives as three micro-batches
    (file source, mtime-ordered like st04, maxFilesPerTrigger=1);
    ``foreachBatch`` applies each to a bucket-partitioned parquet table via
    ``merge_into_table``.  The final TABLE STATE must equal the
    declaratively-computed last-write-wins fold of the log — the oracle
    never sees batches, only the converged answer, so any
    ordering/duplication/partial-apply bug in the streaming path breaks
    the hash.  COW discipline is asserted per batch: the update wave
    touches only odd keys, so batch 2 must rewrite exactly ONE of the two
    bucket partitions; every update/delete must find its key
    (noop_missing_key == 0 — inserts preceded them by construction)."""
    from cnics_to_fhir_spark.load.table_merge import merge_into_table

    base = (
        table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1996)
        .select(
            F.col("o_orderkey").alias("key"),
            F.col("o_totalprice").alias("val"),
            (F.col("o_orderkey") % 2).cast("int").alias("b"),
        )
    )
    slices = [
        base.select(
            "key", F.lit("insert").alias("action"), F.lit(None).cast("string").alias("id"), "val", "b"
        ),
        base.filter(F.col("key") % 2 == 1).select(
            "key", F.lit("update").alias("action"),
            F.col("key").cast("string").alias("id"),
            (F.col("val") + 2.0).alias("val"), "b",
        ),
        base.filter(F.col("key") % 5 == 0).select(
            "key", F.lit("delete").alias("action"),
            F.col("key").cast("string").alias("id"),
            F.lit(None).cast("double").alias("val"), "b",
        ),
    ]

    tmp = tempfile.mkdtemp(prefix="st08-")
    try:
        src = os.path.join(tmp, "cdc")
        chk = os.path.join(tmp, "chk")
        tbl = os.path.join(tmp, "table")
        os.makedirs(src)
        base_t = 1_700_000_000
        for k, sl in enumerate(slices):
            part = os.path.join(tmp, f"slice{k}")
            sl.coalesce(1).write.parquet(part)
            f = next(
                p for p in os.listdir(part) if p.endswith(".parquet")
            )
            dst = os.path.join(src, f"{k:02d}.parquet")
            os.rename(os.path.join(part, f), dst)
            os.utime(dst, (base_t + k, base_t + k))

        applied: list[dict] = []

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            applied.append(
                merge_into_table(
                    spark, tbl, batch_df, key_col="key", partition_col="b",
                    files_per_partition=1,
                )
            )

        stream = (
            spark.readStream.schema(
                "key long, action string, id string, val double, b int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        if len(applied) != 3:
            raise AssertionError(f"expected 3 micro-batches, saw {len(applied)}")
        if applied[1]["partitions_rewritten"] != 1:
            raise AssertionError(
                "COW violated: the odd-keys-only update wave rewrote "
                f"{applied[1]['partitions_rewritten']} partitions, expected 1"
            )
        if any(c["noop_missing_key"] for c in applied):
            raise AssertionError(f"CDC order broken — missing keys: {applied}")

        agg = (
            spark.read.parquet(tbl)
            .groupBy(F.col("b").cast("int").alias("b"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")).alias(
                    "cents"
                ),
            )
        )
        rows = agg.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "b int, n bigint, cents bigint")


@query(
    "st09_stream_quality_gate",
    tags="2.10 DQ A5 STREAM",
    oracle="""
        SELECT 'value_non_negative' AS check, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN COALESCE(NOT (value >= 0), TRUE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
               SUM(CASE WHEN COALESCE(NOT (value >= 0), TRUE)
                        THEN 1 ELSE 0 END) = 0 AS passed
        FROM events
        UNION ALL
        SELECT 'ts_not_null', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) = 0
        FROM events
        UNION ALL
        SELECT 'event_type_known', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN COALESCE(event_type NOT IN
                             ('click','view','purchase','signup','error'), TRUE)
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN COALESCE(event_type NOT IN
                        ('click','view','purchase','signup','error'), TRUE)
                        THEN 1 ELSE 0 END) = 0
        FROM events
    """,
)
def st09_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest quality gate: the dq05 expectation machinery run
    INSIDE foreachBatch — every micro-batch reports its per-check
    violation counts, and the accumulated ledger must equal the one-shot
    batch suite over the whole corpus.  The property under test is
    ADDITIVITY: row-predicate counters are sums, so the report is
    batch-count- and arrival-order-agnostic by construction — which is
    exactly why production streaming DQ ships counters, not per-batch
    verdicts.  (Cross-batch expectations — key uniqueness — are NOT
    additive; they need stateful dedup, st03's machinery, and that
    boundary is the design point this entry documents.)  A REAL
    micro-batch run: 4 parquet files, maxFilesPerTrigger=1
    (operators/quality.py expect_rows inside streaming/foreachBatch)."""
    from cnics_to_fhir_spark.operators import quality

    checks = {
        "value_non_negative": ~(F.col("value") >= 0),
        "ts_not_null": F.col("ts").isNull(),
        "event_type_known": ~F.col("event_type").isin(
            "click", "view", "purchase", "signup", "error"
        ),
    }
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")

    tmp = tempfile.mkdtemp(prefix="st09-")
    try:
        src, chk = os.path.join(tmp, "src"), os.path.join(tmp, "chk")
        ev.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ledger: list = []

        def gate(batch: DataFrame, epoch_id: int) -> None:
            for r in quality.expect_rows(batch, checks).collect():
                ledger.append((r["check"], r["n_rows"], r["n_violations"]))

        q = stream.writeStream.foreachBatch(gate).option(
            "checkpointLocation", chk
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    per_batch = spark.createDataFrame(
        ledger, "check string, n_rows long, n_violations long"
    )
    return per_batch.groupBy("check").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_violations").cast("long").alias("n_violations"),
        (F.sum("n_violations") == 0).alias("passed"),
    )


@query(
    "st10_stream_label_campaign",
    tags="2.10 LB A4 STREAM S-sink",
    oracle="""
        WITH votes AS (
            SELECT event_id % 199 AS item_id, user_id, event_type, ts, event_id
            FROM events
        ),
        latest AS (
            SELECT item_id, user_id, event_type FROM (
                SELECT item_id, user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM votes
            ) WHERE rn = 1
        ),
        hist AS (
            SELECT item_id, event_type AS label, CAST(COUNT(*) AS BIGINT) AS c
            FROM latest GROUP BY 1, 2
        ),
        agg AS (
            SELECT item_id,
                   CAST(SUM(c) AS BIGINT) AS n_votes,
                   CAST(COUNT(*) AS BIGINT) AS n_labels,
                   CAST(SUM(c*(c-1)) AS BIGINT) AS ap
            FROM hist GROUP BY 1
        ),
        win AS (
            SELECT item_id, label, c FROM (
                SELECT item_id, label, c,
                       ROW_NUMBER() OVER (PARTITION BY item_id
                                          ORDER BY c DESC, label ASC) AS rn
                FROM hist
            ) WHERE rn = 1
        )
        SELECT a.item_id, w.label AS winner_label,
               CAST(w.c AS BIGINT) AS winner_votes,
               a.n_votes, a.n_labels,
               CAST(w.c * 1000000 // a.n_votes AS BIGINT) AS winner_share_q,
               CASE WHEN a.n_votes > 1
                    THEN CAST(a.ap * 1000000 // (a.n_votes*(a.n_votes-1)) AS BIGINT)
               END AS pairwise_agree_q
        FROM agg a JOIN win w USING (item_id)
    """,
)
def st10_stream_label_campaign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The label campaign run as a STREAM: votes arrive in three
    micro-batches sliced by ``event_id % 3`` — deliberately NOT in time
    order, so a later batch routinely carries an OLDER vote for a pair a
    previous batch already voted on (878 such cross-batch re-vote pairs
    at sf0.01; the entry asserts the interleave really happened) —
    and ``foreachBatch`` folds each batch into a keyed last-write-wins
    state table: collapse the batch per (item, annotator) by the
    max-(ts, vote_id, label) struct, outer-merge with the prior state by
    the SAME struct max, write state version k (COW: each version is a
    fresh directory, the batch never edits history).  Because struct-max
    is associative and commutative, the folded state is
    arrival-order-agnostic — which is exactly what the oracle pins: it
    computes lb01's one-shot majority over ALL raw votes and must
    hash-match the majorities derived from the streamed state.  An
    arrival-order bug (batch k blindly overwriting) would keep the
    wrong vote wherever the newer one arrived first and break the hash.

    Scale shape: per batch, one keyed collapse of the BATCH (small) + one
    keyed outer-merge against the O(items × annotators) state — the
    compacted vote state, not the raw log; majorities are lb01's two
    map-side aggregations over that state."""
    from cnics_to_fhir_spark.operators.labels import majority_label

    e = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 199).alias("item_id"),
        F.col("user_id").alias("annotator_id"),
        F.col("event_type").alias("label"),
        "ts",
        F.col("event_id").alias("vote_id"),
    )

    tmp = tempfile.mkdtemp(prefix="st10-")
    try:
        src = os.path.join(tmp, "votes")
        chk = os.path.join(tmp, "chk")
        os.makedirs(src)
        base_t = 1_700_000_000
        n_cross = (
            e.groupBy("item_id", "annotator_id")
            .agg(F.countDistinct(F.col("vote_id") % 3).alias("ns"))
            .filter(F.col("ns") > 1)
            .count()
        )
        for k in range(3):
            sl = e.filter(F.col("vote_id") % 3 == k)
            part = os.path.join(tmp, f"slice{k}")
            sl.coalesce(1).write.parquet(part)
            f = next(p for p in os.listdir(part) if p.endswith(".parquet"))
            dst = os.path.join(src, f"{k:02d}.parquet")
            os.rename(os.path.join(part, f), dst)
            os.utime(dst, (base_t + k, base_t + k))

        versions: list[str] = []

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            b = (
                batch_df.groupBy("item_id", "annotator_id")
                .agg(
                    F.max(
                        F.struct("ts", "vote_id", F.col("label").alias("label"))
                    ).alias("_v")
                )
            )
            if versions:
                prior = spark.read.parquet(versions[-1])
                b = prior.unionByName(b).groupBy("item_id", "annotator_id").agg(
                    F.max("_v").alias("_v")
                )
            out = os.path.join(tmp, f"state_v{len(versions)}")
            b.write.parquet(out)
            versions.append(out)

        stream = (
            spark.readStream.schema(
                "item_id long, annotator_id long, label string,"
                " ts timestamp, vote_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        if len(versions) != 3:
            raise AssertionError(f"expected 3 micro-batches, saw {len(versions)}")
        if n_cross == 0:
            raise AssertionError(
                "fixture degenerate: no (item, annotator) pair spans batches —"
                " the cross-batch LWW path was never exercised"
            )
        state = spark.read.parquet(versions[-1])
        votes = state.select("item_id", F.col("_v.label").alias("label"))
        rows = majority_label(votes, ts_col=None).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "item_id long, winner_label string, winner_votes bigint, n_votes bigint,"
        " n_labels bigint, winner_share_q bigint, pairwise_agree_q bigint",
    )


# ---------------------------------------------------------------------------
# st11 — streaming change trickle maintains the SHARDED EXPORT ARTIFACT
# ---------------------------------------------------------------------------
@query(
    "st11_stream_incremental_export",
    tags="2.10 STREAM DS S-sink J6 F18",
    oracle="""
        WITH post AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 211 = 5
                        THEN COALESCE(text, '') || ' [rev2]'
                        ELSE text END AS text,
                   source
            FROM documents
            WHERE doc_id % 211 <> 7
            UNION ALL
            SELECT -doc_id - 1 AS doc_id,
                   'synthetic ' || CAST(doc_id AS VARCHAR) AS text,
                   'synth' AS source
            FROM documents WHERE doc_id % 211 = 11
        ),
        h AS (
            SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS UBIGINT) % 16 AS shard,
                   CAST(('0x' || substring(md5(
                            CAST(doc_id AS VARCHAR) || chr(31)
                            || COALESCE(text, chr(0)) || chr(31)
                            || COALESCE(source, chr(0))), 1, 15))
                        AS UBIGINT) AS rh
            FROM post
        )
        SELECT CAST(shard AS INTEGER) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(rh AS DECIMAL(38,0))) AS VARCHAR) AS checksum
        FROM h GROUP BY 1
    """,
)
def st11_stream_incremental_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ds16's incremental loop under the REAL streaming machinery: the
    training artifact stays continuously fresh while a change trickle
    arrives.  Three change waves (revisions, deletes, fresh docs — ds16's
    delta split across time) land as separate micro-batches
    (file source, maxFilesPerTrigger=1); ``foreachBatch`` applies each to
    the live sharded export via ``update_export``, rewriting only the
    shards that batch touches.  The oracle never sees batches — it
    computes the full post-delta export stats declaratively, so the hash
    pins that N micro-batched in-place updates converge to exactly what
    one from-scratch export of the final corpus produces (ordering,
    duplication, lost-batch, or manifest-patch bugs all break it).
    In-entry asserts: three batches applied, zero noop_missing_key
    (waves are disjoint by construction), the final artifact re-verified
    FROM DISK, and shards no wave touched byte-identical (mtime pin)
    across the whole run (load/corpus_export.py update_export)."""
    from cnics_to_fhir_spark.load.corpus_export import (
        export_shards,
        update_export,
        verify_export,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    waves = [
        docs.filter(F.col("doc_id") % 211 == 5).select(
            "doc_id", F.lit("update").alias("change"),
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" [rev2]")).alias("text"),
            "source",
        ),
        docs.filter(F.col("doc_id") % 211 == 7).select(
            "doc_id", F.lit("delete").alias("change"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("source"),
        ),
        docs.filter(F.col("doc_id") % 211 == 11).select(
            (-F.col("doc_id") - 1).alias("doc_id"),
            F.lit("insert").alias("change"),
            F.concat(F.lit("synthetic "), F.col("doc_id").cast("string")).alias("text"),
            F.lit("synth").alias("source"),
        ),
    ]

    tmp = tempfile.mkdtemp(prefix="st11-")
    try:
        src = os.path.join(tmp, "changes")
        chk = os.path.join(tmp, "chk")
        export_path = os.path.join(tmp, "export")
        os.makedirs(src)
        export_shards(docs, export_path, n_shards=16, key_col="doc_id")
        before = {
            d: {f: os.stat(os.path.join(export_path, d, f)).st_mtime_ns
                for f in os.listdir(os.path.join(export_path, d))}
            for d in os.listdir(export_path) if d.startswith("shard=")
        }

        base_t = 1_700_000_000
        for k, w in enumerate(waves):
            part = os.path.join(tmp, f"wave{k}")
            w.coalesce(1).write.parquet(part)
            f = next(p for p in os.listdir(part) if p.endswith(".parquet"))
            dst = os.path.join(src, f"{k:02d}.parquet")
            os.rename(os.path.join(part, f), dst)
            os.utime(dst, (base_t + k, base_t + k))

        applied: list[dict] = []

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            applied.append(update_export(spark, export_path, batch_df))

        stream = (
            spark.readStream.schema(
                "doc_id long, change string, text string, source string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        if len(applied) != 3:
            raise AssertionError(f"expected 3 micro-batches, saw {len(applied)}")
        if any(c["noop_missing_key"] for c in applied):
            raise AssertionError(f"waves fed absent keys: {applied}")
        manifest = verify_export(spark, export_path)
        moved = set()
        for d, files in before.items():
            p = os.path.join(export_path, d)
            now = (
                {f: os.stat(os.path.join(p, f)).st_mtime_ns for f in os.listdir(p)}
                if os.path.isdir(p) else {}
            )
            if now != files:
                moved.add(d)
        moved |= {d for d in os.listdir(export_path)
                  if d.startswith("shard=") and d not in before}
        ever_rewritten = sum(c["shards_rewritten"] for c in applied)
        if len(moved) > ever_rewritten:
            raise AssertionError(
                f"shards no batch touched moved: {sorted(moved)}, "
                f"batches rewrote {ever_rewritten}"
            )
        rows = [
            (int(k), v["n_rows"], v["checksum"])
            for k, v in manifest["shards"].items()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "shard int, n_rows bigint, checksum string")


# ---------------------------------------------------------------------------
# st12 — the CONSUMER half: streaming verified shard loader
# ---------------------------------------------------------------------------
@query(
    "st12_stream_verified_loader",
    tags="2.10 STREAM S-source DS A5 F18",
    oracle="""
        WITH h AS (
            SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS UBIGINT) % 16 AS shard,
                   CAST(('0x' || substring(md5(
                            CAST(doc_id AS VARCHAR) || chr(31)
                            || COALESCE(text, chr(0)) || chr(31)
                            || COALESCE(source, chr(0))), 1, 15))
                        AS UBIGINT) AS rh
            FROM documents
        )
        SELECT CAST(shard AS INTEGER) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(rh AS DECIMAL(38,0))) AS VARCHAR) AS checksum
        FROM h GROUP BY 1
    """,
)
def st12_stream_verified_loader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st11's producer keeps the sharded export fresh; THIS is the training
    job on the other end: shard-ready announcements arrive as a stream
    (file source, maxFilesPerTrigger=1 → real micro-batches), and every
    announced shard of a micro-batch is verified against the manifest
    BEFORE any shard of that batch is consumed (``verify_shards``: count
    + order-independent content checksum, recomputed from the files in
    chunked pruned scans), so a torn copy or drifted shard fails its
    batch with ZERO side effects instead of training on corrupt rows
    three days later — exactly-once per shard across incarnations for
    verification failures (a failure in the consumer's OWN code mid-batch
    replays that batch at-least-once; epoch_id is passed for dedup).  The
    returned per-shard stats are recomputed FROM THE LOADED ROWS (not
    echoed from the manifest), so the oracle hash pins that what the
    consumer actually read — through 4 micro-batches of 4 shards — is
    byte-equivalent to the corpus the export was built from.  In-entry
    asserts: every shard consumed exactly once, across >1 micro-batch,
    totals match the manifest (load/corpus_export.py
    stream_verified_shards; the tamper-fails-batch-before-any-consume /
    repair-restart-resumes contract is pinned in
    tests/test_corpus_export.py)."""
    from cnics_to_fhir_spark.load.corpus_export import (
        _shard_stats,
        export_shards,
        stream_verified_shards,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    tmp = tempfile.mkdtemp(prefix="st12-")
    try:
        export_path = os.path.join(tmp, "export")
        announce = os.path.join(tmp, "announce")
        chk = os.path.join(tmp, "chk")
        os.makedirs(announce)
        manifest = export_shards(docs, export_path, n_shards=16, key_col="doc_id")

        base_t = 1_700_000_000
        for k in range(4):  # 4 announcement files of 4 shards each
            part = os.path.join(tmp, f"ann{k}")
            spark.createDataFrame(
                [(s,) for s in range(4 * k, 4 * k + 4)], "shard int"
            ).coalesce(1).write.parquet(part)
            f = next(p for p in os.listdir(part) if p.endswith(".parquet"))
            dst = os.path.join(announce, f"{k:02d}.parquet")
            os.rename(os.path.join(part, f), dst)
            os.utime(dst, (base_t + k, base_t + k))

        loaded: list[tuple[int, int, str]] = []

        def consume(shard: int, rows: DataFrame) -> None:
            # the consumer's own aggregation over the rows it was handed —
            # evidence of what was read, not an echo of the manifest
            r = _shard_stats(
                rows, F.col("shard").cast("int"),
                manifest["key_col"], manifest["content_cols"],
            ).collect()[0]
            loaded.append((int(r["shard"]), int(r["n_rows"]), r["checksum"]))

        stream = (
            spark.readStream.schema("shard int")
            .option("maxFilesPerTrigger", 1)
            .parquet(announce)
        )
        q = stream_verified_shards(spark, export_path, stream, chk, consume)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        shards_seen = [s for s, _, _ in loaded]
        if sorted(shards_seen) != sorted(set(shards_seen)) or len(shards_seen) != 16:
            raise AssertionError(f"shards not consumed exactly once: {shards_seen}")
        if sum(n for _, n, _ in loaded) != manifest["total_rows"]:
            raise AssertionError("consumed row total disagrees with the manifest")
        batches = [f for f in os.listdir(os.path.join(chk, "commits"))
                   if not f.startswith(".")]
        if len(batches) != 4:
            raise AssertionError(
                f"expected 4 committed micro-batches, saw {len(batches)}"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(loaded, "shard int, n_rows bigint, checksum string")
