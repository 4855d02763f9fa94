"""Structured-Streaming reconciliation: a file-source stream of current rows
diffed per micro-batch against a snapshot via foreachBatch — the batch MERGE
code running unchanged in streaming mode (SURVEY.md §2.10)."""

from __future__ import annotations

import pytest

from cnics_to_fhir_spark.streaming.reconcile import reconcile_stream


def test_reconcile_stream_emits_plans(spark, tmp_path):
    src = tmp_path / "stream-src"
    src.mkdir()
    chk = tmp_path / "chk"

    spark.createDataFrame(
        [("k1", "b1"), ("k2", "b2")], "key string, body string"
    ).write.parquet(str(src / "batch0"))

    stream = (
        spark.readStream.schema("key string, body string").parquet(str(src) + "/*")
    )
    snapshot = spark.createDataFrame([("k2", "srv-2"), ("k3", "srv-3")], "key string, id string")

    collected: list[dict] = []

    def sink(plan, epoch_id):
        for r in plan.collect():
            collected.append(r.asDict())

    q = reconcile_stream(
        stream, lambda: snapshot, sink, key="key",
        checkpoint_dir=str(chk), payload_cols=["body"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    actions = {r["key"]: r["action"] for r in collected}
    assert actions == {"k1": "insert", "k2": "update", "k3": "delete"}


def test_watermarked_window_drops_late_rows(spark, tmp_path):
    """Watermark semantics: a window is finalized (and emitted in append
    mode) once the watermark passes its end; rows arriving later than the
    watermark are dropped, bounding state on an unbounded stream."""
    from datetime import datetime

    from cnics_to_fhir_spark.streaming.windows import tumbling_window_stream

    src = tmp_path / "ev-src"
    src.mkdir()
    chk = tmp_path / "ev-chk"
    schema = "ts timestamp, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(
            [(datetime.fromisoformat(t), e, v) for t, e, v in rows], schema
        ).write.parquet(str(src / name))

    # batch 0: two rows in the 10:00 window, one at 12:00 (advances the
    # watermark far past 10:00 once processed)
    write_batch("b0", [
        ("2024-01-01 10:05:00", "click", 1.0),
        ("2024-01-01 10:20:00", "click", 2.0),
        ("2024-01-01 12:00:00", "view", 5.0),
    ])

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = (
        tumbling_window_stream(stream, width="1 hour", watermark="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("win_sink")
        .option("checkpointLocation", str(chk))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 1: a LATE click for the already-finalized 10:00 window +
        # a fresh row advancing time further
        write_batch("b1", [
            ("2024-01-01 10:40:00", "click", 100.0),
            ("2024-01-01 13:30:00", "view", 7.0),
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    out = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("win_sink").collect()
    }
    # 10:00 click window finalized from batch 0 only — the late 100.0 row
    # was dropped, not merged
    assert out[("2024-01-01T10:00:00", "click")] == (2, 3.0)


def test_stateful_sessionization_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: a gap inside a batch closes a
    session immediately; an idle user's open session closes via event-time
    timeout once the watermark passes session_end + gap."""
    from datetime import datetime

    from cnics_to_fhir_spark.streaming.sessions import sessionize_stream

    src = tmp_path / "sess-src"
    src.mkdir()
    chk = tmp_path / "sess-chk"
    schema = "ts timestamp, user_id bigint, event_id bigint, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(
            [(datetime.fromisoformat(t), u, i, "e", v) for t, u, i, v in rows], schema
        ).write.parquet(str(src / name))

    # user 7: two rows 5 min apart, then a row 2 hours later in the same
    # batch → first session closes on the in-batch gap
    write_batch("b0", [
        ("2024-01-01 10:00:00", 7, 1, 1.0),
        ("2024-01-01 10:05:00", 7, 2, 2.0),
        ("2024-01-01 12:00:00", 7, 3, 4.0),
    ])

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_sink")
        .option("checkpointLocation", str(chk))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance watermark far past 12:00+30min via another user, then one
        # more batch so the new watermark is applied to timeouts
        write_batch("b1", [("2024-01-01 15:00:00", 8, 4, 1.0)])
        q.processAllAvailable()
        write_batch("b2", [("2024-01-01 15:10:00", 8, 5, 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["user_id"], r["session_start"].isoformat()): (r["n_events"], r["total_value"])
        for r in spark.table("sess_sink").collect()
    }
    assert got[(7, "2024-01-01T10:00:00")] == (2, 3.0)   # closed by in-batch gap
    assert got[(7, "2024-01-01T12:00:00")] == (1, 4.0)   # closed by timeout


def test_streaming_fingerprint_dedup_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate fingerprints arriving while
    the key's state is live are suppressed across micro-batches; distinct
    texts pass. State expires with the event-time watermark (bounded)."""
    from datetime import datetime

    from cnics_to_fhir_spark.streaming.dedup import (
        fingerprint_dedup_stream,
        run_dedup_to_memory_sink,
    )

    src = tmp_path / "dd-src"
    src.mkdir()
    chk = tmp_path / "dd-chk"
    schema = "ts timestamp, doc_id long, text string"

    def write_batch(name, rows):
        spark.createDataFrame(
            [(datetime.fromisoformat(t), i, x) for t, i, x in rows], schema
        ).write.parquet(str(src / name))

    # b0: same normalized text twice (case/whitespace differ), one distinct
    write_batch("b0", [
        ("2024-01-01 10:00:00", 0, "Hello  World"),
        ("2024-01-01 10:01:00", 1, "hello world"),
        ("2024-01-01 10:02:00", 2, "something else"),
    ])

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = run_dedup_to_memory_sink(
        fingerprint_dedup_stream(stream, watermark="1 hour"), "dd_sink", str(chk)
    )
    try:
        q.processAllAvailable()
        # b1: another duplicate of the first text within the watermark →
        # suppressed; a new text → emitted
        write_batch("b1", [
            ("2024-01-01 10:10:00", 3, "HELLO   WORLD"),
            ("2024-01-01 10:11:00", 4, "brand new"),
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(r["doc_id"] for r in spark.table("dd_sink").collect())
    assert got == [0, 2, 4] or got == [1, 2, 4]  # one survivor per fingerprint
    fps = [r["fingerprint"] for r in spark.table("dd_sink").collect()]
    assert len(fps) == len(set(fps))


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: clicks within 10 min of an
    impression on the same ad match (inner emits on match); with
    left-outer, an unmatched impression is emitted null-padded only after
    the click-side watermark passes its match window."""
    from datetime import datetime

    from cnics_to_fhir_spark.streaming.joins import interval_stream_join

    imp_src = tmp_path / "imp"
    clk_src = tmp_path / "clk"
    imp_src.mkdir()
    clk_src.mkdir()
    imp_schema = "imp_ad string, imp_ts timestamp"
    clk_schema = "clk_ad string, clk_ts timestamp"

    def write(src, schema, name, rows):
        spark.createDataFrame(
            [(a, datetime.fromisoformat(t)) for a, t in rows], schema
        ).write.parquet(str(src / name))

    # a1: click 5 min after impression (match); a2: no click ever;
    # a3: click 30 min later (outside the 10-min window)
    write(imp_src, imp_schema, "b0", [
        ("a1", "2024-01-01 10:00:00"),
        ("a2", "2024-01-01 10:00:00"),
        ("a3", "2024-01-01 10:00:00"),
    ])
    write(clk_src, clk_schema, "b0", [
        ("a1", "2024-01-01 10:05:00"),
        ("a3", "2024-01-01 10:30:00"),
    ])

    imps = spark.readStream.schema(imp_schema).parquet(str(imp_src) + "/*")
    clks = spark.readStream.schema(clk_schema).parquet(str(clk_src) + "/*")
    joined = interval_stream_join(
        imps, clks,
        key=("imp_ad", "clk_ad"), ts=("imp_ts", "clk_ts"),
        within="10 minutes", watermark="5 minutes", how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append").format("memory")
        .queryName("ss_join_sink")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        mid = {r["imp_ad"]: r["clk_ad"] for r in spark.table("ss_join_sink").collect()}
        assert mid.get("a1") == "a1"  # inner match emitted immediately
        assert "a2" not in mid  # outer result held until watermark passes
        # advance both watermarks far past every match window
        write(imp_src, imp_schema, "b1", [("zz", "2024-01-01 12:00:00")])
        write(clk_src, clk_schema, "b1", [("zz", "2024-01-01 12:00:01")])
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r["imp_ad"]: r["clk_ad"] for r in spark.table("ss_join_sink").collect()}
    assert out["a1"] == "a1"
    assert out["a2"] is None  # expired unmatched impression, null-padded
    assert out["a3"] is None  # click outside window — also unmatched


def test_stateful_sessionization_multichunk_group(spark, tmp_path):
    """A group whose micro-batch rows span SEVERAL Arrow chunks must
    sessionize identically to the one-chunk case. Regression for the
    duplicate-index bug the round-6 sf10 sweep caught: pd.concat without
    ignore_index gave chunks duplicate 0-based labels and the label-based
    sort lookup emitted duplicated, misordered sessions (start > end)."""
    from datetime import datetime, timedelta

    from cnics_to_fhir_spark.streaming.sessions import sessionize_stream

    src = tmp_path / "mc-src"
    src.mkdir()
    chk = tmp_path / "mc-chk"
    schema = "ts timestamp, user_id bigint, value double"
    base = datetime.fromisoformat("2024-01-01 00:00:00")
    # 40 events, 1 min apart (one session), written in DESCENDING ts order
    # so sorting is not a no-op; arrow batches of 7 rows -> 6 chunks
    rows = [(base + timedelta(minutes=i), 7, float(i)) for i in range(40)]
    spark.createDataFrame(rows[::-1], schema).coalesce(1).write.parquet(
        str(src / "b0")
    )
    far = base + timedelta(days=30)
    spark.createDataFrame([(far, 8, 0.0)], schema).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(far + timedelta(minutes=1), 8, 0.0)], schema
    ).write.parquet(str(src / "b2"))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = (
            sessionize_stream(stream, gap_minutes=30, watermark="10 minutes")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("mc_sink")
            .option("checkpointLocation", str(chk))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = [
        (r["session_start"], r["session_end"], r["n_events"], r["total_value"])
        for r in spark.table("mc_sink").filter("user_id = 7").collect()
    ]
    assert got == [
        (base, base + timedelta(minutes=39), 40, float(sum(range(40))))
    ]
