"""fhir_snapshot as a STREAMING source: incremental _lastUpdated tailing,
exactly-once across polls and across a checkpoint restart.  The mock store
understands gt/le _lastUpdated search params (with paging), and the test
mutates its dataset between micro-batches — the cursor must pick up
exactly the delta, never a duplicate."""

from __future__ import annotations

import http.server
import json
import threading
from urllib.parse import parse_qs, urlparse

import pytest

from cnics_to_fhir_spark.session import scratch_name
from cnics_to_fhir_spark.sources.fhir_datasource import FhirSnapshotDataSource

pytest.importorskip("requests")


def _rows(start: int, n: int, t0: int):
    return [
        {
            "resourceType": "Condition",
            "id": f"c{start + i}",
            "subject": {"reference": f"Patient/p{start + i}"},
            "identifier": [{"system": "urn:cnics", "value": f"v-{start + i}"}],
            "meta": {"lastUpdated": f"2024-01-01T00:00:{t0 + i:02d}Z"},
        }
        for i in range(n)
    ]


class _StreamHandler(http.server.BaseHTTPRequestHandler):
    base_url: str = ""
    dataset: list = []
    seen: list = []  # the _lastUpdated values of each request, as parsed

    def do_GET(self):
        q = parse_qs(urlparse(self.path).query)
        _StreamHandler.seen.append(q.get("_lastUpdated", []))
        rows = _StreamHandler.dataset
        for cond in q.get("_lastUpdated", []):
            if cond.startswith("gt"):
                rows = [r for r in rows if r["meta"]["lastUpdated"] > cond[2:]]
            elif cond.startswith("le"):
                rows = [r for r in rows if r["meta"]["lastUpdated"] <= cond[2:]]
        count = int(q.get("_count", ["5"])[0])
        offset = int(q.get("_offset", ["0"])[0])
        page = rows[offset : offset + count]
        bundle = {
            "total": len(rows),
            "entry": [{"resource": r} for r in page],
            "link": [],
        }
        if offset + count < len(rows):
            from urllib.parse import quote

            nxt = (
                f"{_StreamHandler.base_url}/Condition?_format=json"
                f"&_count={count}&_offset={offset + count}"
            )
            for cond in q.get("_lastUpdated", []):
                nxt += f"&_lastUpdated={quote(cond, safe='')}"
            bundle["link"].append({"relation": "next", "url": nxt})
        body = json.dumps(bundle).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/fhir+json")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


@pytest.fixture()
def stream_store():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _StreamHandler)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    _StreamHandler.base_url = base
    _StreamHandler.dataset = []
    _StreamHandler.seen = []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield base
    srv.shutdown()


def _start(spark, base, ckpt, name):
    return (
        spark.readStream.format("fhir_snapshot")
        .option("url", base)
        .option("pageSize", "3")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_stream_tails_exactly_the_delta(spark, stream_store, tmp_path):
    spark.dataSource.register(FhirSnapshotDataSource)
    _StreamHandler.dataset = _rows(0, 5, 0)
    name = scratch_name(spark, "fhir_tail")
    q = _start(spark, stream_store, str(tmp_path / "ckpt"), name)
    try:
        q.processAllAvailable()
        got = [r["id"] for r in spark.sql(f"SELECT id FROM {name}").collect()]
        assert sorted(got) == [f"c{i}" for i in range(5)]

        # the store moves on; the next poll must fetch ONLY the delta
        _StreamHandler.dataset = _StreamHandler.dataset + _rows(5, 3, 10)
        q.processAllAvailable()
        got = [r["id"] for r in spark.sql(f"SELECT id FROM {name}").collect()]
        assert sorted(got) == [f"c{i}" for i in range(8)]  # no dups, no loss

        # idle poll: nothing new, nothing duplicated
        q.processAllAvailable()
        assert spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"] == 8
    finally:
        q.stop()


def _start_files(spark, base, ckpt, out):
    # the memory sink cannot recover from a checkpoint (Spark refuses,
    # loudly) — restart semantics are exercised through the file sink
    return (
        spark.readStream.format("fhir_snapshot")
        .option("url", base)
        .option("pageSize", "3")
        .load()
        .select("id", "last_updated")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_stream_restart_resumes_from_checkpoint(spark, stream_store, tmp_path):
    spark.dataSource.register(FhirSnapshotDataSource)
    _StreamHandler.dataset = _rows(0, 4, 0)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    q = _start_files(spark, stream_store, ckpt, out)
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 4
    finally:
        q.stop()

    # rows land while the stream is down; the restarted query must pick up
    # exactly those — a replayed old row would show up as a duplicate id in
    # the append-mode file sink
    _StreamHandler.dataset = _StreamHandler.dataset + _rows(4, 2, 20)
    q2 = _start_files(spark, stream_store, ckpt, out)
    try:
        q2.processAllAvailable()
        got = [r["id"] for r in spark.read.parquet(out).collect()]
        assert sorted(got) == [f"c{i}" for i in range(6)]  # each exactly once
    finally:
        q2.stop()


def test_replanned_batch_replays_committed_range(spark, stream_store, tmp_path):
    """The replay path (FhirUpdatesStreamReader.readBetweenOffsets): a query
    that wrote its OFFSETS but crashed before the COMMIT marker must, on
    restart, re-read exactly the planned [start, end] range — same rows,
    no loss, no overshoot — so an idempotent sink converges to the same
    state as the uninterrupted run."""
    import glob
    import os

    spark.dataSource.register(FhirSnapshotDataSource)
    _StreamHandler.dataset = _rows(0, 4, 0)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(out)
    batches: dict[int, list[str]] = {}

    def sink(df, batch_id):
        # idempotent per-batch landing: a replayed batch_id overwrites
        rows = [r["id"] for r in df.select("id").collect()]
        batches[batch_id] = sorted(rows)
        df.select("id").write.mode("overwrite").parquet(f"{out}/b{batch_id}")

    def start():
        return (
            spark.readStream.format("fhir_snapshot")
            .option("url", stream_store)
            .option("pageSize", "3")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _StreamHandler.dataset = _StreamHandler.dataset + _rows(4, 2, 20)
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    committed = dict(batches)
    all_ids = sorted(i for ids in committed.values() for i in ids)
    assert all_ids == [f"c{i}" for i in range(6)]

    # simulate a crash between offset write and commit: drop the newest
    # commit marker; restart must REPLAY that batch via readBetweenOffsets
    last_commit = max(
        glob.glob(os.path.join(ckpt, "commits", "*")),
        key=lambda p: int(os.path.basename(p)),
    )
    replay_id = int(os.path.basename(last_commit))
    os.remove(last_commit)
    crc = os.path.join(ckpt, "commits", f".{replay_id}.crc")
    if os.path.exists(crc):  # local-FS checksum sidecar would block rename
        os.remove(crc)
    batches.clear()
    q3 = start()
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    assert replay_id in batches, "restart did not replay the uncommitted batch"
    assert batches[replay_id] == committed[replay_id]  # exact planned range
    final = sorted(
        r["id"]
        for b in glob.glob(f"{out}/b*")
        for r in spark.read.parquet(b).collect()
    )
    assert final == all_ids  # idempotent sink converges to the same state


def test_poll_without_lastupdated_holds_cursor():
    """Entries that all lack meta.lastUpdated (a server that strips meta)
    must hold the offset cursor, not kill the stream with max() over an
    empty sequence."""
    from cnics_to_fhir_spark.sources.fhir_datasource import (
        FhirUpdatesStreamReader,
    )

    rdr = FhirUpdatesStreamReader.__new__(FhirUpdatesStreamReader)
    stripped = [("Condition", "c0", None, None, None, False, None)]
    rdr._fetch = lambda q: stripped
    rows, off = rdr.read({"last_updated": "2024-01-01T00:00:00Z"})
    assert list(rows) == stripped
    assert off == {"last_updated": "2024-01-01T00:00:00Z"}  # held, not lost
    # and a mixed poll still advances to the max present stamp
    mixed = stripped + [
        ("Condition", "c1", None, None, None, False, "2024-01-02T00:00:00Z")
    ]
    rdr._fetch = lambda q: mixed
    _, off2 = rdr.read({"last_updated": "2024-01-01T00:00:00Z"})
    assert off2 == {"last_updated": "2024-01-02T00:00:00Z"}


def test_lastupdated_values_are_percent_encoded(stream_store):
    """A stamp with a ``+00:00`` offset must reach the server as that
    value: an unencoded ``+`` in a query string parses as a space. Covers
    the stream's poll, its replay range and the batch reader's shards."""
    from cnics_to_fhir_spark.sources.fhir import lastupdated_shards
    from cnics_to_fhir_spark.sources.fhir_datasource import (
        FhirUpdatesStreamReader,
    )

    lo, hi = "2024-01-01T00:00:00+00:00", "2024-01-02T00:00:00+01:00"
    rdr = FhirUpdatesStreamReader({"url": stream_store})
    rdr.read({"last_updated": lo})
    list(rdr.readBetweenOffsets({"last_updated": lo}, {"last_updated": hi}))
    assert _StreamHandler.seen == [[f"gt{lo}"], [f"gt{lo}", f"le{hi}"]]
    assert [parse_qs(s)["_lastUpdated"] for s in lastupdated_shards([lo, hi])] == [
        [f"lt{lo}"], [f"ge{lo}", f"lt{hi}"], [f"ge{hi}"]
    ]
