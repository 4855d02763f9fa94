"""fhir_snapshot Python data source: schema/row parity with the
mapInPandas path, shard partition planning, and REAL filter pushdown —
the mock store filters server-side and logs what each request asked for,
so the tests can distinguish "pushed to the server" from "applied by
Spark after transfer"."""

from __future__ import annotations

import http.server
import json
import threading
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql import functions as F

from cnics_to_fhir_spark.sources.fhir import snapshot_via_http
from cnics_to_fhir_spark.sources.fhir_datasource import FhirSnapshotDataSource

pytest.importorskip("requests")

DATASET = [
    {
        "resourceType": "Condition",
        "id": f"c{i}",
        "subject": {"reference": f"Patient/p{i}"},
        "identifier": [{"system": "urn:cnics", "value": f"{'a' if i % 2 else 'b'}-{i}"}],
        "_site": "a" if i % 2 else "b",
    }
    for i in range(37)
]


def _token_values(param: str) -> list[str]:
    """A FHIR search parameter's OR alternatives: an unescaped ``,``
    separates them, and ``\\`` escapes the next character
    (search.html#escaping)."""
    alts, cur, chars = [], "", iter(param)
    for c in chars:
        if c == "\\":
            cur += next(chars, "")
        elif c == ",":
            alts.append(cur)
            cur = ""
        else:
            cur += c
    return alts + [cur]


class _FilteringHandler(http.server.BaseHTTPRequestHandler):
    base_url: str = ""
    dataset: list[dict] = DATASET
    requests_seen: list[str] = []
    entries_served: int = 0

    def do_GET(self):
        q = parse_qs(urlparse(self.path).query)
        _FilteringHandler.requests_seen.append(self.path)
        rows = _FilteringHandler.dataset
        if "site" in q:
            rows = [r for r in rows if r["_site"] == q["site"][0]]
        if "subject" in q:
            refs = _token_values(q["subject"][0])
            rows = [r for r in rows if r["subject"]["reference"] in refs]
        if "identifier" in q:
            # a token search matches ANY identifier of the resource
            values = _token_values(q["identifier"][0])
            rows = [r for r in rows if any(i["value"] in values for i in r["identifier"])]
        count = int(q.get("_count", ["5"])[0])
        offset = int(q.get("_offset", ["0"])[0])
        page = rows[offset : offset + count]
        _FilteringHandler.entries_served += len(page)
        bundle = {
            "total": len(rows),
            "entry": [
                {"resource": {k: v for k, v in r.items() if k != "_site"}}
                for r in page
            ],
            "link": [],
        }
        if offset + count < len(rows):
            nxt = f"{_FilteringHandler.base_url}/Condition?_format=json&_count={count}&_offset={offset + count}"
            for param in ("site", "subject", "identifier"):
                if param in q:
                    from urllib.parse import quote

                    nxt += f"&{param}={quote(q[param][0], safe='')}"
            bundle["link"].append({"relation": "next", "url": nxt})
        body = json.dumps(bundle).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/fhir+json")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


@pytest.fixture()
def mock_store():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FilteringHandler)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    _FilteringHandler.base_url = base
    _FilteringHandler.dataset = DATASET
    _FilteringHandler.requests_seen = []
    _FilteringHandler.entries_served = 0
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield base
    srv.shutdown()


@pytest.fixture()
def fhir_format(spark):
    spark.dataSource.register(FhirSnapshotDataSource)
    # Spark refuses to plan a pushFilters-bearing reader with the conf off;
    # the default reader carries pushFilters, so the conf is on for the
    # module (the opt-out path is exercised via option("pushdown","false"))
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    yield "fhir_snapshot"
    spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def _read(spark, base, **opts):
    r = spark.read.format("fhir_snapshot").option("url", base).option("pageSize", "5")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_datasource_matches_mapinpandas_path(spark, mock_store, fhir_format):
    via_ds = _read(spark, mock_store)
    via_mip = snapshot_via_http(spark, mock_store, "Condition", page_size=5)
    # the data source adds last_updated (the streaming cursor column);
    # everything else is byte-identical to the mapInPandas path
    assert via_ds.columns == via_mip.columns + ["last_updated"]
    assert sorted(map(tuple, via_ds.drop("last_updated").collect())) == sorted(
        map(tuple, via_mip.collect())
    )
    assert via_ds.count() == 37


def test_shards_become_partitions(spark, mock_store, fhir_format):
    df = _read(spark, mock_store, shards="site=a,site=b")
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 37  # disjoint shards cover the corpus exactly


def test_equality_filter_is_pushed_to_the_server(spark, mock_store, fhir_format):
    out = (
        _read(spark, mock_store)
        .filter(F.col("subject_ref") == "Patient/p3")
        .collect()
    )
    assert [r["id"] for r in out] == ["c3"]
    # the server saw the translated FHIR search param...
    assert any("subject=Patient%2Fp3" in p for p in _FilteringHandler.requests_seen)
    # ...and therefore transferred ONE entry, not the 37-resource corpus
    assert _FilteringHandler.entries_served == 1


def test_pushdown_opt_out_is_correct_but_unpruned(spark, mock_store, fhir_format):
    out = (
        _read(spark, mock_store, pushdown="false")
        .filter(F.col("subject_ref") == "Patient/p3")
        .collect()
    )
    assert [r["id"] for r in out] == ["c3"]
    assert not any("subject=" in p for p in _FilteringHandler.requests_seen)
    assert _FilteringHandler.entries_served == 37  # full transfer, Spark filters


def test_unsupported_filter_stays_residual(spark, mock_store, fhir_format):
    # startswith is not in the pushdown map: it must come back correct via
    # Spark's residual evaluation, with no bogus search param sent
    out = (
        _read(spark, mock_store)
        .filter(F.col("identifier_0_value").startswith("a-1"))
        .collect()
    )
    want = {r["identifier"][0]["value"] for r in DATASET if r["identifier"][0]["value"].startswith("a-1")}
    assert {r["identifier_0_value"] for r in out} == want
    assert not any("identifier=" in p for p in _FilteringHandler.requests_seen)


def test_pushdown_composes_with_shards(spark, mock_store, fhir_format):
    # sharded partition planning and a pushed equality must intersect:
    # each shard's chain carries BOTH its shard fragment and the pushed param
    out = (
        _read(spark, mock_store, shards="site=a,site=b")
        .filter(F.col("subject_ref") == "Patient/p4")
        .collect()
    )
    assert [r["id"] for r in out] == ["c4"]
    both = [p for p in _FilteringHandler.requests_seen if "subject=" in p and "site=" in p]
    assert len(both) >= 2  # every shard pushed the param


def test_pushed_identifier_only_prunes(spark, mock_store, fhir_format):
    """FHIR ``identifier=v`` matches ANY identifier of a resource, and an
    unescaped ``,`` is an OR: the pushed search is escaped and only prunes
    the transfer, while Spark still decides which rows match identifier[0]."""
    _FilteringHandler.dataset = DATASET + [
        {"resourceType": "Condition", "id": "x1", "subject": {"reference": "Patient/x1"},
         "identifier": [{"system": "urn:cnics", "value": "x-1"},
                        {"system": "urn:other", "value": "a-3"}],
         "_site": "a"},
        {"resourceType": "Condition", "id": "x2", "subject": {"reference": "Patient/x2"},
         "identifier": [{"system": "urn:cnics", "value": "a-5,a-7"}],
         "_site": "b"},
    ]
    out = _read(spark, mock_store).filter(F.col("identifier_0_value") == "a-3").collect()
    assert [r["id"] for r in out] == ["c3"]
    assert _FilteringHandler.entries_served == 2  # c3 and x1: pruned, then rechecked
    _FilteringHandler.entries_served = 0
    out = _read(spark, mock_store).filter(F.col("identifier_0_value") == "a-5,a-7").collect()
    assert [r["id"] for r in out] == ["x2"]
    assert any("identifier=a-5%5C%2Ca-7" in p for p in _FilteringHandler.requests_seen)
    assert _FilteringHandler.entries_served == 1
