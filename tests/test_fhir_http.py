"""S6 — partition-parallel FHIR snapshot fetch against a paginating mock
server.

The reference fetches every page through one serial cursor and dodges
pagination entirely with ``_count=50000`` (cnics_to_fhir.py:215-217). Our
``snapshot_via_http`` shards the search (e.g. per site / per _lastUpdated
range) so each shard's ``next``-link chain walks on its own Spark task.
local[*] executors share the process, so a threaded http.server is
reachable from mapInPandas workers; the handler counts the GETs of each
page so the tests can prove every page was fetched exactly once.
"""

from __future__ import annotations

import http.server
import json
import re
import threading
from collections import Counter
from functools import reduce
from urllib.parse import parse_qs, quote, urlparse

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cnics_to_fhir_spark.sources.fhir import (
    lastupdated_shards,
    site_shards,
    snapshot_from_bundles,
    snapshot_via_http,
)
from cnics_to_fhir_spark.sources.fhir_datasource import FhirUpdatesStreamReader

pytest.importorskip("requests")

SYSTEM_BASE = "https://cnics.example/site-patient-id/"

# 37 resources across two sites — with page size 5, site 'a' has 4 pages
# and site 'b' has 4 pages, so every shard genuinely paginates. As in the
# engine, the site is the tail of the identifier system.
DATASET = [
    {"resourceType": "Condition", "id": f"c{i}",
     "subject": {"reference": f"Patient/p{i}"},
     "identifier": [{"system": SYSTEM_BASE + ("a" if i % 2 else "b"),
                     "value": f"{'a' if i % 2 else 'b'}-{i}"}],
     "_site": "a" if i % 2 else "b"}
    for i in range(37)
]


def _system_matches(r: dict, token: str) -> bool:
    """FHIR ``identifier=[system]|``: any identifier in that system."""
    assert token.endswith("|"), "this mock serves only the [system]| form"
    system = re.sub(r"\\(.)", r"\1", token[:-1])
    return any(i.get("system") == system for i in r.get("identifier") or [])


class _PagingHandler(http.server.BaseHTTPRequestHandler):
    gets: Counter = Counter()  # GETs per page URL
    base_url: str = ""

    def do_GET(self):
        _PagingHandler.gets[self.path] += 1
        q = parse_qs(urlparse(self.path).query)
        site = q.get("site", [None])[0]
        ident = q.get("identifier", [None])[0]
        count = int(q.get("_count", ["5"])[0])
        offset = int(q.get("_offset", ["0"])[0])
        rows = [r for r in DATASET
                if (site is None or r["_site"] == site)
                and (ident is None or _system_matches(r, ident))]
        page = rows[offset : offset + count]
        bundle = {
            "total": len(rows),
            "entry": [{"resource": {k: v for k, v in r.items() if k != "_site"}}
                      for r in page],
            "link": [],
        }
        if offset + count < len(rows):
            nxt = (f"{_PagingHandler.base_url}/Condition?_format=json"
                   f"&_count={count}&_offset={offset + count}")
            if site:
                nxt += f"&site={site}"
            if ident:
                nxt += f"&identifier={quote(ident, safe='')}"
            bundle["link"].append({"relation": "next", "url": nxt})
        body = json.dumps(bundle).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/fhir+json")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence
        pass


@pytest.fixture()
def mock_fhir():
    _PagingHandler.gets = Counter()
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _PagingHandler)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    _PagingHandler.base_url = base
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield base
    srv.shutdown()


def test_sharded_fetch_matches_serial(spark, mock_fhir):
    serial = snapshot_via_http(spark, mock_fhir, "Condition", page_size=5)
    sharded = snapshot_via_http(
        spark, mock_fhir, "Condition", page_size=5, shards=["site=a", "site=b"]
    )
    s_rows = sorted(r["id"] for r in serial.collect())
    p_rows = sorted(r["id"] for r in sharded.collect())
    assert s_rows == p_rows == sorted(f"c{i}" for i in range(37))


def test_shards_fetch_on_separate_tasks(spark, mock_fhir):
    sharded = snapshot_via_http(
        spark, mock_fhir, "Condition", page_size=5,
        shards=site_shards(["a", "b"], SYSTEM_BASE),
    )
    # one mapInPandas partition per shard
    assert sharded.rdd.getNumPartitions() == 2
    rows = sharded.select("identifier_0_system", F.spark_partition_id().alias("p")).collect()
    assert len(rows) == 37
    # each site's chain was walked by one task, and the two sites by two
    # different tasks — the fetch was partition-parallel, not one cursor
    parts: dict[str, set[int]] = {}
    for r in rows:
        parts.setdefault(r["identifier_0_system"], set()).add(r["p"])
    assert sorted(parts) == [SYSTEM_BASE + "a", SYSTEM_BASE + "b"]
    assert all(len(p) == 1 for p in parts.values())
    assert len(set().union(*parts.values())) == 2
    # 19 + 18 rows at page size 5: 4 pages per site, each GET served once
    assert len(_PagingHandler.gets) == 8
    assert set(_PagingHandler.gets.values()) == {1}


def test_snapshot_union_keeps_one_task_per_url(spark, mock_fhir):
    """The per-type frames of one snapshot walk their chains concurrently:
    a union of one-URL frames keeps one non-empty partition per URL (under
    ``spark.sql.unionOutputPartitioning`` a union of frames that each
    report ``SinglePartition`` runs as one task), and a sharded frame keeps
    one partition per shard, an empty shard included, up to a thousand."""
    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    serial = snapshot_via_http(spark, mock_fhir, "Condition", page_size=5)
    union = reduce(DataFrame.unionByName, [
        snapshot_via_http(spark, mock_fhir, "Condition", page_size=5, shards=[f"site={s}"])
        for s in ("a", "b")
    ])
    assert [len(p) for p in union.rdd.glom().collect()] == [18, 19]
    assert rows(union) == rows(serial)
    three = snapshot_via_http(
        spark, mock_fhir, "Condition", page_size=5, shards=["site=a", "site=b", "site=c"]
    )
    assert three.rdd.getNumPartitions() == 3
    assert rows(three) == rows(serial)
    many = [f"site={i}" for i in range(1000)]  # planned only, never fetched
    assert snapshot_via_http(spark, mock_fhir, "Condition", shards=many).rdd.getNumPartitions() == 1000


def test_pagination_walks_all_next_links(spark, mock_fhir):
    # 37 rows at page size 5 → 8 pages on the unsharded chain
    df = snapshot_via_http(spark, mock_fhir, "Condition", page_size=5)
    assert df.count() == 37
    assert {r["resource_type"] for r in df.collect()} == {"Condition"}


def test_max_pages_with_a_pending_next_link_raises(spark, mock_fhir):
    """Stopping at ``max_pages`` with a ``next`` link pending must fail:
    a silently truncated snapshot reads as deletions, and a stream cursor
    would advance past resources it never read."""
    with pytest.raises(Exception, match="max_pages=2"):
        snapshot_via_http(spark, mock_fhir, "Condition", page_size=5, max_pages=2).collect()
    rdr = FhirUpdatesStreamReader({"url": mock_fhir, "pagesize": "5", "maxpages": "2"})
    with pytest.raises(RuntimeError, match="max_pages=2"):
        rdr.read({"last_updated": "2024-01-01T00:00:00Z"})
    # a chain that fits is read whole
    assert snapshot_via_http(spark, mock_fhir, "Condition", page_size=5, max_pages=8).count() == 37


def test_site_shards_partition_the_corpus(spark, mock_fhir):
    """``site_shards`` builds the ``identifier=[system]|`` search: the two
    site shards are disjoint and together equal the unsharded read."""
    shards = site_shards(["A", "b"], SYSTEM_BASE)
    per_site = [
        sorted(map(tuple, snapshot_via_http(
            spark, mock_fhir, "Condition", page_size=5, shards=[s]).collect()))
        for s in shards
    ]
    assert all(per_site)
    assert not set(per_site[0]) & set(per_site[1])
    unsharded = snapshot_via_http(spark, mock_fhir, "Condition", page_size=5).collect()
    assert sorted(per_site[0] + per_site[1]) == sorted(map(tuple, unsharded))


def test_shard_helpers():
    lu = lastupdated_shards(["2020-01-01", "2021-01-01"])
    assert lu == [
        "_lastUpdated=lt2020-01-01",
        "_lastUpdated=ge2020-01-01&_lastUpdated=lt2021-01-01",
        "_lastUpdated=ge2021-01-01",
    ]
    # the system is escaped and percent-encoded; the trailing | is the
    # [system]| form, not part of the system
    assert site_shards(["U,W"], "urn:s/") == ["identifier=urn%3As%2Fu%5C%2Cw|"]
    with pytest.raises(ValueError, match="non-empty"):
        lastupdated_shards([])


# Bundles that exercise every shape the row mapping has to agree on with
# snapshot_from_bundles (the from_json path): identifier absent, empty,
# null or without a system; no subject; an entry without a resource; a
# page without ``entry``; and a type whose search finds nothing.
PAGES = {
    "Condition": [
        {"resourceType": "Bundle", "type": "searchset", "entry": [
            {"resource": {"resourceType": "Condition", "id": "n1",
                          "subject": {"reference": "Patient/1"}}},
            {"resource": {"resourceType": "Condition", "id": "n2", "identifier": []}},
            {"resource": {"resourceType": "Condition", "id": "n3", "identifier": None}},
            {"resource": {"resourceType": "Condition", "id": "n4",
                          "identifier": [{"value": "v4"}]}},
            {"resource": {"resourceType": "Condition", "id": "n5",
                          "identifier": [{"system": "s", "value": "v5"},
                                         {"system": "t", "value": "w5"}]}},
            {"fullUrl": "urn:uuid:no-resource", "search": {"mode": "match"}},
        ]},
        {"resourceType": "Bundle", "type": "searchset"},
        {"resourceType": "Bundle", "type": "searchset", "entry": [
            {"resource": {"resourceType": "Condition", "id": "n6",
                          "subject": {"reference": "Patient/6"},
                          "identifier": [{"system": "s", "value": "v6"}]}},
        ]},
    ],
    "Observation": [{"resourceType": "Bundle", "type": "searchset", "total": 0}],
}


class _PagesHandler(http.server.BaseHTTPRequestHandler):
    base_url: str = ""
    served: list[str] = []

    def do_GET(self):
        url = urlparse(self.path)
        rtype = url.path.strip("/")
        page = int(parse_qs(url.query).get("_page", ["0"])[0])
        bundle = dict(PAGES[rtype][page])
        if page + 1 < len(PAGES[rtype]):
            bundle["link"] = [{"relation": "next", "url":
                               f"{_PagesHandler.base_url}/{rtype}?_format=json&_page={page + 1}"}]
        body = json.dumps(bundle)
        _PagesHandler.served.append(body)
        self.send_response(200)
        self.send_header("Content-Type", "application/fhir+json")
        self.end_headers()
        self.wfile.write(body.encode())

    def log_message(self, *args):
        pass


def test_http_rows_equal_bundle_rows(spark):
    """Over the same served Bundles, ``snapshot_via_http``'s worker-built
    rows equal ``snapshot_from_bundles``' from_json rows."""
    _PagesHandler.served = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _PagesHandler)
    _PagesHandler.base_url = f"http://127.0.0.1:{srv.server_address[1]}"
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        via_http = snapshot_via_http(spark, _PagesHandler.base_url, "Condition").unionByName(
            snapshot_via_http(spark, _PagesHandler.base_url, "Observation")
        )
        got = Counter(map(tuple, via_http.collect()))
    finally:
        srv.shutdown()
    assert len(_PagesHandler.served) == 4
    bundles = spark.createDataFrame([(b,) for b in _PagesHandler.served], "bundle_json string")
    ref = snapshot_from_bundles(bundles)
    assert via_http.schema.simpleString() == ref.schema.simpleString()
    assert got == Counter(map(tuple, ref.collect()))
    assert sum(got.values()) == 7  # six resources and the resource-less entry
