"""HTTP writer tests against in-process mock FHIR servers: transaction
Bundle routing (POST/PUT/DELETE entries), the Patient cascade delete,
patient grouping, the E1-style envelope retry, conditional-create replay
safety and its search escaping, and accumulator counters. local[*]
executors share the process, so a threaded http.server is reachable from
foreachPartition."""

from __future__ import annotations

import http.server
import json
import threading
from urllib.parse import parse_qs

import pytest

from pyspark.sql import functions as F

from cnics_to_fhir_spark.load.http_writer import (
    WriterConfig,
    _if_none_exist,
    group_by_patient,
    patient_full_url,
    write_action_plan,
)

requests = pytest.importorskip("requests")


def _plan(spark):
    return spark.createDataFrame(
        [
            ("Condition", "insert", None, "k1", '{"resourceType":"Condition"}'),
            ("Condition", "update", "c9", "k2", '{"resourceType":"Condition"}'),
            ("Condition", "delete", "c7", "k3", None),
            ("Patient", "delete", "p1", "k4", None),
        ],
        "resource_type string, action string, id string, key string, body_json string",
    ).coalesce(1)


def test_auth_token_roundtrip():
    """S12: client-credentials POST → bearer header tuple; AuthError
    fail-fast on failure (E4)."""
    from cnics_to_fhir_spark.load import auth

    class _AuthHandler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n).decode()
            ok = "grant_type=client_credentials" in body and "client_id=me" in body
            self.send_response(200 if ok else 400)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(json.dumps({"access_token": "tok-123"} if ok else {}).encode())

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _AuthHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}/auth/token"
    try:
        tok = auth.fetch_client_credentials_token(url, "me", "s3cret")
        assert tok == "tok-123"
        assert auth.bearer_headers(tok) == (("Authorization", "Bearer tok-123"),)
        with pytest.raises(auth.AuthError):
            auth.fetch_client_credentials_token(url, "wrong", "creds")
    finally:
        srv.shutdown()


class _BundleRecorder(http.server.BaseHTTPRequestHandler):
    """Bundle-aware mock: POST / with a transaction Bundle applies each
    entry, logging the sub-request, and replies with a transaction-response
    Bundle carrying one response.status per entry.
    ``fail_entries`` forces specific (method, url) entries to 500 —
    exercising the per-entry outcome check under a 200 envelope."""

    bundles: list[dict] = []
    sub_requests: list[tuple[str, str]] = []
    fail_entries: set[tuple[str, str]] = set()
    fail_envelope_next: int = 0

    def do_POST(self):
        n = int(self.headers.get("Content-Length") or 0)
        body = json.loads(self.rfile.read(n).decode())
        if _BundleRecorder.fail_envelope_next > 0:
            _BundleRecorder.fail_envelope_next -= 1
            self.send_response(500)
            self.end_headers()
            self.wfile.write(b"{}")
            return
        assert self.path == "/", f"bundles POST to the base, got {self.path}"
        assert body.get("resourceType") == "Bundle"
        assert body.get("type") == "transaction"
        _BundleRecorder.bundles.append(body)
        out = []
        for ent in body["entry"]:
            req = ent["request"]
            key = (req["method"], req["url"])
            _BundleRecorder.sub_requests.append(key)
            if key in _BundleRecorder.fail_entries:
                out.append({"response": {"status": "500 Internal Server Error"}})
            else:
                status = "201 Created" if req["method"] == "POST" else "200 OK"
                out.append({"response": {"status": status}})
        resp = {
            "resourceType": "Bundle",
            "type": "transaction-response",
            "entry": out,
        }
        self.send_response(200)
        self.send_header("Content-Type", "application/fhir+json")
        self.end_headers()
        self.wfile.write(json.dumps(resp).encode())

    def log_message(self, *args):
        pass


@pytest.fixture()
def bundle_server():
    _BundleRecorder.bundles = []
    _BundleRecorder.sub_requests = []
    _BundleRecorder.fail_entries = set()
    _BundleRecorder.fail_envelope_next = 0
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _BundleRecorder)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


PAT_SYS = "https://cnics.cirg.washington.edu/site-patient-id/"


def _full_url(spark, system: str, value: str) -> str:
    return spark.range(1).select(patient_full_url(F.lit(system), F.lit(value))).first()[0]


def _patient_plan(spark, slices: int | None = None):
    """Two new patients (uw/p1, ucsd/p1 — same value, different systems)
    with two Conditions each, an existing patient's update, and deletes;
    one row per input partition unless ``slices`` says otherwise."""
    rows = [
        ("Condition", "update", "c9", "k2", '{"resourceType":"Condition"}'),
        ("Condition", "delete", "c7", "k3", None),
        ("Patient", "delete", "p0", "k4", None),
    ]
    for site in ("uw", "ucsd"):
        ref = _full_url(spark, PAT_SYS + site, "p1")
        for n in (1, 2):
            rows.append((
                "Condition", "insert", None, f"{site}-dx{n}",
                json.dumps({"resourceType": "Condition", "subject": {"reference": ref}}),
            ))
        rows.append((
            "Patient", "insert", None, "p1",
            json.dumps({"resourceType": "Patient",
                        "identifier": [{"system": PAT_SYS + site, "value": "p1"}]}),
        ))
    rdd = spark.sparkContext.parallelize(rows, slices or len(rows))
    return spark.createDataFrame(
        rdd, "resource_type string, action string, id string, key string, body_json string"
    )


def test_writer_bundle_mode_routes_and_chunks(spark, bundle_server):
    """Bundles are cut only between patients: a new Patient and its
    dependents share one transaction, the Patient first under a fullUrl the
    dependents reference, and a bundle passes ``bundle_size`` only to
    finish the patient it holds."""
    counts = write_action_plan(
        _patient_plan(spark),
        WriterConfig(base_url=bundle_server, retry_sleep_s=0.01, bundle_size=2),
    )
    assert sorted(_BundleRecorder.sub_requests) == sorted(
        [("POST", "Condition")] * 4 + [("POST", "Patient")] * 2 + [
            ("PUT", "Condition/c9"),
            ("DELETE", "Condition/c7"),
            ("DELETE", "Patient/p0?_cascade=delete"),  # cascade survives bundling
        ]
    )
    full_urls = set()
    for b in _BundleRecorder.bundles:
        assert b["type"] == "transaction"
        groups = []  # (group, entries) in bundle order
        for e in b["entry"]:
            ref = e.get("resource", {}).get("subject", {}).get("reference")
            group = e.get("fullUrl") or ref or json.dumps(e["request"])
            if groups and groups[-1][0] == group:
                groups[-1][1].append(e)
            else:
                groups.append((group, [e]))
        assert len({g for g, _ in groups}) == len(groups), "a group is split inside a bundle"
        assert len(b["entry"]) - len(groups[-1][1]) < 2
        for group, ents in groups:
            if group.startswith("urn:uuid:"):
                assert ents[0]["fullUrl"] == group
                assert ents[0]["request"]["method"] == "POST"
                assert ents[0]["resource"]["resourceType"] == "Patient"
                assert len(ents) == 3
                full_urls.add(group)
    # both patients bundled whole, under distinct fullUrls despite the
    # shared SitePatientId
    assert full_urls == {_full_url(spark, PAT_SYS + s, "p1") for s in ("uw", "ucsd")}
    # insert/update entries carry the parsed resource, deletes none
    for e in (e for b in _BundleRecorder.bundles for e in b["entry"]):
        assert ("resource" in e) == (e["request"]["method"] != "DELETE")
    assert counts == {"insert": 6, "update": 1, "delete": 2, "failed": 0}


def test_new_patient_and_dependent_share_one_transaction(spark, bundle_server):
    """The default writer (no bundle_size given) puts a new Patient and its
    Condition, read from different input partitions, in one transaction,
    the Patient first."""
    write_action_plan(_patient_plan(spark), WriterConfig(base_url=bundle_server))
    for site in ("uw", "ucsd"):
        ref = _full_url(spark, PAT_SYS + site, "p1")
        holding = [
            b for b in _BundleRecorder.bundles
            if any(e.get("fullUrl") == ref for e in b["entry"])
        ]
        assert len(holding) == 1 and holding[0]["type"] == "transaction"
        ents = [e for e in holding[0]["entry"]
                if e.get("fullUrl") == ref
                or e.get("resource", {}).get("subject", {}).get("reference") == ref]
        assert [e["resource"]["resourceType"] for e in ents] == [
            "Patient", "Condition", "Condition"]


def test_group_by_patient_spreads_unrelated_rows(spark):
    """Rows that reference no new Patient spread over the partitions:
    deletes in particular must not all land in one."""
    rows = [("Condition", "delete", f"c{i}", f"k{i}", None) for i in range(16)]
    plan = spark.createDataFrame(
        rows, "resource_type string, action string, id string, key string, body_json string"
    )
    parts = group_by_patient(plan).select(F.spark_partition_id().alias("p"))
    assert parts.distinct().count() > 1


def test_writer_bundle_per_entry_failure_fails_task(spark, bundle_server):
    """A 200 envelope with one failed entry inside must raise and count the
    failure — never silently drop a write."""
    _BundleRecorder.fail_entries = {("PUT", "Condition/c9")}
    with pytest.raises(Exception, match="bundle entries failed"):
        write_action_plan(
            _plan(spark),
            WriterConfig(
                base_url=bundle_server, retry_sleep_s=0.01,
                bundle_size=10, max_retries=1,
            ),
        )


def test_writer_bundle_envelope_retry(spark, bundle_server):
    """A 500 on the bundle POST itself retries whole-bundle (E1 parity)."""
    _BundleRecorder.fail_envelope_next = 2
    counts = write_action_plan(
        _plan(spark),
        WriterConfig(base_url=bundle_server, retry_sleep_s=0.01, bundle_size=10),
    )
    assert counts == {"insert": 1, "update": 1, "delete": 2, "failed": 0}
    # the two 500s were retried whole: every entry arrived exactly once
    assert sorted(_BundleRecorder.sub_requests) == sorted([
        ("POST", "Condition"),
        ("PUT", "Condition/c9"),
        ("DELETE", "Condition/c7"),
        ("DELETE", "Patient/p1?_cascade=delete"),
    ])


def test_writer_bundle_post_carries_conditional_create(spark, bundle_server):
    write_action_plan(
        _plan(spark),
        WriterConfig(base_url=bundle_server, retry_sleep_s=0.01, bundle_size=10),
    )
    posts = [
        e
        for b in _BundleRecorder.bundles
        for e in b["entry"]
        if e["request"]["method"] == "POST"
    ]
    # the insert row's key is k1 = identifier[0].value (merge contract)
    assert [e["request"].get("ifNoneExist") for e in posts] == ["identifier=k1"]


def test_writer_bundle_transport_failure_counts_failed(spark, bundle_server):
    """An exhausted envelope retry must increment the failed counter for
    every entry in the chunk."""
    _BundleRecorder.fail_envelope_next = 10**6  # every attempt 500s
    plan = _plan(spark)
    try:
        write_action_plan(
            plan,
            WriterConfig(
                base_url=bundle_server, retry_sleep_s=0.01,
                bundle_size=10, max_retries=2,
            ),
        )
        raise AssertionError("expected the bundle POST to raise")
    except Exception as exc:
        assert "failed after 2 attempts" in str(exc)
    # counters live inside write_action_plan; re-drive at the unit level to
    # observe them: one chunk of 4 rows, transport always failing
    sc = plan.sparkSession.sparkContext
    counters = {a: sc.accumulator(0) for a in ("insert", "update", "delete", "failed")}
    from cnics_to_fhir_spark.load.http_writer import _post_bundle

    session = requests.Session()
    rows = plan.collect()
    with pytest.raises(Exception, match="failed after 2 attempts"):
        _post_bundle(
            session,
            WriterConfig(
                base_url=bundle_server, retry_sleep_s=0.01,
                bundle_size=10, max_retries=2,
            ),
            rows,
            counters,
        )
    assert counters["failed"].value == len(rows)


class _ConditionalStore(http.server.BaseHTTPRequestHandler):
    """Stateful mock honoring conditional create in transactions: a POST
    entry whose ``ifNoneExist`` (decoded with ``parse_qs``) names a stored
    identifier is a 200 no-op, otherwise 201 + store. ``lose_responses``
    transactions are applied and then answered with a 500, as if the
    response were lost after the commit. A transaction creating a key in
    ``fail_keys_once`` is answered with a 500 and applies nothing (a
    transaction is all-or-nothing); the key then succeeds."""

    store: list[str] = []
    transactions = 0
    lose_responses = 0
    fail_keys_once: set[str] = set()

    @classmethod
    def reset(cls, lose_responses=0, fail_keys_once=()):
        cls.store, cls.transactions, cls.lose_responses = [], 0, lose_responses
        cls.fail_keys_once = set(fail_keys_once)

    @staticmethod
    def _key(request: dict) -> str | None:
        cond = request.get("ifNoneExist")
        return None if cond is None else parse_qs(cond)["identifier"][0]

    @classmethod
    def _apply(cls, request: dict) -> str:
        key = cls._key(request)
        if request["method"] != "POST":
            return "200 OK"
        if key is not None and key in cls.store:
            return "200 OK"  # conditional no-op
        cls.store.append(key if key is not None else f"unconditional-{len(cls.store)}")
        return "201 Created"

    def do_POST(self):
        n = int(self.headers.get("Content-Length") or 0)
        body = json.loads(self.rfile.read(n).decode())
        assert self.path == "/" and body["type"] == "transaction"
        _ConditionalStore.transactions += 1
        failing = {self._key(ent["request"]) for ent in body["entry"]} & _ConditionalStore.fail_keys_once
        if failing:
            _ConditionalStore.fail_keys_once -= failing
            self.send_response(500)
            self.end_headers()
            return
        out = [{"response": {"status": self._apply(ent["request"])}} for ent in body["entry"]]
        if _ConditionalStore.lose_responses > 0:
            _ConditionalStore.lose_responses -= 1
            self.send_response(500)
            payload = {}
        else:
            self.send_response(200)
            payload = {"resourceType": "Bundle", "type": "transaction-response", "entry": out}
        self.send_header("Content-Type", "application/fhir+json")
        self.end_headers()
        self.wfile.write(json.dumps(payload).encode())

    def log_message(self, *args):
        pass


@pytest.fixture()
def conditional_store():
    _ConditionalStore.reset()
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _ConditionalStore)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _inserts(spark, bodies: list[tuple[str, str]]):
    return spark.createDataFrame(
        [("Condition", "insert", None, key, body) for key, body in bodies],
        "resource_type string, action string, id string, key string, body_json string",
    ).coalesce(1)


def _colocated_keys(spark, n: int) -> list[str]:
    """``n`` insert keys that ``group_by_patient`` places in one partition,
    in the order that partition sends them: the torn-replay tests need the
    committed and the failing transaction in the same task."""
    plan = _inserts(spark, [(f"k{i}", '{"resourceType":"Condition"}') for i in range(64)])
    by_part: dict[int, list[str]] = {}
    for r in group_by_patient(plan).select("key", F.spark_partition_id().alias("p")).collect():
        by_part.setdefault(r["p"], []).append(r["key"])
    return next(keys[:n] for keys in by_part.values() if len(keys) >= n)


def test_writer_torn_batch_retry_does_not_duplicate(spark, conditional_store):
    """Torn-retry idempotence (SURVEY §7.4's exactly-once-ish risk): a
    partition's first two-entry transaction commits, its second fails
    every attempt, the task raises, and the retried task replays the whole
    partition. Conditional create makes the replayed first transaction a
    server-side no-op — the store converges to exactly one copy per key."""
    keys = _colocated_keys(spark, 4)
    _ConditionalStore.reset(fail_keys_once={keys[2]})
    plan = _inserts(spark, [(k, '{"resourceType":"Condition"}') for k in keys])
    cfg = WriterConfig(base_url=conditional_store, retry_sleep_s=0.01, bundle_size=2, max_retries=1)
    # first attempt: the first transaction commits, the second rolls back
    with pytest.raises(Exception):
        write_action_plan(plan, cfg)
    assert _ConditionalStore.store == keys[:2]
    # simulated task retry replays the whole partition
    counts = write_action_plan(plan, cfg)
    assert counts["failed"] == 0
    # convergence: one copy per key, no duplicates from the replay
    assert sorted(_ConditionalStore.store) == sorted(keys)


def test_writer_torn_per_row_retry_does_not_duplicate(spark, conditional_store):
    """The one-row form of the torn replay: with ``bundle_size=1`` each
    create is a transaction of its own; the partition's second one fails,
    the task raises, and the replay re-POSTs the first, whose
    ``ifNoneExist`` makes it a no-op."""
    keys = _colocated_keys(spark, 3)
    _ConditionalStore.reset(fail_keys_once={keys[1]})
    plan = _inserts(spark, [(k, '{"resourceType":"Condition"}') for k in keys])
    cfg = WriterConfig(base_url=conditional_store, retry_sleep_s=0.01, bundle_size=1, max_retries=1)
    with pytest.raises(Exception):
        write_action_plan(plan, cfg)
    assert _ConditionalStore.store == keys[:1]
    counts = write_action_plan(plan, cfg)
    assert counts["failed"] == 0
    assert sorted(_ConditionalStore.store) == sorted(keys)


def test_writer_lost_transaction_response_does_not_duplicate(spark, conditional_store):
    """Torn-replay idempotence (SURVEY §7.4's exactly-once-ish risk): the
    store commits a transaction but its response is lost, so the writer's
    envelope retry replays the whole transaction. Conditional create makes
    the replayed POSTs no-ops — the store keeps exactly one copy per key.
    The three Conditions reference one new Patient, so they travel in one
    transaction."""
    _ConditionalStore.reset(lose_responses=1)
    body = '{"resourceType":"Condition","subject":{"reference":"urn:uuid:p"}}'
    plan = _inserts(spark, [(k, body) for k in ("k1", "k2", "k3")])
    counts = write_action_plan(plan, WriterConfig(base_url=conditional_store, retry_sleep_s=0.01))
    assert _ConditionalStore.transactions == 2  # the transaction was replayed
    assert counts == {"insert": 3, "update": 0, "delete": 0, "failed": 0}
    assert sorted(_ConditionalStore.store) == ["k1", "k2", "k3"]


def test_conditional_create_is_scoped_by_system(spark, conditional_store):
    """Two sites' Conditions share the record id "dx-1": the condition
    names system and value, so neither create is mistaken for the other
    — and a replay still creates nothing new."""
    bodies = [
        ("dx-1", json.dumps({"resourceType": "Condition",
                             "identifier": [{"system": f"urn:dx/{site}", "value": "dx-1"}]}))
        for site in ("uw", "ucsd")
    ]
    cfg = WriterConfig(base_url=conditional_store, retry_sleep_s=0.01)
    for _ in range(2):
        counts = write_action_plan(_inserts(spark, bodies), cfg)
        assert counts["insert"] == 2 and counts["failed"] == 0
    assert sorted(_ConditionalStore.store) == ["urn:dx/ucsd|dx-1", "urn:dx/uw|dx-1"]


def test_conditional_create_escapes_the_search():
    """System and value come from the source DB. In a token search an
    unescaped ``,`` is an OR and ``|`` splits system from value, and in the
    query string ``&``, ``+`` and ``%`` change the parameters: each is
    escaped (FHIR R4 search.html#escaping) and percent-encoded, so the
    condition is exactly one ``identifier`` parameter naming one
    identifier."""
    cases = [  # (system, value, the decoded parameter)
        ("urn:dx/uw", "a,b", r"urn:dx/uw|a\,b"),
        ("urn:dx/uw", "x&_id=y", "urn:dx/uw|x&_id=y"),
        ("urn:dx/uw", "a+b", "urn:dx/uw|a+b"),
        ("urn:dx/uw", "50%", "urn:dx/uw|50%"),
        ("urn:dx/uw", "p|q", r"urn:dx/uw|p\|q"),
        ("urn:a|b,c", "v", r"urn:a\|b\,c|v"),
        ("urn:dx/uw", r"c\d$e", r"urn:dx/uw|c\\d\$e"),
    ]
    for system, value, param in cases:
        cond = _if_none_exist({"identifier": [{"system": system, "value": value}]}, value)
        assert parse_qs(cond, keep_blank_values=True) == {"identifier": [param]}, cond
    # no identifier: the condition is the plan key, escaped the same way
    assert parse_qs(_if_none_exist({}, "a,b&c")) == {"identifier": [r"a\,b&c"]}
