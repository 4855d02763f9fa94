"""Config-driven job dispatch (entry point 1): INI parsing semantics and a
one-site end-to-end run producing the combined action plan."""

from __future__ import annotations

import datetime

import pytest

from cnics_to_fhir_spark import job as jobmod
from cnics_to_fhir_spark.config import JobSpec, parse_job_config, parse_settings
from cnics_to_fhir_spark.schemas import DEMOGRAPHIC, DIAGNOSIS, FHIR_SNAPSHOT, PRO

JOB_INI = """
[JobList]
Job_1 = "uw,ucsd:cnics_prod:conditions,observations"
Job_2 = "jh:cnics_prod:medicationrequests"
"""

SETTINGS_INI = """
[Main]
PatCnt = "1000"
CrosswalkFile = "UW_patient_Crosswalk.csv"

[Filters]
ConditionsFilter = "DiagnosisName in ('E11.9', 'COPD') or DiagnosisName like 'E10.%'"
ObservationsFilter = "TestName in ('Hemoglobin A1C')"
"""


def test_parse_job_config_splits_like_reference():
    jobs = parse_job_config(JOB_INI)
    assert jobs[0].sites == ("uw", "ucsd")
    assert jobs[0].db_name == "cnics_prod"
    assert jobs[0].resources == ("conditions", "observations")
    assert jobs[1].sites == ("jh",) and jobs[1].resources == ("medicationrequests",)


def test_parse_settings_strips_quotes():
    s = parse_settings(SETTINGS_INI)
    assert s.pat_cnt == 1000
    assert s.conditions_filter_sql.startswith("DiagnosisName in")
    assert s.observations_filter_sql == "TestName in ('Hemoglobin A1C')"
    assert s.crosswalk_path == "UW_patient_Crosswalk.csv"
    assert s.medications_filter_sql is None


def test_run_job_one_site_end_to_end(spark):
    settings = parse_settings(SETTINGS_INI)
    job = parse_job_config(JOB_INI)[0]

    patient = spark.createDataFrame(
        [(10, bytearray(b"sp-10"), "uw"), (11, bytearray(b"sp-11"), "uw"), (12, bytearray(b"sp-12"), "ucsd")],
        "PatientId long, SitePatientId binary, Site string",
    )
    demo = spark.createDataFrame(
        [(1, None, None, 10, None, None, "Female", "Black", "No"),
         (2, None, None, 11, None, None, "Male", "White", "Yes"),
         (3, None, None, 12, None, None, "Male", "Asian", "No")],
        DEMOGRAPHIC,
    )
    dx = spark.createDataFrame(
        [(1, None, None, 10, bytearray(b"dx-1"), datetime.date(2020, 1, 1),
          "Verified clinical diagnosis", "E11.9"),
         (2, None, None, 10, bytearray(b"dx-2"), datetime.date(2020, 1, 1),
          "Source unknown", "not-in-filter")],
        DIAGNOSIS,
    )
    snapshot = spark.createDataFrame(
        [
            ("Patient", "hapi-10", None,
             "https://cnics.cirg.washington.edu/site-patient-id/uw", "sp-10", True),
            # another site's resource — must NOT be deleted by this job's sites
            ("Patient", "hapi-99", None,
             "https://cnics.cirg.washington.edu/site-patient-id/jh", "sp-99", True),
        ],
        FHIR_SNAPSHOT,
    )
    empty_pro = spark.createDataFrame([], PRO)
    empty = {
        "Lab": spark.createDataFrame(
            [], "LabId long, f1 string, Historical string, PatientId long, SiteRecordId string, "
                "TestName string, Result string, Units string, f8 string, CollectionDate timestamp, "
                "RefRangeLow string, RefRangeHigh string"),
        "ProPatients": spark.createDataFrame([], "PatientID long, MRN string"),
        "ProSessions": spark.createDataFrame([], "SessionID string, PatientID long"),
        "Crosswalk": spark.createDataFrame([], "SitePatientId string, hmrn string, umrn string"),
        "StandardDiagnoses": spark.createDataFrame([("COPD",)], "code string"),
    }

    def tables_for_site(site):
        t = {"Patient": patient, "Demographic": demo, "Diagnosis": dx,
             "Pro": empty_pro, "Snapshot": snapshot, **empty}
        return lambda name: t[name]

    plan = jobmod.run_job(spark, job, settings, tables_for_site)
    rows = [r.asDict() for r in plan.collect()]

    pat = {r["key"]: r for r in rows if r["resource_type"] == "Patient"}
    # uw site: sp-10 exists → update; sp-11 new → insert. ucsd: sp-12 insert.
    assert pat["sp-10"]["action"] == "update" and pat["sp-10"]["site"] == "uw"
    assert pat["sp-11"]["action"] == "insert"
    assert pat["sp-12"]["action"] == "insert" and pat["sp-12"]["site"] == "ucsd"

    assert "sp-99" not in pat  # other-site resource untouched (site scoping)

    cond = {r["key"]: r for r in rows if r["resource_type"] == "Condition"}
    assert list(cond) == ["dx-1"]  # filter dropped 'not-in-filter' (P6)
    # existing Patient id resolved; subject uses the server id
    assert '"Patient/hapi-10"' in cond["dx-1"]["body_json"]
    # no MedicationRequest rows — job gates them off (P10)
    assert not [r for r in rows if r["resource_type"] == "MedicationRequest"]


@pytest.mark.parametrize("bundle_size", [0, 3])
def test_run_job_write_readback_converges(spark, bundle_size):
    """The reference's implicit convergence contract
    (cnics_to_fhir.py:914-925): extract → plan → WRITE to the store →
    re-snapshot the store → run again.  Run 2 must produce ZERO inserts and
    ZERO deletes (updates recur by design — the reference re-PUTs every
    present-in-both key unconditionally, :556-560), and because updates are
    id-matched PUTs, re-applying them must leave the store byte-identical:
    run 3's store state == run 2's.  Uses a STATEFUL in-process mock FHIR
    server (POST assigns ids, PUT/DELETE mutate) — the full
    extract→plan→write→re-read loop, not just the mocked method routing of
    tests/test_writer.py.  Parametrized over both writer transports:
    per-row requests and transaction-Bundle mode (bundle_size=3) — the
    fixpoint must hold identically under bundled writes, and in bundle mode
    no placeholder reference is left after the first run."""
    import http.server
    import json as jsonmod
    import threading

    pytest.importorskip("requests")
    from cnics_to_fhir_spark.load.http_writer import WriterConfig

    store: dict[tuple[str, str], str] = {}
    lock = threading.Lock()
    seq = iter(range(1, 10_000))

    class _Store(http.server.BaseHTTPRequestHandler):
        def _reply(self, obj):
            body = jsonmod.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/fhir+json")
            self.end_headers()
            self.wfile.write(body)

        def _apply_bundle(self, bundle):
            """Applies a transaction, first giving every POST entry its id
            so that references to an entry's ``fullUrl: urn:uuid:`` resolve
            to it (FHIR R4 bundle.html#references)."""
            out, ids, refs = [], {}, {}
            with lock:
                for i, ent in enumerate(bundle["entry"]):
                    if ent["request"]["method"] == "POST":
                        ids[i] = f"srv-{next(seq)}"
                        if ent.get("fullUrl", "").startswith("urn:uuid:"):
                            refs[ent["fullUrl"]] = f"{ent['request']['url']}/{ids[i]}"
            for i, ent in enumerate(bundle["entry"]):
                req = ent["request"]
                method, url = req["method"], req["url"].split("?")[0]
                text = jsonmod.dumps(ent.get("resource"))
                for full_url, ref in refs.items():
                    text = text.replace(f'"{full_url}"', f'"{ref}"')
                with lock:
                    if method == "POST":
                        store[(url, ids[i])] = text
                        out.append({"response": {"status": "201 Created"}})
                    elif method == "PUT":
                        rtype, rid = url.split("/")
                        store[(rtype, rid)] = text
                        out.append({"response": {"status": "200 OK"}})
                    elif method == "DELETE":
                        rtype, rid = url.split("/")
                        store.pop((rtype, rid), None)
                        out.append({"response": {"status": "200 OK"}})
            self._reply(
                {"resourceType": "Bundle", "type": "transaction-response", "entry": out}
            )

        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n).decode()
            if self.path == "/":
                parsed = jsonmod.loads(body)
                assert parsed.get("resourceType") == "Bundle"
                self._apply_bundle(parsed)
                return
            rtype = self.path.strip("/")
            with lock:
                rid = f"srv-{next(seq)}"
                store[(rtype, rid)] = body
            self._reply({"id": rid})

        def do_PUT(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n).decode()
            rtype, rid = self.path.strip("/").split("/")
            with lock:
                store[(rtype, rid)] = body
            self._reply({"id": rid})

        def do_DELETE(self):
            path = self.path.split("?")[0]
            rtype, rid = path.strip("/").split("/")
            with lock:
                store.pop((rtype, rid), None)
            self._reply({})

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Store)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base_url = f"http://127.0.0.1:{srv.server_address[1]}"

    def snapshot_from_store():
        """Re-read the store into the FHIR_SNAPSHOT shape (the bulk-scan
        S5 path's output, parsed from the stored resource bodies)."""
        rows = []
        with lock:
            items = list(store.items())
        for (rtype, rid), body in items:
            res = jsonmod.loads(body)
            ident = res.get("identifier") or []
            rows.append(
                (
                    rtype,
                    rid,
                    (res.get("subject") or {}).get("reference"),
                    ident[0]["system"] if ident else None,
                    ident[0]["value"] if ident else None,
                    bool(ident),
                )
            )
        return spark.createDataFrame(rows, FHIR_SNAPSHOT)

    settings = parse_settings(SETTINGS_INI)
    job = JobSpec(sites=("uw",), db_name="cnics_prod", resources=("conditions",))
    patient = spark.createDataFrame(
        [(10, bytearray(b"sp-10"), "uw"), (11, bytearray(b"sp-11"), "uw")],
        "PatientId long, SitePatientId binary, Site string",
    )
    demo = spark.createDataFrame(
        [(1, None, None, 10, None, None, "Female", "Black", "No"),
         (2, None, None, 11, None, None, "Male", "White", "Yes")],
        DEMOGRAPHIC,
    )
    dx = spark.createDataFrame(
        [(1, None, None, 10, bytearray(b"dx-1"), datetime.date(2020, 1, 1),
          "Verified clinical diagnosis", "E11.9"),
         (2, None, None, 11, bytearray(b"dx-2"), datetime.date(2021, 6, 1),
          "Verified clinical diagnosis", "COPD")],
        DIAGNOSIS,
    )
    empty_pro = spark.createDataFrame([], PRO)
    empty = {
        "Lab": spark.createDataFrame(
            [], "LabId long, f1 string, Historical string, PatientId long, SiteRecordId string, "
                "TestName string, Result string, Units string, f8 string, CollectionDate timestamp, "
                "RefRangeLow string, RefRangeHigh string"),
        "ProPatients": spark.createDataFrame([], "PatientID long, MRN string"),
        "ProSessions": spark.createDataFrame([], "SessionID string, PatientID long"),
        "Crosswalk": spark.createDataFrame([], "SitePatientId string, hmrn string, umrn string"),
        "StandardDiagnoses": spark.createDataFrame([("COPD",)], "code string"),
    }
    # a stale Condition nothing extracts anymore → run 1 must DELETE it
    store[("Condition", "srv-stale")] = jsonmod.dumps(
        {
            "resourceType": "Condition",
            "identifier": [
                {
                    "system": "https://cnics.cirg.washington.edu/diagnosis/site-record-id/uw",
                    "value": "dx-gone",
                }
            ],
        }
    )

    def tables_for_site(site):
        snap = snapshot_from_store()
        t = {"Patient": patient, "Demographic": demo, "Diagnosis": dx,
             "Pro": empty_pro, "Snapshot": snap, **empty}
        return lambda name: t[name]

    cfg = WriterConfig(base_url=base_url, retry_sleep_s=0.01, bundle_size=bundle_size)
    try:
        def run_once():
            plan = jobmod.run_job(spark, job, settings, tables_for_site, writer_cfg=cfg)
            counts = {"insert": 0, "update": 0, "delete": 0}
            for r in plan.select("action").collect():
                counts[r["action"]] += 1
            return counts

        def placeholders():
            return [body for body in store.values()
                    if "urn:uuid:" in body or "urn:pending:" in body]

        c1 = run_once()
        assert c1["insert"] >= 3 and c1["delete"] == 1  # 2 patients + 2 dx in; stale out
        if bundle_size:
            # each new Patient and its Condition share a transaction whose
            # urn:uuid: reference the store resolved: none is left after ONE run
            assert placeholders() == []

        c2 = run_once()
        state_after_2 = dict(store)
        # the fixpoint: nothing new, nothing stale — only the reference's
        # unconditional re-PUT updates remain
        assert c2["insert"] == 0 and c2["delete"] == 0
        assert c2["update"] == c1["insert"] + c1["update"]
        # every update now targets a real server id (per-row mode's
        # unresolved references are gone after a write+re-read cycle)
        assert placeholders() == []

        c3 = run_once()
        assert c3 == c2
        assert dict(store) == state_after_2  # byte-identical store: converged
    finally:
        srv.shutdown()
