"""Config-driven job dispatch (entry point 1): INI parsing semantics, an
end-to-end run producing the combined action plan, the write/re-read
fixpoint, multi-site jobs against a per-site oracle, and the plan's shape."""

from __future__ import annotations

import datetime
import re
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cnics_to_fhir_spark import job as jobmod
from cnics_to_fhir_spark import pipelines
from cnics_to_fhir_spark.config import JobSpec, parse_job_config, parse_settings
from cnics_to_fhir_spark.operators import extract
from cnics_to_fhir_spark.schemas import (
    DEMOGRAPHIC,
    DIAGNOSIS,
    FHIR_SNAPSHOT,
    LAB,
    MEDICATION,
    PATIENT,
    PRO,
    PRO_PATIENTS,
    PRO_SESSIONS,
)
from cnics_to_fhir_spark.sources.fhir import _snapshot_row

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


def test_run_job_write_readback_converges(spark, caplog):
    """The reference's implicit convergence contract
    (cnics_to_fhir.py:914-925): extract → plan → WRITE to the store →
    re-snapshot the store → run again.  Run 2 must produce ZERO inserts and
    ZERO deletes (updates recur by design — the reference re-PUTs every
    present-in-both key unconditionally, :556-560), and because updates are
    id-matched PUTs, re-applying them must leave the store byte-identical:
    run 3's store state == run 2's.  Uses a STATEFUL in-process mock FHIR
    server (POST assigns ids, PUT/DELETE mutate) — the full
    extract→plan→write→re-read loop, not just the mocked method routing of
    tests/test_writer.py.  Bundles of about 3 rows make one run several
    transactions, and no placeholder reference is left after the first
    run. Each run logs the writer's counters as one JSON record."""
    import http.server
    import json as jsonmod
    import logging
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
            bundle = jsonmod.loads(self.rfile.read(n).decode())
            assert self.path == "/" and bundle.get("type") == "transaction"
            self._apply_bundle(bundle)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Store)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base_url = f"http://127.0.0.1:{srv.server_address[1]}"

    def snapshot_from_store():
        """Re-read the store into the FHIR_SNAPSHOT shape (the bulk-scan
        S5 path's output, parsed from the stored resource bodies)."""
        with lock:
            items = list(store.items())
        rows = [
            _snapshot_row({**jsonmod.loads(body), "id": rid})[: len(FHIR_SNAPSHOT.fields)]
            for (_, rid), body in items
        ]
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

    cfg = WriterConfig(base_url=base_url, retry_sleep_s=0.01, bundle_size=3)
    try:
        def run_once():
            caplog.clear()
            with caplog.at_level(logging.INFO, logger=jobmod.__name__):
                plan = jobmod.run_job(spark, job, settings, tables_for_site, writer_cfg=cfg)
            counts = {"insert": 0, "update": 0, "delete": 0}
            for r in plan.select("action").collect():
                counts[r["action"]] += 1
            [record] = [r for r in caplog.records if r.name == jobmod.__name__]
            logged = jsonmod.loads(record.getMessage())
            assert logged["sites"] == ["uw"] and logged["resources"] == ["conditions"]
            assert logged["counts"] == {**counts, "failed": 0}
            assert logged["wall_s"] > 0
            return counts

        def placeholders():
            return [body for body in store.values()
                    if "urn:uuid:" in body or "urn:pending:" in body]

        c1 = run_once()
        assert c1["insert"] >= 3 and c1["delete"] == 1  # 2 patients + 2 dx in; stale out
        # each new Patient and its Condition share a transaction whose
        # urn:uuid: reference the store resolved: none is left after ONE run
        assert placeholders() == []

        c2 = run_once()
        state_after_2 = dict(store)
        # the fixpoint: nothing new, nothing stale — only the reference's
        # unconditional re-PUT updates remain
        assert c2["insert"] == 0 and c2["delete"] == 0
        assert c2["update"] == c1["insert"] + c1["update"]
        assert placeholders() == []

        c3 = run_once()
        assert c3 == c2
        assert dict(store) == state_after_2  # byte-identical store: converged
    finally:
        srv.shutdown()


# --------------------------------------------------------------------------
# Multi-site jobs: one job-wide plan against a per-site oracle
# --------------------------------------------------------------------------

CNICS = "https://cnics.cirg.washington.edu"
PATIENT_SYS = f"{CNICS}/site-patient-id"
DX_SYS = f"{CNICS}/diagnosis/site-record-id"
SETTINGS_PATCNT_2 = SETTINGS_INI.replace('PatCnt = "1000"', 'PatCnt = "2"')


def _snap(rtype, rid, system, site, value):
    return (rtype, rid, None, f"{system}/{site}", value, True)


def _dx(did, pid, key, name):
    return (did, None, None, pid, bytearray(key.encode()), datetime.date(2020, 1, 1),
            "Verified clinical diagnosis", name)


def _demo(did, pid, sex):
    return (did, None, None, pid, None, None, sex, "White", "No")


def _source_tables(spark, patients, demo, dx, pro, pro_sessions, pro_patients, crosswalk, codes):
    return {
        "Patient": spark.createDataFrame(
            [(pid, bytearray(sp.encode()), site) for pid, sp, site in patients], PATIENT),
        "Demographic": spark.createDataFrame(demo, DEMOGRAPHIC),
        "Diagnosis": spark.createDataFrame(dx, DIAGNOSIS),
        "Medication": spark.createDataFrame([], MEDICATION),
        "Lab": spark.createDataFrame([], LAB),
        "Pro": spark.createDataFrame(pro, PRO),
        "ProSessions": spark.createDataFrame(pro_sessions, PRO_SESSIONS),
        "ProPatients": spark.createDataFrame(pro_patients, PRO_PATIENTS),
        "Crosswalk": spark.createDataFrame(crosswalk, "SitePatientId string, hmrn string, umrn string"),
        "StandardDiagnoses": spark.createDataFrame([(c,) for c in codes], "code string"),
    }


def _per_site_oracle(spark, job, settings, tables_for_site):
    """The plan as the reference builds it: every step once per site
    (cnics_to_fhir.py:257), through the one-site ``pipelines.*_plan``
    wrappers, results concatenated."""
    out = []
    for site in job.sites:
        t = tables_for_site(site)
        snapshot = t("Snapshot").filter(F.col("identifier_0_system").endswith(f"/{site}"))
        page = extract.patient_page(t("Patient"), t("Demographic"), [site], limit=settings.pat_cnt)
        page = jobmod.resolve_patient_ids(page, snapshot)
        crosswalk = t("Crosswalk") if site == "uw" else t("Crosswalk").limit(0)
        session_keys = t("Pro").select("PatientId", "SessionId").distinct()
        pro_ident = extract.pro_identity(t("ProPatients"), t("ProSessions"), session_keys)
        plans = [pipelines.patients_plan(
            page.select("PatientId", "SitePatientId", "Site"), t("Demographic"), t("Pro"),
            crosswalk, pro_ident, snapshot,
        )]
        res_page = page.select("PatientId", "Site", "fhir_patient_id")
        if "conditions" in job.resources:
            plans.append(pipelines.conditions_plan(
                t("Diagnosis"), res_page, snapshot, t("StandardDiagnoses"),
                name_filter_sql=settings.conditions_filter_sql))
        if "medicationrequests" in job.resources:
            plans.append(pipelines.medications_plan(
                t("Medication"), res_page, snapshot, name_filter_sql=settings.medications_filter_sql))
        if "observations" in job.resources:
            plans.append(pipelines.observations_plan(
                t("Lab"), res_page, snapshot, name_filter_sql=settings.observations_filter_sql))
        out.append(reduce(DataFrame.unionByName, plans).withColumn("site", F.lit(site)))
    return reduce(DataFrame.unionByName, out)


def _rows(plan):
    return sorted(
        (tuple(r) for r in plan.select("resource_type", "action", "id", "key", "body_json", "site")
         .collect()),
        key=repr,
    )


SNAPSHOT_ROWS = [
    _snap("Patient", "p-uw-B", PATIENT_SYS, "uw", "sp-B"),
    _snap("Patient", "p-ucsd-A", PATIENT_SYS, "ucsd", "sp-A"),
    _snap("Patient", "p-uw-D", PATIENT_SYS, "uw", "sp-D"),  # cut by PatCnt → delete
    _snap("Condition", "c-uw-1", DX_SYS, "uw", "dx-1"),
    _snap("Condition", "c-ucsd-1", DX_SYS, "ucsd", "dx-1"),
    _snap("Condition", "c-uw-old", DX_SYS, "uw", "dx-old"),  # stale → delete
    # another site's resources: a uw,ucsd job must never touch them
    _snap("Patient", "p-jh-99", PATIENT_SYS, "jh", "sp-99"),
    _snap("Condition", "c-jh-9", DX_SYS, "jh", "dx-9"),
]


def _shared_tables(spark):
    """One source DB for both sites, as the reference's job config has it."""
    return _source_tables(
        spark,
        patients=[(10, "sp-A", "uw"), (11, "sp-B", "uw"), (12, "sp-D", "uw"),
                  (20, "sp-A", "ucsd"), (21, "sp-C", "ucsd")],
        demo=[_demo(1, 10, "Female"), _demo(2, 11, "Male"), _demo(3, 12, "Male"),
              _demo(4, 20, "Female"), _demo(5, 21, "Male")],
        # dx-1 is a record key of BOTH sites
        dx=[_dx(1, 10, "dx-1", "E11.9"), _dx(2, 20, "dx-1", "E11.9"), _dx(3, 11, "dx-2", "COPD")],
        pro=[("s-1", 10), ("s-2", 20)],
        pro_sessions=[("s-1", 900)],
        pro_patients=[(900, "M-900")],
        crosswalk=[("sp-A", "H-A", "U-A")],  # a uw file; ucsd's sp-A must not match it
        codes=["COPD"],
    )


def test_run_job_two_sites_match_per_site_oracle(spark):
    settings = parse_settings(SETTINGS_PATCNT_2)
    job = JobSpec(sites=("uw", "ucsd"), db_name="cnics_prod", resources=("conditions",))
    t = {**_shared_tables(spark), "Snapshot": spark.createDataFrame(SNAPSHOT_ROWS, FHIR_SNAPSHOT)}

    def tables_for_site(site):
        return t.__getitem__

    got = _rows(jobmod.run_job(spark, job, settings, tables_for_site))
    assert got == _rows(_per_site_oracle(spark, job, settings, tables_for_site))

    by = {(r[0], r[5], r[3]): r for r in got}
    # one row per site for a key both sites hold, each with its own server id
    assert by[("Condition", "uw", "dx-1")][1:3] == ("update", "c-uw-1")
    assert by[("Condition", "ucsd", "dx-1")][1:3] == ("update", "c-ucsd-1")
    assert by[("Condition", "uw", "dx-old")][1:3] == ("delete", "c-uw-old")
    # subjects resolve within the site: ucsd's sp-A is stored, uw's is new
    assert '"Patient/p-ucsd-A"' in by[("Condition", "ucsd", "dx-1")][4]
    assert '"urn:uuid:' in by[("Condition", "uw", "dx-1")][4]
    # the jh site's resources are neither updated nor deleted
    assert not [r for r in got if r[5] not in ("uw", "ucsd") or r[2] in ("p-jh-99", "c-jh-9")]
    # crosswalk MRNs on uw Patients only
    assert "H-A" in by[("Patient", "uw", "sp-A")][4]
    assert "H-A" not in by[("Patient", "ucsd", "sp-A")][4]
    # PatCnt = 2 limits each site on its own: uw keeps two of its three
    current = {(r[5], r[3]) for r in got if r[0] == "Patient" and r[1] != "delete"}
    assert current == {("uw", "sp-A"), ("uw", "sp-B"), ("ucsd", "sp-A"), ("ucsd", "sp-C")}
    assert by[("Patient", "uw", "sp-D")][1:3] == ("delete", "p-uw-D")


def test_run_job_per_site_tables_keep_sites_apart(spark):
    """Each site's provider returns its own source DB, with the same
    PatientId values in both: every site sees only its own rows."""
    settings = parse_settings(SETTINGS_INI)
    job = JobSpec(sites=("uw", "ucsd"), db_name="cnics_prod", resources=("conditions",))
    snapshot = spark.createDataFrame(
        [_snap("Condition", "c-u1", DX_SYS, "uw", "dx-u1"),
         _snap("Patient", "p-c1", PATIENT_SYS, "ucsd", "sp-c1")],
        FHIR_SNAPSHOT,
    )
    per_site = {
        "uw": _source_tables(
            spark,
            patients=[(1, "sp-u1", "uw"), (2, "sp-u2", "uw")],
            demo=[_demo(1, 1, "Female"), _demo(2, 2, "Male")],
            dx=[_dx(1, 1, "dx-u1", "E11.9"), _dx(2, 2, "dx-u2", "COPD")],
            pro=[("s-u", 1)], pro_sessions=[("s-u", 700)], pro_patients=[(700, "M-u")],
            crosswalk=[("sp-u2", "H-u2", None)], codes=["COPD"],
        ),
        "ucsd": _source_tables(
            spark,
            # PatientId 2 has no demographic row here: not on ucsd's page
            patients=[(1, "sp-c1", "ucsd"), (2, "sp-c2", "ucsd")],
            demo=[_demo(1, 1, "Male")],
            dx=[_dx(1, 1, "dx-c1", "COPD"), _dx(2, 2, "dx-c2", "E11.9")],
            pro=[("s-c", 1)], pro_sessions=[("s-c", 800)], pro_patients=[(800, "M-c")],
            crosswalk=[("sp-c1", "H-c1", None)], codes=["E11.9"],
        ),
    }

    def tables_for_site(site):
        return {**per_site[site], "Snapshot": snapshot}.__getitem__

    got = _rows(jobmod.run_job(spark, job, settings, tables_for_site))
    assert got == _rows(_per_site_oracle(spark, job, settings, tables_for_site))
    keys = {(r[5], r[0], r[3]) for r in got}
    assert keys == {
        ("uw", "Patient", "sp-u1"), ("uw", "Patient", "sp-u2"),
        ("uw", "Condition", "dx-u1"), ("uw", "Condition", "dx-u2"),
        ("ucsd", "Patient", "sp-c1"), ("ucsd", "Condition", "dx-c1"),
    }
    bodies = {(r[5], r[3]): r[4] for r in got}
    assert "M-u" in bodies[("uw", "sp-u1")] and "M-c" not in bodies[("uw", "sp-u1")]
    assert "H-u2" in bodies[("uw", "sp-u2")]
    assert "M-c" in bodies[("ucsd", "sp-c1")] and "M-u" not in bodies[("ucsd", "sp-c1")]
    assert "H-c1" not in bodies[("ucsd", "sp-c1")]  # the crosswalk is uw's alone


def _plan_shape(plan) -> dict[str, int]:
    """Node counts of the physical plan, read without running an action."""
    text = plan._jdf.queryExecution().executedPlan().toString()
    return {
        "full_outer": text.count("FullOuter"),
        "exchange": len(re.findall(r"\b(?:Broadcast)?Exchange\b", text)),
        "broadcast": len(re.findall(r"\bBroadcastExchange\b", text)),
    }


def test_run_job_plan_shape(spark):
    """One MERGE per job, and a second site adds no exchange."""
    settings = parse_settings(SETTINGS_PATCNT_2)
    resources = ("conditions", "medicationrequests", "observations")
    t = {**_shared_tables(spark), "Snapshot": spark.createDataFrame(SNAPSHOT_ROWS, FHIR_SNAPSHOT)}
    shapes = {
        sites: _plan_shape(jobmod.run_job(
            spark, JobSpec(sites=sites, db_name="cnics_prod", resources=resources),
            settings, lambda site: t.__getitem__,
        ))
        for sites in (("uw",), ("uw", "ucsd"))
    }
    one, two = shapes[("uw",)], shapes[("uw", "ucsd")]
    assert one["full_outer"] == two["full_outer"] == 1
    assert two["exchange"] <= one["exchange"]
    assert two["broadcast"] <= one["broadcast"]
    assert 0 < two["broadcast"] < two["exchange"]


def _all_resources_job(spark):
    settings = parse_settings(SETTINGS_PATCNT_2)
    job = JobSpec(sites=("uw", "ucsd"), db_name="cnics_prod",
                  resources=("conditions", "medicationrequests", "observations"))
    t = {**_shared_tables(spark), "Snapshot": spark.createDataFrame(SNAPSHOT_ROWS, FHIR_SNAPSHOT)}
    return lambda: jobmod.run_job(spark, job, settings, lambda site: t.__getitem__)


def test_run_job_build_py4j_commands(spark, monkeypatch):
    """Plan-build cost gate: building a FHIR job's plan is a fixed per-run
    cost paid in py4j round trips (one per DataFrame/Column call with
    call-site capture off, two to three with it on). Counts every command
    except py4j's ``m`` object-release messages, whose number follows
    Python GC timing. This build measured 1,860 commands: 3,225 with the
    resource skeletons built from Column calls, 8,145 with call-site
    capture on as well. The ceiling is the measured count plus ~7%."""
    from py4j.clientserver import ClientServerConnection

    build = _all_resources_job(spark)
    build()  # first build: one-time class and function lookups
    sent = []
    original = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return original(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build()
    monkeypatch.undo()
    assert len(sent) <= 2_000, f"{len(sent)} py4j commands to build one job's plan"


def test_run_job_plan_reuses_compiled_classes(spark):
    """A second execution of a plan compiles no class: the session's
    codegen cache (``session.build_session``) holds every class one
    execution generates. At Spark's default of 100 entries each is evicted
    before its next use, and every execution of this plan recompiled
    ~135. AQE is off so that both executions run one physical plan: under
    AQE the final plan depends on which query stages finish first, and an
    alternate plan compiles its own classes once."""
    from cnics_to_fhir_spark.session import session_conf

    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    with session_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        plan = _all_resources_job(spark)()
        plan.write.format("noop").mode("overwrite").save()
        before = compilations.getCount()
        plan.write.format("noop").mode("overwrite").save()
        assert compilations.getCount() - before == 0
