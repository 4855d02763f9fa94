"""End-to-end resource pipelines: extract → transform → assemble → reconcile.

Each resource type has a "current rows" builder that turns CNICS-shaped
tables and a patient page into the state the store should hold,
``(Site, key, body_json)``, and a ``*_plan`` wrapper that reconciles those
rows with an existing-store snapshot into an ACTION-PLAN DataFrame
``(resource_type, action, id, key, body_json)`` — the engine's central IR
(SURVEY.md §3.3). The reference's control flow (cnics_to_fhir.py:339-904:
per patient, per resource row, one HTTP call) is re-expressed as bulk
stages:

  1. bulk extract with pushed-down filters         (operators/extract.py)
  2. patient-page join (broadcast)                 (J3 decorrelated)
  3. columnar transform + resource assembly        (functions/, assembly/)
  4. full-outer MERGE against the snapshot         (``reconcile``)
  5. counters from the plan                        (A5)

A FHIR job (job.run_job) calls the builders once over a page that holds all
of its sites and reconciles every site and resource type in ONE MERGE; the
``*_plan`` wrappers are the one-site, one-type form of the same code. The
same plan feeds the batch writer (load/http_writer.py) and the
foreachBatch incremental mode (streaming/) unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cnics_to_fhir_spark.assembly import (
    condition_resource,
    medication_request_resource,
    observation_resource,
    patient_resource,
)
from cnics_to_fhir_spark.operators import extract
from cnics_to_fhir_spark.operators.extract import site_scoped
from cnics_to_fhir_spark.operators.merge import merge_plan

PLAN_COLUMNS = ("resource_type", "action", "id", "key", "body_json")


def reconcile(current: DataFrame, snapshot: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE current rows (``keys``, body_json) against the snapshot rows
    that carry an identifier, matched on ``keys``; the snapshot's
    ``identifier_0_value`` is its ``key``. Returns the keys, action, id and
    body_json."""
    existing = snapshot.filter(F.coalesce(F.col("has_identifier"), F.lit(True))).select(
        *[F.col("identifier_0_value" if k == "key" else k).alias(k) for k in keys], "id"
    )
    return merge_plan(current, existing, keys=keys, existing_id="id", payload_cols=["body_json"])


def _plan(current: DataFrame, existing: DataFrame, resource_type: str) -> DataFrame:
    """MERGE current (key, body_json) vs snapshot rows of one type."""
    snap = existing.filter(F.col("resource_type") == resource_type)
    merged = reconcile(current.select("key", "body_json"), snap, ["key"])
    return merged.select(F.lit(resource_type).alias("resource_type"), *PLAN_COLUMNS[1:])


def _page_join(facts: DataFrame, patient_page: DataFrame) -> DataFrame:
    return facts.join(
        F.broadcast(patient_page), site_scoped(["PatientId"], facts, patient_page), "inner"
    )


def conditions_current(
    dx: DataFrame,
    patient_page: DataFrame,
    standard_codes: DataFrame,
    name_filter_sql: str | None = None,
) -> DataFrame:
    """The §7.2 vertical: DiagnosisAltered → Condition rows.

    ``patient_page`` needs (PatientId, Site, fhir_patient_id);
    ``standard_codes`` is the S3 code table (broadcast membership J8)."""
    from cnics_to_fhir_spark.sources.code_tables import membership_via_join

    cur = _page_join(extract.diagnoses(dx, name_filter_sql=name_filter_sql), patient_page)
    cur = cur.withColumn("__dx_key", F.decode("SiteRecordId", "UTF-8"))
    cur = membership_via_join(cur, standard_codes, "DiagnosisName", "in_standard")
    cur = condition_resource(
        cur, "Site", "fhir_patient_id", "DiagnosisName", "DiagnosisType", "DiagnosisDate",
        "__dx_key", in_standard="in_standard",
    )
    return cur.select("Site", F.col("__dx_key").alias("key"), "body_json")


def conditions_plan(
    dx: DataFrame,
    patient_page: DataFrame,
    existing_snapshot: DataFrame,
    standard_codes: DataFrame,
    name_filter_sql: str | None = None,
) -> DataFrame:
    current = conditions_current(dx, patient_page, standard_codes, name_filter_sql)
    return _plan(current, existing_snapshot, "Condition")


def medications_current(
    med: DataFrame,
    patient_page: DataFrame,
    name_filter_sql: str | None = None,
) -> DataFrame:
    cur = _page_join(
        extract.medications_extract(med, name_filter_sql=name_filter_sql), patient_page
    ).withColumn("__med_key", F.decode("SiteRecordId", "UTF-8"))
    cur = medication_request_resource(
        cur, "Site", "fhir_patient_id", "MedicationName", "StartDate", "EndDate", "EndType",
        "__med_key",
    )
    return cur.select("Site", F.col("__med_key").alias("key"), "body_json")


def medications_plan(
    med: DataFrame,
    patient_page: DataFrame,
    existing_snapshot: DataFrame,
    name_filter_sql: str | None = None,
) -> DataFrame:
    current = medications_current(med, patient_page, name_filter_sql)
    return _plan(current, existing_snapshot, "MedicationRequest")


def observations_current(
    lab: DataFrame,
    patient_page: DataFrame,
    name_filter_sql: str | None = None,
) -> DataFrame:
    cur = _page_join(extract.labs_extract(lab, name_filter_sql=name_filter_sql), patient_page)
    cur = observation_resource(
        cur, "Site", "fhir_patient_id", "TestName", "Result", "Units", "CollectionDate",
        "RefRangeLow", "RefRangeHigh",
        # lab record id is ALREADY a string (cnics_to_fhir.py:736, :892)
        "SiteRecordId",
    )
    return cur.select("Site", F.col("SiteRecordId").alias("key"), "body_json")


def observations_plan(
    lab: DataFrame,
    patient_page: DataFrame,
    existing_snapshot: DataFrame,
    name_filter_sql: str | None = None,
) -> DataFrame:
    current = observations_current(lab, patient_page, name_filter_sql)
    return _plan(current, existing_snapshot, "Observation")


def patients_current(
    patient_page: DataFrame,
    demographic: DataFrame,
    pro: DataFrame,
    crosswalk: DataFrame,
    pro_identity: DataFrame,
) -> DataFrame:
    """B1 + J4/J2/A2/A3: Patient rows.

    ``patient_page``: (PatientId, SitePatientId, Site);
    ``pro_identity``: (PatientId, pro_patient_ids, pro_mrns) from
    extract.pro_identity; ``crosswalk``: (SitePatientId, hmrn, umrn), with
    ``Site`` when it applies to some sites only."""
    demo1 = extract.demographics_first_row(demographic)
    demo1 = demo1.select(*site_scoped(["PatientId"], demo1), "Sex", "Race", "Hispanic")
    sessions = extract.pro_sessions(pro)
    cur = patient_page.join(
        F.broadcast(crosswalk), site_scoped(["SitePatientId"], patient_page, crosswalk), "left"
    )
    for side in (sessions, pro_identity, demo1):
        cur = cur.join(side, site_scoped(["PatientId"], cur, side), "left")
    cur = patient_resource(
        cur, "Site", "SitePatientId", "session_ids", "hmrn", "umrn", "pro_patient_ids",
        "pro_mrns", "Race", "Hispanic", "Sex",
    )
    return cur.select("Site", F.col("SitePatientId").alias("key"), "body_json")


def patients_plan(
    patient_page: DataFrame,
    demographic: DataFrame,
    pro: DataFrame,
    crosswalk: DataFrame,
    pro_identity: DataFrame,
    existing_snapshot: DataFrame,
) -> DataFrame:
    """Patient rows reconciled with the snapshot, including the site-level
    anti-join delete (J5)."""
    current = patients_current(patient_page, demographic, pro, crosswalk, pro_identity)
    return _plan(current, existing_snapshot, "Patient")
