"""Job dispatch — entry point 1 of the reference (cnics_to_fhir.py:249-257),
Spark-first: each (job × site) builds ONE DAG per resource type; sites
concatenate via unionByName (§2.7); the combined action plan goes to the
writer in one batched pass and the counters come from the plan itself.

``fhir_patient_id`` resolution: the reference writes each Patient first and
re-GETs its server id before building subject references
(cnics_to_fhir.py:530-539). Bulk mode resolves ids from the snapshot join
instead; patients not yet in the store get a deterministic placeholder
reference (``urn:pending:<SitePatientId>``). Nothing rewrites that
placeholder: a resource written in the same run as its new Patient lands
in the store still pointing at ``urn:pending:``, and only the next run —
which finds the Patient in the snapshot and sends the resource as an
update — stores the server id. Resolving it within one run (a Patient-first
write wave, or ``transaction`` Bundles with ``urn:uuid:`` full URLs) is the
open fix, ROADMAP.md Direction 3.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnics_to_fhir_spark import pipelines
from cnics_to_fhir_spark.config import JobSpec, Settings
from cnics_to_fhir_spark.operators import extract

# table name -> DataFrame; names: Patient, Demographic, Diagnosis, Medication,
# Lab, Pro, ProPatients, ProSessions, Crosswalk, StandardDiagnoses, Snapshot
TableProvider = Callable[[str], DataFrame]


def resolve_patient_ids(page: DataFrame, snapshot: DataFrame) -> DataFrame:
    """Attach fhir_patient_id to the page: server id when the Patient
    exists, else the pending placeholder."""
    pat_ids = (
        snapshot.filter(F.col("resource_type") == "Patient")
        .select(F.col("identifier_0_value").alias("SitePatientId"), F.col("id").alias("__srv_id"))
    )
    return page.join(F.broadcast(pat_ids), "SitePatientId", "left").withColumn(
        "fhir_patient_id",
        F.coalesce(F.col("__srv_id"), F.concat(F.lit("urn:pending:"), F.col("SitePatientId"))),
    ).drop("__srv_id")


def site_plan(
    spark: SparkSession,
    job: JobSpec,
    site: str,
    settings: Settings,
    tables: TableProvider,
) -> DataFrame:
    """Action plan for one site: Patient always, other resources when the
    job names them (P10 resource-list gate, cnics_to_fhir.py:542/639/722).

    The existing-store snapshot is scoped to the site by identifier system
    suffix — the Spark form of the reference's site-scoped identifier query
    (GET Patient?identifier=<system-for-site>|, cnics_to_fhir.py:323-326);
    without it, site B's reconciliation would emit deletes for site A's
    resources."""
    snapshot = tables("Snapshot").filter(
        F.col("identifier_0_system").endswith(f"/{site}")
    )
    page = extract.patient_page(
        tables("Patient"), tables("Demographic"), site=site, limit=settings.pat_cnt
    )
    page = resolve_patient_ids(page, snapshot)

    crosswalk = tables("Crosswalk") if site == "uw" else _empty_crosswalk(spark)
    session_keys = tables("Pro").select("PatientId", "SessionId").distinct()
    pro_ident = extract.pro_identity(tables("ProPatients"), tables("ProSessions"), session_keys)

    plans = [
        pipelines.patients_plan(
            page.select("PatientId", "SitePatientId", "Site"),
            tables("Demographic"),
            tables("Pro"),
            crosswalk,
            pro_ident,
            snapshot,
        )
    ]
    res_page = page.select("PatientId", "Site", "fhir_patient_id")
    if "conditions" in job.resources:
        plans.append(
            pipelines.conditions_plan(
                tables("Diagnosis"), res_page, snapshot, tables("StandardDiagnoses"),
                name_filter_sql=settings.conditions_filter_sql,
            )
        )
    if "medicationrequests" in job.resources:
        plans.append(
            pipelines.medications_plan(
                tables("Medication"), res_page, snapshot,
                name_filter_sql=settings.medications_filter_sql,
            )
        )
    if "observations" in job.resources:
        plans.append(
            pipelines.observations_plan(
                tables("Lab"), res_page, snapshot,
                name_filter_sql=settings.observations_filter_sql,
            )
        )
    out = plans[0]
    for p in plans[1:]:
        out = out.unionByName(p)
    return out.withColumn("site", F.lit(site))


def run_job(
    spark: SparkSession,
    job: JobSpec,
    settings: Settings,
    tables_for_site: Callable[[str], TableProvider],
    writer_cfg=None,
) -> DataFrame:
    """All sites of one job → one action plan (written when a WriterConfig
    is given; counters always derivable via operators.metrics)."""
    plan = None
    for site in job.sites:
        sp = site_plan(spark, job, site, settings, tables_for_site(site))
        plan = sp if plan is None else plan.unionByName(sp)
    if writer_cfg is not None:
        from cnics_to_fhir_spark.load.http_writer import write_action_plan

        write_action_plan(plan.drop("site"), writer_cfg)
    return plan


def _empty_crosswalk(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "SitePatientId string, hmrn string, umrn string")
