"""Job dispatch — entry point 1 of the reference (cnics_to_fhir.py:249-257),
Spark-first: ONE action plan per job. The reference runs its steps once per
site and concatenates the results; here only the patient page is per site,
and it is computed for all of the job's sites in one frame that carries
``Site``. Each resource type's extract, page join and assembly run once over
that page, and one MERGE keyed on (resource_type, site, key) reconciles
every site and type against the store snapshot. The plan goes to the writer
in one batched pass, and the counters come from the plan itself.

``fhir_patient_id`` resolution: the reference writes each Patient first and
re-GETs its server id before building subject references
(cnics_to_fhir.py:530-539). Bulk mode resolves ids from the snapshot join
instead; a patient not yet in the store is referenced by the deterministic
``urn:uuid:`` fullUrl of its own create entry (``patient_full_url`` over
the Patient's identifier system and value). The writer sends the Patient
and its dependents in one ``transaction`` Bundle, where the server resolves
that reference to the id it assigns, so no placeholder survives the run.
"""

from __future__ import annotations

import json
import logging
import time
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnics_to_fhir_spark import pipelines
from cnics_to_fhir_spark.assembly.resources import site_patient_system
from cnics_to_fhir_spark.config import JobSpec, Settings
from cnics_to_fhir_spark.load.http_writer import patient_full_url, write_action_plan
from cnics_to_fhir_spark.operators import extract
from cnics_to_fhir_spark.operators.extract import site_scoped

log = logging.getLogger(__name__)

# table name -> DataFrame; names: Patient, Demographic, Diagnosis, Medication,
# Lab, Pro, ProPatients, ProSessions, Crosswalk, StandardDiagnoses, Snapshot
TableProvider = Callable[[str], DataFrame]

CROSSWALK_SITE = "uw"  # the crosswalk file holds UW MRNs only


def resolve_patient_ids(page: DataFrame, snapshot: DataFrame) -> DataFrame:
    """Attach fhir_patient_id to the page: server id when the Patient
    exists, else the ``urn:uuid:`` fullUrl its create entry will carry."""
    pat_ids = snapshot.filter(F.col("resource_type") == "Patient").select(
        F.col("identifier_0_value").alias("SitePatientId"),
        *site_scoped([], snapshot),
        F.col("id").alias("__srv_id"),
    )
    return page.join(
        F.broadcast(pat_ids), site_scoped(["SitePatientId"], page, pat_ids), "left"
    ).withColumn(
        "fhir_patient_id",
        F.coalesce(
            F.col("__srv_id"),
            patient_full_url(site_patient_system("Site"), F.col("SitePatientId")),
        ),
    ).drop("__srv_id")


class _Sources:
    """The job's source tables, read once for all its sites.

    Each distinct DataFrame the sites' providers return for a table is read
    once. When every site gets the same one (one source DB per job, as in
    the reference), it is used as is. Otherwise each is restricted to the
    sites that returned it: a frame that has a ``Site`` column is filtered
    on it, any other gets a ``Site`` column naming those sites, so joins on
    ``extract.site_scoped`` keys give each site only its own rows."""

    def __init__(self, providers: dict[str, TableProvider]):
        self.providers = providers
        self._tables: dict[str, DataFrame] = {}

    def _parts(self, name: str) -> list[tuple[DataFrame, list[str]]]:
        parts: dict[int, tuple[DataFrame, list[str]]] = {}
        for site, tables in self.providers.items():
            df = tables(name)
            parts.setdefault(id(df), (df, []))[1].append(site)
        return list(parts.values())

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            parts = self._parts(name)
            self._tables[name] = parts[0][0] if len(parts) == 1 else _union([
                df.filter(F.col("Site").isin(*sites)) if "Site" in df.columns
                else df.withColumn("Site", _site_tag(sites))
                for df, sites in parts
            ])
        return self._tables[name]

    def snapshot(self) -> DataFrame:
        """The store snapshot's rows of the job's sites, tagged with the
        site their identifier system ends in (``…/{site}``): the Spark form
        of the reference's site-scoped identifier query (GET
        Patient?identifier=<system-for-site>|, cnics_to_fhir.py:323-326).
        Without it, one site's reconciliation would delete another's
        resources."""
        site = F.regexp_extract(F.col("identifier_0_system"), r"/([^/]*)$", 1)
        return _union([
            df.withColumn("Site", site).filter(F.col("Site").isin(*sites))
            for df, sites in self._parts("Snapshot")
        ])

    def crosswalk(self, spark: SparkSession) -> DataFrame:
        if CROSSWALK_SITE not in self.providers:
            return spark.createDataFrame([], "SitePatientId string, hmrn string, umrn string")
        cw = self.providers[CROSSWALK_SITE]("Crosswalk")
        return cw.withColumn("Site", F.lit(CROSSWALK_SITE))


def _site_tag(sites: list[str]):
    if len(sites) == 1:
        return F.lit(sites[0])
    return F.explode(F.array(*[F.lit(s) for s in sites]))


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def run_job(
    spark: SparkSession,
    job: JobSpec,
    settings: Settings,
    tables_for_site: Callable[[str], TableProvider],
    writer_cfg=None,
) -> DataFrame:
    """All sites of one job → one action plan (resource_type, action, id,
    key, body_json, site): Patient always, other resources when the job
    names them (P10 resource-list gate, cnics_to_fhir.py:542/639/722).

    With a WriterConfig the plan is written, and the writer's counters are
    logged with the job's sites, resources and wall time as one JSON record
    on this module's logger."""
    t0 = time.perf_counter()
    src = _Sources({site: tables_for_site(site) for site in job.sites})
    snapshot = src.snapshot()
    page = extract.patient_page(
        src.table("Patient"), src.table("Demographic"), list(job.sites), limit=settings.pat_cnt
    )
    page = resolve_patient_ids(page, snapshot)

    pro = src.table("Pro")
    session_keys = pro.select(*site_scoped(["PatientId"], pro), "SessionId").distinct()
    pro_ident = extract.pro_identity(src.table("ProPatients"), src.table("ProSessions"), session_keys)
    current = {
        "Patient": pipelines.patients_current(
            page.select("PatientId", "SitePatientId", "Site"),
            src.table("Demographic"), pro, src.crosswalk(spark), pro_ident,
        )
    }
    res_page = page.select("PatientId", "Site", "fhir_patient_id")
    if "conditions" in job.resources:
        current["Condition"] = pipelines.conditions_current(
            src.table("Diagnosis"), res_page, src.table("StandardDiagnoses"),
            name_filter_sql=settings.conditions_filter_sql,
        )
    if "medicationrequests" in job.resources:
        current["MedicationRequest"] = pipelines.medications_current(
            src.table("Medication"), res_page, name_filter_sql=settings.medications_filter_sql,
        )
    if "observations" in job.resources:
        current["Observation"] = pipelines.observations_current(
            src.table("Lab"), res_page, name_filter_sql=settings.observations_filter_sql,
        )
    rows = _union([
        df.select(F.lit(rtype).alias("resource_type"), "Site", "key", "body_json")
        for rtype, df in current.items()
    ])
    existing = snapshot.filter(F.col("resource_type").isin(*current))
    plan = pipelines.reconcile(rows, existing, ["resource_type", "Site", "key"]).select(
        *pipelines.PLAN_COLUMNS, F.col("Site").alias("site")
    )
    if writer_cfg is not None:
        counts = write_action_plan(plan.drop("site"), writer_cfg)
        log.info(json.dumps({
            "sites": list(job.sites),
            "resources": list(job.resources),
            "counts": counts,
            "wall_s": round(time.perf_counter() - t0, 3),
        }))
    return plan
