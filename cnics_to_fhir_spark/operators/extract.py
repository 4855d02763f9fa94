"""Extract layer — the reference's six query shapes, decorrelated.

The reference runs 6 correlated queries PER PATIENT (cnics_to_fhir.py:
339-351) — the N+1 nested-loop join SURVEY.md §2.3 J3 identifies as the
biggest restructuring win. Here each shape is ONE bulk DataFrame with the
same WHERE semantics (P3-P7), and per-patient correlation becomes a join
against the (bounded) patient page, which Catalyst broadcasts.

Filter strings: settings.ini splices raw SQL fragments into the generated
queries (e.g. ``DiagnosisName in ('COPD', ...) or DiagnosisName like
'E11.%'`` — settings.ini:34-48, spliced at cnics_to_fhir.py:123). The
engine accepts the same boolean-SQL text via ``F.expr`` — identical
semantics, but parsed by Catalyst and pushed down to the source instead of
string-spliced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def not_historical(col: Column) -> Column:
    """P4 — (Historical <> 'Yes' OR Historical IS NULL), 3-valued
    (cnics_to_fhir.py:121, :138, :154)."""
    return (col != "Yes") | col.isNull()


def nonblank(col: Column) -> Column:
    """P5 — length(name) > 0 (cnics_to_fhir.py:122, :139, :155)."""
    return F.length(col) > 0


def site_scoped(keys: list[str], *frames: DataFrame) -> list[str]:
    """Join or grouping keys: ``keys``, plus ``Site`` when every frame
    carries one. A job reads each source table once for all its sites;
    when sites read different tables, each row is tagged with its ``Site``
    (job.run_job), and these keys keep the sites' rows apart."""
    return [*keys, "Site"] if all("Site" in f.columns for f in frames) else list(keys)


def patient_page(
    patient: DataFrame,
    demographic: DataFrame,
    sites: list[str],
    limit: int = 100_000,
) -> DataFrame:
    """Entry point 2 (cnics_to_fhir.py:259-266) for all of a job's sites
    at once: Patient ⋈ DemographicAltered with a Site filter and LIMIT
    PatCnt per site. The reference's LIMIT keeps whichever rows MySQL
    returns first; here each site keeps its lowest PatientIds (the
    reference's ``order by rand()``, :264, is disabled). The per-site
    limit is one row_number over Site, so the page costs the same shuffles
    for any number of sites. Returns the distinct patient identity page
    (PatientId, SitePatientId, Site)."""
    base = patient.filter(F.col("Site").isin(*sites)).join(
        demographic, site_scoped(["PatientId"], patient, demographic), "left_semi"
    )
    rank = F.row_number().over(Window.partitionBy("Site").orderBy("PatientId", "SitePatientId"))
    return base.withColumn("__rn", rank).filter(F.col("__rn") <= limit).select(
        "PatientId", F.decode("SitePatientId", "UTF-8").alias("SitePatientId"), "Site"
    )


def diagnoses(dx: DataFrame, name_filter_sql: str | None = None) -> DataFrame:
    """Query shape 1 (cnics_to_fhir.py:115-123): Historical + length +
    config IN/LIKE filters; bulk, not per-patient."""
    out = dx.filter(not_historical(F.col("Historical")) & nonblank(F.col("DiagnosisName")))
    if name_filter_sql:
        out = out.filter(F.expr(name_filter_sql))
    return out


def demographics_first_row(demo: DataFrame) -> DataFrame:
    """A3 (cnics_to_fhir.py:440-525): first demographic row per patient wins,
    ordered by DemographicId (:130) — window + row_number, one shuffle."""
    w = Window.partitionBy(*site_scoped(["PatientId"], demo)).orderBy("DemographicId")
    return (
        demo.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def medications_extract(med: DataFrame, name_filter_sql: str | None = None) -> DataFrame:
    """Query shape 3 (cnics_to_fhir.py:132-140)."""
    out = med.filter(not_historical(F.col("Historical")) & nonblank(F.col("MedicationName")))
    if name_filter_sql:
        out = out.filter(F.expr(name_filter_sql))
    return out


def pro_sessions(pro: DataFrame) -> DataFrame:
    """Query shape 4 (cnics_to_fhir.py:141-147): distinct SessionId per
    patient, aggregated to array for the identifier builder (the
    decorrelated form of the per-session append loop :392-395)."""
    keys = site_scoped(["PatientId"], pro)
    return (
        pro.select(*keys, "SessionId")
        .distinct()
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("SessionId")).alias("session_ids"))
    )


def labs_extract(lab: DataFrame, name_filter_sql: str | None = None) -> DataFrame:
    """Query shape 5 (cnics_to_fhir.py:148-156)."""
    out = lab.filter(not_historical(F.col("Historical")) & nonblank(F.col("TestName")))
    if name_filter_sql:
        out = out.filter(F.expr(name_filter_sql))
    return out


def pro_identity(pro_patients: DataFrame, pro_sessions_df: DataFrame, session_keys: DataFrame) -> DataFrame:
    """J2/A2 (cnics_to_fhir.py:48-56, :410-435): PRO-DB Patients ⋈ Sessions
    for the patient's sessions → unique PatientIDs and MRNs as arrays.

    ``session_keys``: (PatientId, SessionId) pairs linking CNICS patients to
    PRO sessions. Output: (PatientId, pro_patient_ids, pro_mrns), plus
    ``Site`` when an input carries it."""
    sessions = pro_sessions_df.select(
        F.col("SessionID").alias("SessionId"),
        F.col("PatientID").alias("pro_pid"),
        *site_scoped([], pro_sessions_df),
    )
    patients = pro_patients.select(
        F.col("PatientID").alias("pro_pid"), "MRN", *site_scoped([], pro_patients)
    )
    joined = session_keys.join(sessions, site_scoped(["SessionId"], session_keys, sessions))
    joined = joined.join(patients, site_scoped(["pro_pid"], joined, patients))
    return joined.groupBy(*site_scoped(["PatientId"], joined)).agg(
        F.sort_array(F.collect_set(F.col("pro_pid").cast("string"))).alias("pro_patient_ids"),
        F.sort_array(F.collect_set("MRN")).alias("pro_mrns"),
    )
