"""End-to-end pipeline query: the SURVEY §7.2 vertical slice under the
oracle gate.

CNICS-shaped tables are DERIVED deterministically from the star corpus
(orders → DiagnosisAltered, customer → patient page, every-3rd order → the
existing FHIR snapshot), then the REAL pipeline runs —
``pipelines.conditions_plan``: P4/P5/P6 filters → broadcast page join (J3)
→ F1-F7 transforms → B2 nested-struct assembly → ``to_json`` → full-outer
MERGE (J6) — and the oracle replicates every stage in one SQL statement,
INCLUDING the byte-exact serialized Condition JSON. A hash match validates
the whole vertical, not any one operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnics_to_fhir_spark.plans.registry import query, table

_DXTYPE_SQL = """
    CASE o_orderkey % 5
        WHEN 0 THEN 'Verified clinical diagnosis'
        WHEN 1 THEN 'Data collected at CNICS site'
        WHEN 2 THEN 'Patient reported without supporting outside documentation'
        WHEN 3 THEN 'Reported in outside documentation'
        ELSE 'Source unknown'
    END
"""

_DXNAME_SQL = """
    CASE o_orderkey % 6
        WHEN 0 THEN 'E11.9'
        WHEN 1 THEN '250.00'
        WHEN 2 THEN 'V02.61'
        WHEN 3 THEN 'COPD'
        WHEN 4 THEN 'chronic cough, unspecified'
        ELSE 'J44.1'
    END
"""

_NAME_FILTER_SQL = (
    "DiagnosisName in ('E11.9', 'COPD', '250.00') "
    "or DiagnosisName like 'J44.%' or DiagnosisName like 'V02.%'"
)

_ORACLE = f"""
WITH page AS (
    SELECT c_custkey AS pid, 'hapi-' || CAST(c_custkey AS VARCHAR) AS fhir_id
    FROM customer
),
dx AS (
    SELECT o_orderkey AS k,
           o_custkey AS pid,
           'dx-' || CAST(o_orderkey AS VARCHAR) AS rid,
           o_orderdate AS d,
           CASE WHEN o_orderkey % 7 = 0 THEN 'Yes' ELSE NULL END AS hist,
           {_DXTYPE_SQL} AS dxtype,
           {_DXNAME_SQL} AS dxname
    FROM orders
),
cur AS (
    SELECT dx.*, page.fhir_id
    FROM dx JOIN page ON dx.pid = page.pid
    WHERE (hist <> 'Yes' OR hist IS NULL)
      AND length(dxname) > 0
      AND (dxname IN ('E11.9', 'COPD', '250.00')
           OR dxname LIKE 'J44.%' OR dxname LIKE 'V02.%')
),
body AS (
    SELECT rid AS key,
           to_json(struct_pack(
               resourceType := 'Condition',
               meta := struct_pack(profile := ['http://hl7.org/fhir/us/core/StructureDefinition/us-core-condition']),
               verificationStatus := struct_pack(coding := [struct_pack(
                   system := 'http://terminology.hl7.org/CodeSystem/condition-ver-status',
                   code := CASE dxtype
                       WHEN 'Data collected at CNICS site' THEN 'confirmed'
                       WHEN 'Patient reported without supporting outside documentation' THEN 'unconfirmed'
                       WHEN 'Reported in outside documentation' THEN 'confirmed'
                       WHEN 'Source unknown' THEN 'unconfirmed'
                       WHEN 'Verified clinical diagnosis' THEN 'confirmed' END)]),
               category := [struct_pack(coding := [struct_pack(
                   system := 'http://terminology.hl7.org/CodeSystem/condition-category',
                   code := CASE dxtype
                       WHEN 'Data collected at CNICS site' THEN 'encounter-diagnosis'
                       WHEN 'Patient reported without supporting outside documentation' THEN 'health-concern'
                       WHEN 'Reported in outside documentation' THEN 'problem-list-item'
                       WHEN 'Source unknown' THEN 'health-concern'
                       WHEN 'Verified clinical diagnosis' THEN 'problem-list-item' END,
                   display := CASE dxtype
                       WHEN 'Data collected at CNICS site' THEN 'Encounter Diagnosis'
                       WHEN 'Patient reported without supporting outside documentation' THEN 'Health Concern'
                       WHEN 'Reported in outside documentation' THEN 'Problem List Item'
                       WHEN 'Source unknown' THEN 'Health Concern'
                       WHEN 'Verified clinical diagnosis' THEN 'Problem List Item' END)])],
               code := struct_pack(
                   coding := [struct_pack(
                       system := CASE
                           WHEN regexp_matches(dxname, '^[A-Z][0-9]{{2}}') AND NOT regexp_matches(dxname, '^V')
                                THEN 'http://hl7.org/fhir/sid/icd-10-cm'
                           WHEN regexp_matches(dxname, '^[0-9]{{3}}') OR regexp_matches(dxname, '^V[0-9]{{2}}')
                                THEN 'http://hl7.org/fhir/sid/icd-9-cm'
                           WHEN dxname IN ('COPD', 'Diabetes Mellitus Type 2', 'Hypertension')
                                THEN 'https://cnics.cirg.washington.edu/diagnosis-name'
                           ELSE 'http://snomed.info/sct' END,
                       code := CASE
                           WHEN regexp_matches(dxname, '^[A-Z][0-9]{{2}}') AND NOT regexp_matches(dxname, '^V') THEN dxname
                           WHEN regexp_matches(dxname, '^[0-9]{{3}}') OR regexp_matches(dxname, '^V[0-9]{{2}}') THEN dxname
                           WHEN dxname IN ('COPD', 'Diabetes Mellitus Type 2', 'Hypertension') THEN dxname
                           ELSE '404684003' END,
                       display := CASE
                           WHEN regexp_matches(dxname, '^[A-Z][0-9]{{2}}') AND NOT regexp_matches(dxname, '^V') THEN dxname
                           WHEN regexp_matches(dxname, '^[0-9]{{3}}') OR regexp_matches(dxname, '^V[0-9]{{2}}') THEN dxname
                           WHEN dxname IN ('COPD', 'Diabetes Mellitus Type 2', 'Hypertension') THEN dxname
                           ELSE 'Clinical finding (finding): ' || dxname END)],
                   text := dxname),
               subject := struct_pack(reference := 'Patient/' || fhir_id),
               recordedDate := STRFTIME(d, '%Y-%m-%d'),
               identifier := [struct_pack(
                   system := 'https://cnics.cirg.washington.edu/diagnosis/site-record-id/uw',
                   value := rid)]
           ))::VARCHAR AS body_json
    FROM cur
),
exi AS (
    SELECT 'dx-' || CAST(o_orderkey AS VARCHAR) AS key,
           'srv-' || CAST(o_orderkey AS VARCHAR) AS id
    FROM orders WHERE o_orderkey % 3 = 0
)
SELECT 'Condition' AS resource_type,
       CASE WHEN b.key IS NOT NULL AND e.key IS NOT NULL THEN 'update'
            WHEN b.key IS NOT NULL THEN 'insert'
            ELSE 'delete' END AS action,
       e.id AS id,
       COALESCE(b.key, e.key) AS key,
       b.body_json AS body_json
FROM body b FULL OUTER JOIN exi e ON b.key = e.key
"""


_OBS_META = (
    '"meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-observation-lab"]}'
)
_OBS_CATEGORY = (
    '"category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/observation-category",'
    '"code":"laboratory","display":"laboratory"}]}]'
)
_OBS_REFRANGE_TYPE = (
    '"type":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/referencerange-meaning",'
    '"code":"normal","display":"Normal Range"}],"text":"Normal Range"}'
)

# The five value[x] shapes, one per o_orderkey % 5, with correlated Units /
# RefRange choices so every conditional-key path of B4 is pinned:
#  m=0 int '42'       Units NULL  RefLow '1.0'  → valueInteger, NO refRange (gate)
#  m=1 dec '5.7'      Units mg/dL Ref 3.5/7.5   → valueQuantity + both bounds
#  m=2 cmp '<4.5'     Units NULL  Ref neg/10    → comparator + '%' default + high-only
#  m=3 rng '3-9'      Units g/L   Ref NULL/NULL → valueRange, no refRange
#  m=4 str 'positive' Units NULL  Ref NULL/NULL → valueString
_OBS_ORACLE = f"""
WITH page AS (
    SELECT c_custkey AS pid, 'hapi-' || CAST(c_custkey AS VARCHAR) AS fhir_id
    FROM customer
),
lab AS (
    SELECT o_orderkey AS k, o_custkey AS pid,
           'lab-' || CAST(o_orderkey AS VARCHAR) AS rid,
           o_orderdate AS d,
           o_orderkey % 5 AS m
    FROM orders
),
cur AS (
    SELECT lab.*, page.fhir_id, STRFTIME(lab.d, '%Y-%m-%d') AS eff
    FROM lab JOIN page ON lab.pid = page.pid
),
body AS (
    SELECT rid AS key,
        '{{"resourceType":"Observation",' || '{_OBS_META},' || '"status":"final",'
        || '{_OBS_CATEGORY},'
        || '"code":{{"coding":[{{"system":"https://cnics.cirg.washington.edu/test-name",'
        || '"code":"Hemoglobin A1C","display":"Hemoglobin A1C"}}],"text":"Hemoglobin A1C"}},'
        || '"subject":{{"reference":"Patient/' || fhir_id || '"}},'
        || '"effectiveDateTime":"' || eff || '",'
        || CASE m
           WHEN 0 THEN '"valueInteger":42,'
           WHEN 1 THEN '"valueQuantity":{{"value":5.7,"unit":"mg/dL",'
                       || '"system":"http://unitsofmeasure.org","code":"mg/dL"}},'
                       || '"referenceRange":[{{' || '{_OBS_REFRANGE_TYPE},'
                       || '"low":{{"value":3.5,"unit":"mg/dL","system":"http://unitsofmeasure.org","code":"mg/dL"}},'
                       || '"high":{{"value":7.5,"unit":"mg/dL","system":"http://unitsofmeasure.org","code":"mg/dL"}}}}],'
           WHEN 2 THEN '"valueQuantity":{{"value":4.5,"comparator":"<","unit":"%","system":"http://unitsofmeasure.org","code":"%"}},'
                       || '"referenceRange":[{{' || '{_OBS_REFRANGE_TYPE},'
                       || '"high":{{"value":10.0}}}}],'
           WHEN 3 THEN '"valueRange":{{"low":{{"value":3.0,"unit":"g/L","system":"http://unitsofmeasure.org","code":"g/L"}},'
                       || '"high":{{"value":9.0,"unit":"g/L","system":"http://unitsofmeasure.org","code":"g/L"}}}},'
           ELSE '"valueString":"positive",'
           END
        || '"identifier":[{{"system":"https://cnics.cirg.washington.edu/lab/site-record-id/uw",'
        || '"value":"' || rid || '"}}]}}' AS body_json
    FROM cur
),
exi AS (
    SELECT 'lab-' || CAST(o_orderkey AS VARCHAR) AS key,
           'srv-' || CAST(o_orderkey AS VARCHAR) AS id
    FROM orders WHERE o_orderkey % 4 = 0
)
SELECT 'Observation' AS resource_type,
       CASE WHEN b.key IS NOT NULL AND e.key IS NOT NULL THEN 'update'
            WHEN b.key IS NOT NULL THEN 'insert'
            ELSE 'delete' END AS action,
       e.id AS id,
       COALESCE(b.key, e.key) AS key,
       b.body_json AS body_json
FROM body b FULL OUTER JOIN exi e ON b.key = e.key
"""


@query("e2e02_observations_pipeline", tags="E2E J3 J6 B4 F11 F12 F13 A5", oracle=_OBS_ORACLE)
def e2e02_observations_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hardest vertical (SURVEY §7.4): variant value[x] Observation
    assembly end-to-end — the oracle string-assembles the exact per-branch
    JSON (heterogeneous keys per row) and the hash must still match."""
    from cnics_to_fhir_spark import pipelines

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    k = F.col("o_orderkey")
    m = k % 5
    lab = orders.select(
        k.alias("LabId"),
        F.lit(None).cast("string").alias("Historical"),
        F.col("o_custkey").alias("PatientId"),
        F.concat(F.lit("lab-"), k.cast("string")).alias("SiteRecordId"),  # str, not bytes (labs quirk)
        F.lit("Hemoglobin A1C").alias("TestName"),
        F.when(m == 0, "42")
        .when(m == 1, "5.7")
        .when(m == 2, "<4.5")
        .when(m == 3, "3-9")
        .otherwise("positive")
        .alias("Result"),
        F.when(m == 1, "mg/dL").when(m == 3, "g/L").otherwise(F.lit(None).cast("string")).alias("Units"),
        F.col("o_orderdate").alias("CollectionDate"),
        F.when(m == 0, "1.0").when(m == 1, "3.5").when(m == 2, "neg").otherwise(F.lit(None).cast("string")).alias("RefRangeLow"),
        F.when(m == 1, "7.5").when(m == 2, "10").otherwise(F.lit(None).cast("string")).alias("RefRangeHigh"),
    )
    page = customer.select(
        F.col("c_custkey").alias("PatientId"),
        F.lit("UW").alias("Site"),
        F.concat(F.lit("hapi-"), F.col("c_custkey").cast("string")).alias("fhir_patient_id"),
    )
    snapshot = orders.filter(k % 4 == 0).select(
        F.lit("Observation").alias("resource_type"),
        F.concat(F.lit("srv-"), k.cast("string")).alias("id"),
        F.lit(None).cast("string").alias("subject"),
        F.lit("https://cnics.cirg.washington.edu/lab/site-record-id/uw").alias("identifier_0_system"),
        F.concat(F.lit("lab-"), k.cast("string")).alias("identifier_0_value"),
        F.lit(True).alias("has_identifier"),
    )
    return pipelines.observations_plan(lab, page, snapshot)


_P_US_CORE = "http://hl7.org/fhir/us/core/StructureDefinition/"
_P_OMB = "urn:oid:2.16.840.1.113883.6.238"
# NB: SQL-escaped apostrophe ('') and JSON-escaped quotes (\") — this text
# lands inside a single-quoted SQL literal inside a JSON string.
_P_DIV = (
    '<div xmlns=\\"http://www.w3.org/1999/xhtml\\">Generated by CIRG' + "''" + "s CNICS to"
    " FHIR. Version identifier: 0.1</div>"
)

# Patient derivation keyed on c = c_custkey:
#  Sex c%3: Female / Male / 'Declined' (unmapped → no birthsex ext, no gender)
#  Race c%4: White / Black / Pacific Islander (collapsing pair) / unmapped
#  Hispanic c%2: No / Yes            sessions c%5==0 (two, + dup → distinct)
#  crosswalk c%7==0 (hmrn only; suppresses PRO ids)   pro-identity c%5==0
#  snapshot c%3==0
_PAT_ORACLE = f"""
WITH c AS (
    SELECT c_custkey AS ck,
           'sp-' || CAST(c_custkey AS VARCHAR) AS spid,
           c_custkey % 3 AS msex, c_custkey % 4 AS mrace, c_custkey % 2 AS meth,
           (c_custkey % 5 = 0) AS has_sess,
           (c_custkey % 7 = 0) AS in_xwalk
    FROM customer
),
body AS (
    SELECT spid AS key,
        '{{"resourceType":"Patient",'
        || '"meta":{{"profile":["{_P_US_CORE}us-core-patient"]}},'
        || '"text":{{"status":"generated","div":"{_P_DIV}"}},'
        || '"extension":['
        || CASE mrace
           WHEN 0 THEN '{{"url":"{_P_US_CORE}us-core-race","extension":[{{"url":"ombCategory","valueCoding":{{"system":"{_P_OMB}","code":"2106-3","display":"White"}}}},{{"url":"text","valueString":"White"}}]}},'
           WHEN 1 THEN '{{"url":"{_P_US_CORE}us-core-race","extension":[{{"url":"ombCategory","valueCoding":{{"system":"{_P_OMB}","code":"2054-5","display":"Black or African American"}}}},{{"url":"text","valueString":"Black or African American"}}]}},'
           WHEN 2 THEN '{{"url":"{_P_US_CORE}us-core-race","extension":[{{"url":"ombCategory","valueCoding":{{"system":"{_P_OMB}","code":"2076-8","display":"Native Hawaiian or Other Pacific Islander"}}}},{{"url":"text","valueString":"Native Hawaiian or Other Pacific Islander"}}]}},'
           ELSE ''
           END
        || CASE meth
           WHEN 0 THEN '{{"url":"{_P_US_CORE}us-core-ethnicity","extension":[{{"url":"ombCategory","valueCoding":{{"system":"{_P_OMB}","code":"2186-5","display":"Non Hispanic or Latino"}}}},{{"url":"text","valueString":"Non Hispanic or Latino"}}]}}'
           ELSE '{{"url":"{_P_US_CORE}us-core-ethnicity","extension":[{{"url":"ombCategory","valueCoding":{{"system":"{_P_OMB}","code":"2135-2","display":"Hispanic or Latino"}}}},{{"url":"text","valueString":"Hispanic or Latino"}}]}}'
           END
        || CASE msex
           WHEN 0 THEN ',{{"url":"{_P_US_CORE}us-core-birthsex","valueCode":"F"}}'
           WHEN 1 THEN ',{{"url":"{_P_US_CORE}us-core-birthsex","valueCode":"M"}}'
           ELSE ''
           END
        || '],'
        || '"identifier":[{{"system":"https://cnics.cirg.washington.edu/site-patient-id/uw","value":"' || spid || '"}}'
        || CASE WHEN has_sess
           THEN ',{{"system":"https://cnics-pro.cirg.washington.edu/session-id/uw","value":"sA-' || CAST(ck AS VARCHAR) || '"}}'
             || ',{{"system":"https://cnics-pro.cirg.washington.edu/session-id/uw","value":"sB-' || CAST(ck AS VARCHAR) || '"}}'
           ELSE '' END
        || CASE WHEN in_xwalk
           THEN ',{{"system":"https://cnics-pro.cirg.washington.edu/institution-mrn/uw","value":"H-' || CAST(ck AS VARCHAR) || '"}}'
           ELSE '' END
        || CASE WHEN has_sess AND NOT in_xwalk
           THEN ',{{"system":"https://cnics-pro.cirg.washington.edu/pro-patient-id/uw","value":"9-' || CAST(ck AS VARCHAR) || '"}}'
             || ',{{"system":"https://cnics-pro.cirg.washington.edu/institution-mrn/uw","value":"M-' || CAST(ck AS VARCHAR) || '"}}'
           ELSE '' END
        || ']'
        || CASE msex WHEN 0 THEN ',"gender":"female"' WHEN 1 THEN ',"gender":"male"' ELSE '' END
        || '}}' AS body_json
    FROM c
),
exi AS (
    SELECT 'sp-' || CAST(c_custkey AS VARCHAR) AS key,
           'hapi-' || CAST(c_custkey AS VARCHAR) AS id
    FROM customer WHERE c_custkey % 3 = 0
)
SELECT 'Patient' AS resource_type,
       CASE WHEN b.key IS NOT NULL AND e.key IS NOT NULL THEN 'update'
            WHEN b.key IS NOT NULL THEN 'insert'
            ELSE 'delete' END AS action,
       e.id AS id,
       COALESCE(b.key, e.key) AS key,
       b.body_json AS body_json
FROM body b FULL OUTER JOIN exi e ON b.key = e.key
"""


@query("e2e04_patients_pipeline", tags="E2E J2 J4 J5 A1 A2 A3 B1 F8 F9 F10 A5", oracle=_PAT_ORACLE)
def e2e04_patients_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patient vertical: 5-source identifier assembly (site / sessions /
    crosswalk MRNs / PRO ids with crosswalk-precedence suppression),
    conditional race/ethnicity/birthsex extensions, session DISTINCT, and
    the MERGE — oracle string-assembles every conditional arm."""
    from cnics_to_fhir_spark import pipelines

    customer = table(spark, sf_dir, "customer")
    c = F.col("c_custkey")
    cs = c.cast("string")
    page = customer.select(
        c.alias("PatientId"),
        F.concat(F.lit("sp-"), cs).alias("SitePatientId"),
        F.lit("UW").alias("Site"),
    )
    demo = customer.select(
        c.alias("DemographicId"),
        c.alias("PatientId"),
        F.when(c % 3 == 0, "Female").when(c % 3 == 1, "Male").otherwise("Declined").alias("Sex"),
        F.when(c % 4 == 0, "White")
        .when(c % 4 == 1, "Black")
        .when(c % 4 == 2, "Pacific Islander")
        .otherwise("Unmapped Race")
        .alias("Race"),
        F.when(c % 2 == 0, "No").otherwise("Yes").alias("Hispanic"),
    )
    sess = customer.filter(c % 5 == 0)
    pro = (
        sess.select(F.concat(F.lit("sA-"), cs).alias("SessionId"), c.alias("PatientId"))
        .unionByName(sess.select(F.concat(F.lit("sB-"), cs).alias("SessionId"), c.alias("PatientId")))
        .unionByName(sess.select(F.concat(F.lit("sA-"), cs).alias("SessionId"), c.alias("PatientId")))
    )  # duplicate sA row → DISTINCT must dedupe (A1)
    crosswalk = customer.filter(c % 7 == 0).select(
        F.concat(F.lit("sp-"), cs).alias("SitePatientId"),
        F.concat(F.lit("H-"), cs).alias("hmrn"),
        F.lit(None).cast("string").alias("umrn"),
    )
    pro_ident = sess.select(
        c.alias("PatientId"),
        F.array(F.concat(F.lit("9-"), cs)).alias("pro_patient_ids"),
        F.array(F.concat(F.lit("M-"), cs)).alias("pro_mrns"),
    )
    snapshot = customer.filter(c % 3 == 0).select(
        F.lit("Patient").alias("resource_type"),
        F.concat(F.lit("hapi-"), cs).alias("id"),
        F.lit(None).cast("string").alias("subject"),
        F.lit("https://cnics.cirg.washington.edu/site-patient-id/uw").alias("identifier_0_system"),
        F.concat(F.lit("sp-"), cs).alias("identifier_0_value"),
        F.lit(True).alias("has_identifier"),
    )
    return pipelines.patients_plan(page, demo, pro, crosswalk, pro_ident, snapshot)


# Medication branches by o_orderkey % 4 (status × name-cleanup quirks):
#  m=0 start+end        → 'stopped'     name 'ABACAVIR  ER' (double space → code collapses)
#  m=1 start only       → 'active'      name 'TENOFOVIR'
#  m=2 no start, end    → 'unknown'     name 'DOLUTEGRAVIR   50MG' (3 spaces → 2 in code)
#  m=3 start only       → 'active'      name 'RITONAVIR'
_MED_ORACLE = """
WITH page AS (
    SELECT c_custkey AS pid, 'hapi-' || CAST(c_custkey AS VARCHAR) AS fhir_id
    FROM customer
),
med AS (
    SELECT o_orderkey AS k, o_custkey AS pid,
           'med-' || CAST(o_orderkey AS VARCHAR) AS rid,
           o_orderkey % 4 AS m
    FROM orders
),
cur AS (
    SELECT med.*, page.fhir_id,
           CASE m WHEN 0 THEN 'ABACAVIR  ER' WHEN 1 THEN 'TENOFOVIR'
                  WHEN 2 THEN 'DOLUTEGRAVIR   50MG' ELSE 'RITONAVIR' END AS name,
           CASE m WHEN 0 THEN 'stopped' WHEN 2 THEN 'unknown' ELSE 'active' END AS status
    FROM med JOIN page ON med.pid = page.pid
),
body AS (
    SELECT rid AS key,
        '{"resourceType":"MedicationRequest",'
        || '"meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-medicationrequest"]},'
        || '"intent":"order",'
        || '"status":"' || status || '",'
        || '"medicationCodeableConcept":{"coding":[{'
        || '"system":"https://cnics.cirg.washington.edu/medication-name",'
        || '"code":"' || regexp_replace(name, '  ', ' ', 'g') || '",'
        || '"display":"' || name || '"}],"text":"' || name || '"},'
        || '"subject":{"reference":"Patient/' || fhir_id || '"},'
        || '"identifier":[{"system":"https://cnics.cirg.washington.edu/medication/site-record-id/uw",'
        || '"value":"' || rid || '"}]}' AS body_json
    FROM cur
),
exi AS (
    SELECT 'med-' || CAST(o_orderkey AS VARCHAR) AS key,
           'srv-' || CAST(o_orderkey AS VARCHAR) AS id
    FROM orders WHERE o_orderkey % 5 = 0
)
SELECT 'MedicationRequest' AS resource_type,
       CASE WHEN b.key IS NOT NULL AND e.key IS NOT NULL THEN 'update'
            WHEN b.key IS NOT NULL THEN 'insert'
            ELSE 'delete' END AS action,
       e.id AS id,
       COALESCE(b.key, e.key) AS key,
       b.body_json AS body_json
FROM body b FULL OUTER JOIN exi e ON b.key = e.key
"""


@query("e2e03_medications_pipeline", tags="E2E J3 J6 B3 F4 F14 A5", oracle=_MED_ORACLE)
def e2e03_medications_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MedicationRequest vertical: F4 status mapping + the F14 double-space
    collapse quirk in the coding code (display keeps the raw name).

    NOTE the reference's single ``replace('  ', ' ')`` pass collapses
    non-overlapping pairs left-to-right (3 spaces → 2); DuckDB's
    regexp_replace(..., 'g') has the same non-overlapping semantics."""
    from cnics_to_fhir_spark import pipelines

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    k = F.col("o_orderkey")
    m = k % 4
    med = orders.select(
        k.alias("MedicationId"),
        F.lit(None).cast("string").alias("Historical"),
        F.col("o_custkey").alias("PatientId"),
        F.encode(F.concat(F.lit("med-"), k.cast("string")), "UTF-8").alias("SiteRecordId"),
        F.when(m == 0, "ABACAVIR  ER")
        .when(m == 1, "TENOFOVIR")
        .when(m == 2, "DOLUTEGRAVIR   50MG")
        .otherwise("RITONAVIR")
        .alias("MedicationName"),
        F.when(m != 2, F.col("o_orderdate")).alias("StartDate"),
        F.when(m == 0, F.col("o_orderdate")).alias("EndDate"),
        F.when(m == 0, "completed").alias("EndType"),
    )
    page = customer.select(
        F.col("c_custkey").alias("PatientId"),
        F.lit("UW").alias("Site"),
        F.concat(F.lit("hapi-"), F.col("c_custkey").cast("string")).alias("fhir_patient_id"),
    )
    snapshot = orders.filter(k % 5 == 0).select(
        F.lit("MedicationRequest").alias("resource_type"),
        F.concat(F.lit("srv-"), k.cast("string")).alias("id"),
        F.lit(None).cast("string").alias("subject"),
        F.lit("https://cnics.cirg.washington.edu/medication/site-record-id/uw").alias("identifier_0_system"),
        F.concat(F.lit("med-"), k.cast("string")).alias("identifier_0_value"),
        F.lit(True).alias("has_identifier"),
    )
    return pipelines.medications_plan(med, page, snapshot)


@query("e2e01_conditions_pipeline", tags="E2E J3 J6 B2 F1-F7 P4 P5 P6 A5", oracle=_ORACLE)
def e2e01_conditions_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real ``pipelines.conditions_plan`` over star-derived CNICS tables;
    the oracle rebuilds the full vertical — filters, page join, coding
    dispatch, byte-exact Condition JSON, MERGE classification — in SQL."""
    from cnics_to_fhir_spark import pipelines
    from cnics_to_fhir_spark.plans.transforms import _STD_DX

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    k = F.col("o_orderkey")

    dxtype = (
        F.when(k % 5 == 0, "Verified clinical diagnosis")
        .when(k % 5 == 1, "Data collected at CNICS site")
        .when(k % 5 == 2, "Patient reported without supporting outside documentation")
        .when(k % 5 == 3, "Reported in outside documentation")
        .otherwise("Source unknown")
    )
    dxname = (
        F.when(k % 6 == 0, "E11.9")
        .when(k % 6 == 1, "250.00")
        .when(k % 6 == 2, "V02.61")
        .when(k % 6 == 3, "COPD")
        .when(k % 6 == 4, "chronic cough, unspecified")
        .otherwise("J44.1")
    )
    dx = orders.select(
        k.alias("DiagnosisId"),
        F.when(k % 7 == 0, "Yes").otherwise(F.lit(None).cast("string")).alias("Historical"),
        F.col("o_custkey").alias("PatientId"),
        F.encode(F.concat(F.lit("dx-"), k.cast("string")), "UTF-8").alias("SiteRecordId"),
        F.col("o_orderdate").alias("DiagnosisDate"),
        dxtype.alias("DiagnosisType"),
        dxname.alias("DiagnosisName"),
    )
    page = customer.select(
        F.col("c_custkey").alias("PatientId"),
        F.lit("UW").alias("Site"),
        F.concat(F.lit("hapi-"), F.col("c_custkey").cast("string")).alias("fhir_patient_id"),
    )
    snapshot = orders.filter(k % 3 == 0).select(
        F.lit("Condition").alias("resource_type"),
        F.concat(F.lit("srv-"), k.cast("string")).alias("id"),
        F.lit(None).cast("string").alias("subject"),
        F.lit("https://cnics.cirg.washington.edu/diagnosis/site-record-id/uw").alias(
            "identifier_0_system"
        ),
        F.concat(F.lit("dx-"), k.cast("string")).alias("identifier_0_value"),
        F.lit(True).alias("has_identifier"),
    )
    std = spark.createDataFrame([(c,) for c in _STD_DX], "code string")
    return pipelines.conditions_plan(
        dx, page, snapshot, std, name_filter_sql=_NAME_FILTER_SQL
    )


# ---------------------------------------------------------------------------
# e2e07 — curation v2: the round-4 curation stages composed into ONE DAG.
# PII redaction → benchmark decontamination (drop) → repetition gate →
# deterministic hash split → per-split sequence packing.  Shuffle budget:
# the bigram count (doc,gram) aggregation + its doc-keyed join, and the
# per-split packing window; decontamination is a broadcast anti-join, the
# redaction/split stages are scan-fused per-row arithmetic.  The oracle
# replays all five stages in one SQL statement.
# ---------------------------------------------------------------------------
_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_SQL = "\\\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\\\b"


@query(
    "e2e07_curation_v2",
    tags="E2E DC TX DS F22 J8 W",
    oracle=f"""
        WITH red AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(text, '{_EMAIL_SQL}', '<EMAIL>', 'g'),
                       '{_PHONE_SQL}', '<PHONE>', 'g') AS text
            FROM documents
        ),
        toksb AS (SELECT doc_id, string_split(text, ' ') AS t FROM red),
        g AS (
            SELECT doc_id,
                   UNNEST(list_distinct(
                       CASE WHEN len(t) >= 8
                            THEN list_transform(range(1, len(t) - 6),
                                                i -> array_to_string(t[i:i+7], ' '))
                            ELSE [array_to_string(t, ' ')]
                       END)) AS gram
            FROM toksb
        ),
        bench AS (
            SELECT doc_id + 1000000 AS doc_id, t[1:40] AS t
            FROM toksb WHERE doc_id % 50 = 0
        ),
        bg AS (
            SELECT DISTINCT UNNEST(list_distinct(
                       CASE WHEN len(t) >= 8
                            THEN list_transform(range(1, len(t) - 6),
                                                i -> array_to_string(t[i:i+7], ' '))
                            ELSE [array_to_string(t, ' ')]
                       END)) AS gram
            FROM bench
        ),
        contaminated AS (
            SELECT DISTINCT c.doc_id FROM g c JOIN bg ON c.gram = bg.gram
        ),
        decont AS (
            SELECT * FROM toksb
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        bgrams AS (
            SELECT doc_id,
                   UNNEST(CASE WHEN len(t) >= 2
                               THEN list_transform(range(1, len(t)),
                                                   i -> array_to_string(t[i:i+1], ' '))
                               ELSE [array_to_string(t, ' ')]
                          END) AS gram
            FROM decont
        ),
        cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM bgrams GROUP BY doc_id, gram),
        agg AS (SELECT doc_id, MAX(c) AS top, SUM(c) AS m FROM cnt GROUP BY doc_id),
        sigs AS (
            SELECT d.doc_id,
                   CAST(len(d.t) AS BIGINT) AS tok,
                   FLOOR((CAST(top AS DOUBLE)/m)*1e6 + 0.5)/1e6 AS top_bigram_frac,
                   FLOOR((1.0 - CAST(len(list_distinct(d.t)) AS DOUBLE)/len(d.t))*1e6 + 0.5)/1e6
                       AS dup_token_ratio
            FROM decont d JOIN agg USING (doc_id)
        ),
        kept AS (
            SELECT * FROM sigs
            WHERE dup_token_ratio <= 0.6 AND top_bigram_frac <= 0.2
        ),
        sp AS (
            SELECT *,
                   CASE WHEN CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                  AS UBIGINT) % 100 AS BIGINT) < 90 THEN 'train'
                        WHEN CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                  AS UBIGINT) % 100 AS BIGINT) < 95 THEN 'val'
                        ELSE 'test' END AS split,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
            FROM kept
        ),
        packed AS (
            SELECT split, shard, doc_id, tok, top_bigram_frac, dup_token_ratio,
                   CAST(COALESCE(SUM(tok) OVER (
                       PARTITION BY split, shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS prec
            FROM sp
        )
        SELECT split, shard, doc_id, tok, top_bigram_frac, dup_token_ratio,
               prec // 512 AS bin_id, prec % 512 AS bin_offset
        FROM packed
    """,
)
def e2e07_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v2 vertical: redact → decontaminate → repetition-gate →
    split → pack, all through the production operators in one DAG. The
    repetition gate (dup_token_ratio ≤ 0.6, top_bigram_frac ≤ 0.2 on the
    rounded grid) cuts ~35% of this corpus; decontamination drops the
    benchmark-excerpt sources; packing is a per-(split, md5-shard)
    running-token-sum window (budget 512): bins never cross split
    boundaries (the leakage-safe packing rule) and the 16 shards inside
    each split are independent packing streams, so the window parallelism
    is 48-wide instead of 3 — per-split-only packing would serialize the
    whole corpus onto three tasks at scale.

    The redacted corpus feeds four plan branches (benchmark excerpts,
    corpus grams, the anti-join base, the token stats) and the
    decontaminated corpus feeds two, so both persist MEMORY_AND_DISK for
    the run — the dd03-shingle tradeoff: corpus-sized storage instead of
    re-running the regex scan per branch.  The result is materialized
    inside the entry and both caches unpersisted in a finally, so
    corpus-sized blocks never outlive the entry in a long catalog run."""
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    from cnics_to_fhir_spark.functions.partitioning import ensure_min_parallelism
    from cnics_to_fhir_spark.operators import curation, textanalysis
    from cnics_to_fhir_spark.operators.dataset import hash_split

    # Fan the corpus out BEFORE the redaction+cache: a single-row-group
    # documents file otherwise fills the cache through one task (profiled
    # 2.15 s serial at sf0.1) and leaves every cached branch 1-partition.
    docs = ensure_min_parallelism(table(spark, sf_dir, "documents"), "doc_id")
    clean = (
        curation.pii_redact(docs)
        .select("doc_id", F.col("redacted").alias("text"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        bench = clean.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 40), " ").alias("text"),
        )
        decont = curation.drop_contaminated(clean, bench, k=8).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            sigs = textanalysis.repetition_signals(decont)
            kept = sigs.filter(
                (F.col("dup_token_ratio") <= 0.6) & (F.col("top_bigram_frac") <= 0.2)
            ).select(
                "doc_id",
                F.col("n_tokens").cast("long").alias("tok"),
                "top_bigram_frac",
                "dup_token_ratio",
            )
            sp = hash_split(kept).drop("bucket").withColumn(
                "shard", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
            )
            w = (
                Window.partitionBy("split", "shard")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            prec = F.coalesce(F.sum("tok").over(w), F.lit(0)).cast("long")
            out = sp.select(
                "split",
                "shard",
                "doc_id",
                "tok",
                "top_bigram_frac",
                "dup_token_ratio",
                # 512 = 2^9: shift/mask keep the bin math in exact integer
                # space at any corpus size (a double division would wobble
                # past 2^53)
                F.shiftright(prec, 9).alias("bin_id"),
                prec.bitwiseAND(F.lit(511)).alias("bin_offset"),
            )
            # Materialize before unpersisting (the lazy plan references
            # both caches) — via a parquet-sink write + re-read, the
            # production shape: every row stays executor-side (tasks write
            # their own files, the re-read is a plain scan with no
            # reference to this lineage), no O(kept-docs) driver transfer.
            from cnics_to_fhir_spark.load.parquet_sink import materialize

            result = materialize(out, "e2e07")
        finally:
            decont.unpersist()
    finally:
        clean.unpersist()
    return result


# ---------------------------------------------------------------------------
# e2e08 — curation v3: span-dedup → trained langid gate → quality bands
# ---------------------------------------------------------------------------
@query(
    "e2e08_curation_v3",
    tags="DD TX DS W A5 E2E",
    oracle="""
        WITH toks0 AS (
            SELECT doc_id, string_split(text, ' ') AS a FROM documents
        ),
        grams AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   md5(array_to_string(list_slice(a, i, i + 7), ' ')) AS g
            FROM toks0, UNNEST(range(1, len(a) - 8 + 2)) AS u(i)
            WHERE len(a) >= 8
        ),
        dupg AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        marked AS (SELECT doc_id, pos FROM grams JOIN dupg USING (g)),
        isl AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM marked
        ),
        spans AS (
            SELECT doc_id, MAX(pos) - MIN(pos) + 8 AS span_len
            FROM isl GROUP BY doc_id, grp
        ),
        longspan AS (SELECT DISTINCT doc_id FROM spans WHERE span_len >= 24),
        s1 AS (
            SELECT d.* FROM documents d
            LEFT JOIN longspan l USING (doc_id) WHERE l.doc_id IS NULL
        ),
        train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        tr2 AS (
            SELECT lang, tok FROM (
                SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM train
            ) WHERE tok <> ''
        ),
        counts AS (SELECT lang, tok, COUNT(*) AS c FROM tr2 GROUP BY 1, 2),
        lt AS (SELECT lang, COUNT(*) AS t_l FROM tr2 GROUP BY 1),
        vs AS (SELECT COUNT(DISTINCT tok) AS v FROM tr2),
        cost_tbl AS (
            SELECT c.lang, c.tok,
                   CAST(FLOOR((ln(lt.t_l + vs.v) - ln(c.c + 1)) * 1e6) AS BIGINT) AS cost
            FROM counts c JOIN lt USING (lang), vs
        ),
        defaults AS (
            SELECT lang, CAST(FLOOR(ln(t_l + v) * 1e6) AS BIGINT) AS cost0 FROM lt, vs
        ),
        dl AS (SELECT lang, COUNT(*) AS d_l FROM train GROUP BY 1),
        pri AS (
            SELECT lang,
                   CAST(FLOOR((ln((SELECT SUM(d_l) FROM dl)) - ln(d_l)) * 1e6) AS BIGINT)
                       AS prior_cost
            FROM dl
        ),
        te2 AS (
            SELECT id, tok FROM (
                SELECT doc_id AS id, UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ),
        scored AS (
            SELECT te2.id, l.lang, COALESCE(ct.cost, d.cost0) AS cost
            FROM te2
            CROSS JOIN (SELECT lang FROM lt) l
            LEFT JOIN cost_tbl ct ON ct.lang = l.lang AND ct.tok = te2.tok
            JOIN defaults d ON d.lang = l.lang
        ),
        totals AS (SELECT id, lang, SUM(cost) AS tok_cost FROM scored GROUP BY 1, 2),
        tot2 AS (
            SELECT t.id, t.lang, t.tok_cost + p.prior_cost AS total_cost
            FROM totals t JOIN pri p USING (lang)
        ),
        pred AS (
            SELECT id, lang,
                   ROW_NUMBER() OVER (PARTITION BY id ORDER BY total_cost, lang) AS rn
            FROM tot2
        ),
        en AS (SELECT id AS doc_id FROM pred WHERE rn = 1 AND lang = 'en'),
        s2 AS (SELECT s1.* FROM s1 JOIN en USING (doc_id)),
        t2b AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM s2
            ) WHERE tok <> ''
        ),
        vocab2 AS (SELECT tok, COUNT(*) AS cnt FROM t2b GROUP BY tok),
        totb AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total FROM vocab2),
        sc2 AS (
            SELECT tok,
                   CAST(FLOOR((ln(n_total) - ln(CAST(cnt AS DOUBLE))) * 1e6) AS BIGINT) AS llq
            FROM vocab2, totb
        ),
        docs2 AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(llq) // COUNT(*) AS BIGINT) AS avg_nll_q
            FROM t2b JOIN sc2 USING (tok) GROUP BY doc_id
        ),
        tiled AS (
            SELECT doc_id, n_tokens,
                   CAST(NTILE(3) OVER (ORDER BY avg_nll_q, doc_id) AS BIGINT) AS bucket
            FROM docs2
        ),
        kept AS (SELECT * FROM tiled WHERE bucket <= 2)
        SELECT d.source,
               CASE k.bucket WHEN 1 THEN 'head' ELSE 'middle' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(k.n_tokens) AS BIGINT) AS total_tokens
        FROM kept k JOIN documents d USING (doc_id)
        GROUP BY 1, 2
    """,
)
def e2e08_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 operator family composed into ONE curation DAG — the
    CCNet/RefinedWeb recipe shape: (1) drop docs carrying a cross-doc
    duplicated span ≥ 24 tokens (dd12's detector as a gate), (2) keep
    docs a split-TRAINED Naive-Bayes classifier labels 'en' (tx09 in
    score-all gate mode), (3) band the survivors head/middle/tail with a
    unigram LM trained ON THE SURVIVORS and the scale-safe exact NTILE
    (tx07 + ds10), keep head+middle, (4) per-source summary.  Every
    stage's scale shape is inherited from its standalone entry; the
    composition adds only ids-keyed semi/anti joins between stages."""
    from cnics_to_fhir_spark.operators.dataset import global_ntile
    from cnics_to_fhir_spark.operators.dedup import duplicated_spans
    from cnics_to_fhir_spark.operators.textanalysis import nb_langid, unigram_surprise

    docs = table(spark, sf_dir, "documents")
    longspan = (
        duplicated_spans(docs, k=8, min_docs=2)
        .filter(F.col("span_len_tokens") >= 24)
        .select("doc_id")
        .distinct()
    )
    s1 = docs.join(longspan, "doc_id", "left_anti")
    en = nb_langid(docs, score_all=True).filter(F.col("pred_lang") == "en").select("doc_id")
    # Survivor ids pinned eagerly: the two trained gates (span detector +
    # NB classifier) would otherwise re-execute for every downstream
    # consumer of the lazy lineage (unigram training, scoring, the final
    # join).  Ids-only, so the checkpoint is O(corpus) × 8 bytes — swap
    # for reliable checkpoint on a real cluster (dd06's note).
    keep_ids = s1.join(en, "doc_id", "left_semi").select("doc_id").localCheckpoint(eager=True)
    s2 = docs.join(keep_ids, "doc_id", "left_semi")
    scored = unigram_surprise(s2).select("doc_id", "n_tokens", "avg_nll_q")
    kept = global_ntile(scored, ["avg_nll_q", "doc_id"], 3).filter(F.col("bucket") <= 2)
    return (
        kept.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy(
            "source",
            F.when(F.col("bucket") == 1, "head").otherwise("middle").alias("band"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# e2e09 — labeled-dataset export: votes → majority labels → agreement gate
#          → corpus join → validated export
# ---------------------------------------------------------------------------
@query(
    "e2e09_label_export_pipeline",
    tags="E2E LB DQ J1 A5",
    oracle="""
        WITH votes AS (
            SELECT event_id % 199 AS item_id, user_id, event_type, ts, event_id
            FROM events
        ),
        latest AS (
            SELECT item_id, user_id, event_type FROM (
                SELECT item_id, user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM votes
            ) WHERE rn = 1
        ),
        hist AS (
            SELECT item_id, event_type AS label, CAST(COUNT(*) AS BIGINT) AS c
            FROM latest GROUP BY 1, 2
        ),
        agg AS (
            SELECT item_id, CAST(SUM(c) AS BIGINT) AS n_votes,
                   CAST(COUNT(*) AS BIGINT) AS n_labels
            FROM hist GROUP BY 1
        ),
        win AS (
            SELECT item_id, label, c FROM (
                SELECT item_id, label, c,
                       ROW_NUMBER() OVER (PARTITION BY item_id
                                          ORDER BY c DESC, label ASC) AS rn
                FROM hist
            ) WHERE rn = 1
        ),
        confident AS (
            SELECT a.item_id, w.label,
                   CAST(w.c AS BIGINT) AS winner_votes, a.n_votes,
                   CAST(w.c * 1000000 // a.n_votes AS BIGINT) AS winner_share_q
            FROM agg a JOIN win w USING (item_id)
            WHERE a.n_votes >= 3
              AND (w.c * 1000000 // a.n_votes) * a.n_labels >= 1000000
        )
        SELECT d.doc_id, c.label, c.winner_votes, c.n_votes, c.winner_share_q,
               d.lang, d.source
        FROM confident c JOIN documents d ON d.doc_id = c.item_id
    """,
)
def e2e09_label_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The labeled-dataset EXPORT vertical: raw annotation votes (events
    replayed as lb01's campaign) → majority labels with agreement stats →
    confidence gate (≥3 votes AND winner share ABOVE the uniform 1/n_labels
    baseline — a scale-robust form: absolute share thresholds empty out as
    per-item vote counts grow and shares concentrate toward uniform; the
    integer form share_q·n_labels ≥ 10⁶ stays exact) → join onto the
    document corpus
    → export validated IN-ENTRY with the dq05 machinery (doc_id
    uniqueness; a duplicate would double-weight an example silently).
    The oracle replays every stage in one statement, so a bug anywhere in
    the chain — vote collapse, tiebreak, gating arithmetic, the join —
    breaks the hash, not just one operator's unit test.

    Scale shape: lb01's two keyed aggregations + one ids-keyed join into
    the corpus (labels table ≤ items, broadcast-able at campaign scale);
    the validation suite adds one keyed count over the O(items) export,
    never a second corpus scan."""
    from cnics_to_fhir_spark.operators import quality
    from cnics_to_fhir_spark.operators.labels import majority_label

    e = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 199).alias("item_id"),
        F.col("user_id").alias("annotator_id"),
        F.col("event_type").alias("label"),
        "ts",
        "event_id",
    )
    labels = majority_label(
        e, item_col="item_id", annotator_col="annotator_id", label_col="label",
        ts_col="ts", vote_id_col="event_id",
    )
    confident = labels.filter(
        (F.col("n_votes") >= 3)
        & (F.col("winner_share_q") * F.col("n_labels") >= 1000000)
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    export = docs.join(
        F.broadcast(confident), docs["doc_id"] == confident["item_id"]
    ).select(
        "doc_id",
        F.col("winner_label").alias("label"),
        "winner_votes",
        "n_votes",
        "winner_share_q",
        "lang",
        "source",
    )
    export = export.localCheckpoint(eager=True)
    gate = quality.expect_unique(export, ["doc_id"]).collect()[0]
    if not gate["passed"]:
        raise AssertionError(
            f"label export is not unique per doc: {gate['n_violations']} dups"
        )
    return export


# ---------------------------------------------------------------------------
# e2e10 — pretraining data build: exact dedup → leakage-safe split →
#          temperature mixture, one DAG, one oracle statement
# ---------------------------------------------------------------------------
@query(
    "e2e10_pretraining_data_build",
    tags="E2E DD-exact DD-clusters DS GR A5",
    oracle="""
        WITH RECURSIVE survivors AS (
            SELECT doc_id, text, source FROM (
                SELECT doc_id, text, source,
                       ROW_NUMBER() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM documents
            ) WHERE rn = 1
        ),
        base AS (
            SELECT doc_id AS id,
                   array_to_string((string_split(text, ' '))[1:4], ' ') AS block,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN list_transform(
                                   range(1, len(string_split(text, ' ')) - 1),
                                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                            ELSE [text]
                       END) AS shingles
            FROM survivors
        ),
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
            WHERE FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6 >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS id, src AS r FROM edges
            UNION
            SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
        ),
        comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
        assign AS (
            SELECT s.doc_id, s.source,
                   CASE WHEN substring(md5(CAST(COALESCE(c.rep, s.doc_id)
                                                AS VARCHAR)), 1, 2) < 'c0'
                             THEN 'train'
                        WHEN substring(md5(CAST(COALESCE(c.rep, s.doc_id)
                                                AS VARCHAR)), 1, 2) < 'e0'
                             THEN 'val'
                        ELSE 'test' END AS split
            FROM survivors s LEFT JOIN comp c ON c.id = s.doc_id
        ),
        train AS (SELECT * FROM assign WHERE split = 'train'),
        counts AS (SELECT source, COUNT(*) AS n FROM train GROUP BY 1),
        mx AS (SELECT MAX(n) AS n_max FROM counts),
        w AS (
            SELECT source,
                   CAST(FLOOR(100 * sqrt(CAST(n_max AS DOUBLE) / n)) AS BIGINT) AS wt
            FROM counts, mx
        ),
        nn AS (
            SELECT t.doc_id, t.source, t.split,
                   CAST(w.wt // 100
                        + CASE WHEN CAST(CAST(('0x' || substring(
                                   md5(CAST(t.doc_id AS VARCHAR)), 1, 15))
                                   AS UBIGINT) % 100 AS BIGINT) < w.wt % 100
                               THEN 1 ELSE 0 END AS BIGINT) AS n_epochs
            FROM train t JOIN w USING (source)
        )
        SELECT doc_id, source, split, n_epochs, CAST(e AS BIGINT) AS epoch
        FROM nn, UNNEST(range(1, n_epochs + 1)) AS u(e)
        WHERE n_epochs > 0
        UNION ALL
        SELECT doc_id, source, split, CAST(1 AS BIGINT) AS n_epochs,
               CAST(1 AS BIGINT) AS epoch
        FROM assign WHERE split <> 'train'
    """,
)
def e2e10_pretraining_data_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE pretraining-data vertical, end to end in one DAG and one oracle
    statement: exact dedup (md5 keeper = smallest id) → near-dup pair
    graph over the survivors → leakage-safe train/val/test split (near-dup
    CLUSTERS never straddle — ds13's guarantee, now downstream of dedup
    exactly where a real build runs it) → τ=2 temperature mixture over
    the TRAIN split only (data-derived integer weights computed in the
    plan, exact epoch arithmetic; eval splits are never upsampled —
    duplicated eval rows would double-count errors).  A bug in ANY stage — keeper choice,
    component closure, bucket rule, weight quantization, epoch explode —
    breaks one hash.

    Scale shape is the sum of its parts, all previously probed sub-linear:
    one content-hash aggregation, the pair-graph contraction (pairs, not
    corpus), one ids-keyed split join, a source-keyed weight join, and a
    shuffle-free epoch explode.  Output: (doc_id,
    source, split, n_epochs, epoch) — train rows replicated per epoch,
    val/test exactly once."""
    from cnics_to_fhir_spark.operators.dataset import leakage_safe_split, temperature_mixture
    from cnics_to_fhir_spark.operators.dedup import drop_exact_dups, ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    survivors = drop_exact_dups(docs).localCheckpoint(eager=True)
    pairs = ngram_jaccard_pairs(survivors, k=3, block_words=4, threshold=0.5)
    split = leakage_safe_split(survivors, pairs)
    assign = survivors.select("doc_id", "source").join(
        split.select("doc_id", "split"), "doc_id"
    )
    train = assign.filter(F.col("split") == "train")
    mixed = temperature_mixture(train).select(
        "doc_id", "source", "split", "n_epochs", "epoch"
    )
    rest = assign.filter(F.col("split") != "train").select(
        "doc_id",
        "source",
        "split",
        F.lit(1).cast("long").alias("n_epochs"),
        F.lit(1).cast("long").alias("epoch"),
    )
    return mixed.unionByName(rest)


# ---------------------------------------------------------------------------
# e2e11 — incremental corpus update: new batch dedups against the corpus,
#          inherits existing clusters' splits, existing splits never move
# ---------------------------------------------------------------------------
@query(
    "e2e11_incremental_corpus_update",
    tags="E2E DD DS GR J1",
    oracle="""
        WITH RECURSIVE
        docs AS (
            SELECT doc_id, text, (doc_id % 10 = 0) AS is_new FROM documents
        ),
        base AS (
            SELECT doc_id AS id, is_new,
                   array_to_string((string_split(text, ' '))[1:4], ' ') AS block,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN list_transform(
                                   range(1, len(string_split(text, ' ')) - 1),
                                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                            ELSE [text]
                       END) AS shingles
            FROM docs
        ),
        allpairs AS (
            SELECT a.id AS id_a, b.id AS id_b, a.is_new AS new_a, b.is_new AS new_b
            FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
            WHERE FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6 >= 0.5
        ),
        cedges AS (
            SELECT id_a AS src, id_b AS dst FROM allpairs WHERE NOT new_a AND NOT new_b
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM allpairs WHERE NOT new_a AND NOT new_b
        ),
        creach AS (
            SELECT DISTINCT src AS id, src AS r FROM cedges
            UNION
            SELECT e.dst AS id, creach.r FROM creach JOIN cedges e ON e.src = creach.id
        ),
        ccomp AS (SELECT id, MIN(r) AS rep FROM creach GROUP BY id),
        corpus_split AS (
            SELECT d.doc_id,
                   CASE WHEN substring(md5(CAST(COALESCE(c.rep, d.doc_id)
                                                AS VARCHAR)), 1, 2) < 'c0'
                             THEN 'train'
                        WHEN substring(md5(CAST(COALESCE(c.rep, d.doc_id)
                                                AS VARCHAR)), 1, 2) < 'e0'
                             THEN 'val'
                        ELSE 'test' END AS split
            FROM docs d LEFT JOIN ccomp c ON c.id = d.doc_id
            WHERE NOT d.is_new
        ),
        uedges AS (
            SELECT id_a AS src, id_b AS dst FROM allpairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM allpairs
        ),
        ureach AS (
            SELECT DISTINCT src AS id, src AS r FROM uedges
            UNION
            SELECT e.dst AS id, ureach.r FROM ureach JOIN uedges e ON e.src = ureach.id
        ),
        ucomp AS (SELECT id, MIN(r) AS rep FROM ureach GROUP BY id),
        nassign AS (
            SELECT d.doc_id, COALESCE(u.rep, d.doc_id) AS urep
            FROM docs d LEFT JOIN ucomp u ON u.id = d.doc_id
            WHERE d.is_new
        ),
        comp_corpus AS (
            SELECT u.rep AS urep, MIN(cs.doc_id) AS min_cid,
                   COUNT(DISTINCT cs.split) AS n_splits
            FROM ucomp u JOIN corpus_split cs ON cs.doc_id = u.id
            GROUP BY u.rep
        ),
        new_out AS (
            SELECT na.doc_id, TRUE AS is_new,
                   CASE WHEN cc.urep IS NOT NULL THEN mcs.split
                        WHEN substring(md5(CAST(na.urep AS VARCHAR)), 1, 2) < 'c0'
                             THEN 'train'
                        WHEN substring(md5(CAST(na.urep AS VARCHAR)), 1, 2) < 'e0'
                             THEN 'val'
                        ELSE 'test' END AS split,
                   (cc.urep IS NOT NULL) AS inherited,
                   COALESCE(cc.n_splits > 1, FALSE) AS conflict
            FROM nassign na
            LEFT JOIN comp_corpus cc ON cc.urep = na.urep
            LEFT JOIN corpus_split mcs ON mcs.doc_id = cc.min_cid
        )
        SELECT doc_id, FALSE AS is_new, split,
               FALSE AS inherited, FALSE AS conflict
        FROM corpus_split
        UNION ALL
        SELECT doc_id, is_new, split, inherited, conflict FROM new_out
    """,
)
def e2e11_incremental_corpus_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production gap e2e10 leaves open: a NEW batch of documents
    arrives at an already-split corpus.  Existing docs must KEEP their
    split (retraining-set stability — a doc that migrates from train to
    test silently converts memorization into measured accuracy), while
    new docs (1) near-dup-check against the corpus through dd11's
    incremental pattern (corpus×corpus pairs never re-verified), (2)
    inherit the split of the cluster they join — transitively, through
    within-batch chains — and (3) genuinely-new docs get the md5 bucket
    of their (all-new) component representative, ds13's rule.

    A new doc can BRIDGE two existing clusters that were split apart
    before the link was known; stability forbids moving either side, so
    the entry flags those docs ``conflict=true`` (split = the min-rep
    cluster's, deterministic) instead of pretending the straddle away —
    production quarantines them.  In-entry assertions (ds13's "a silent
    guarantee is just a comment"): zero within-batch near-dup pairs
    straddle, and zero non-conflict inherited docs disagree with any
    corpus neighbor.

    Scale shape: phase 1 is e2e10's (components on the corpus PAIR graph);
    the ingest itself touches the corpus only through the (id, block)
    candidate projection (bucket-join, corpus stationary) and collapses
    every cross pair to the corpus CLUSTER REP — so the ingest component
    step runs on a graph of O(batch + touched reps) nodes, independent of
    corpus-internal similarity, and the conflict/inherit summary is one
    keyed aggregation over it.  The oracle replays BOTH closures
    (corpus-phase and union) in one recursive-CTE statement; equality of
    the rep-collapsed incremental graph with the full union closure is
    exactly the contraction argument in the docstring.

    Output: (doc_id, is_new, split, inherited, conflict) for every doc."""
    from cnics_to_fhir_spark.operators.dataset import incremental_split_update

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_split_update(
        corpus, batch, k=3, block_words=4, threshold=0.5
    )


# ---------------------------------------------------------------------------
# e2e12 — reliability-weighted relabeling: lb04's scores re-adjudicate lb01
# ---------------------------------------------------------------------------
@query(
    "e2e12_reliability_weighted_labels",
    tags="E2E LB A3 A5 J8",
    oracle="""
        WITH votes AS (
            SELECT event_id % 199 AS item_id, user_id, event_type, ts, event_id
            FROM events
        ),
        latest AS (
            SELECT item_id, user_id, event_type FROM (
                SELECT item_id, user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM votes
            ) WHERE rn = 1
        ),
        hist AS (
            SELECT item_id, event_type AS label, CAST(COUNT(*) AS BIGINT) AS c
            FROM latest GROUP BY 1, 2
        ),
        n_item AS (SELECT item_id, SUM(c) AS n FROM hist GROUP BY 1),
        elig AS (
            SELECT l.item_id, l.user_id, l.event_type AS my_label
            FROM latest l JOIN n_item ni USING (item_id) WHERE ni.n >= 2
        ),
        fan AS (
            SELECT e.item_id, e.user_id, e.my_label, h.label AS hl,
                   h.c - CASE WHEN h.label = e.my_label THEN 1 ELSE 0 END AS adj
            FROM elig e JOIN hist h USING (item_id)
        ),
        loo AS (
            SELECT item_id, user_id, my_label, hl AS loo_winner FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                             ORDER BY adj DESC, hl ASC) AS rn
                FROM fan
            ) WHERE rn = 1
        ),
        rel AS (
            SELECT user_id, COUNT(*) AS n_items,
                   SUM(CASE WHEN my_label = loo_winner THEN 1 ELSE 0 END) AS n_agree
            FROM loo GROUP BY 1
        ),
        w AS (
            SELECT user_id,
                   CAST((n_agree + 1) * 1000000 // (n_items + 2) AS BIGINT) AS wt
            FROM rel
        ),
        wv AS (
            SELECT l.item_id, l.event_type AS label,
                   COALESCE(w.wt, 500000) AS wt
            FROM latest l LEFT JOIN w USING (user_id)
        ),
        score AS (
            SELECT item_id, label, CAST(SUM(wt) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM wv GROUP BY 1, 2
        ),
        wwin AS (
            SELECT item_id, label AS weighted_label, s AS weighted_score FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY item_id
                                             ORDER BY s DESC, label ASC) AS rn
                FROM score
            ) WHERE rn = 1
        ),
        pwin AS (
            SELECT item_id, label AS plain_label FROM (
                SELECT item_id, label,
                       ROW_NUMBER() OVER (PARTITION BY item_id
                                          ORDER BY c DESC, label ASC) AS rn
                FROM score
            ) WHERE rn = 1
        )
        SELECT ww.item_id, ww.weighted_label, ww.weighted_score,
               CAST(ni.n AS BIGINT) AS n_votes, pw.plain_label,
               (ww.weighted_label <> pw.plain_label) AS changed
        FROM wwin ww
        JOIN pwin pw USING (item_id)
        JOIN n_item ni USING (item_id)
    """,
)
def e2e12_reliability_weighted_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The label-quality loop CLOSED: lb04's leave-one-out reliability
    scores feed back into the vote aggregation as per-annotator weights —
    w_a = Beta(1,1)-smoothed LOO agreement in exact micro-units, with
    annotators lacking any reliability evidence (only single-voter items)
    at the 500000 prior rather than discarded or fully trusted — and the
    weighted winner is compared against lb01's plain majority; ``changed``
    items are the re-adjudication queue a labeling platform actually
    ships.  One oracle statement replays collapse → LOO reliability →
    smoothing → weighted score → both winners, so a bug anywhere in the
    chain breaks the hash (operators/labels.py
    reliability_weighted_labels)."""
    from cnics_to_fhir_spark.operators.labels import reliability_weighted_labels

    e = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 199).alias("item_id"),
        F.col("user_id").alias("annotator_id"),
        F.col("event_type").alias("label"),
        "ts",
        "event_id",
    )
    return reliability_weighted_labels(
        e, item_col="item_id", annotator_col="annotator_id", label_col="label",
        ts_col="ts", vote_id_col="event_id",
    )


# ---------------------------------------------------------------------------
# e2e13 — the whole build SHIPPED: e2e10's pipeline exported as the
#          sharded, consumer-verifiable artifact, under one oracle hash
# ---------------------------------------------------------------------------
from cnics_to_fhir_spark.plans.registry import _REGISTRY as _REG  # noqa: E402

_B = _REG["e2e10_pretraining_data_build"].oracle
_SPLIT_AT = "SELECT doc_id, source, split, n_epochs, CAST(e AS BIGINT) AS epoch"
_E2E13_ORACLE = (
    _B[: _B.index(_SPLIT_AT)]
    + ", build AS (\n"
    + _B[_B.index(_SPLIT_AT):]
    + """
        ),
        h AS (
            SELECT CAST(('0x' || substring(md5(
                       CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)
                   ), 1, 15)) AS UBIGINT) % 8 AS shard,
                   CAST(('0x' || substring(md5(
                       CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)
                       || chr(31) || CAST(doc_id AS VARCHAR)
                       || chr(31) || source
                       || chr(31) || split
                       || chr(31) || CAST(n_epochs AS VARCHAR)
                       || chr(31) || CAST(epoch AS VARCHAR)
                   ), 1, 15)) AS UBIGINT) AS rh
            FROM build
        )
        SELECT CAST(shard AS INTEGER) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(rh AS DECIMAL(38,0))) AS VARCHAR) AS checksum
        FROM h GROUP BY 1
    """
)


@query(
    "e2e13_pretraining_export",
    tags="E2E DD DS GR S-sink A5 F18",
    oracle=_E2E13_ORACLE,
)
def e2e13_pretraining_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone: e2e10's ENTIRE pretraining build (exact dedup →
    near-dup pair graph → cluster-keyed leakage-safe split → τ=2 train
    mixture) piped into ds15's sharded export and RE-VERIFIED from disk —
    the oracle composes e2e10's recursive-CTE replay with the export's
    shard/checksum arithmetic, so ONE hash covers raw documents all the
    way to the artifact a training job loads.  A bug anywhere — keeper
    choice, closure, bucket rule, epoch arithmetic, shard assignment,
    manifest checksum, or the writer itself (verification reads the
    PHYSICAL shards back) — breaks it.  Row key = doc_id:epoch (train
    rows are replicated per epoch; the key must be unique per exported
    row or two replicas would silently collapse)."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.load.corpus_export import export_shards, verify_export
    from cnics_to_fhir_spark.session import scratch_name

    build = e2e10_pretraining_data_build(spark, sf_dir).select(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("epoch").cast("string")
        ).alias("row_key"),
        "doc_id",
        "source",
        "split",
        "n_epochs",
        "epoch",
    )
    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "e2e13_export"))
    try:
        export_shards(
            build, path, n_shards=8, key_col="row_key",
            content_cols=["doc_id", "source", "split", "n_epochs", "epoch"],
        )
        manifest = verify_export(spark, path)
        rows = [
            (int(k), v["n_rows"], v["checksum"])
            for k, v in manifest["shards"].items()
        ]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, "shard int, n_rows bigint, checksum string")
