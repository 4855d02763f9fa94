"""Golden-output tests for B1-B4 (SURVEY.md §5.2): assemble → to_json →
parse → compare to the reference's template shapes (cnics_to_fhir.py
:367-527 Patient, :586-625 Condition, :681-708 MedicationRequest,
:766-893 Observation). Parsed-JSON comparison — key order is not part of
JSON object semantics."""

from __future__ import annotations

import datetime
import json

from pyspark.sql import functions as F

from cnics_to_fhir_spark.assembly import (
    condition_resource,
    medication_request_resource,
    observation_resource,
    patient_resource,
)
from cnics_to_fhir_spark.functions import coding

US_CORE = "http://hl7.org/fhir/us/core/StructureDefinition/"


def _one_json(df):
    return json.loads(df.select("body_json").collect()[0]["body_json"])


def test_condition_golden(spark):
    df = spark.createDataFrame(
        [("UW", "hapi-1", "E11.9", "Verified clinical diagnosis",
          datetime.date(2020, 3, 14), "rec-77")],
        ["site", "pat", "dx", "dxtype", "dxdate", "rid"],
    )
    df = df.withColumn("in_std", coding.standard_membership(F.col("dx"), ["COPD"]))
    got = _one_json(
        condition_resource(df, "site", "pat", "dx", "dxtype", "dxdate", "rid", in_standard="in_std")
    )
    assert got == {
        "resourceType": "Condition",
        "meta": {"profile": [US_CORE + "us-core-condition"]},
        "verificationStatus": {
            "coding": [{
                "system": "http://terminology.hl7.org/CodeSystem/condition-ver-status",
                "code": "confirmed",
            }]
        },
        "category": [{
            "coding": [{
                "system": "http://terminology.hl7.org/CodeSystem/condition-category",
                "code": "problem-list-item",
                "display": "Problem List Item",
            }]
        }],
        "code": {
            "coding": [{
                "system": "http://hl7.org/fhir/sid/icd-10-cm",
                "code": "E11.9",
                "display": "E11.9",
            }],
            "text": "E11.9",
        },
        "subject": {"reference": "Patient/hapi-1"},
        "recordedDate": "2020-03-14",
        "identifier": [{
            "system": "https://cnics.cirg.washington.edu/diagnosis/site-record-id/uw",
            "value": "rec-77",
        }],
    }


def test_condition_null_date_drops_recorded(spark):
    df = spark.createDataFrame(
        [("uw", "p", "COPD", "Source unknown", None, "r1")],
        "site string, pat string, dx string, dxtype string, dxdate date, rid string",
    )
    df = df.withColumn("in_std", coding.standard_membership(F.col("dx"), ["COPD"]))
    got = _one_json(
        condition_resource(df, "site", "pat", "dx", "dxtype", "dxdate", "rid", in_standard="in_std")
    )
    assert "recordedDate" not in got  # cnics_to_fhir.py:613-614
    assert got["code"]["coding"][0]["system"] == coding.CNICS_DX_SYSTEM
    assert got["verificationStatus"]["coding"][0]["code"] == "unconfirmed"
    assert got["category"][0]["coding"][0]["code"] == "health-concern"


def test_medication_request_golden(spark):
    df = spark.createDataFrame(
        [("JH", "hapi-9", "DRUG  ONE", datetime.date(2021, 1, 2),
          datetime.date(2021, 6, 2), "Completed", "mrec-1")],
        ["site", "pat", "med", "start", "end", "endtype", "rid"],
    )
    got = _one_json(
        medication_request_resource(df, "site", "pat", "med", "start", "end", "endtype", "rid")
    )
    assert got == {
        "resourceType": "MedicationRequest",
        "meta": {"profile": [US_CORE + "us-core-medicationrequest"]},
        "intent": "order",
        "status": "stopped",
        "medicationCodeableConcept": {
            "coding": [{
                "system": "https://cnics.cirg.washington.edu/medication-name",
                "code": "DRUG ONE",      # double-space collapsed (:702)
                "display": "DRUG  ONE",  # display keeps the raw name (:703)
            }],
            "text": "DRUG  ONE",
        },
        "subject": {"reference": "Patient/hapi-9"},
        "identifier": [{
            "system": "https://cnics.cirg.washington.edu/medication/site-record-id/jh",
            "value": "mrec-1",
        }],
    }


def _obs(spark, result, units, lo, hi):
    df = spark.createDataFrame(
        [("uw", "hp", "Hemoglobin A1C", result, units,
          datetime.datetime(2022, 5, 1, 10, 30), lo, hi, "lab-1")],
        "site string, pat string, test string, result string, units string,"
        " cdate timestamp, lo string, hi string, rid string",
    )
    return _one_json(
        observation_resource(
            df, "site", "pat", "test", "result", "units", "cdate", "lo", "hi", "rid"
        )
    )


def test_observation_integer_bare_value(spark):
    got = _obs(spark, "42", "mg/dL", None, None)
    assert got["valueInteger"] == 42
    assert "valueQuantity" not in got and "valueRange" not in got
    assert "referenceRange" not in got  # only for Quantity/Range (:829-886)
    assert got["effectiveDateTime"] == "2022-05-01"
    assert got["status"] == "final"
    assert got["category"][0]["coding"][0]["code"] == "laboratory"


def test_observation_quantity_with_default_unit(spark):
    got = _obs(spark, "5.7", None, None, None)
    assert got["valueQuantity"] == {
        "value": 5.7, "unit": "%",
        "system": "http://unitsofmeasure.org", "code": "%",
    }


def test_observation_comparator(spark):
    got = _obs(spark, "<7.0", "mmol/L", None, None)
    assert got["valueQuantity"] == {
        "value": 7.0, "comparator": "<", "unit": "mmol/L",
        "system": "http://unitsofmeasure.org", "code": "mmol/L",
    }


def test_observation_range_units_only_when_supplied(spark):
    got = _obs(spark, "4-6", None, None, None)
    assert got["valueRange"] == {"low": {"value": 4.0}, "high": {"value": 6.0}}
    got2 = _obs(spark, "4-6", "g/L", None, None)
    assert got2["valueRange"]["low"] == {
        "value": 4.0, "unit": "g/L",
        "system": "http://unitsofmeasure.org", "code": "g/L",
    }


def test_observation_reference_range(spark):
    got = _obs(spark, "5.7", "%", "3.5", "7.5")
    rr = got["referenceRange"][0]
    assert rr["type"]["coding"][0]["code"] == "normal"
    assert rr["low"]["value"] == 3.5 and rr["high"]["value"] == 7.5
    # non-decimal low dropped, decimal high kept (:873-886)
    got2 = _obs(spark, "5.7", "%", "neg", "7.5")
    rr2 = got2["referenceRange"][0]
    assert "low" not in rr2 and rr2["high"]["value"] == 7.5
    # string results never get a referenceRange
    got3 = _obs(spark, "POSITIVE", "%", "3.5", "7.5")
    assert "referenceRange" not in got3 and got3["valueString"] == "POSITIVE"


def test_patient_golden_crosswalk_precedence(spark):
    df = spark.createDataFrame(
        [("UW", "sp-1", ["sess-2", "sess-1"], "H123", "U456",
          ["9001"], ["MRN-X"], "Black", "No", "Female")],
        "site string, spid string, sessions array<string>, hmrn string,"
        " umrn string, proids array<string>, promrns array<string>,"
        " race string, hispanic string, sex string",
    )
    got = _one_json(
        patient_resource(
            df, "site", "spid", "sessions", "hmrn", "umrn", "proids", "promrns",
            "race", "hispanic", "sex",
        )
    )
    systems = [i["system"] for i in got["identifier"]]
    values = [i["value"] for i in got["identifier"]]
    assert values == ["sp-1", "sess-2", "sess-1", "H123", "U456"]
    assert systems[0].endswith("/site-patient-id/uw")
    assert systems[1].endswith("/session-id/uw")
    # crosswalk hit → PRO-system ids NOT consulted (cnics_to_fhir.py:398-435)
    assert not any("pro-patient-id" in s for s in systems)
    assert "MRN-X" not in values
    assert got["gender"] == "female"
    exts = {e["url"].rsplit("/", 1)[-1]: e for e in got["extension"]}
    assert exts["us-core-race"]["extension"][0]["valueCoding"]["code"] == "2054-5"
    assert exts["us-core-race"]["extension"][1]["valueString"] == "Black or African American"
    assert exts["us-core-ethnicity"]["extension"][0]["valueCoding"]["code"] == "2186-5"
    assert exts["us-core-birthsex"]["valueCode"] == "F"
    assert got["text"]["status"] == "generated"


def test_patient_pro_fallback_and_empty_arrays(spark):
    df = spark.createDataFrame(
        [("jh", "sp-2", None, None, None, ["77"], ["M-1"], None, None, None)],
        "site string, spid string, sessions array<string>, hmrn string,"
        " umrn string, proids array<string>, promrns array<string>,"
        " race string, hispanic string, sex string",
    )
    got = _one_json(
        patient_resource(
            df, "site", "spid", "sessions", "hmrn", "umrn", "proids", "promrns",
            "race", "hispanic", "sex",
        )
    )
    values = [i["value"] for i in got["identifier"]]
    assert values == ["sp-2", "77", "M-1"]  # PRO fallback used (:410-435)
    assert got["extension"] == []  # nothing mapped → empty, not missing
    assert "gender" not in got
