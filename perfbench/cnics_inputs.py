"""Seeded CNICS source tables for the FHIR workloads, and the store state a
correct job must leave, computed in pure Python.

Every FIXTURES.md branch is covered: ICD-9, ICD-10, V-code, standard-list and
free-text diagnoses; all five lab result shapes; the medication status
combinations; ``Historical='Yes'`` rows; blank names; rows the settings
filters drop; patients without demographics; PRO sessions and the UW
crosswalk (with its 'NULL' key, 'NULL' umrn and duplicate key rows).

The seed chooses values and placements, never sizes: each patient in the
page has exactly ``INCLUDED`` rows that survive the filters, and a resync
mutation removes, adds and changes fixed numbers of them. Request counts
and store ratios therefore do not move with the seed; only the data does.
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SITES = ("uw", "ucsd")
TABLES = ("Patient", "Demographic", "Diagnosis", "Medication", "Lab", "Pro",
          "ProPatients", "ProSessions", "Crosswalk")
PATIENTS_PER_SITE = 160
NO_DEMOGRAPHICS_PER_SITE = 4  # these patients never reach the patient page
INCLUDED = {"Diagnosis": 2, "Medication": 2, "Lab": 3}
# resync mutation, per site and per clinical table
PATIENTS_REMOVED = 3
PATIENTS_ADDED = 3
ROWS_REMOVED, ROWS_ADDED, ROWS_CHANGED = 0.05, 0.05, 0.10

# Identifier systems of the reference (cnics_to_fhir.py:387, :623, :706, :891).
SYSTEM = {
    "Patient": "https://cnics.cirg.washington.edu/site-patient-id/",
    "Condition": "https://cnics.cirg.washington.edu/diagnosis/site-record-id/",
    "MedicationRequest": "https://cnics.cirg.washington.edu/medication/site-record-id/",
    "Observation": "https://cnics.cirg.washington.edu/lab/site-record-id/",
}
RESOURCE = {"Diagnosis": "Condition", "Medication": "MedicationRequest", "Lab": "Observation"}

DX_LISTED = {
    "icd10": ["J44.1", "B20"],
    "icd9": ["491.21", "042", "250.00"],
    "vcode": ["V08", "V58.67"],
    "standard": ["COPD", "Diabetes Mellitus Type 2", "HIV disease"],
    "free_text": ["Hepatitis C, chronic", "Chronic cough"],
}
DX_LISTED_NAMES = [n for names in DX_LISTED.values() for n in names]
DX_E11 = ["E11.9", "E11.65", "E11.22"]  # matched by the LIKE branch
DX_UNLISTED = ["J45.909", "401.9", "Anxiety"]
DX_TYPES = ["Data collected at CNICS site",
            "Patient reported without supporting outside documentation",
            "Reported in outside documentation", "Source unknown",
            "Verified clinical diagnosis", None]
STANDARD_CODES = ["COPD", "Diabetes Mellitus Type 2", "HIV disease", "Asthma"]
MEDS = ["METFORMIN", "TIOTROPIUM", "INSULIN  GLARGINE", "DOLUTEGRAVIR",
        "EMTRICITABINE/TENOFOVIR"]
TESTS = ["Hemoglobin A1C", "CD4 Count", "HIV Viral Load"]
RESULTS = ["42", "+ 3", "0", "4-6", "5.7", "1e5", "-0.5", "<7.0", ">=6.5", "POSITIVE"]


def _in_list(col: str, values) -> str:
    return f"{col} in (" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + ")"


SETTINGS_INI = f"""
[Main]
PatCnt = "100000"

[Filters]
ConditionsFilter = "{_in_list('DiagnosisName', DX_LISTED_NAMES)} or DiagnosisName like 'E11.%'"
MedicationsFilter = "{_in_list('MedicationName', MEDS)}"
ObservationsFilter = "{_in_list('TestName', TESTS)}"
"""
JOB_INI = """
[JobList]
Job_1 = "uw,ucsd:cnics_bench:conditions,medicationrequests,observations"
"""

_NAME_COL = {"Diagnosis": 7, "Medication": 5, "Lab": 5}
_KEY_COL = 4
_PID_COL = 3
_HIST_COL = 2


def _passes_filter(table: str, name: str) -> bool:
    """Pure-Python mirror of SETTINGS_INI's filters."""
    if table == "Diagnosis":
        return name in DX_LISTED_NAMES or name.startswith("E11.")
    return name in (MEDS if table == "Medication" else TESTS)


def included(table: str, row: tuple) -> bool:
    """Historical filter + non-blank name + settings filter (P4-P6)."""
    name = row[_NAME_COL[table]]
    return row[_HIST_COL] != "Yes" and bool(name) and _passes_filter(table, name)


def _key(row: tuple) -> str:
    k = row[_KEY_COL]
    return k.decode() if isinstance(k, bytes) else k


class Generator:
    """Builds one seed's tables; ``mutate`` derives the resync source."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.ids = collections.Counter()

    def _next(self, kind: str) -> int:
        self.ids[kind] += 1
        return self.ids[kind]

    def _date(self) -> dt.date:
        return dt.date(2015, 1, 1) + dt.timedelta(days=self.rng.randrange(3000))

    # ----------------------------------------------------------- clinical rows
    def _dx(self, pid: int, site: str, keep: bool) -> tuple:
        r = self.rng
        if keep:
            group = r.choice(["e11", *DX_LISTED])
            name = r.choice(DX_E11 if group == "e11" else DX_LISTED[group])
            hist = r.choice(["No", None, "Unknown"])
        else:
            kind = r.choice(["unlisted", "blank", "historical"])
            name = {"unlisted": r.choice(DX_UNLISTED), "blank": ""}.get(kind, r.choice(DX_E11))
            hist = "Yes" if kind == "historical" else None
        key = f"{site}-dx-{self._next('dx'):06d}".encode()
        return (self._next("dxid"), None, hist, pid, key,
                r.choice([self._date(), None]), r.choice(DX_TYPES), name)

    def _med(self, pid: int, site: str, keep: bool) -> tuple:
        r = self.rng
        if keep:
            name, hist = r.choice(MEDS), r.choice(["No", None])
        else:
            kind = r.choice(["unlisted", "blank", "historical"])
            name = {"unlisted": "ASPIRIN", "blank": ""}.get(kind, r.choice(MEDS))
            hist = "Yes" if kind == "historical" else None
        start, end = r.choice([(None, None), (None, "d"), ("d", "d"), ("d", None)])
        start = self._date() if start else None
        end = self._date() if end else None
        key = f"{site}-med-{self._next('med'):06d}".encode()
        return (self._next("medid"), None, hist, pid, key, name,
                None, None, None, None, None, None, start, end,
                r.choice(["Completed", "Stopped", None]))

    def _lab(self, pid: int, site: str, keep: bool) -> tuple:
        r = self.rng
        if keep:
            test, hist = r.choice(TESTS), r.choice(["No", None])
        else:
            kind = r.choice(["unlisted", "blank", "historical"])
            test = {"unlisted": "Sodium", "blank": ""}.get(kind, r.choice(TESTS))
            hist = "Yes" if kind == "historical" else None
        when = r.choice([dt.datetime(2016, 1, 1, tzinfo=dt.timezone.utc)
                         + dt.timedelta(minutes=r.randrange(4_000_000)), None])
        key = f"{site}-lab-{self._next('lab'):06d}"
        return (self._next("labid"), None, hist, pid, key, test, r.choice(RESULTS),
                r.choice(["%", "cells/uL", None]), None, when,
                r.choice(["4.0", "N/A", None]), r.choice(["6.0", "8.5", None]))

    _MAKE = {"Diagnosis": _dx, "Medication": _med, "Lab": _lab}

    def _clinical(self, t: dict, pid: int, site: str) -> None:
        for table, n in INCLUDED.items():
            make = self._MAKE[table]
            rows = [make(self, pid, site, True) for _ in range(n)]
            rows += [make(self, pid, site, False) for _ in range(self.rng.randrange(3))]
            t[table].extend(rows)

    def _patient(self, t: dict, site_idx: int, n: int, demographics: bool) -> None:
        r = self.rng
        site = SITES[site_idx]
        pid = (site_idx + 1) * 100_000 + n
        t["Patient"].append((pid, f"{site}-{n:05d}".encode(), site))
        if demographics:
            for _ in range(r.choice([1, 1, 2])):
                t["Demographic"].append((
                    self._next("demo"), None, None, pid, None, None,
                    r.choice(["Female", "Male", "Unknown", None]),
                    r.choice(["American Indian", "Asian", "Asian/Pacific Islander", "Black",
                              "Pacific Islander", "White", "Multiracial", "Other", None]),
                    r.choice(["Yes", "No", "Unknown", None])))
        if r.random() < 0.3:  # PRO sessions, duplicated rows exercise DISTINCT
            for _ in range(r.randrange(1, 4)):
                sid = f"S{self._next('session'):06d}"
                t["Pro"].extend([(sid, pid)] * r.choice([1, 2]))
                if r.random() < 0.9:
                    ppid = 900_000 + self._next("propat")
                    t["ProSessions"].append((sid, ppid))
                    t["ProPatients"].append((ppid, r.choice([f"M{ppid}", None])))
        self._clinical(t, pid, site)

    def base(self) -> dict[str, list]:
        t = {name: [] for name in TABLES}
        for s in range(len(SITES)):
            for n in range(PATIENTS_PER_SITE):
                self._patient(t, s, n, n >= NO_DEMOGRAPHICS_PER_SITE)
        uw = [p[1].decode() for p in t["Patient"] if p[2] == "uw"]
        xw = [(f"H{i}", self.rng.choice([f"U{i}", "NULL"]), sp)
              for i, sp in enumerate(self.rng.sample(uw, len(uw) // 5))]
        xw += [("H-x", "U-x", "NULL"), ("H-dup", "NULL", xw[0][2])]
        t["Crosswalk"] = xw
        return t

    def mutate(self, base: dict[str, list]) -> dict[str, list]:
        """The nightly delta: a few patients leave and join each site; of the
        remaining patients' filtered-in clinical rows 5% are removed, 5%
        added and 10% changed in place (same key, new values)."""
        r = self.rng
        t = {k: list(v) for k, v in base.items()}
        demo = {row[3] for row in t["Demographic"]}
        for s, site in enumerate(SITES):
            page = [p for p in t["Patient"] if p[2] == site and p[0] in demo]
            gone = {p[0] for p in r.sample(page, PATIENTS_REMOVED)}
            t["Patient"] = [p for p in t["Patient"] if p[0] not in gone]
            kept = [p[0] for p in page if p[0] not in gone]
            for n in range(PATIENTS_ADDED):
                self._patient(t, s, PATIENTS_PER_SITE + n, True)
            kept_set = set(kept)
            for table in INCLUDED:
                live = [i for i, row in enumerate(t[table])
                        if row[_PID_COL] in kept_set and included(table, row)]
                n_rm = round(ROWS_REMOVED * len(live))
                n_ch = round(ROWS_CHANGED * len(live))
                picked = r.sample(live, n_rm + n_ch)
                drop = set(picked[:n_rm])
                for i in picked[n_rm:]:
                    t[table][i] = self._changed(table, t[table][i])
                t[table] = [row for i, row in enumerate(t[table]) if i not in drop]
                make = self._MAKE[table]
                t[table] += [make(self, r.choice(kept), site, True)
                             for _ in range(round(ROWS_ADDED * len(live)))]
        return t

    def _changed(self, table: str, row: tuple) -> tuple:
        row = list(row)
        if table == "Diagnosis":
            row[5], row[6] = self._date(), self.rng.choice(DX_TYPES)
        elif table == "Medication":
            row[13], row[14] = self._date(), "Stopped"
        else:
            row[6], row[7] = self.rng.choice(RESULTS), self.rng.choice(["%", "cells/uL"])
        return tuple(row)


def expected_keys(t: dict[str, list]) -> set[tuple[str, str, str]]:
    """(resource type, identifier system, identifier value) of every
    resource a correct job stores for these tables."""
    demo = {row[3] for row in t["Demographic"]}
    out = set()
    for site in SITES:
        page = {p[0] for p in t["Patient"] if p[2] == site and p[0] in demo}
        out |= {("Patient", SYSTEM["Patient"] + site, p[1].decode())
                for p in t["Patient"] if p[0] in page}
        for table, rtype in RESOURCE.items():
            out |= {(rtype, SYSTEM[rtype] + site, _key(row)) for row in t[table]
                    if row[_PID_COL] in page and included(table, row)}
    return out


# ------------------------------------------------------------------ files
def _arrow_type(spark_type) -> pa.DataType:
    return {"LongType": pa.int64(), "StringType": pa.string(), "BinaryType": pa.binary(),
            "DateType": pa.date32(), "TimestampType": pa.timestamp("us", tz="UTC")}[
        type(spark_type).__name__]


def _schemas():
    from cnics_to_fhir_spark import schemas as S

    return {"Patient": S.PATIENT, "Demographic": S.DEMOGRAPHIC, "Diagnosis": S.DIAGNOSIS,
            "Medication": S.MEDICATION, "Lab": S.LAB, "Pro": S.PRO,
            "ProPatients": S.PRO_PATIENTS, "ProSessions": S.PRO_SESSIONS}


def write(t: dict[str, list], out_dir: str) -> None:
    """One parquet file per table, the crosswalk as the reference's CSV and
    the standard diagnosis list as its quoted one-column file."""
    os.makedirs(out_dir, exist_ok=True)
    for name, schema in _schemas().items():
        cols = list(zip(*t[name])) if t[name] else [()] * len(schema.fields)
        arrays = [pa.array(list(c), _arrow_type(f.dataType)) for c, f in zip(cols, schema.fields)]
        pq.write_table(pa.table(arrays, names=schema.fieldNames()),
                       os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "crosswalk.csv"), "w") as f:
        f.write("hmrn,umrn,SitePatientId\n")
        f.writelines(f"{h},{u},{s}\n" for h, u, s in t["Crosswalk"])
    with open(os.path.join(out_dir, "standard_diagnoses.csv"), "w") as f:
        f.writelines(f'"{c}"\n' for c in STANDARD_CODES)


def load(spark, in_dir: str) -> dict:
    """The written tables as DataFrames, keyed by run_job's table names."""
    from cnics_to_fhir_spark.sources.code_tables import load_code_table
    from cnics_to_fhir_spark.sources.crosswalk import load_crosswalk

    out = {name: spark.read.schema(schema).parquet(os.path.join(in_dir, f"{name}.parquet"))
           for name, schema in _schemas().items()}
    out["Crosswalk"] = load_crosswalk(spark, os.path.join(in_dir, "crosswalk.csv"))
    out["StandardDiagnoses"] = load_code_table(spark, os.path.join(in_dir, "standard_diagnoses.csv"))
    return out
