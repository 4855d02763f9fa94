"""FHIR R4 resource assembly (B1-B4) as SQL-rendered nested structs.

Each builder takes a DataFrame and the names of its input columns and
returns that DataFrame plus ``body_json``: the resource as one
``named_struct`` serialized by ``to_json`` (ignoreNullFields=true, the
default), which drops every NULL field — exactly how the reference handles
conditional keys (``recordedDate`` only when the date exists, exactly one
``value[x]`` variant, extensions only when mapped: cnics_to_fhir.py:367-527,
:586-625, :681-708, :766-893). A body carries no ``id``: the writer sets it
on each update, from the server id the MERGE matched (load/http_writer.py),
as the reference does on its PUTs.

The struct skeleton is rendered as SQL text and parsed once per builder
(one ``selectExpr``), as ``operators/similarity.sql_double`` does for its
expressions: built with ``F.struct``/``F.lit``/``.alias`` it cost one py4j
round trip per node, ~1,400 per job. The value mappings stay in one place,
the Column helpers of ``functions/``: their results enter as pre-projected
columns the skeleton names, and the optimizer's CollapseProject folds that
projection into the skeleton's.

Key order inside objects follows struct field order and may differ from the
reference's dict-insertion order; JSON object semantics are order-free and
the golden tests compare parsed documents.

All builders are pure expressions — at 100 TB, resource assembly is just
another projection inside whole-stage codegen; no UDFs, no shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cnics_to_fhir_spark.functions import coding, demographics, labs, medications

US_CORE = "http://hl7.org/fhir/us/core/StructureDefinition/"
NARRATIVE_DIV = (
    '<div xmlns="http://www.w3.org/1999/xhtml">Generated by CIRG\'s CNICS to'
    " FHIR. Version identifier: 0.1</div>"
)
OMB_SYSTEM = demographics.OMB_SYSTEM

# identifier-system URL bases (cnics_to_fhir.py:387, :393, :404, :425, :433,
# :623, :706, :891)
SITE_PATIENT_ID_BASE = "https://cnics.cirg.washington.edu/site-patient-id/"
SESSION_ID_BASE = "https://cnics-pro.cirg.washington.edu/session-id/"
INSTITUTION_MRN_BASE = "https://cnics-pro.cirg.washington.edu/institution-mrn/"
PRO_PATIENT_ID_BASE = "https://cnics-pro.cirg.washington.edu/pro-patient-id/"
DX_RECORD_ID_BASE = "https://cnics.cirg.washington.edu/diagnosis/site-record-id/"
MED_RECORD_ID_BASE = "https://cnics.cirg.washington.edu/medication/site-record-id/"
LAB_RECORD_ID_BASE = "https://cnics.cirg.washington.edu/lab/site-record-id/"
UCUM = labs.UCUM_SYSTEM

_CODING = "struct<system:string,code:string,display:string>"
_IDENTIFIERS = "array<struct<system:string,value:string>>"


# --------------------------------------------------------- SQL text helpers
def _lit(s: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _col(name: str) -> str:
    return f"`{name}`"


def _struct(**fields: str) -> str:
    """``named_struct`` of SQL expressions, in keyword order."""
    return "named_struct(" + ", ".join(f"{_lit(k)}, {v}" for k, v in fields.items()) + ")"


def _array(*items: str) -> str:
    return "array(" + ", ".join(items) + ")"


def _when(cond: str, value: str) -> str:
    """``value`` when ``cond`` holds, else NULL."""
    return f"CASE WHEN {cond} THEN {value} END"


def _assemble(df: DataFrame, helpers: dict[str, Column], resource: str) -> DataFrame:
    """``df`` plus ``body_json``, the JSON of the ``resource`` struct.
    ``helpers`` are projected first under their names, which ``resource``
    references; they are not in the result."""
    pre = df.select("*", *(c.alias(n) for n, c in helpers.items()))
    return pre.selectExpr(f"* EXCEPT ({', '.join(helpers)})", f"to_json({resource}) AS body_json")


# ------------------------------------------------------ shared fragments
def _meta(profile: str) -> str:
    return _struct(profile=_array(_lit(US_CORE + profile)))


def _identifier(system: str, value: str) -> str:
    return _struct(system=system, value=value)


def _system(base: str, site: str) -> str:
    """An identifier system: ``base`` + the lower-cased site."""
    return f"concat({_lit(base)}, lower({site}))"


def site_patient_system(site: str) -> Column:
    """identifier[0].system of a site's Patient (cnics_to_fhir.py:387), over
    the column named ``site``."""
    return F.expr(_system(SITE_PATIENT_ID_BASE, _col(site)))


def _subject(patient_ref: str) -> str:
    """``Patient/<server id>``; a ``urn:uuid:`` (the fullUrl of a Patient
    created in the same transaction) is already a full reference."""
    return _struct(
        reference=f"CASE WHEN startswith({patient_ref}, 'urn:uuid:') THEN {patient_ref}"
        f" ELSE concat('Patient/', {patient_ref}) END"
    )


def _record_identifiers(base: str, site: str, site_record_id: str) -> str:
    return _array(_identifier(_system(base, _col(site)), _col(site_record_id)))


def _codeable(system: str, code: str, display: str | None = None, text: str | None = None) -> str:
    """``{coding: [{system, code, display}], text}``; a None part is left out."""
    coding_ = {"system": system, "code": code}
    if display is not None:
        coding_["display"] = display
    concept = {"coding": _array(_struct(**coding_))}
    if text is not None:
        concept["text"] = text
    return _struct(**concept)


# ------------------------------------------------------------ B1 Patient
def _ombc_extension(url_suffix: str, code_display: str) -> str:
    """us-core race/ethnicity extension (cnics_to_fhir.py:469-485, :494-510):
    NULL when the source value didn't map (no extension appended)."""
    return _when(
        f"{code_display} IS NOT NULL",
        _struct(
            url=_lit(US_CORE + url_suffix),
            extension=_array(
                _struct(
                    url="'ombCategory'",
                    valueCoding=_struct(
                        system=_lit(OMB_SYSTEM),
                        code=f"{code_display}.code",
                        display=f"{code_display}.display",
                    ),
                    valueString="CAST(NULL AS STRING)",
                ),
                _struct(
                    url="'text'",
                    valueCoding=f"CAST(NULL AS {_CODING})",
                    valueString=f"{code_display}.display",
                ),
            ),
            valueCode="CAST(NULL AS STRING)",
        ),
    )


def _birthsex_extension(birth_sex: str) -> str:
    """us-core-birthsex (cnics_to_fhir.py:517-521)."""
    empty_ext = f"array<struct<url:string,valueCoding:{_CODING},valueString:string>>"
    return _when(
        f"{birth_sex} IS NOT NULL",
        _struct(
            url=_lit(US_CORE + "us-core-birthsex"),
            extension=f"CAST(NULL AS {empty_ext})",
            valueCode=birth_sex,
        ),
    )


def patient_resource(
    df: DataFrame,
    site: str,
    site_patient_id: str,
    session_ids: str,
    hmrn: str,
    umrn: str,
    pro_patient_ids: str,
    pro_mrns: str,
    race: str,
    hispanic: str,
    sex: str,
) -> DataFrame:
    """B1 — Patient (cnics_to_fhir.py:367-527).

    ``session_ids`` / ``pro_patient_ids`` / ``pro_mrns`` are array<string>
    columns (pre-aggregated via collect_list/collect_set upstream — the
    decorrelated form of the per-session loops at :392-395, :410-435).
    Crosswalk precedence (:398-408): when the SitePatientId is in the
    crosswalk (hmrn OR umrn non-null), PRO-system ids are NOT consulted.
    """
    site, spid, hmrn, umrn = _col(site), _col(site_patient_id), _col(hmrn), _col(umrn)
    in_crosswalk = f"({hmrn} IS NOT NULL OR {umrn} IS NOT NULL)"
    no_strings = "CAST(array() AS array<string>)"

    def idents(values: str, base: str) -> str:
        """One identifier in ``base``'s system per element of ``values``."""
        return (f"transform(coalesce({_col(values)}, {no_strings}),"
                f" v -> {_identifier(_system(base, site), 'v')})")

    def mrn(value: str) -> str:
        return _when(f"{value} IS NOT NULL",
                     _identifier(_system(INSTITUTION_MRN_BASE, site), value))

    def unless_crosswalk(arr: str) -> str:
        return f"CASE WHEN {in_crosswalk} THEN CAST(array() AS {_IDENTIFIERS}) ELSE {arr} END"

    site_ident = _when(f"{spid} IS NOT NULL",
                       _identifier(_system(SITE_PATIENT_ID_BASE, site), spid))
    identifiers = (
        f"concat(array_compact({_array(site_ident)}),"
        f" {idents(session_ids, SESSION_ID_BASE)},"
        f" array_compact({_array(mrn(hmrn), mrn(umrn))}),"
        f" {unless_crosswalk(idents(pro_patient_ids, PRO_PATIENT_ID_BASE))},"
        f" {unless_crosswalk(idents(pro_mrns, INSTITUTION_MRN_BASE))})"
    )
    extensions = "array_compact(" + _array(
        _ombc_extension("us-core-race", "__asm_race"),
        _ombc_extension("us-core-ethnicity", "__asm_ethnicity"),
        _birthsex_extension("__asm_birth_sex"),
    ) + ")"
    resource = _struct(
        resourceType="'Patient'",
        meta=_meta("us-core-patient"),
        text=_struct(status="'generated'", div=_lit(NARRATIVE_DIV)),
        extension=extensions,
        identifier=identifiers,
        gender="__asm_gender",
    )
    return _assemble(df, {
        "__asm_race": demographics.race_coding(F.col(race)),
        "__asm_ethnicity": demographics.ethnicity_coding(F.col(hispanic)),
        "__asm_birth_sex": demographics.birth_sex_code(F.col(sex)),
        "__asm_gender": demographics.gender(F.col(sex)),
    }, resource)


# ---------------------------------------------------------- B2 Condition
def condition_resource(
    df: DataFrame,
    site: str,
    patient_ref: str,
    diagnosis_name: str,
    diagnosis_type: str,
    diagnosis_date: str,
    site_record_id: str,
    in_standard: str,
) -> DataFrame:
    """B2 — Condition (cnics_to_fhir.py:586-625)."""
    dx, dx_type, in_std = F.col(diagnosis_name), F.col(diagnosis_type), F.col(in_standard)
    category_code = coding.dx_category(dx_type)
    resource = _struct(
        resourceType="'Condition'",
        meta=_meta("us-core-condition"),
        verificationStatus=_codeable(
            "'http://terminology.hl7.org/CodeSystem/condition-ver-status'", "__asm_verification"
        ),
        category=_array(_codeable(
            "'http://terminology.hl7.org/CodeSystem/condition-category'",
            "__asm_category", "__asm_category_display",
        )),
        code=_codeable("__asm_system", "__asm_code", "__asm_display", _col(diagnosis_name)),
        subject=_subject(_col(patient_ref)),
        recordedDate=f"date_format({_col(diagnosis_date)}, 'yyyy-MM-dd')",
        identifier=_record_identifiers(DX_RECORD_ID_BASE, site, site_record_id),
    )
    return _assemble(df, {
        "__asm_verification": coding.dx_verification_status(dx_type),
        "__asm_category": category_code,
        "__asm_category_display": coding.category_display(category_code),
        "__asm_system": coding.dx_coding_system(dx, in_std),
        "__asm_code": coding.dx_coding_code(dx, in_std),
        "__asm_display": coding.dx_coding_display(dx, in_std),
    }, resource)


# -------------------------------------------------- B3 MedicationRequest
def medication_request_resource(
    df: DataFrame,
    site: str,
    patient_ref: str,
    medication_name: str,
    start_date: str,
    end_date: str,
    end_type: str,
    site_record_id: str,
) -> DataFrame:
    """B3 — MedicationRequest (cnics_to_fhir.py:681-708)."""
    name = _col(medication_name)
    resource = _struct(
        resourceType="'MedicationRequest'",
        meta=_meta("us-core-medicationrequest"),
        intent="'order'",
        status="__asm_status",
        medicationCodeableConcept=_codeable(
            "'https://cnics.cirg.washington.edu/medication-name'", "__asm_code", name, name
        ),
        subject=_subject(_col(patient_ref)),
        identifier=_record_identifiers(MED_RECORD_ID_BASE, site, site_record_id),
    )
    return _assemble(df, {
        "__asm_status": medications.med_status(
            F.col(start_date), F.col(end_date), F.col(end_type)
        ),
        "__asm_code": medications.med_code(F.col(medication_name)),
    }, resource)


# -------------------------------------------------------- B4 Observation
def _range_bound(value: str, unit: str) -> str:
    """A Range or referenceRange bound: units only when supplied
    (cnics_to_fhir.py:846-853, :856-886)."""
    return _struct(value=value, unit=unit, system=_when(f"{unit} IS NOT NULL", _lit(UCUM)),
                   code=unit)


def observation_resource(
    df: DataFrame,
    site: str,
    patient_ref: str,
    test_name: str,
    result: str,
    units: str,
    collection_date: str,
    ref_range_low: str,
    ref_range_high: str,
    site_record_id: str,
) -> DataFrame:
    """B4 — Observation with variant value[x] (cnics_to_fhir.py:766-893).

    The tagged union (functions/labs.py) becomes four mutually-exclusive
    nullable fields; to_json keeps exactly the populated one. Quirk parity:
    - integer results → bare valueInteger, NO unit (reference :891 only
      builds units for Quantity/Range);
    - range bounds get units ONLY when Units is non-null, and then all of
      unit/system/code; quantity defaults unit/code to '%' (:836-855);
    - referenceRange only for Quantity/Range results, and only when low or
      high is decimal-text; each bound only when ITS text is decimal
      (:856-886).
    """
    test, unit = _col(test_name), _col(units)
    quantity, range_low = "__asm_v.value_quantity", "__asm_v.value_range_low"

    def bound(ok: str, text: str) -> str:
        return _when(ok, _range_bound(f"CAST({_col(text)} AS DOUBLE)", unit))

    ref_range = _when("__asm_low_ok OR __asm_high_ok", _array(_struct(
        type=_codeable(
            "'http://terminology.hl7.org/CodeSystem/referencerange-meaning'",
            "'normal'", "'Normal Range'", "'Normal Range'",
        ),
        low=bound("__asm_low_ok", ref_range_low),
        high=bound("__asm_high_ok", ref_range_high),
    )))
    resource = _struct(
        resourceType="'Observation'",
        meta=_meta("us-core-observation-lab"),
        status="'final'",
        category=_array(_codeable(
            "'http://terminology.hl7.org/CodeSystem/observation-category'",
            "'laboratory'", "'laboratory'",
        )),
        code=_codeable("'https://cnics.cirg.washington.edu/test-name'", test, test, test),
        subject=_subject(_col(patient_ref)),
        effectiveDateTime=f"date_format({_col(collection_date)}, 'yyyy-MM-dd')",
        valueInteger="__asm_v.value_integer",
        valueQuantity=_when(f"{quantity} IS NOT NULL", _struct(
            value=quantity,
            comparator="__asm_v.value_comparator",
            unit="__asm_unit",
            system=_lit(UCUM),
            code="__asm_unit",
        )),
        valueRange=_when(f"{range_low} IS NOT NULL", _struct(
            low=_range_bound(range_low, unit),
            high=_range_bound("__asm_v.value_range_high", unit),
        )),
        valueString="__asm_v.value_string",
        referenceRange=_when(f"{quantity} IS NOT NULL OR {range_low} IS NOT NULL", ref_range),
        identifier=_record_identifiers(LAB_RECORD_ID_BASE, site, site_record_id),
    )
    return _assemble(df, {
        "__asm_v": labs.typed_value_struct(F.col(result)),
        "__asm_unit": labs.effective_unit(F.col(units)),
        "__asm_low_ok": labs.is_decimal_text(F.col(ref_range_low)),
        "__asm_high_ok": labs.is_decimal_text(F.col(ref_range_high)),
    }, resource)
