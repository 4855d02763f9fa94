"""FHIR R4 resource assembly (B1-B4) as nested-struct Column builders.

Each builder returns one struct Column; ``F.to_json`` (ignoreNullFields=true,
the default) serializes it with every NULL field dropped — which is exactly
how the reference handles conditional keys (``recordedDate`` only when the
date exists, exactly one ``value[x]`` variant, extensions only when mapped:
cnics_to_fhir.py:367-527, :586-625, :681-708, :766-893). A body carries no
``id``: the writer sets it on each update, from the server id the MERGE
matched (load/http_writer.py), as the reference does on its PUTs.

Key order inside objects follows struct field order and may differ from the
reference's dict-insertion order; JSON object semantics are order-free and
the golden tests compare parsed documents.

All builders are pure Column expressions — at 100 TB, resource assembly is
just another projection inside whole-stage codegen; no UDFs, no shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
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


def _meta(profile: str) -> Column:
    return F.struct(F.array(F.lit(US_CORE + profile)).alias("profile")).alias("meta")


def _identifier(system: Column, value: Column) -> Column:
    return F.struct(system.alias("system"), value.alias("value"))


def site_patient_system(site: Column) -> Column:
    """identifier[0].system of a site's Patient (cnics_to_fhir.py:387)."""
    return F.concat(F.lit(SITE_PATIENT_ID_BASE), F.lower(site))


def _subject(patient_ref: Column) -> Column:
    """``Patient/<server id>``; a ``urn:uuid:`` (the fullUrl of a Patient
    created in the same transaction) is already a full reference."""
    ref = F.when(patient_ref.startswith("urn:uuid:"), patient_ref).otherwise(
        F.concat(F.lit("Patient/"), patient_ref)
    )
    return F.struct(ref.alias("reference")).alias("subject")


def _ombc_extension(url_suffix: str, code_display: Column) -> Column:
    """us-core race/ethnicity extension (cnics_to_fhir.py:469-485, :494-510):
    NULL when the source value didn't map (no extension appended)."""
    return F.when(
        code_display.isNotNull(),
        F.struct(
            F.lit(US_CORE + url_suffix).alias("url"),
            F.array(
                F.struct(
                    F.lit("ombCategory").alias("url"),
                    F.struct(
                        F.lit(OMB_SYSTEM).alias("system"),
                        code_display["code"].alias("code"),
                        code_display["display"].alias("display"),
                    ).alias("valueCoding"),
                    F.lit(None).cast("string").alias("valueString"),
                ),
                F.struct(
                    F.lit("text").alias("url"),
                    F.lit(None)
                    .cast("struct<system:string,code:string,display:string>")
                    .alias("valueCoding"),
                    code_display["display"].alias("valueString"),
                ),
            ).alias("extension"),
            F.lit(None).cast("string").alias("valueCode"),
        ),
    )


def _birthsex_extension(birth_sex: Column) -> Column:
    """us-core-birthsex (cnics_to_fhir.py:517-521)."""
    empty_ext = (
        "array<struct<url:string,valueCoding:struct<system:string,code:string,"
        "display:string>,valueString:string>>"
    )
    return F.when(
        birth_sex.isNotNull(),
        F.struct(
            F.lit(US_CORE + "us-core-birthsex").alias("url"),
            F.lit(None).cast(empty_ext).alias("extension"),
            birth_sex.alias("valueCode"),
        ),
    )


def patient_resource(
    site: Column,
    site_patient_id: Column,
    session_ids: Column,
    hmrn: Column,
    umrn: Column,
    pro_patient_ids: Column,
    pro_mrns: Column,
    race: Column,
    hispanic: Column,
    sex: Column,
) -> Column:
    """B1 — Patient (cnics_to_fhir.py:367-527).

    ``session_ids`` / ``pro_patient_ids`` / ``pro_mrns`` are array<string>
    columns (pre-aggregated via collect_list/collect_set upstream — the
    decorrelated form of the per-session loops at :392-395, :410-435).
    Crosswalk precedence (:398-408): when the SitePatientId is in the
    crosswalk (hmrn OR umrn non-null), PRO-system ids are NOT consulted.
    """
    lsite = F.lower(site)
    in_crosswalk = hmrn.isNotNull() | umrn.isNotNull()

    site_ident = F.when(
        site_patient_id.isNotNull(),
        _identifier(site_patient_system(site), site_patient_id),
    )
    sess_idents = F.transform(
        F.coalesce(session_ids, F.array().cast("array<string>")),
        lambda s: _identifier(F.concat(F.lit(SESSION_ID_BASE), lsite), s),
    )
    mrn_idents = F.array_compact(
        F.array(
            F.when(hmrn.isNotNull(), _identifier(F.concat(F.lit(INSTITUTION_MRN_BASE), lsite), hmrn)),
            F.when(umrn.isNotNull(), _identifier(F.concat(F.lit(INSTITUTION_MRN_BASE), lsite), umrn)),
        )
    )
    pro_id_idents = F.when(
        in_crosswalk, F.array().cast("array<struct<system:string,value:string>>")
    ).otherwise(
        F.transform(
            F.coalesce(pro_patient_ids, F.array().cast("array<string>")),
            lambda v: _identifier(F.concat(F.lit(PRO_PATIENT_ID_BASE), lsite), v),
        )
    )
    pro_mrn_idents = F.when(
        in_crosswalk, F.array().cast("array<struct<system:string,value:string>>")
    ).otherwise(
        F.transform(
            F.coalesce(pro_mrns, F.array().cast("array<string>")),
            lambda v: _identifier(F.concat(F.lit(INSTITUTION_MRN_BASE), lsite), v),
        )
    )
    identifiers = F.concat(
        F.array_compact(F.array(site_ident)),
        sess_idents,
        mrn_idents,
        pro_id_idents,
        pro_mrn_idents,
    )

    extensions = F.array_compact(
        F.array(
            _ombc_extension("us-core-race", demographics.race_coding(race)),
            _ombc_extension("us-core-ethnicity", demographics.ethnicity_coding(hispanic)),
            _birthsex_extension(demographics.birth_sex_code(sex)),
        )
    )

    fields = [
        F.lit("Patient").alias("resourceType"),
        _meta("us-core-patient"),
        F.struct(
            F.lit("generated").alias("status"), F.lit(NARRATIVE_DIV).alias("div")
        ).alias("text"),
        extensions.alias("extension"),
        identifiers.alias("identifier"),
        demographics.gender(sex).alias("gender"),
    ]
    return F.struct(*fields)


def condition_resource(
    site: Column,
    patient_ref: Column,
    diagnosis_name: Column,
    diagnosis_type: Column,
    diagnosis_date: Column,
    site_record_id: Column,
    in_standard: Column,
) -> Column:
    """B2 — Condition (cnics_to_fhir.py:586-625)."""
    category_code = coding.dx_category(diagnosis_type)
    return F.struct(
        F.lit("Condition").alias("resourceType"),
        _meta("us-core-condition"),
        F.struct(
            F.array(
                F.struct(
                    F.lit("http://terminology.hl7.org/CodeSystem/condition-ver-status").alias("system"),
                    coding.dx_verification_status(diagnosis_type).alias("code"),
                )
            ).alias("coding")
        ).alias("verificationStatus"),
        F.array(
            F.struct(
                F.array(
                    F.struct(
                        F.lit("http://terminology.hl7.org/CodeSystem/condition-category").alias("system"),
                        category_code.alias("code"),
                        coding.category_display(category_code).alias("display"),
                    )
                ).alias("coding")
            )
        ).alias("category"),
        F.struct(
            F.array(
                F.struct(
                    coding.dx_coding_system(diagnosis_name, in_standard).alias("system"),
                    coding.dx_coding_code(diagnosis_name, in_standard).alias("code"),
                    coding.dx_coding_display(diagnosis_name, in_standard).alias("display"),
                )
            ).alias("coding"),
            diagnosis_name.alias("text"),
        ).alias("code"),
        _subject(patient_ref),
        F.date_format(diagnosis_date, "yyyy-MM-dd").alias("recordedDate"),
        F.array(
            _identifier(F.concat(F.lit(DX_RECORD_ID_BASE), F.lower(site)), site_record_id)
        ).alias("identifier"),
    )


def medication_request_resource(
    site: Column,
    patient_ref: Column,
    medication_name: Column,
    start_date: Column,
    end_date: Column,
    end_type: Column,
    site_record_id: Column,
) -> Column:
    """B3 — MedicationRequest (cnics_to_fhir.py:681-708)."""
    return F.struct(
        F.lit("MedicationRequest").alias("resourceType"),
        _meta("us-core-medicationrequest"),
        F.lit("order").alias("intent"),
        medications.med_status(start_date, end_date, end_type).alias("status"),
        F.struct(
            F.array(
                F.struct(
                    F.lit("https://cnics.cirg.washington.edu/medication-name").alias("system"),
                    medications.med_code(medication_name).alias("code"),
                    medication_name.alias("display"),
                )
            ).alias("coding"),
            medication_name.alias("text"),
        ).alias("medicationCodeableConcept"),
        _subject(patient_ref),
        F.array(
            _identifier(F.concat(F.lit(MED_RECORD_ID_BASE), F.lower(site)), site_record_id)
        ).alias("identifier"),
    )


def _quantity(value: Column, comparator: Column, unit: Column) -> Column:
    """valueQuantity with unit defaulting (cnics_to_fhir.py:836-843, :845-855)."""
    eu = labs.effective_unit(unit)
    return F.when(
        value.isNotNull(),
        F.struct(
            value.alias("value"),
            comparator.alias("comparator"),
            eu.alias("unit"),
            F.lit(UCUM).alias("system"),
            eu.alias("code"),
        ),
    )


def _range_bound(value: Column, unit: Column) -> Column:
    """Range low/high: units only when supplied (cnics_to_fhir.py:846-853)."""
    return F.struct(
        value.alias("value"),
        unit.alias("unit"),
        F.when(unit.isNotNull(), F.lit(UCUM)).alias("system"),
        unit.alias("code"),
    )


def _ref_range(ref_low: Column, ref_high: Column, unit: Column) -> Column:
    """referenceRange (cnics_to_fhir.py:856-886): emitted only when low or
    high is decimal-text; each bound only when ITS text is decimal; bound
    units only when Units supplied."""
    low_ok = labs.is_decimal_text(ref_low)
    high_ok = labs.is_decimal_text(ref_high)

    def bound(ok: Column, txt: Column) -> Column:
        return F.when(
            ok,
            F.struct(
                txt.cast("double").alias("value"),
                unit.alias("unit"),
                F.when(unit.isNotNull(), F.lit(UCUM)).alias("system"),
                unit.alias("code"),
            ),
        )

    return F.when(
        low_ok | high_ok,
        F.array(
            F.struct(
                F.struct(
                    F.array(
                        F.struct(
                            F.lit(
                                "http://terminology.hl7.org/CodeSystem/referencerange-meaning"
                            ).alias("system"),
                            F.lit("normal").alias("code"),
                            F.lit("Normal Range").alias("display"),
                        )
                    ).alias("coding"),
                    F.lit("Normal Range").alias("text"),
                ).alias("type"),
                bound(low_ok, ref_low).alias("low"),
                bound(high_ok, ref_high).alias("high"),
            )
        ),
    )


def observation_resource(
    site: Column,
    patient_ref: Column,
    test_name: Column,
    result: Column,
    units: Column,
    collection_date: Column,
    ref_range_low: Column,
    ref_range_high: Column,
    site_record_id: Column,
) -> Column:
    """B4 — Observation with variant value[x] (cnics_to_fhir.py:766-893).

    The tagged union (functions/labs.py) becomes four mutually-exclusive
    nullable fields; to_json keeps exactly the populated one. Quirk parity:
    - integer results → bare valueInteger, NO unit (reference :891 only
      builds units for Quantity/Range);
    - range bounds get units ONLY when Units is non-null, and then all of
      unit/system/code; quantity defaults unit/code to '%'.
    """
    v = labs.typed_value_struct(result)
    vq = v["value_quantity"]
    rng_low, rng_high = v["value_range_low"], v["value_range_high"]
    return F.struct(
        F.lit("Observation").alias("resourceType"),
        _meta("us-core-observation-lab"),
        F.lit("final").alias("status"),
        F.array(
            F.struct(
                F.array(
                    F.struct(
                        F.lit("http://terminology.hl7.org/CodeSystem/observation-category").alias("system"),
                        F.lit("laboratory").alias("code"),
                        F.lit("laboratory").alias("display"),
                    )
                ).alias("coding")
            )
        ).alias("category"),
        F.struct(
            F.array(
                F.struct(
                    F.lit("https://cnics.cirg.washington.edu/test-name").alias("system"),
                    test_name.alias("code"),
                    test_name.alias("display"),
                )
            ).alias("coding"),
            test_name.alias("text"),
        ).alias("code"),
        _subject(patient_ref),
        F.date_format(collection_date, "yyyy-MM-dd").alias("effectiveDateTime"),
        v["value_integer"].alias("valueInteger"),
        _quantity(vq, v["value_comparator"], units).alias("valueQuantity"),
        F.when(
            rng_low.isNotNull(),
            F.struct(
                _range_bound(rng_low, units).alias("low"),
                _range_bound(rng_high, units).alias("high"),
            ),
        ).alias("valueRange"),
        v["value_string"].alias("valueString"),
        F.when(
            vq.isNotNull() | rng_low.isNotNull(), _ref_range(ref_range_low, ref_range_high, units)
        ).alias("referenceRange"),
        F.array(
            _identifier(F.concat(F.lit(LAB_RECORD_ID_BASE), F.lower(site)), site_record_id)
        ).alias("identifier"),
    )
