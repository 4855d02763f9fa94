"""Source-layer tests: code tables (S3), crosswalk (S4/A4), FHIR bundles
(S5/S6), JDBC config construction (S1/S2)."""

from __future__ import annotations

import json

from cnics_to_fhir_spark.sources.code_tables import load_code_table, membership_via_join
from cnics_to_fhir_spark.sources.crosswalk import load_crosswalk
from cnics_to_fhir_spark.sources.fhir import snapshot_from_bundles
from cnics_to_fhir_spark.sources.jdbc import JdbcSource


def test_code_table_quote_stripping(spark, tmp_path):
    p = tmp_path / "codes.csv"
    p.write_text('"COPD"\n"Diabetes Mellitus Type 2"\n"Hypertension"\n')
    codes = load_code_table(spark, str(p))
    assert sorted(r["code"] for r in codes.collect()) == [
        "COPD", "Diabetes Mellitus Type 2", "Hypertension",
    ]


def test_membership_via_join(spark, tmp_path):
    p = tmp_path / "codes.csv"
    p.write_text('"COPD"\n')
    codes = load_code_table(spark, str(p))
    facts = spark.createDataFrame([("COPD",), ("E11.9",)], "dx string")
    out = {r["dx"]: r["in_standard"] for r in membership_via_join(facts, codes, "dx").collect()}
    assert out == {"COPD": True, "E11.9": False}


def test_crosswalk_semantics(spark, tmp_path):
    # header skipped; 'NULL' key dropped; PER-FIELD last-write-wins
    # (cnics_to_fhir.py:296-303): hmrn overwritten unconditionally (literal
    # 'NULL' preserved, :301), umrn only by non-'NULL' rows (:302-303).
    p = tmp_path / "xwalk.csv"
    p.write_text(
        "hmrn,umrn,SitePatientId\n"
        "H1,U1,sp-1\n"
        "H2,NULL,sp-2\n"
        "H3,U3,NULL\n"
        "H9,U9,sp-1\n"   # overwrites sp-1 wholesale
        "NULL,NULL,sp-1\n"  # trailing row: hmrn→'NULL' (kept!), umrn U9 survives
        "H5,U5,sp-3\n"
        "H6,NULL,sp-3\n"  # trailing 'NULL' umrn must NOT wipe U5
    )
    rows = {r["SitePatientId"]: r for r in load_crosswalk(spark, str(p)).collect()}
    assert set(rows) == {"sp-1", "sp-2", "sp-3"}
    # hmrn = unconditional last, including the literal string 'NULL'
    assert rows["sp-1"]["hmrn"] == "NULL" and rows["sp-1"]["umrn"] == "U9"
    # umrn = last non-'NULL'; none at all → null
    assert rows["sp-2"]["hmrn"] == "H2" and rows["sp-2"]["umrn"] is None
    assert rows["sp-3"]["hmrn"] == "H6" and rows["sp-3"]["umrn"] == "U5"


def test_bundle_snapshot_parse(spark):
    bundle = {
        "total": 2,
        "entry": [
            {"resource": {"resourceType": "Condition", "id": "c1",
                          "subject": {"reference": "Patient/p1"},
                          "identifier": [{"system": "s", "value": "k1"},
                                         {"system": "s2", "value": "ignored"}]}},
            {"resource": {"resourceType": "Condition", "id": "c2",
                          "subject": {"reference": "Patient/p2"}}},  # no identifier
        ],
    }
    df = spark.createDataFrame([(json.dumps(bundle),)], "bundle_json string")
    rows = {r["id"]: r for r in snapshot_from_bundles(df).collect()}
    assert rows["c1"]["identifier_0_value"] == "k1"  # only identifier[0] (:556)
    assert rows["c1"]["has_identifier"] is True
    assert rows["c2"]["identifier_0_value"] is None
    assert rows["c2"]["has_identifier"] is False


def test_jdbc_reader_config(spark):
    src = JdbcSource(host="db.example", port=3306, database="cnics", user="u")
    r = src.reader(spark, "DiagnosisAltered")
    assert r is not None
    assert src.url == "jdbc:mysql://db.example:3306/cnics"


def test_parquet_schema_evolution_merge(spark, tmp_path):
    # Crawl v1 lacks the column v2 adds; a mergeSchema read must unify
    # them with nulls backfilled -- the schema-drift path a multi-version
    # corpus store hits on every re-crawl.
    p = str(tmp_path / "corpus")
    spark.createDataFrame([(1, "a")], ["doc_id", "text"]).write.parquet(p)
    spark.createDataFrame(
        [(2, "b", "en")], ["doc_id", "text", "lang"]
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["lang"] is None and rows[2]["lang"] == "en"
    # without mergeSchema Spark picks one footer's schema -- pin that the
    # option is what makes the union safe
    plain = spark.read.parquet(p)
    assert len(plain.columns) <= 3
