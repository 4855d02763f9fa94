"""Sidecar name-mapping semantics (sources/evolution.py); the end-to-end
aggregate parity runs in the oracle (u04_rename_evolution_scan)."""

from __future__ import annotations

import os

import pytest

from cnics_to_fhir_spark.sources.evolution import (
    read_name_mapping,
    read_with_name_mapping,
    write_name_mapping,
)


def _write_gens(spark, root):
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, old_name string").coalesce(
        1
    ).write.parquet(os.path.join(root, "gen=1"))
    spark.createDataFrame([(3, "c", 9.0)], "id long, new_name string, extra double").coalesce(
        1
    ).write.parquet(os.path.join(root, "gen=2"))


def test_renamed_values_land_in_logical_column(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    _write_gens(spark, root)
    write_name_mapping(root, {"gen=1": {"old_name": "new_name"}})
    out = read_with_name_mapping(spark, root)
    rows = {r["id"]: r for r in out.collect()}
    # gen-1 values are visible under the NEW name, not NULL-shadowed
    assert rows[1]["new_name"] == "a" and rows[2]["new_name"] == "b"
    assert rows[3]["new_name"] == "c"
    # genuinely added column NULL-fills the old generation (u03 semantics)
    assert rows[1]["extra"] is None and rows[3]["extra"] == 9.0
    assert "old_name" not in out.columns


def test_mapping_naming_absent_column_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    _write_gens(spark, root)
    write_name_mapping(root, {"gen=1": {"typo_name": "new_name"}})
    with pytest.raises(ValueError, match="no 'typo_name'"):
        read_with_name_mapping(spark, root).collect()


def test_unmapped_generation_reads_identity(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    _write_gens(spark, root)
    write_name_mapping(root, {})
    out = read_with_name_mapping(spark, root)
    assert set(out.columns) == {"id", "old_name", "new_name", "extra"}
    assert read_name_mapping(root) == {}


# --- partition-spec evolution (u05) -----------------------------------------

def _write_spec_gens(spark, root):
    df = spark.createDataFrame(
        [(1, "F", "a"), (2, "O", "a"), (3, "F", "b"), (4, "F", "a")],
        "id long, status string, site string",
    )
    df.filter("id <= 2").coalesce(1).write.partitionBy("status").parquet(
        os.path.join(root, "gen=1")
    )
    df.filter("id > 2").coalesce(1).write.partitionBy("status", "site").parquet(
        os.path.join(root, "gen=2")
    )


def test_partition_spec_scan_unions_and_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from cnics_to_fhir_spark.sources.evolution import (
        read_with_partition_specs,
        write_partition_specs,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    _write_spec_gens(spark, root)
    write_partition_specs(
        root, {"gen=1": ["status"], "gen=2": ["status", "site"]}
    )
    out = read_with_partition_specs(spark, root)
    assert {r["id"] for r in out.collect()} == {1, 2, 3, 4}
    hot = out.filter((F.col("status") == "F") & (F.col("site") == "a"))
    assert {r["id"] for r in hot.collect()} == {1, 4}
    # physical pruning: gen-2 files outside status=F/site=a never touched;
    # gen-1 prunes its status level and row-filters site
    touched = [r[0] for r in hot.select(F.input_file_name()).distinct().collect()]
    assert all("/status=F" in f for f in touched)
    assert all("/site=a" in f for f in touched if "/gen=2/" in f)


def test_partition_spec_mismatch_raises(spark, tmp_path):
    from cnics_to_fhir_spark.sources.evolution import (
        read_with_partition_specs,
        write_partition_specs,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    _write_spec_gens(spark, root)
    # declared spec disagrees with the physical layout of gen=2
    write_partition_specs(root, {"gen=1": ["status"], "gen=2": ["status"]})
    with pytest.raises(ValueError, match="partition spec mismatch"):
        read_with_partition_specs(spark, root)


def test_partition_spec_missing_generation_raises(spark, tmp_path):
    from cnics_to_fhir_spark.sources.evolution import (
        read_with_partition_specs,
        write_partition_specs,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    _write_spec_gens(spark, root)
    write_partition_specs(root, {"gen=1": ["status"]})
    with pytest.raises(ValueError, match="no declared partition spec"):
        read_with_partition_specs(spark, root)


# --- type-widening evolution (u06) ------------------------------------------

def test_type_widening_scan_and_refusals(spark, tmp_path):
    from pyspark.sql import functions as F

    from cnics_to_fhir_spark.sources.evolution import (
        read_with_type_widening,
        write_type_widening,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    spark.createDataFrame([(1, 10), (2, 20)], "id long, v long").withColumn(
        "v", F.col("v").cast("int")
    ).coalesce(1).write.parquet(os.path.join(root, "gen=1"))
    spark.createDataFrame(
        [(3, 2**40)], "id long, v long"
    ).coalesce(1).write.parquet(os.path.join(root, "gen=2"))

    # mergeSchema refuses mixed int/long outright — the gap this closes
    with pytest.raises(Exception, match="[Mm]erge|INCOMPATIBLE|Failed"):
        spark.read.option("mergeSchema", "true").parquet(
            os.path.join(root, "gen=1"), os.path.join(root, "gen=2")
        ).collect()

    write_type_widening(root, {"gen=1": {"v": "bigint"}})
    out = read_with_type_widening(spark, root)
    assert dict(out.dtypes)["v"] == "bigint"
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: 10, 2: 20, 3: 2**40}  # values preserved exactly

    # narrowing refused loudly
    write_type_widening(root, {"gen=2": {"id": "int"}})
    with pytest.raises(ValueError, match="non-widening"):
        read_with_type_widening(spark, root)
    # absent column refused loudly
    write_type_widening(root, {"gen=1": {"ghost": "bigint"}})
    with pytest.raises(ValueError, match="no such column"):
        read_with_type_widening(spark, root)


def test_u03_overlapped_writes_keep_the_job_group(spark, tmp_path):
    """u03 writes its two file generations on concurrent driver threads.
    Their jobs must inherit the caller's job group, so cancelling the group
    cancels them: no job of the run lands outside it."""
    import datetime

    from cnics_to_fhir_spark.plans.scale_ops import u03_schema_evolution_scan

    spark.createDataFrame(
        [(i, i % 7, "OF"[i % 2], 10.5 * i, datetime.datetime(2020, 1, 1), f"{i % 5}-PRI")
         for i in range(1, 41)],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()  # job ids reach the tracker through it
    bus.waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("u03", "overlapped generation writes")
    try:
        assert len(u03_schema_evolution_scan(spark, str(tmp_path)).collect()) == 6
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped
    assert sc.statusTracker().getJobIdsForGroup("u03")
