"""Snapshot isolation + time travel on plain parquet
(load/versioned_table.py): immutable commits, manifest atomicity,
carry-forward of untouched partitions, vacuum's referenced-file sweep."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from cnics_to_fhir_spark.load import versioned_table as vt


def _seed(spark, table):
    df = spark.createDataFrame(
        [(k, f"v{k}", k % 2) for k in range(8)], "key long, val string, day int"
    )
    assert vt.create_table(spark, table, df, partition_col="day") == 0
    return df


def _snap(path):
    return {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


def test_time_travel_reads_every_version(spark, tmp_path):
    table = str(tmp_path / "t")
    _seed(spark, table)
    v0_files = _snap(os.path.join(table, "data", "commit-00000000"))

    plan1 = spark.createDataFrame(
        [(1, "update", None, "v1-new", 1), (100, "insert", None, "new100", 1)],
        "key long, action string, id string, val string, day int",
    )
    c1 = vt.merge_versioned(spark, table, plan1, key_col="key", partition_col="day")
    assert c1 == {
        "inserted": 1, "updated": 1, "deleted": 0, "noop_missing_key": 0,
        "partitions_rewritten": 1, "version": 1,
    }
    plan2 = spark.createDataFrame(
        [(3, "delete", "id3", None, 1)],
        "key long, action string, id string, val string, day int",
    )
    c2 = vt.merge_versioned(spark, table, plan2, key_col="key", partition_col="day")
    assert c2["deleted"] == 1 and c2["version"] == 2

    # every version still readable, each with ITS state
    v0 = {r["key"]: r["val"] for r in vt.read_version(spark, table, 0).collect()}
    v1 = {r["key"]: r["val"] for r in vt.read_version(spark, table, 1).collect()}
    v2 = {r["key"]: r["val"] for r in vt.read_version(spark, table).collect()}
    assert v0 == {k: f"v{k}" for k in range(8)}
    assert v1[1] == "v1-new" and v1[100] == "new100" and 3 in v1
    assert 3 not in v2 and v2[1] == "v1-new" and len(v2) == 8
    # day=0 was never touched: ALL versions serve it from the SAME files
    assert all(
        r["val"] == f"v{r['key']}"
        for r in vt.read_version(spark, table).filter(F.col("day") == 0).collect()
    )
    # immutability: the seed commit's files are byte-identical after 2 merges
    assert _snap(os.path.join(table, "data", "commit-00000000")) == v0_files


def test_unknown_action_and_missing_table_fail_loudly(spark, tmp_path):
    table = str(tmp_path / "t")
    plan = spark.createDataFrame(
        [(1, "upsert", None, "x", 1)],
        "key long, action string, id string, val string, day int",
    )
    with pytest.raises(ValueError, match="no versioned table"):
        vt.merge_versioned(
            spark, table,
            plan.withColumn("action", F.lit("insert")),
            key_col="key", partition_col="day",
        )
    _seed(spark, table)
    with pytest.raises(ValueError, match="unknown action"):
        vt.merge_versioned(spark, table, plan, key_col="key", partition_col="day")


def test_null_partition_rows_survive_versioned_merge(spark, tmp_path):
    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "old-1", None), (2, "old-2", "siteB")], "key long, val string, day string"
    )
    vt.create_table(spark, table, base, partition_col="day")
    plan = spark.createDataFrame(
        [(1, "update", None, "new-1", None), (9, "insert", None, "new-9", None)],
        "key long, action string, id string, val string, day string",
    )
    c = vt.merge_versioned(spark, table, plan, key_col="key", partition_col="day")
    assert c["updated"] == 1 and c["noop_missing_key"] == 0
    got = {
        (r["day"], r["key"]): r["val"]
        for r in vt.read_version(spark, table).collect()
    }
    assert got[(None, 1)] == "new-1" and got[(None, 9)] == "new-9"
    assert got[("siteB", 2)] == "old-2"
    # v0 unchanged: NULL-partition history still shows the old value
    v0 = {r["key"]: r["val"] for r in vt.read_version(spark, table, 0).collect()}
    assert v0[1] == "old-1"


def test_vacuum_removes_unreferenced_and_keeps_latest_whole(spark, tmp_path):
    table = str(tmp_path / "t")
    _seed(spark, table)
    for k in (1, 3):
        plan = spark.createDataFrame(
            [(k, "update", None, f"v{k}-new", k % 2)],
            "key long, action string, id string, val string, day int",
        )
        vt.merge_versioned(spark, table, plan, key_col="key", partition_col="day")
    # crash debris: a data file no manifest references
    debris = os.path.join(table, "data", "commit-00000001", "stray.parquet")
    open(debris, "wb").write(b"junk")

    report = vt.vacuum(table, retain_versions=1)
    assert report["manifests_removed"] == 2 and report["versions_retained"] == 1
    assert not os.path.exists(debris)
    assert vt.list_versions(table) == [2]
    # the retained version still reads COMPLETELY (carried-forward files
    # from older commits survive the sweep)
    got = {r["key"]: r["val"] for r in vt.read_version(spark, table).collect()}
    assert got == {0: "v0", 1: "v1-new", 2: "v2", 3: "v3-new",
                   4: "v4", 5: "v5", 6: "v6", 7: "v7"}
    with pytest.raises(FileNotFoundError):
        vt.read_version(spark, table, 0)


def test_change_data_feed_between_versions(spark, tmp_path):
    """CDF derives from the manifest file diff alone: shared (immutable)
    files can't contribute, rewritten partitions diff row-level, and
    unchanged rows inside a rewritten partition drop out."""
    table = str(tmp_path / "t")
    _seed(spark, table)
    plan1 = spark.createDataFrame(
        [(1, "update", None, "v1-new", 1), (100, "insert", None, "new100", 0)],
        "key long, action string, id string, val string, day int",
    )
    vt.merge_versioned(spark, table, plan1, key_col="key", partition_col="day")
    plan2 = spark.createDataFrame(
        [(3, "delete", "id3", None, 1)],
        "key long, action string, id string, val string, day int",
    )
    vt.merge_versioned(spark, table, plan2, key_col="key", partition_col="day")

    c01 = {
        (r["key"], r["change"]): (r["val_pre"], r["val_post"])
        for r in vt.read_changes(spark, table, 0, 1, key_col="key").collect()
    }
    # both partitions were rewritten in v1 (update in day=1, insert day=0)
    # but only the ACTUALLY changed rows surface
    assert c01 == {
        (1, "update"): ("v1", "v1-new"),
        (100, "insert"): (None, "new100"),
    }
    c12 = {
        (r["key"], r["change"]): (r["val_pre"], r["val_post"])
        for r in vt.read_changes(spark, table, 1, 2, key_col="key").collect()
    }
    assert c12 == {(3, "delete"): ("v3", None)}
    # span 0 -> 2 composes both waves
    c02 = {
        (r["key"], r["change"])
        for r in vt.read_changes(spark, table, 0, 2, key_col="key").collect()
    }
    assert c02 == {(1, "update"), (100, "insert"), (3, "delete")}
    # identical versions: empty feed, schema intact
    same = vt.read_changes(spark, table, 2, 2, key_col="key")
    assert same.count() == 0 and "change" in same.columns


def test_concurrent_commit_is_a_loud_error(spark, tmp_path):
    """Two writers that both compute version = parent+1: the second
    link-commit must raise, never silently overwrite the first (the
    put-if-absent contract real table formats have)."""
    table = str(tmp_path / "t")
    _seed(spark, table)
    # the race lands at the commit primitive: both writers computed
    # version = parent+1 = 1, the winner linked first
    winner = {"version": 1, "parent": 0, "partition_col": "day",
              "entries": [], "schema": None, "writer": "A"}
    loser = {**winner, "writer": "B"}
    vt._write_manifest(table, 1, winner)
    with pytest.raises(vt.ConcurrentCommitError, match="committed by another writer"):
        vt._write_manifest(table, 1, loser)
    # the winner's commit is untouched (rename would have silently
    # replaced it — the lost update this guards against)
    assert vt.read_manifest(table, 1) == winner
    # no tmp debris left behind by the loser
    assert not [f for f in os.listdir(os.path.join(table, "_versions"))
                if f.endswith(".tmp")]


def test_delete_everything_reads_as_empty_table(spark, tmp_path):
    table = str(tmp_path / "t")
    df = _seed(spark, table)
    plan = df.select(
        "key", F.lit("delete").alias("action"),
        F.lit(None).cast("string").alias("id"),
        F.lit(None).cast("string").alias("val"), "day",
    )
    c = vt.merge_versioned(spark, table, plan, key_col="key", partition_col="day")
    assert c["deleted"] == 8
    v1 = vt.read_version(spark, table)
    assert v1.count() == 0
    assert set(v1.columns) == {"key", "val", "day"}
    # prior version still whole
    assert vt.read_version(spark, table, 0).count() == 8


def test_vacuum_sweeps_manifest_tmp_debris(spark, tmp_path):
    """Old .tmp debris is swept; FRESH .tmp files survive the grace period
    — a concurrent writer's in-flight temp manifest (created between
    json.dump and the os.link commit) must not be deleted out from under
    it, or its commit dies with FileNotFoundError instead of the intended
    ConcurrentCommitError (ADVICE r10)."""
    import time

    table = str(tmp_path / "t")
    _seed(spark, table)
    debris = os.path.join(table, "_versions", ".v00000009.json.dead.tmp")
    open(debris, "w").write("{}")
    inflight = os.path.join(table, "_versions", ".v00000010.json.live.tmp")
    open(inflight, "w").write("{}")
    # crash debris is old by definition; back-date it past the grace window
    old = time.time() - 3600
    os.utime(debris, (old, old))
    report = vt.vacuum(table, retain_versions=1)
    assert report["tmp_manifests_removed"] == 1
    assert not os.path.exists(debris)
    assert os.path.exists(inflight)  # in-flight temp survives the sweep
    # an aged sweep (grace disabled) takes it
    report = vt.vacuum(table, retain_versions=1, tmp_grace_s=0.0)
    assert report["tmp_manifests_removed"] == 1
    assert not os.path.exists(inflight)


def test_shuffle_partition_count_tolerates_non_numeric_conf(spark, monkeypatch):
    """'auto' (Databricks' fork accepts it; OSS Spark rejects the set, so
    simulate the foreign session at conf.get) must fall back to the plan's
    partition count instead of crashing the loader with ValueError
    (ADVICE r10)."""
    df = spark.range(0, 100, 1, 4)
    assert vt.shuffle_partition_count(df) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    real_get = spark.conf.get

    def fake_get(key, default=None):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(key, default)

    monkeypatch.setattr(spark.conf, "get", fake_get)
    assert vt.shuffle_partition_count(df) == 4


def test_compaction_is_a_version_that_moves_no_data(spark, tmp_path):
    """compact_versioned: fragmented partitions rewrite into bounded files
    as a NEW version; data identical (empty CDF), prior versions intact,
    already-compact partitions carried forward, idempotent."""
    table = str(tmp_path / "t")
    df = _seed(spark, table)
    # fragment day=1 only: an 8-file merge wave over the odd keys
    plan = df.filter(F.col("key") % 2 == 1).select(
        "key", F.lit("update").alias("action"),
        F.lit(None).cast("string").alias("id"),
        F.concat(F.col("val"), F.lit("+")).alias("val"), "day",
    )
    vt.merge_versioned(spark, table, plan, key_col="key",
                       partition_col="day", files_per_partition=4)
    m1 = vt.read_manifest(table, 1)
    day1_files = [e for e in m1["entries"] if e["partition"] == "1"]
    assert len(day1_files) > 1  # fragmented
    day0_entries = [e for e in m1["entries"] if e["partition"] == "0"]

    rep = vt.compact_versioned(spark, table)
    assert rep["version"] == 2 and rep["partitions_compacted"] == 1
    assert rep["files_before"] == len(day1_files) and rep["files_after"] == 1
    m2 = vt.read_manifest(table, 2)
    # the compact partition carried its entries forward verbatim
    assert [e for e in m2["entries"] if e["partition"] == "0"] == day0_entries
    # data identical: CDF pre->post compaction is EMPTY
    assert vt.read_changes(spark, table, 1, 2, key_col="key").count() == 0
    got = {r["key"]: r["val"] for r in vt.read_version(spark, table).collect()}
    assert got == {k: (f"v{k}+" if k % 2 else f"v{k}") for k in range(8)}
    # prior versions still whole
    assert vt.read_version(spark, table, 0).count() == 8
    # idempotent: nothing fragmented -> no new version
    rep2 = vt.compact_versioned(spark, table)
    assert rep2 == {"version": 2, "partitions_compacted": 0,
                    "files_before": 0, "files_after": 0}
    # vacuum after retention: old fragments swept, latest reads whole
    vt.vacuum(table, retain_versions=1)
    assert {r["key"] for r in vt.read_version(spark, table).collect()} == set(range(8))
