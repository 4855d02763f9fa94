"""Copy-on-write MERGE INTO a partitioned parquet table: row semantics,
honest counts, PHYSICAL copy-on-write (untouched partitions keep
byte-identical file lists and mtimes), crash recovery inheritance, and
end-to-end from merge_plan's action plan."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from cnics_to_fhir_spark.load.table_merge import merge_into_table
from cnics_to_fhir_spark.operators.merge import merge_plan


def _table(spark, path):
    rows = [(k, f"v{k}", k % 2) for k in range(8)]  # day=0: evens, day=1: odds
    df = spark.createDataFrame(rows, "key long, val string, day int")
    df.write.mode("overwrite").partitionBy("day").parquet(path)
    return df


def _snap(path):
    return {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


def test_merge_semantics_and_physical_cow(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    day0_before = _snap(os.path.join(path, "day=0"))

    plan = spark.createDataFrame(
        [
            (100, "insert", None, "new100", 1),
            (1, "update", "id1", "v1-new", 1),
            (3, "delete", "id3", None, 1),
        ],
        "key long, action string, id string, val string, day int",
    )
    counts = merge_into_table(spark, path, plan, key_col="key", partition_col="day")
    assert counts == {
        "inserted": 1,
        "updated": 1,
        "deleted": 1,
        "noop_missing_key": 0,
        "partitions_rewritten": 1,
    }
    got = {
        r["key"]: (r["val"], r["day"])
        for r in spark.read.parquet(path).collect()
    }
    assert got[100] == ("new100", 1)
    assert got[1] == ("v1-new", 1)
    assert 3 not in got
    assert all(got[k] == (f"v{k}", 0) for k in (0, 2, 4, 6))  # day=0 untouched
    # PHYSICAL copy-on-write: day=0's files were not rewritten
    assert _snap(os.path.join(path, "day=0")) == day0_before
    # no swap debris
    assert not glob.glob(str(tmp_path / "t__*"))


def test_missing_key_actions_are_reported_not_applied(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    plan = spark.createDataFrame(
        [(999, "update", None, "ghost", 0), (998, "delete", None, None, 0)],
        "key long, action string, id string, val string, day int",
    )
    counts = merge_into_table(spark, path, plan, key_col="key", partition_col="day")
    assert counts["noop_missing_key"] == 2
    assert counts["updated"] == 0 and counts["deleted"] == 0
    got = {r["key"] for r in spark.read.parquet(path).collect()}
    assert got == set(range(8))  # table unchanged, ghost row NOT invented


def test_unknown_action_fails_loudly(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    plan = spark.createDataFrame(
        [(1, "upsert", None, "x", 1)],
        "key long, action string, id string, val string, day int",
    )
    with pytest.raises(ValueError, match="unknown action"):
        merge_into_table(spark, path, plan, key_col="key", partition_col="day")


def test_insert_into_brand_new_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    plan = spark.createDataFrame(
        [(200, "insert", None, "v200", 7)],
        "key long, action string, id string, val string, day int",
    )
    counts = merge_into_table(spark, path, plan, key_col="key", partition_col="day")
    assert counts["inserted"] == 1
    got = spark.read.parquet(path).filter(F.col("day") == 7).collect()
    assert [(r["key"], r["val"]) for r in got] == [(200, "v200")]


def test_merge_plan_feeds_table_merge_end_to_end(spark, tmp_path):
    # the reconciliation engine's own plan drives the table sink: the
    # table converges to the current snapshot for the touched partition
    path = str(tmp_path / "t")
    _table(spark, path)
    current = spark.createDataFrame(
        [(1, "v1-new"), (3, "v3"), (9, "v9")],  # 5,7 dropped; 9 new; 1 changed
        "key long, val string",
    )
    existing = (
        spark.read.parquet(path)
        .filter(F.col("day") == 1)
        .select("key", F.concat(F.lit("id"), F.col("key")).alias("id"))
    )
    plan = merge_plan(current, existing, keys=["key"]).withColumn("day", F.lit(1))
    counts = merge_into_table(spark, path, plan, key_col="key", partition_col="day")
    assert counts["inserted"] == 1 and counts["deleted"] == 2
    day1 = {
        r["key"]: r["val"]
        for r in spark.read.parquet(path).filter(F.col("day") == 1).collect()
    }
    assert day1 == {1: "v1-new", 3: "v3", 9: "v9"}


def test_crashed_merge_swap_is_recoverable(spark, tmp_path):
    # inherit the compaction recovery story: crash between the swap's two
    # renames, then recover_compaction_leftovers restores the partition
    from cnics_to_fhir_spark.load import maintenance
    from cnics_to_fhir_spark.load.maintenance import recover_compaction_leftovers

    path = str(tmp_path / "t")
    _table(spark, path)

    real_swap = maintenance._swap_aside

    def crashing_swap(fs, jvm, tmp, dest, prev):
        os.rename(dest, prev)
        raise IOError("simulated crash mid-merge-swap")

    maintenance._swap_aside = crashing_swap
    plan = spark.createDataFrame(
        [(1, "update", "id1", "v1-new", 1)],
        "key long, action string, id string, val string, day int",
    )
    try:
        with pytest.raises(Exception, match="simulated crash"):
            merge_into_table(spark, path, plan, key_col="key", partition_col="day")
    finally:
        maintenance._swap_aside = real_swap

    report = recover_compaction_leftovers(spark, path)
    assert report["rolled_back"] == [os.path.join(path, "day=1")]
    assert len(report["cleaned"]) == 1 and "__merging" in report["cleaned"][0]
    got = {r["key"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got[1] == "v1"  # pre-merge state restored, nothing lost


def test_merge_preserves_null_partition_rows(spark, tmp_path):
    """NULL partition values land in __HIVE_DEFAULT_PARTITION__; the merge
    must find that dir (not 'day=None'), classify against its rows with a
    null-safe join, and swap the REAL merged rows live — the silent-loss
    mode is an empty dir going live while the merged rows die with the
    scratch cleanup."""
    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "old-1", None), (2, "old-2", None), (3, "old-3", "siteB")],
        "key long, val string, day string",
    )
    base.repartition(1).write.partitionBy("day").parquet(table)
    assert os.path.isdir(os.path.join(table, "day=__HIVE_DEFAULT_PARTITION__"))

    plan = spark.createDataFrame(
        [
            (1, "update", "id1", "new-1", None),
            (2, "delete", "id2", None, None),
            (9, "insert", None, "new-9", None),
        ],
        "key long, action string, id string, val string, day string",
    )
    counts = merge_into_table(spark, table, plan, key_col="key", partition_col="day")
    assert counts == {
        "inserted": 1,
        "updated": 1,
        "deleted": 1,
        "noop_missing_key": 0,  # key 1/2 WERE found despite the NULL
        "partitions_rewritten": 1,
    }
    got = {
        (r["day"], r["key"]): r["val"] for r in spark.read.parquet(table).collect()
    }
    assert got[(None, 1)] == "new-1" and got[(None, 9)] == "new-9"
    assert (None, 2) not in got
    assert got[("siteB", 3)] == "old-3"  # other partition untouched
    assert not glob.glob(str(tmp_path / "t__*"))  # no swap debris


def test_empty_string_partition_value_fails_loudly(spark, tmp_path):
    """'' and NULL collapse into the same __HIVE_DEFAULT_PARTITION__ dir on
    write (and '' reads back as NULL) — an ambiguity the merge refuses
    rather than silently mixing two logical partitions."""
    table = str(tmp_path / "t")
    _table(spark, table)
    plan = spark.createDataFrame(
        [(1, "insert", None, "x", "")],
        "key long, action string, id string, val string, day string",
    )
    with pytest.raises(ValueError, match="empty-string partition"):
        merge_into_table(spark, table, plan, key_col="key", partition_col="day")


def test_merge_at_500_touched_partitions(spark, tmp_path):
    """The driver-side terms are O(touched partitions): one existence probe
    per touched dir plus a thread-pooled swap — the Spark side stays 3
    jobs regardless of partition count.  Exercise the docstring's
    thousands-of-partitions regime: 600-partition table, 500 touched in
    ONE merge (250 updates into existing days + 250 inserts into new
    days), untouched partitions physically byte-identical."""
    import time

    table = str(tmp_path / "t")
    rows = [(d * 10 + i, f"v{d}-{i}", d) for d in range(600) for i in range(2)]
    df = spark.createDataFrame(rows, "key long, val string, day int")
    df.repartition(F.col("day")).write.partitionBy("day").parquet(table)

    plan_rows = [(d * 10, "update", None, f"upd{d}", d) for d in range(250)] + [
        (9000 + d, "insert", None, f"ins{d}", 600 + d) for d in range(250)
    ]
    plan = spark.createDataFrame(
        plan_rows, "key long, action string, id string, val string, day int"
    )
    untouched_before = _snap(os.path.join(table, "day=599"))
    t0 = time.monotonic()
    counts = merge_into_table(spark, table, plan, key_col="key", partition_col="day")
    elapsed = time.monotonic() - t0
    assert counts == {
        "inserted": 250,
        "updated": 250,
        "deleted": 0,
        "noop_missing_key": 0,
        "partitions_rewritten": 500,
    }
    got = spark.read.parquet(table)
    assert got.count() == 1200 + 250
    sample = {
        r["key"]: r["val"]
        for r in got.filter(F.col("day").isin(0, 249, 599, 700)).collect()
    }
    assert sample[0] == "upd0" and sample[2490] == "upd249"
    assert sample[5990] == "v599-0"  # untouched
    assert sample[9100] == "ins100"  # brand-new partition
    assert _snap(os.path.join(table, "day=599")) == untouched_before
    assert not glob.glob(str(tmp_path / "t__*"))
    # Driver cost curve: 500 existence probes + 500 pooled swaps on local
    # fs complete in seconds; this pins the merge never regressing to the
    # old O(partitions) sequence of Spark jobs (~minutes at this count).
    assert elapsed < 120, f"500-partition merge took {elapsed:.0f}s"


def test_merge_handles_hive_escaped_partition_values(spark, tmp_path):
    """partitionBy writes 'day=... 10%3A00' for a value containing ':';
    the merge's path handling must use the same escaping or it swaps an
    EMPTY dir live and deletes the merged rows with the scratch."""
    table = str(tmp_path / "t")
    hot = "2024-01-01 10:00"
    base = spark.createDataFrame(
        [(1, "old-1", hot), (2, "old-2", hot), (3, "old-3", "2024-01-02")],
        "key long, val string, day string",
    )
    base.repartition(1).write.partitionBy("day").parquet(table)
    assert os.path.isdir(os.path.join(table, "day=2024-01-01 10%3A00"))

    plan = spark.createDataFrame(
        [(1, "update", "id1", "new-1", hot), (9, "insert", None, "new-9", hot)],
        "key long, action string, id string, val string, day string",
    )
    counts = merge_into_table(spark, table, plan, key_col="key", partition_col="day")
    assert counts["updated"] == 1 and counts["inserted"] == 1
    assert counts["noop_missing_key"] == 0  # key 1 WAS found despite the ':'
    got = {
        (r["day"], r["key"]): r["val"] for r in spark.read.parquet(table).collect()
    }
    assert got[(hot, 1)] == "new-1" and got[(hot, 9)] == "new-9"
    assert got[(hot, 2)] == "old-2" and got[("2024-01-02", 3)] == "old-3"
    assert not glob.glob(str(tmp_path / "t__*"))  # no swap debris


def test_probe_via_listing_matches_default_path(spark, tmp_path):
    """The opt-in millions-of-partitions probe: ONE listing of the table
    root instead of one fs.exists RPC per touched partition.  Same
    counts, same rows, same physical copy-on-write as the default path —
    exercised over a wide layout with updates into existing partitions,
    inserts into brand-new ones, and noops."""
    table = str(tmp_path / "t")
    rows = [(d * 10 + i, f"v{d}-{i}", d) for d in range(300) for i in range(2)]
    df = spark.createDataFrame(rows, "key long, val string, day int")
    df.repartition(F.col("day")).write.partitionBy("day").parquet(table)

    plan_rows = (
        [(d * 10, "update", None, f"upd{d}", d) for d in range(100)]
        + [(9000 + d, "insert", None, f"ins{d}", 300 + d) for d in range(50)]
        + [(777777, "delete", None, None, 5)]  # absent key -> noop
    )
    plan = spark.createDataFrame(
        plan_rows, "key long, action string, id string, val string, day int"
    )
    untouched_before = _snap(os.path.join(table, "day=299"))
    counts = merge_into_table(
        spark, table, plan, key_col="key", partition_col="day",
        probe_via_listing=True,
    )
    assert counts == {
        "inserted": 50,
        "updated": 100,
        "deleted": 0,
        "noop_missing_key": 1,
        "partitions_rewritten": 150,
    }
    got = spark.read.parquet(table)
    assert got.count() == 600 + 50
    sample = {r["key"]: r["val"]
              for r in got.filter(F.col("day").isin(0, 299, 320)).collect()}
    assert sample[0] == "upd0"
    assert sample[2990] == "v299-0"  # untouched
    assert sample[9020] == "ins20"   # brand-new partition, probed via listing
    assert _snap(os.path.join(table, "day=299")) == untouched_before
    assert not glob.glob(str(tmp_path / "t__*"))

    # a merge into a table whose root does not exist yet (first batch):
    # the listing path must not trip over the missing dir
    fresh = str(tmp_path / "fresh")
    c2 = merge_into_table(
        spark, fresh,
        spark.createDataFrame([(1, "insert", None, "x", 0)],
                              "key long, action string, id string, val string, day int"),
        key_col="key", partition_col="day", probe_via_listing=True,
    )
    assert c2["inserted"] == 1
    assert spark.read.parquet(fresh).count() == 1
