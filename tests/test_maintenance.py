"""Crash recovery of the MERGE's partition swap: the startup sweep
(load/table_merge.recover_merge_swap) run before the next merge into a
table.  Each test crashes ``merge_into_table`` at one point of the
rename-aside swap and checks what is left and what the sweep does."""

from __future__ import annotations

import os

import pytest

from cnics_to_fhir_spark.load import table_merge
from cnics_to_fhir_spark.load.table_merge import merge_into_table, recover_merge_swap

SCHEMA = "key long, action string, id string, val string, day int"


def _table(spark, path):
    rows = [(k, f"v{k}", k % 2) for k in range(8)]  # day=0: evens, day=1: odds
    df = spark.createDataFrame(rows, "key long, val string, day int")
    df.write.mode("overwrite").partitionBy("day").parquet(path)


def _crash_merge(spark, path, monkeypatch, crashing_swap, rows):
    plan = spark.createDataFrame(rows, SCHEMA)
    monkeypatch.setattr(table_merge, "_swap_aside", crashing_swap)
    with pytest.raises(Exception, match="simulated crash"):
        merge_into_table(spark, path, plan, key_col="key", partition_col="day")
    monkeypatch.undo()


def _vals(spark, path):
    return {r["key"]: r["val"] for r in spark.read.parquet(path).collect()}


def test_swap_crash_between_renames_loses_nothing(spark, tmp_path, monkeypatch):
    # the narrowest window — after old->prev, before scratch->dest: the old
    # partition is whole at its aside path and the merged rewrite is whole
    # in the scratch root, so nothing is stranded or deleted
    path = str(tmp_path / "t")
    _table(spark, path)

    def crashing_swap(fs, jvm, tmp, dest, prev):
        os.rename(dest, prev)
        raise IOError("simulated crash between the swap's two renames")

    _crash_merge(spark, path, monkeypatch, crashing_swap, [(1, "update", "id1", "v1-new", 1)])
    assert not os.path.exists(os.path.join(path, "day=1"))
    assert _vals(spark, str(tmp_path / "t__prev_day=1")) == {k: f"v{k}" for k in (1, 3, 5, 7)}
    merged = _vals(spark, str(tmp_path / "t__merging" / "day=1"))
    assert merged == {1: "v1-new", 3: "v3", 5: "v5", 7: "v7"}
    # the untouched partition was never at risk
    assert _vals(spark, path) == {k: f"v{k}" for k in (0, 2, 4, 6)}


def test_recover_rolls_back_mid_swap_crash(spark, tmp_path, monkeypatch):
    # every partition of a two-partition merge crashes between the swap's
    # renames: recovery renames each parked partition back and clears the
    # scratch root, restoring the pre-merge table
    path = str(tmp_path / "t")
    _table(spark, path)

    def crashing_swap(fs, jvm, tmp, dest, prev):
        os.rename(dest, prev)
        raise IOError("simulated crash between the swap's two renames")

    rows = [(0, "update", "id0", "v0-new", 0), (1, "update", "id1", "v1-new", 1)]
    _crash_merge(spark, path, monkeypatch, crashing_swap, rows)
    report = recover_merge_swap(spark, path)
    assert sorted(report["rolled_back"]) == [
        os.path.join(path, "day=0"),
        os.path.join(path, "day=1"),
    ]
    assert report["cleaned"] == [f"file:{tmp_path}/t__merging"]
    assert report["kept"] == []
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert _vals(spark, path) == {k: f"v{k}" for k in range(8)}


def test_recover_finishes_cleanup_when_new_tree_is_live(spark, tmp_path, monkeypatch):
    # crash AFTER the new partition went live, before the parked old tree
    # was deleted: the parked tree is garbage; the live partition stays
    path = str(tmp_path / "t")
    _table(spark, path)

    def crashing_swap(fs, jvm, tmp, dest, prev):
        os.rename(dest, prev)
        os.rename(tmp, dest)
        raise IOError("simulated crash before the aside tree's delete")

    _crash_merge(spark, path, monkeypatch, crashing_swap, [(1, "update", "id1", "v1-new", 1)])
    report = recover_merge_swap(spark, path)
    assert report["rolled_back"] == [] and report["kept"] == []
    assert sorted(report["cleaned"]) == [
        f"file:{tmp_path}/t__merging",
        f"file:{tmp_path}/t__prev_day=1",
    ]
    assert sorted(os.listdir(tmp_path)) == ["t"]
    got = _vals(spark, path)
    assert got[1] == "v1-new" and len(got) == 8


def test_recover_keeps_scratch_that_is_the_only_copy(spark, tmp_path, monkeypatch):
    # a first merge into a new table that dies after its scratch write but
    # before the table root exists: the scratch holds the only copy of the
    # inserted rows, so recovery must keep it and report it
    path = str(tmp_path / "t")

    def crashing_swap(fs, jvm, tmp, dest, prev):
        raise IOError("simulated crash before the first rename")

    _crash_merge(spark, path, monkeypatch, crashing_swap, [(1, "insert", None, "v1", 1)])
    # the go-live step created the (still empty) root just before its first
    # swap; removing it gives the state of a crash one step earlier
    os.rmdir(path)

    scratch = str(tmp_path / "t__merging")
    report = recover_merge_swap(spark, path)
    assert report == {"rolled_back": [], "cleaned": [], "kept": [f"file:{scratch}"]}
    assert _vals(spark, scratch) == {1: "v1"}


def test_recover_noop_on_clean_table(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    plan = spark.createDataFrame([(1, "update", "id1", "v1-new", 1)], SCHEMA)
    merge_into_table(spark, path, plan, key_col="key", partition_col="day")
    report = recover_merge_swap(spark, path)
    assert report == {"rolled_back": [], "cleaned": [], "kept": []}
    assert sorted(os.listdir(tmp_path)) == ["t"]
