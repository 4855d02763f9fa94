"""Reconciliation engine tests (SURVEY.md §5.3): current-vs-existing fixture
pairs → action plan; exact insert/update/delete partitioning matching the
reference loop semantics (cnics_to_fhir.py:548-570, :328-337)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cnics_to_fhir_spark.operators.merge import (
    action_counts,
    apply_merge,
    assert_unique_keys,
    merge_plan,
)


def test_merge_plan_classifies_all_three_actions(spark):
    current = spark.createDataFrame(
        [("k1", "body1"), ("k2", "body2"), ("k3", "body3")], ["key", "body"]
    )
    existing = spark.createDataFrame(
        [("k2", "srv-2"), ("k3", "srv-3"), ("k4", "srv-4")], ["key", "id"]
    )
    plan = {r["key"]: r for r in merge_plan(current, existing).collect()}
    assert plan["k1"]["action"] == "insert" and plan["k1"]["id"] is None
    assert plan["k2"]["action"] == "update" and plan["k2"]["id"] == "srv-2"
    assert plan["k3"]["action"] == "update"
    assert plan["k4"]["action"] == "delete" and plan["k4"]["body"] is None


def test_merge_plan_collapses_duplicate_existing_keys(spark):
    # reference: first identifier match wins then break (cnics_to_fhir.py:552-560)
    current = spark.createDataFrame([("k1", "b")], ["key", "body"])
    existing = spark.createDataFrame([("k1", "srv-9"), ("k1", "srv-1")], ["key", "id"])
    rows = merge_plan(current, existing).collect()
    assert len(rows) == 1
    assert rows[0]["action"] == "update"
    assert rows[0]["id"] == "srv-1"  # deterministic min, not arrival order


def test_merge_plan_dup_keys_with_null_payload_collapse_nulls_last(spark):
    # Spark's bare struct-min would pick the NULL-field row (NULLs sort
    # first in struct comparison); DuckDB's min(row(...)) puts NULLs last.
    # merge_plan interleaves isnull flags so both engines agree: the
    # non-null payload wins, and among non-nulls the lexicographic min.
    current = spark.createDataFrame(
        [("k1", None), ("k1", "zeta"), ("k1", "alpha")],
        "key string, body string",
    )
    existing = spark.createDataFrame([], "key string, id string")
    rows = merge_plan(current, existing).collect()
    assert len(rows) == 1
    assert rows[0]["body"] == "alpha"  # NULLS LAST, then value min

    # all-null payload group still collapses (flags tie, values tie)
    only_null = spark.createDataFrame(
        [("k2", None), ("k2", None)], "key string, body string"
    )
    rows = merge_plan(only_null, existing).collect()
    assert len(rows) == 1 and rows[0]["body"] is None


def test_apply_merge_null_safe_keys_and_duplicated_target_keys(spark):
    """Presence is NULL-safe on every key column, a key the target holds
    twice still counts as ONE update (both stored rows are replaced by the
    one incoming row), and a NULL action label is refused like any other
    unknown label."""
    existing = spark.createDataFrame(
        [(1, None, "a"), (1, None, "b"), (2, None, "c"), (2, "p", "d")],
        "k long, p string, v string",
    )
    plan = spark.createDataFrame(
        [(1, None, "update", "new"), (2, None, "delete", None),
         (3, None, "delete", None)],
        "k long, p string, action string, v string",
    )
    merged, counts = apply_merge(plan, existing, ["p", "k"])
    assert counts == {"inserted": 0, "updated": 1, "deleted": 1, "noop_missing_key": 1}
    assert sorted(map(tuple, merged.collect()), key=str) == [(1, None, "new"), (2, "p", "d")]

    with pytest.raises(ValueError, match=r"unknown action labels \['NULL'\]"):
        apply_merge(plan.withColumn("action", F.lit(None).cast("string")), existing, ["p", "k"])


def test_action_counts(spark):
    current = spark.createDataFrame([("k1", "b"), ("k2", "b")], ["key", "body"])
    existing = spark.createDataFrame([("k2", "s2"), ("k3", "s3")], ["key", "id"])
    plan = merge_plan(current, existing)
    counts = {r["action"]: r["n"] for r in action_counts(plan).collect()}
    assert counts == {"insert": 1, "update": 1, "delete": 1}


def test_assert_unique_keys(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["key"])
    bad = assert_unique_keys(df, "key").collect()
    assert len(bad) == 1 and bad[0]["key"] == "a" and bad[0]["n"] == 2


def test_scd2_merge_all_branches(spark):
    from cnics_to_fhir_spark.operators.merge import scd2_merge

    history = spark.createDataFrame(
        [
            # closed row passes through untouched
            ("keep", "v0", "2023-01-01", "2024-01-01"),
            # open rows
            ("keep", "v1", "2024-01-01", None),      # unchanged
            ("change", "old", "2024-01-01", None),   # payload differs
            ("gone", "v1", "2024-01-01", None),      # absent from current
            ("nullsame", None, "2024-01-01", None),  # NULL == NULL is "same"
        ],
        "key string, val string, valid_from string, valid_to string",
    )
    current = spark.createDataFrame(
        [("keep", "v1"), ("change", "new"), ("fresh", "v1"), ("nullsame", None)],
        "key string, val string",
    )
    out = scd2_merge(current, history, "key", ["val"], "2025-06-01")
    rows = {(r["key"], r["val"], r["valid_from"], r["valid_to"]) for r in out.collect()}
    assert rows == {
        ("keep", "v0", "2023-01-01", "2024-01-01"),   # closed passthrough
        ("keep", "v1", "2024-01-01", None),           # unchanged stays open
        ("change", "old", "2024-01-01", "2025-06-01"),# old version closed
        ("change", "new", "2025-06-01", None),        # new version opened
        ("gone", "v1", "2024-01-01", "2025-06-01"),   # soft delete
        ("fresh", "v1", "2025-06-01", None),          # insert
        ("nullsame", None, "2024-01-01", None),       # null-safe unchanged
    }


def test_scd2_merge_exactly_one_open_row_per_live_key(spark):
    from cnics_to_fhir_spark.operators.merge import scd2_merge

    history = spark.createDataFrame(
        [("a", 1, "2024-01-01", None), ("b", 2, "2024-01-01", None)],
        "key string, val int, valid_from string, valid_to string",
    )
    current = spark.createDataFrame([("a", 9), ("c", 3)], "key string, val int")
    out = scd2_merge(current, history, "key", ["val"], "2025-06-01").collect()
    open_keys = sorted(r["key"] for r in out if r["valid_to"] is None)
    assert open_keys == ["a", "c"]  # live keys = current's keys, exactly once
