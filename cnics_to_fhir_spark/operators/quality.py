"""Declarative data-quality expectation suite — the Great-Expectations
shape (named checks → violation counts → pass/fail report) as Spark plans.

A training-data pipeline gates every ingest on expectations: null rates,
value ranges, key uniqueness, referential integrity.  The report is the
artifact — a table of (check, n_rows, n_violations, passed) that CI can
diff — so checks are DataFrame-valued, never assertions that die on the
first failure.

Scale shape: all row-predicate checks over one table FUSE INTO A SINGLE
SCAN (one aggregation computing every violation count map-side);
uniqueness is one keyed count; referential integrity is one left-anti
join (broadcast when the parent's key column is dimension-sized).  The
report itself is O(checks) rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_REPORT_SCHEMA = "check string, n_rows bigint, n_violations bigint, passed boolean"


def _report(check: Column, n_rows: Column, n_violations: Column) -> list[Column]:
    return [
        check.alias("check"),
        n_rows.cast("long").alias("n_rows"),
        n_violations.cast("long").alias("n_violations"),
        (n_violations == 0).alias("passed"),
    ]


def expect_rows(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Row-predicate expectations — ``checks`` maps a check name to a
    boolean Column that is TRUE when the row VIOLATES the expectation
    (NULL predicate results count as violations: an unevaluable
    expectation is a failed one, never a silently passed one).  Every
    check is evaluated in ONE scan of ``df`` BY PLAN SHAPE: a single
    aggregation with one conditional-sum per check (all map-side
    combinable), then a ``stack`` projection explodes the one-row result
    into (check, n_rows, n_violations) rows — no per-check union branches
    whose single-scan behavior would hinge on exchange reuse kicking in."""
    names = list(checks)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, viol in enumerate(checks.values()):
        aggs.append(
            # Outer coalesce: SUM over ZERO rows is NULL — an empty batch
            # (routine inside a streaming foreachBatch gate) must report
            # (0, 0, passed), exactly like expect_unique's empty case.
            F.coalesce(
                F.sum(
                    F.when(F.coalesce(viol, F.lit(True)), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            ).alias(f"__v{i}")
        )
    one = df.agg(*aggs)
    # Check names are data, not SQL: they ride as bound literal Columns
    # inside named_struct, never spliced into an expr string.
    entries = F.array(
        *[
            F.struct(F.lit(name).alias("check"), F.col(f"__v{i}").alias("__v"))
            for i, name in enumerate(names)
        ]
    )
    exploded = one.select(F.col("__n"), F.inline(entries))
    return exploded.select(*_report(F.col("check"), F.col("__n"), F.col("__v")))


def expect_unique(df: DataFrame, cols: list[str], name: str | None = None) -> DataFrame:
    """Key-uniqueness expectation: a violation is every ROW beyond the
    first in a duplicated key group (so n_violations = n_rows − distinct
    keys; 0 means the key is unique).  One keyed count aggregation —
    map-side partials make the duplicate scan cheap at any scale."""
    name = name or f"unique({','.join(cols)})"
    per_key = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__c"))
    # Coalesce: an EMPTY table is trivially unique (0 rows, 0 violations),
    # not a NULL-violation report that reads as failure.
    agg = per_key.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).alias("__n"),
        F.coalesce(F.sum(F.col("__c") - 1), F.lit(0)).alias("__v"),
    )
    return agg.select(*_report(F.lit(name), F.col("__n"), F.col("__v")))


def expect_foreign_key(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    name: str | None = None,
) -> DataFrame:
    """Referential-integrity expectation: child rows whose key has no
    match in the parent's key set are violations (NULL child keys are
    orphans too — an unattributable row can't be joined downstream).
    One left-anti join; the parent side reduces to its distinct keys
    first and broadcasts (a dimension-sized key set)."""
    name = name or f"fk({child_key}->{parent_key})"
    keys = F.broadcast(parent.select(F.col(parent_key).alias(child_key)).distinct())
    n = child.agg(F.count(F.lit(1)).alias("__n"))
    orphans = child.join(keys, on=child_key, how="left_anti").agg(
        F.count(F.lit(1)).alias("__v")
    )
    return n.crossJoin(orphans).select(
        *_report(F.lit(name), F.col("__n"), F.col("__v"))
    )


def expectation_suite(*reports: DataFrame) -> DataFrame:
    """Union the per-check reports into one suite table."""
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
