"""S4 — UW MRN crosswalk source (cnics_to_fhir.py:290-304).

Reference semantics, reproduced exactly — note the per-field asymmetry of
the dict-overwrite loop (cnics_to_fhir.py:296-303):

- header row skipped (``cnt != 0``, :296);
- rows whose SitePatientId is the literal string 'NULL' are dropped (:298);
- ``hmrn`` is overwritten UNCONDITIONALLY on every row for the key (:301)
  — including with the literal string 'NULL', which then ships verbatim in
  the Patient identifier array (:398-402);
- ``umrn`` is overwritten ONLY when the row's umrn is non-'NULL' (:302-303),
  so an earlier real umrn survives a later 'NULL' row, and a key whose rows
  never carry a real umrn has no umrn at all (→ null here, no identifier).

So duplicate keys resolve with LAST-write-wins applied per FIELD, not per
row.  A whole-row ``row_number`` keep-last (this module's pre-round-4 shape)
gets both halves wrong: it would let a trailing 'NULL' wipe a real umrn and
would drop the 'NULL'-valued hmrn the reference emits.

Last-write-wins needs an order key; file order is materialized with
monotonically_increasing_id over a single-file read (stable within a file).
At scale the crosswalk is a small dimension — one file, broadcast join.
The per-field resolution is a single hash aggregation (``max_by``), one
shuffle on the key, no window sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def per_field_lww(
    df: DataFrame,
    key: str,
    ord_col: str,
    unconditional: list[str],
    non_null_literal: list[str],
) -> DataFrame:
    """Resolve duplicate ``key`` rows with the reference's per-field
    last-write-wins (cnics_to_fhir.py:296-303).

    ``unconditional`` fields take the value from the last row, whatever it
    is (even the literal ``'NULL'`` string).  ``non_null_literal``
    fields take the value from the last row whose value differs from
    ``'NULL'`` (null when no such row exists).

    One hash aggregation → one shuffle on ``key``; ``max_by`` with a null
    ordering expression skips the row (MAX ignores nulls), which is exactly
    the conditional-overwrite skip.
    """

    def last_of(col: str, conditional: bool) -> Column:
        if not conditional:
            return F.max_by(F.col(col), F.col(ord_col)).alias(col)
        keep = F.col(col) != "NULL"
        return F.max_by(
            F.when(keep, F.col(col)), F.when(keep, F.col(ord_col))
        ).alias(col)

    aggs = [last_of(c, conditional=False) for c in unconditional]
    aggs += [last_of(c, conditional=True) for c in non_null_literal]
    return df.groupBy(key).agg(*aggs)


def load_crosswalk(spark: SparkSession, path: str) -> DataFrame:
    """→ (SitePatientId, hmrn, umrn), one row per key.

    hmrn = last row's hmrn (literal 'NULL' preserved, :301);
    umrn = last non-'NULL' umrn, null if none (:302-303).
    """
    raw = (
        spark.read.option("header", "true")
        .csv(path)
        .toDF("hmrn", "umrn", "SitePatientId")
        .withColumn("__ord", F.monotonically_increasing_id())
    )
    kept = raw.filter(F.col("SitePatientId") != "NULL")
    return per_field_lww(
        kept,
        key="SitePatientId",
        ord_col="__ord",
        unconditional=["hmrn"],
        non_null_literal=["umrn"],
    ).select("SitePatientId", "hmrn", "umrn")
