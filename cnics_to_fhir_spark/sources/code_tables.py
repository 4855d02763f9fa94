"""S3 — standard code-table source (cnics_to_fhir.py:190-193).

The reference reads a one-column CSV of quoted names into a Python list and
probes it per row. Here the table becomes (a) a broadcast DataFrame for join
form, or (b) a driver-side frozenset for `isin` form — both O(1) per probe
and shuffle-free at any fact-table size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cnics_to_fhir_spark.operators.extract import site_scoped


def load_code_table(spark: SparkSession, path: str, col_name: str = "code") -> DataFrame:
    """Quoted one-column CSV → single-column DataFrame, quotes stripped
    (the reference strips '"' manually — :191-193; Spark's CSV reader
    unquotes, and we strip any stragglers for byte parity)."""
    df = spark.read.csv(path, header=False)
    return df.select(F.regexp_replace(F.col("_c0"), '"', "").alias(col_name)).filter(
        F.length(col_name) > 0
    )


def code_set(spark: SparkSession, path: str) -> frozenset[str]:
    """Driver-side set for isin-style membership (small tables only)."""
    return frozenset(r["code"] for r in load_code_table(spark, path).collect())


def membership_via_join(
    facts: DataFrame, codes: DataFrame, fact_col: str, flag_col: str = "in_standard"
) -> DataFrame:
    """The 100 TB-safe membership test: broadcast left join + null probe —
    the dimension never leaves the executors, the fact table never shuffles.
    A code table tagged with ``Site`` (extract.site_scoped) only marks facts
    of its own sites."""
    keys = site_scoped([fact_col], facts, codes)
    marked = codes.select(
        F.col(codes.columns[0]).alias(fact_col), *keys[1:], F.lit(True).alias("__hit")
    )
    return (
        facts.join(F.broadcast(marked), keys, "left")
        .withColumn(flag_col, F.coalesce(F.col("__hit"), F.lit(False)))
        .drop("__hit")
    )
