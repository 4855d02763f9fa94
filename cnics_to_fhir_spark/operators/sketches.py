"""Mergeable distinct-count sketches: the pre-aggregated rollup pattern.

At 100 TB you cannot re-scan the fact table for every distinct-count
granularity. The scalable shape is a two-level rollup: scan ONCE into
per-fine-grain HLL sketches (a bounded ~KB binary per group, built with
map-side partial aggregation), persist those, and answer every coarser
granularity by UNIONING sketches — never touching raw data again.
``approx_count_distinct`` (a10) gives one-shot estimates; this operator
exposes the sketch itself so rollups compose.

Spark surface: `hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`
(Apache DataSketches HLL under the hood, deterministic for a fixed lgK).
Register-max union is commutative and associative, so the merge tree's
shape — and therefore Spark's partitioning — cannot change the estimate.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_sketches(
    df: DataFrame,
    fine_keys: Sequence[str],
    col: str,
) -> DataFrame:
    """One scan → one HLL sketch per fine-grain group.

    Output: fine_keys + ``sketch`` (binary) + ``n_rows``. This is the
    persistable artifact: each sketch (lgK = 12) is ≤ 2^12 bytes
    regardless of group cardinality, and partial aggregation combines
    map-side, so the shuffle carries sketches, not distinct keys (exact
    COUNT(DISTINCT) shuffles every distinct key; see a10's docstring).
    """
    return df.groupBy(*fine_keys).agg(
        F.hll_sketch_agg(col, F.lit(12)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def hll_rollup(
    sketches: DataFrame,
    coarse_keys: Sequence[str],
) -> DataFrame:
    """Merge fine sketches up to a coarser granularity — no raw-data scan.

    Output: coarse_keys + ``approx_distinct`` + ``n_rows``. Works on the
    output of :func:`hll_sketches` or on any persisted sketch table with a
    ``sketch`` binary column; union of unions is still a valid sketch, so
    rollups chain (hour → day → month) with each level reading only the
    previous level's sketches.
    """
    merged = sketches.groupBy(*coarse_keys).agg(
        F.hll_union_agg("sketch").alias("sketch"),
        F.sum("n_rows").alias("n_rows"),
    )
    return merged.select(
        *coarse_keys,
        F.hll_sketch_estimate("sketch").cast("long").alias("approx_distinct"),
        "n_rows",
    )


def quantile_summary_sketch(
    df: DataFrame,
    value_col: str,
    group_col: str,
    key_col: str,
    pcts: Sequence[int] = (50, 90, 99),
    n_salts: int = 32,
    delta: int = 64,
) -> DataFrame:
    """Mergeable two-level quantile summary — the t-digest shape (weighted
    value centroids built shard-local, merged by weight) with every step
    EXACT integer/rank arithmetic, so unlike percentile_approx (a11) the
    result is engine- and partitioning-independent and sits under the
    DuckDB oracle.

    Level 1 (shard summaries): rows split into (group × ``n_salts``)
    shards by the portable md5 hash of ``key_col``; each shard sorts its
    m values and keeps ``delta`` centroids — chunk j of the rank range
    carries (max value in chunk, chunk row count).  Level 2 (merge):
    per group, centroids of equal value coalesce, a cumulative weight
    scan replays a20's weighted-percentile selection: answer(p) = min v
    with cumweight(v) ≥ ceil(p·W/100).

    Rank-error bound: a centroid stands for at most ceil(m/delta) rows,
    so the answer's true rank is within Σ_shards ceil(m_s/delta) ≈
    n/delta of the target (pinned by the pytest sweep against the exact
    percentile).  Shrink error with more centroids, not more salts.

    Scale shape: the corpus shuffles ONCE, keyed on (group, salt) — each
    shard sort is local and bounded by n/(groups·n_salts); everything
    after operates on ≤ groups × n_salts × delta centroid rows.  n_salts
    is the parallelism lever (raise it with the cluster so no shard
    outgrows a task); a single global sort — what an exact percentile
    needs — never happens.  The summaries themselves are the mergeable
    artifact: persist level 1 per ingest batch and level 2 re-merges
    without rescanning history, the same train-once/serve-many seam as
    the model store."""
    from cnics_to_fhir_spark.operators.dedup import portable_hash
    from pyspark.sql.window import Window

    salted = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("v"),
        F.col(key_col).alias("k"),
        F.pmod(portable_hash(F.col(key_col).cast("string")), F.lit(n_salts))
        .cast("int")
        .alias("salt"),
    )
    shard = Window.partitionBy("grp", "salt")
    w_rank = shard.orderBy(F.col("v"), F.col("k"))
    ranked = salted.select(
        "grp",
        "salt",
        "v",
        F.row_number().over(w_rank).cast("long").alias("r"),
        F.count(F.lit(1)).over(shard).cast("long").alias("m"),
    )
    centroids = (
        ranked.withColumn(
            "chunk", F.expr(f"CAST(((r - 1) * {int(delta)}) DIV m AS BIGINT)")
        )
        .groupBy("grp", "salt", "chunk")
        .agg(F.max("v").alias("cv"), F.count(F.lit(1)).cast("long").alias("cw"))
    )
    merged = centroids.groupBy("grp", "cv").agg(F.sum("cw").cast("long").alias("w"))
    w_cum = Window.partitionBy("grp").orderBy("cv").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = merged.select(
        "grp", "cv", "w", F.sum("w").over(w_cum).cast("long").alias("c")
    )
    totals = merged.groupBy("grp").agg(F.sum("w").cast("long").alias("tw"))
    targets = df.sparkSession.createDataFrame([(int(p),) for p in pcts], "pct int")
    tgt = F.expr("CAST((pct * tw + 99) DIV 100 AS BIGINT)")
    sel = (
        cum.join(F.broadcast(totals), "grp")
        .join(F.broadcast(targets))
        .filter((tgt <= F.col("c")) & (tgt > F.col("c") - F.col("w")))
    )
    return sel.select(
        F.col("grp").alias(group_col),
        F.col("pct").cast("int").alias("pct"),
        F.col("cv").alias("value"),
        F.col("tw").alias("n_rows"),
    )
