"""Parallelism guards for compute-heavy operators.

A parquet file is splittable only at row-group boundaries; a table written
as one row group scans as ONE task no matter how many cores the cluster
has. Cheap scan+aggregate plans don't care (the single task is
codegen-bound for microseconds per row), but shingling / hashing / vector
operators do thousands of expression evaluations per row — leaving those
on one core serializes the whole stage.

``ensure_min_parallelism`` is the per-operator guard: if the input's
physical partitioning is below the session's default parallelism, hash-
repartition on the operator's key (deterministic co-location for the
downstream join). On a real 100 TB input the file-split count already far
exceeds defaultParallelism, the guard is a no-op, and no shuffle is added.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)
