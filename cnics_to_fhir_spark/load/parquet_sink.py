"""Partitioned parquet sink: the storage-layout half of the scale story.

`hive-partition by the pruning key, sort within files by the probe key` is
the layout contract the read side depends on: partition directories give
Catalyst `PartitionFilters` (entire directories skipped before any IO), and
the within-file sort gives parquet min/max row-group stats their
selectivity for `PushedFilters`. At 100 TB the difference between a pruned
and an unpruned scan is the job.

Use `partition_cols` for low-cardinality routing keys (site, shard, date);
never for high-cardinality keys (patient id) — millions of tiny directories
kill the driver's file listing. High-cardinality co-location belongs to
`bucketBy` (see tests/test_bucketing.py for the bucketed-join strategy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def z_value(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative ints — a.bit i → z.bit 2i, b.bit i → z.bit 2i+1. Rows close
    in Z are close in BOTH dimensions, so sorting by Z gives parquet
    row-group min/max stats selectivity on two probe columns at once, where
    a plain sort only serves its leading column. Pure shift/mask arithmetic:
    codegen-friendly and SQL-portable (the oracle replays it in DuckDB)."""
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a.cast("long"), i).bitwiseAND(one), 2 * i)
            + F.shiftleft(F.shiftright(b.cast("long"), i).bitwiseAND(one), 2 * i + 1)
        )
    return z


def z_value_sql(a: str, b: str, bits: int = 16) -> str:
    """The identical Morton key as engine-neutral SQL (DuckDB oracle side)."""
    terms = [
        f"((({a} >> {i}) & 1) << {2 * i}) + ((({b} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    num_files: int = 16,
    max_records_per_file: int = 5_000_000,
) -> None:
    """Z-order-clustered parquet write (the OPTIMIZE ZORDER layout):
    range-partition by the Morton key of (col_a, col_b) — contiguous Z
    ranges per file — then sort within each file by it. Selective filters
    on EITHER column then skip most row groups on read-back; a layout
    sorted only by ``col_a`` can't serve ``col_b`` predicates at all."""
    z = z_value(F.col(col_a), F.col(col_b), bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
) -> None:
    """Write hive-partitioned parquet, optionally sorted within partitions.

    ``repartition(partition_cols)`` first, so each task owns whole hive
    partitions and writes one file per partition instead of
    tasks × partitions small files — the small-file problem is a read-side
    scale killer. ``maxRecordsPerFile`` re-splits oversized partitions.
    """
    out = df.repartition(*partition_cols)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


_MATERIALIZE_SEQ = iter(range(1, 1 << 30))


def materialize(df: DataFrame, base: str) -> DataFrame:
    """Production-shaped mid-pipeline materialization: write ``df`` to a
    per-application scratch parquet path and read it back.

    The use case is an entry whose result plan references caches it must
    unpersist before returning (e2e07): collecting to the driver works but
    ships O(rows) through one process — the sink write keeps every row
    executor-side (each task writes its own file), and the re-read is a
    plain distributed scan with no reference to the original lineage, so
    the caches can drop immediately.  The path is applicationId-suffixed
    (two concurrent sessions never collide — the j12/j13 scratch-DB rule)
    plus a per-call sequence number (a re-run of the same entry in one
    session must not overwrite a frame an earlier caller may still hold).
    Scratch lives under the system temp dir for the session's lifetime;
    a production pipeline would point this at durable storage and keep
    the result as a first-class dataset.
    """
    import os
    import tempfile

    from cnics_to_fhir_spark.session import scratch_name

    spark = df.sparkSession
    path = os.path.join(
        tempfile.gettempdir(),
        scratch_name(spark, f"materialize_{base}"),
        str(next(_MATERIALIZE_SEQ)),
    )
    df.write.mode("error").parquet(path)
    return spark.read.parquet(path)
