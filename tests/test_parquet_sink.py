"""Partitioned-write layout contract: partition pruning + filter pushdown
visible in the physical plan of the read-back (load/parquet_sink.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cnics_to_fhir_spark.load.parquet_sink import write_partitioned
from cnics_to_fhir_spark.operators import dataset
from cnics_to_fhir_spark.sources.tables import read_table

SF = "/root/testdata/sf0.001"


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    curated = dataset.curate_corpus(read_table(spark, SF, "documents"))
    path = str(tmp_path / "curated")
    write_partitioned(curated, path, partition_cols=["shard"], sort_cols=["bin_id"])

    back = spark.read.parquet(path)
    assert back.count() == curated.count()

    plan = (
        back.filter((F.col("shard") == "en") & (F.col("bin_id") == 0))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # directory-level skip on the partition column
    assert "PartitionFilters" in plan and "shard" in plan.split("PartitionFilters")[1][:120]
    # row-group-level stats filter on the sort column
    assert "PushedFilters" in plan and "bin_id" in plan.split("PushedFilters")[1][:120]


def test_partitioned_write_one_file_per_partition(spark, tmp_path):
    curated = dataset.curate_corpus(read_table(spark, SF, "documents"))
    path = str(tmp_path / "curated2")
    write_partitioned(curated, path, partition_cols=["shard"])

    import glob

    for d in glob.glob(path + "/shard=*"):
        files = [f for f in glob.glob(d + "/*.parquet")]
        assert len(files) == 1  # repartition-before-write: no small-file spray


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-ordered files must give row-group min/max selectivity on BOTH probe
    columns; an x-sorted layout serves only x."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cnics_to_fhir_spark.load.parquet_sink import write_zordered

    n, files = 1 << 14, 16
    # two independent uniform dimensions in [0, 1024)
    df = spark.range(n).select(
        (F.xxhash64("id", F.lit(1)) % 1024 + 1024) .cast("long").alias("x"),
        (F.xxhash64("id", F.lit(2)) % 1024 + 1024).cast("long").alias("y"),
    ).select((F.col("x") % 1024).alias("x"), (F.col("y") % 1024).alias("y"))

    zpath = str(tmp_path / "zordered")
    xpath = str(tmp_path / "xsorted")
    write_zordered(df, zpath, "x", "y", bits=10, num_files=files)
    df.repartitionByRange(files, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(xpath)

    def match_fraction(path: str, col: str, lo: int, hi: int) -> float:
        tot = hit = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = md.schema.to_arrow_schema().names
            ci = names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                tot += 1
                if st.min <= hi and st.max >= lo:
                    hit += 1
        return hit / tot

    # a 64-wide y-range: every x-sorted row group spans all of y → no skip
    assert match_fraction(xpath, "y", 256, 319) == 1.0
    # z-order: only row groups in the matching y-block can hit
    assert match_fraction(zpath, "y", 256, 319) <= 0.5
    # and x stays prunable too (x-sorted is better at x, z must still skip)
    assert match_fraction(zpath, "x", 256, 319) <= 0.5


def test_materialize_roundtrip_and_isolation(spark):
    """materialize() must (1) preserve rows exactly, (2) return a frame
    readable after its source cache is unpersisted/gone, (3) give each
    call a fresh path so an earlier result stays valid after a re-run."""
    from pyspark.sql import functions as F

    from cnics_to_fhir_spark.load.parquet_sink import materialize

    src = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).persist()
    first = materialize(src, "t_mat")
    src.unpersist(blocking=True)
    assert sorted((r["id"], r["v"]) for r in first.collect()) == [
        (i, 2 * i) for i in range(100)
    ]
    second = materialize(spark.range(5).select(F.col("id"), F.col("id").alias("v")), "t_mat")
    # first frame still collectable after a second materialize of the same base
    assert first.count() == 100 and second.count() == 5
