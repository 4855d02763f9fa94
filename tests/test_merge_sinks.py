"""One MERGE contract for every copy-on-write sink: the partitioned table
(load/table_merge), the versioned table (load/versioned_table) and the
sharded export (load/corpus_export) all apply an action plan through
operators/merge.apply_merge, so the same plan sequence must give the same
counts, the same refusals, and no change to the target when refused."""

from __future__ import annotations

import pytest

from cnics_to_fhir_spark.load import versioned_table as vt
from cnics_to_fhir_spark.load.corpus_export import export_shards, update_export
from cnics_to_fhir_spark.load.table_merge import merge_into_table

_PLAN = "key long, action string, id string, val string, day int"


class _Table:
    def seed(self, spark, path, df):
        df.write.partitionBy("day").parquet(path)

    def merge(self, spark, path, plan):
        return merge_into_table(spark, path, plan, key_col="key", partition_col="day")

    def state(self, spark, path):
        return {"rows": sorted(spark.read.parquet(path).select("key", "val").collect())}


class _Versioned:
    def seed(self, spark, path, df):
        vt.create_table(spark, path, df, partition_col="day")

    def merge(self, spark, path, plan):
        return vt.merge_versioned(spark, path, plan, key_col="key", partition_col="day")

    def state(self, spark, path):
        rows = vt.read_version(spark, path).select("key", "val").collect()
        return {"rows": sorted(rows), "version": vt.current_version(path)}


class _Export:
    def seed(self, spark, path, df):
        export_shards(df.select("key", "val"), path, n_shards=4, key_col="key")

    def merge(self, spark, path, plan):
        return update_export(
            spark, path, plan.select("key", plan["action"].alias("change"), "val")
        )

    def state(self, spark, path):
        return {"rows": sorted(spark.read.parquet(path).select("key", "val").collect())}


@pytest.mark.parametrize(
    "sink",
    [_Table(), _Versioned(), _Export()],
    ids=["merge_into_table", "merge_versioned", "update_export"],
)
def test_sinks_apply_the_same_merge(spark, tmp_path, sink):
    path = str(tmp_path / "target")
    sink.seed(spark, path, spark.createDataFrame(
        [(k, f"v{k}", k % 2) for k in range(8)], "key long, val string, day int"
    ))

    def merge(rows):
        res = sink.merge(spark, path, spark.createDataFrame(rows, _PLAN))
        return {k: res[k] for k in ("inserted", "updated", "deleted", "noop_missing_key")}

    assert merge([(8, "insert", None, "v8", 0), (9, "insert", None, "v9", 1)]) == {
        "inserted": 2, "updated": 0, "deleted": 0, "noop_missing_key": 0,
    }
    assert merge([
        (1, "update", None, "v1-new", 1),
        (2, "delete", None, None, 0),
        (99, "update", None, "ghost", 1),
        (98, "delete", None, None, 0),
    ]) == {"inserted": 0, "updated": 1, "deleted": 1, "noop_missing_key": 2}
    after = sink.state(spark, path)
    assert [tuple(r) for r in after["rows"]] == [
        (0, "v0"), (1, "v1-new"), (3, "v3"), (4, "v4"), (5, "v5"), (6, "v6"),
        (7, "v7"), (8, "v8"), (9, "v9"),
    ]

    # refused plans: the same ValueError from every sink, target untouched
    with pytest.raises(ValueError, match=r"insert\(s\) of keys already present"):
        merge([(3, "insert", None, "dup", 1)])
    assert sink.state(spark, path) == after
    with pytest.raises(ValueError, match=r"unknown \w+ labels \['upsert'\]"):
        merge([(4, "upsert", None, "x", 0), (5, "update", None, "v5-new", 1)])
    assert sink.state(spark, path) == after
