"""Versioned parquet table with snapshot isolation and time travel —
the Iceberg/Delta core (immutable data files + per-version manifests)
without the table format, completing the storage family: table_merge
gives copy-on-write IN PLACE (history destroyed at swap time); this
module keeps every version readable until vacuum.

Model:

- Data files are IMMUTABLE.  Each commit writes its new files under a
  fresh ``data/commit-<version>/`` directory (hive-partitioned inside the
  commit dir) and never touches prior files.
- A version is a JSON MANIFEST under ``_versions/`` listing exactly the
  files that compose it: untouched partitions carry their entries forward
  from the parent version (pointing into OLDER commit dirs), rewritten
  partitions point at the new commit's files.  The manifest is the unit
  of atomicity — written to a temp name and renamed, so a reader sees a
  version entirely or not at all, and a crash mid-commit leaves only
  unreferenced files (invisible garbage vacuum removes), never a torn
  table.
- ``read_version`` reads one manifest: entries group by commit dir, each
  group is ONE pruned parquet scan with that commit dir as basePath (so
  hive partition columns resolve), groups union by name.  The union
  width is bounded by the number of RETAINED versions, which vacuum
  controls — the same discipline every log-structured table format has.
- ``vacuum`` drops manifests older than the retention and deletes data
  files no surviving manifest references.

Scale shape: manifests are O(files) driver metadata, exactly what an
Iceberg manifest list holds; the merge classifies against ONLY the
touched partitions' files (read via the manifest — partition-scoped like
table_merge) and writes ONE partitioned job.  Nothing here scans the
table to commit.

The MERGE step is operators/merge.apply_merge, shared with load/table_merge,
so the honesty rules are the same: unknown action labels and inserts of
present keys fail loudly; counts report exactly what was applied; NULL
partition values are supported (the writer's __HIVE_DEFAULT_PARTITION__
plus null-safe joins); empty-string partition values are refused (they
collapse into the NULL partition on write).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnics_to_fhir_spark.operators.merge import apply_merge

VERSIONS_DIR = "_versions"
DATA_DIR = "data"
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class ConcurrentCommitError(ValueError):
    """Two writers raced to commit the same version number: the manifest
    file already existed at the put-if-absent commit point.  The loser
    must re-read the table state and retry its merge — exactly the
    optimistic-concurrency contract Iceberg/Delta expose."""


def _versions_root(table: str) -> str:
    return os.path.join(table, VERSIONS_DIR)


def list_versions(table: str) -> list[int]:
    root = _versions_root(table)
    if not os.path.isdir(root):
        return []
    out = []
    for f in os.listdir(root):
        if f.startswith("v") and f.endswith(".json"):
            out.append(int(f[1:-5]))
    return sorted(out)


def current_version(table: str) -> int | None:
    vs = list_versions(table)
    return vs[-1] if vs else None


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(_versions_root(table), f"v{version:08d}.json")


def read_manifest(table: str, version: int) -> dict:
    with open(_manifest_path(table, version)) as f:
        return json.load(f)


def _write_manifest(table: str, version: int, doc: dict) -> None:
    root = _versions_root(table)
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".v{version:08d}.json.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=2, sort_keys=True)
    # The atomic commit point — PUT-IF-ABSENT, not rename: os.rename
    # silently overwrites, so two writers that both computed
    # version = parent+1 would both "succeed" and the first commit would
    # vanish (a lost update).  os.link fails with EEXIST if the version
    # file is already there, turning the race into a loud
    # ConcurrentCommitError; the loser's data files stay unreferenced
    # (invisible) until vacuum sweeps them.
    dest = _manifest_path(table, version)
    try:
        os.link(tmp, dest)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"version {version} of {table} was committed by another writer; "
            "re-read the table state and retry"
        ) from None
    finally:
        os.unlink(tmp)


def _pdir_value(dirname: str) -> str:
    # hive dir 'col=escaped' -> the escaped value as written (kept opaque:
    # equality against other manifest entries is all we ever need)
    return dirname.split("=", 1)[1]


def _collect_commit_files(
    commit_dir: str, partition_col: str
) -> list[dict]:
    entries = []
    for d in sorted(os.listdir(commit_dir)):
        pd = os.path.join(commit_dir, d)
        if not (os.path.isdir(pd) and d.startswith(f"{partition_col}=")):
            continue
        for f in sorted(os.listdir(pd)):
            if f.endswith(".parquet"):
                entries.append(
                    {
                        "path": os.path.join(
                            DATA_DIR, os.path.basename(commit_dir), d, f
                        ),
                        "partition": _pdir_value(d),
                    }
                )
    return entries


def shuffle_partition_count(df: DataFrame) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating non-numeric
    values (Databricks AQE accepts 'auto') by falling back to the plan's
    physical partition count — the loaders are library code usable under
    foreign sessions whose conf this module doesn't control."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return max(1, df.rdd.getNumPartitions())


def cluster_for_write(
    df: DataFrame,
    partition_col: str,
    files_per_partition: int | None,
    salt_col: str | None,
) -> DataFrame:
    """Repartition so a ``partitionBy(partition_col)`` write gives each
    task whole partitions — one file per partition, or at most
    ``files_per_partition`` files spread by a hash of ``salt_col``."""
    if files_per_partition is None or salt_col is None:
        return df.repartition(F.col(partition_col))
    # numPartitions is EXPLICIT because AQE coalesces hint-only
    # repartitions by size — at small volumes every salt bucket lands in
    # one coalesced task and the SPREAD the caller asked for never happens
    # (measured: 4-salt repartition → 1 file/partition under AQE).
    # Distinct (partition, salt) tuples may collide into one of the N
    # tasks — fewer files, never more — so the ≤files_per_partition bound
    # holds for any N.
    return df.repartition(
        shuffle_partition_count(df),
        F.col(partition_col),
        F.pmod(F.xxhash64(F.col(salt_col)), F.lit(files_per_partition)),
    )


def _write_commit(
    df: DataFrame,
    table: str,
    version: int,
    partition_col: str,
    files_per_partition: int | None,
    salt_col: str | None,
) -> list[dict]:
    commit_dir = os.path.join(table, DATA_DIR, f"commit-{version:08d}")
    df = cluster_for_write(df, partition_col, files_per_partition, salt_col)
    df.write.mode("overwrite").partitionBy(partition_col).parquet(commit_dir)
    # drop writer bookkeeping so vacuum's referenced-file sweep stays exact
    for junk in ("_SUCCESS",):
        p = os.path.join(commit_dir, junk)
        if os.path.exists(p):
            os.remove(p)
    return _collect_commit_files(commit_dir, partition_col)


def _schema_json(df: DataFrame, partition_col: str) -> str:
    # stored in read order (payload columns, partition column last — the
    # order a hive-partitioned parquet read produces) so an empty version
    # reconstructs the same shape a non-empty read would have
    from pyspark.sql.types import StructType

    fields = [f for f in df.schema.fields if f.name != partition_col]
    fields.append(df.schema[partition_col])
    return StructType(fields).json()


def create_table(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    partition_col: str,
) -> int:
    """Version 0: the seed snapshot, one file per partition."""
    if current_version(table) is not None:
        raise ValueError(f"versioned table already exists at {table}")
    entries = _write_commit(df, table, 0, partition_col, None, None)
    _write_manifest(
        table,
        0,
        {"version": 0, "parent": None, "partition_col": partition_col,
         "entries": entries, "schema": _schema_json(df, partition_col)},
    )
    return 0


def read_version(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the table exactly as of ``version`` (default:
    latest).  One pruned scan per contributing commit dir (hive partition
    columns resolve against that commit's basePath), unioned by name —
    union width bounded by retained versions."""
    v = current_version(table) if version is None else version
    if v is None:
        raise ValueError(f"no versions at {table}")
    man = read_manifest(table, v)
    by_commit: dict[str, list[str]] = {}
    for e in man["entries"]:
        full = os.path.join(table, e["path"])
        commit_dir = os.path.dirname(os.path.dirname(full))
        by_commit.setdefault(commit_dir, []).append(full)
    out: DataFrame | None = None
    for commit_dir, paths in sorted(by_commit.items()):
        df = spark.read.option("basePath", commit_dir).parquet(*sorted(paths))
        out = df if out is None else out.unionByName(df)
    if out is None:
        # a merge that deleted every remaining row legitimately produces a
        # zero-entry manifest — the version reads as an EMPTY table with
        # the manifest's recorded schema, not an error
        sj = man.get("schema")
        if sj is None:
            raise ValueError(
                f"version {v} of {table} lists no files and predates "
                "schema-bearing manifests"
            )
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(json.loads(sj)))
    return out


def merge_versioned(
    spark: SparkSession,
    table: str,
    plan: DataFrame,
    key_col: str,
    partition_col: str,
    files_per_partition: int | None = None,
) -> dict[str, int]:
    """Apply a merge action plan as a NEW VERSION: rewritten partitions
    get fresh files in this commit's directory, untouched partitions
    carry their manifest entries forward verbatim, prior versions stay
    readable.  Returns table_merge's honest counts plus ``version``."""
    # the touched-partition list is the one driver round-trip before the
    # merge; apply_merge validates the action labels
    ap = plan.select(F.col(partition_col).alias("p")).distinct().collect()
    parent = current_version(table)
    if parent is None:
        raise ValueError(f"no versioned table at {table}; create_table first")
    man = read_manifest(table, parent)
    if man["partition_col"] != partition_col:
        raise ValueError(
            f"partition_col mismatch: table uses {man['partition_col']!r}"
        )

    parts = sorted({r["p"] for r in ap}, key=lambda p: (p is None, str(p)))
    if any(p == "" for p in parts):
        raise ValueError(
            "merge_versioned: empty-string partition values collapse into "
            "the NULL partition on write; map them to NULL or a sentinel"
        )
    # manifest partition values are the writer's ESCAPED dir values; build
    # the same encoding for the touched set so carry-forward is exact
    jvm = spark.sparkContext._jvm
    _esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName

    def penc(val) -> str:
        return NULL_PARTITION if val is None else str(_esc(str(val)))

    touched = {penc(p) for p in parts}
    carried = [e for e in man["entries"] if e["partition"] not in touched]
    payload_cols = [
        c for c in plan.columns if c not in (key_col, "action", "id", partition_col)
    ]
    existing = _read_entry_paths(
        spark, table, [e["path"] for e in man["entries"] if e["partition"] in touched]
    )
    if existing is None:
        existing = spark.createDataFrame(
            [], plan.select(partition_col, key_col, *payload_cols).schema
        )
    else:
        existing = existing.select(partition_col, key_col, *payload_cols)

    merged, counts = apply_merge(plan, existing, [partition_col, key_col])
    version = parent + 1
    counts.update(partitions_rewritten=len(parts), version=version)

    new_entries = _write_commit(
        merged, table, version, partition_col, files_per_partition, key_col
    )
    _write_manifest(
        table,
        version,
        {
            "version": version,
            "parent": parent,
            "partition_col": partition_col,
            "entries": carried + new_entries,
            "schema": _schema_json(merged, partition_col),
        },
    )
    return counts


def compact_versioned(spark: SparkSession, table: str) -> dict[str, int]:
    """Small-file compaction as a NEW VERSION — the maintenance op every
    log-structured table needs once merges with ``files_per_partition``
    have fragmented partitions: partitions whose manifest lists more than
    one file are rewritten into one file each in a fresh commit;
    already-compact partitions carry their entries forward untouched.
    Because compaction is just another version, readers keep snapshot
    isolation through it, prior versions stay time-travelable,
    and the change data feed between the pre- and post-compaction
    versions is EMPTY by row content (read_changes drops identical
    payloads) — compaction moves bytes, never data.  Old fragments
    become unreferenced once the pre-compaction manifests age out and
    vacuum sweeps them.

    Returns counts; when nothing is fragmented, returns without creating
    a version.

    Scale shape: reads ONLY fragmented partitions' files (manifest-
    scoped), one partitioned write, O(files) driver metadata — the
    table is never scanned to decide what to compact."""
    parent = current_version(table)
    if parent is None:
        raise ValueError(f"no versioned table at {table}")
    man = read_manifest(table, parent)
    partition_col = man["partition_col"]
    by_part: dict[str, list[dict]] = {}
    for e in man["entries"]:
        by_part.setdefault(e["partition"], []).append(e)
    frag = {p: es for p, es in by_part.items() if len(es) > 1}
    if not frag:
        return {
            "version": parent, "partitions_compacted": 0,
            "files_before": 0, "files_after": 0,
        }
    touched_paths = [e["path"] for es in frag.values() for e in es]
    df = _read_entry_paths(spark, table, sorted(touched_paths))
    version = parent + 1
    new_entries = _write_commit(df, table, version, partition_col, None, None)
    carried = [
        e for p, es in by_part.items() if p not in frag for e in es
    ]
    _write_manifest(
        table,
        version,
        {
            "version": version,
            "parent": parent,
            "partition_col": partition_col,
            "entries": carried + new_entries,
            "schema": man.get("schema") or _schema_json(df, partition_col),
        },
    )
    return {
        "version": version,
        "partitions_compacted": len(frag),
        "files_before": sum(len(es) for es in frag.values()),
        "files_after": len(new_entries),
    }


def vacuum(
    table: str, retain_versions: int = 1, tmp_grace_s: float = 600.0
) -> dict[str, int]:
    """Drop manifests older than the newest ``retain_versions`` and delete
    every data file no surviving manifest references (including crash
    debris that never made it into a manifest).  Returns counts.  Like
    every table format's vacuum: time travel reaches only retained
    versions afterwards.

    ``tmp_grace_s``: only sweep ``.tmp`` manifest debris older than this —
    a CONCURRENT writer's in-flight temp manifest (created between
    json.dump and the os.link commit) must not be deleted out from under
    it, or its commit fails with FileNotFoundError instead of the
    intended ConcurrentCommitError.  Crash debris is by definition old;
    an in-flight temp is milliseconds old."""
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    versions = list_versions(table)
    keep, drop = versions[-retain_versions:], versions[:-retain_versions]
    referenced: set[str] = set()
    for v in keep:
        for e in read_manifest(table, v)["entries"]:
            referenced.add(os.path.normpath(os.path.join(table, e["path"])))
    removed_files = 0
    data_root = os.path.join(table, DATA_DIR)
    if os.path.isdir(data_root):
        for dirpath, _dirnames, filenames in os.walk(data_root):
            for f in filenames:
                full = os.path.normpath(os.path.join(dirpath, f))
                if full not in referenced:
                    os.remove(full)
                    removed_files += 1
        # prune now-empty dirs bottom-up
        for dirpath, dirnames, filenames in list(os.walk(data_root, topdown=False)):
            if dirpath != data_root and not os.listdir(dirpath):
                shutil.rmtree(dirpath, ignore_errors=True)
    for v in drop:
        os.remove(_manifest_path(table, v))
    # crash debris in _versions/ too: a crash between writing the temp
    # manifest and the link-commit leaves .v*.json.*.tmp files that no
    # reader ever sees — sweep them with the data debris
    tmp_removed = 0
    vroot = _versions_root(table)
    if os.path.isdir(vroot):
        import time as _time

        now = _time.time()
        for f in os.listdir(vroot):
            if f.endswith(".tmp"):
                p = os.path.join(vroot, f)
                try:
                    if now - os.path.getmtime(p) < tmp_grace_s:
                        continue  # possibly a concurrent writer's in-flight temp
                    os.remove(p)
                except FileNotFoundError:
                    continue  # the writer committed (and unlinked) mid-sweep
                tmp_removed += 1
    return {
        "manifests_removed": len(drop),
        "files_removed": removed_files,
        "tmp_manifests_removed": tmp_removed,
        "versions_retained": len(keep),
    }


def _read_entry_paths(
    spark: SparkSession, table: str, paths: list[str]
) -> DataFrame | None:
    if not paths:
        return None
    by_commit: dict[str, list[str]] = {}
    for p in paths:
        full = os.path.join(table, p)
        commit_dir = os.path.dirname(os.path.dirname(full))
        by_commit.setdefault(commit_dir, []).append(full)
    out: DataFrame | None = None
    for commit_dir, fs in sorted(by_commit.items()):
        df = spark.read.option("basePath", commit_dir).parquet(*sorted(fs))
        out = df if out is None else out.unionByName(df)
    return out


def read_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int,
    key_col: str,
) -> DataFrame:
    """Change data feed between two snapshots — Delta CDF's read side,
    derived from the manifests alone: files SHARED by both versions are
    immutable and cannot contribute a change, so only the symmetric
    difference of the two file lists is read (pre-image files that
    version ``to`` dropped, post-image files it added — the rewritten
    partitions, nothing else).  The two sides full-outer join on
    (partition, key) null-safe; identical payloads (most rows of a
    rewritten partition) drop out as unchanged.

    Output: (partition_col, key_col, change ∈ insert/update/delete,
    <payload>_pre, <payload>_post) — pre-image NULL for inserts,
    post-image NULL for deletes.

    Scale shape: reads O(files of rewritten partitions), one keyed
    full-outer join over those rows; the manifest diff is driver
    metadata.  A steady trickle of changes reads a trickle, never the
    table."""
    m_from = read_manifest(table, from_version)
    m_to = read_manifest(table, to_version)
    if m_from["partition_col"] != m_to["partition_col"]:
        raise ValueError("partition_col changed between versions")
    partition_col = m_from["partition_col"]
    paths_from = {e["path"] for e in m_from["entries"]}
    paths_to = {e["path"] for e in m_to["entries"]}
    pre = _read_entry_paths(spark, table, sorted(paths_from - paths_to))
    post = _read_entry_paths(spark, table, sorted(paths_to - paths_from))

    schema_src = pre if pre is not None else post
    if schema_src is None:
        # no differing files: empty change feed with the right shape
        base = read_version(spark, table, to_version)
        pre = base.limit(0)
        post = base.limit(0)
    else:
        empty = schema_src.limit(0)
        pre = pre if pre is not None else empty
        post = post if post is not None else empty

    payload = [c for c in pre.columns if c not in (key_col, partition_col)]
    p = pre.select(
        F.col(partition_col).alias("__part"),
        F.col(key_col).alias("__key"),
        F.lit(True).alias("__in_pre"),
        *[F.col(c).alias(f"{c}_pre") for c in payload],
    )
    q = post.select(
        F.col(partition_col).alias("__part2"),
        F.col(key_col).alias("__key2"),
        F.lit(True).alias("__in_post"),
        *[F.col(c).alias(f"{c}_post") for c in payload],
    )
    j = p.join(
        q,
        on=(
            F.col("__part").eqNullSafe(F.col("__part2"))
            & F.col("__key").eqNullSafe(F.col("__key2"))
        ),
        how="full_outer",
    )
    # struct fields aliased to the PLAIN payload names on both sides —
    # to_json embeds field names, so _pre/_post suffixes would make every
    # identical payload look changed
    pre_sig = F.md5(
        F.to_json(F.struct(*[F.col(f"{c}_pre").alias(c) for c in payload]))
    )
    post_sig = F.md5(
        F.to_json(F.struct(*[F.col(f"{c}_post").alias(c) for c in payload]))
    )
    change = (
        F.when(F.col("__in_pre").isNull(), F.lit("insert"))
        .when(F.col("__in_post").isNull(), F.lit("delete"))
        .when(~pre_sig.eqNullSafe(post_sig), F.lit("update"))
    )
    return (
        j.select(
            F.coalesce(F.col("__part"), F.col("__part2")).alias(partition_col),
            F.coalesce(F.col("__key"), F.col("__key2")).alias(key_col),
            change.alias("change"),
            *[F.col(f"{c}_pre") for c in payload],
            *[F.col(f"{c}_post") for c in payload],
        )
        .filter(F.col("change").isNotNull())
    )
