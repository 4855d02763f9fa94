"""MERGE INTO a hive-partitioned parquet table — SURVEY §7.3's second named
future-work item ("Delta/`MERGE INTO` as an alternative reconciliation
sink"), built copy-on-write on plain parquet.

The reconciliation engine produces an action plan (operators/merge.merge_plan:
key, action ∈ insert/update/delete, payload); the HTTP writer applies it to
a FHIR store.  This module applies the SAME plan to a parquet TABLE, the
shape a lakehouse lands on:

- **Copy-on-write, partition-scoped**: only partitions that contain an
  affected key are rewritten; every other partition's files are not read,
  not rewritten, not even listed — at 100 TB with daily partitions and a
  trickle of changes, a merge touches days, not the table.  The test pins
  this physically (untouched partitions keep byte-identical file lists and
  mtimes).
- **O(1) Spark jobs, not O(partitions)**: the MERGE step itself is
  operators/merge.apply_merge (shared with versioned_table and the corpus
  export), which classifies the whole delta in ONE checkpoint job; the
  rewrite is ONE ``partitionBy`` job into a single
  scratch root, and the per-partition go-live step is a metadata rename
  fanned out on a thread pool.  A merge touching 1,000 partitions costs
  ~3 jobs + 1,000 concurrent renames, not ~5,000 sequential driver jobs.
- **Crash-safe swaps**: each rewritten partition lands via the
  rename-aside swap (``_swap_aside``); ``recover_merge_swap`` rolls back or
  finishes interrupted swaps (the shared ``__merging`` scratch root is
  judged against the table root, which a mid-batch crash always leaves
  live partition-by-partition).
- **Same honesty rules as the HTTP path**: unknown action labels and
  inserts of a key already in its partition fail loudly; returned counts
  state exactly what was applied and what was skipped (a delete/update
  whose key is absent from the table is a ``noop_missing_key``, reported,
  never silently dropped).

NOT a transaction log: concurrent WRITERS to the same partition race, as
everywhere else in the plain-parquet layer — a production deployment puts
a table format (Iceberg/Delta) in front of this.  Readers are safe up to
the single metadata-op window of each partition swap.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cnics_to_fhir_spark.load.versioned_table import cluster_for_write
from cnics_to_fhir_spark.operators.merge import apply_merge

_SWAP_THREADS = 16


def _swap_aside(fs, jvm, tmp: str, dest: str, prev: str) -> None:
    """Rename-aside swap: ``dest -> prev``, ``tmp -> dest``, delete
    ``prev``.  Nothing is deleted until the new tree is live at ``dest``,
    so a crash at ANY point leaves the full old data at ``dest`` or
    ``prev`` and/or the full new data at ``tmp`` — always recoverable,
    never stranded.  ``dest`` is only absent for the instant between the
    two renames — both pure metadata operations."""
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    p_dest = jvm.org.apache.hadoop.fs.Path(dest)
    p_prev = jvm.org.apache.hadoop.fs.Path(prev)
    # stale prev from a run that crashed after its new tree went live but
    # before cleanup: finish that cleanup now so the aside-rename can land
    if fs.exists(p_prev) and fs.exists(p_dest):
        fs.delete(p_prev, True)
    if fs.exists(p_dest) and not fs.rename(p_dest, p_prev):
        raise IOError(f"merge swap failed: rename-aside {dest} -> {prev}")
    if not fs.rename(p_tmp, p_dest):
        # roll the old tree back into place so dest never dangles
        fs.rename(p_prev, p_dest)
        raise IOError(f"merge swap failed: rename {tmp} -> {dest}")
    fs.delete(p_prev, True)


def merge_into_table(
    spark: SparkSession,
    table: str,
    plan: DataFrame,
    key_col: str,
    partition_col: str,
    files_per_partition: int | None = None,
    probe_via_listing: bool = False,
) -> dict[str, int]:
    """Apply an action plan to the partitioned parquet table at ``table``.

    ``plan`` must carry ``key_col``, an ``action`` column, ``partition_col``
    (the partition every action row targets — for updates/deletes the
    partition the key lives in), and the payload columns of the table.
    Returns counts: inserted / updated / deleted / noop_missing_key /
    partitions_rewritten.

    ``files_per_partition`` bounds each rewritten partition dir to that
    many files (rows are spread across them by key hash); without it each
    rewritten partition lands as ONE file (the rewrite repartitions on the
    partition column, so a task owns whole partitions — no 32-task-file
    fragmentation).  Size it to partition_bytes / target_file_bytes at
    scale.

    ``probe_via_listing`` replaces the per-touched-partition ``fs.exists``
    probe (one filesystem RPC per touched partition — fine for the
    documented hundreds-of-partitions regime, latency-bound when a merge
    touches 10⁵-10⁶ partitions on an object store) with ONE directory
    listing of the table root matched against the touched set.  Opt-in:
    the listing reads ALL partition names, so it only wins when touched ≫
    RPC-round-trip-budget and loses on a trickle merge into a very wide
    table.  The O(touched) driver-side partition list itself is inherent
    to the per-partition swap design and unaffected.
    """
    # the touched-partition list is the one driver round-trip before the
    # merge; apply_merge validates the action labels
    ap = plan.select(F.col(partition_col).alias("p")).distinct().collect()
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(table).getFileSystem(conf)

    def hpath(s: str):
        return jvm.org.apache.hadoop.fs.Path(s)

    table = table.rstrip("/")
    payload_cols = [
        c for c in plan.columns if c not in (key_col, "action", "id", partition_col)
    ]
    parts = sorted({r["p"] for r in ap}, key=lambda p: (p is None, str(p)))
    # Spark's writer maps BOTH NULL and '' partition values to the same
    # __HIVE_DEFAULT_PARTITION__ directory, and '' reads back as NULL — so
    # an empty-string partition value would silently collapse into the NULL
    # partition (two distinct plan partitions, one directory).  NULL is
    # supported below (Hive default dir + null-safe joins); '' is an
    # ambiguity only the caller can resolve, so it fails loudly here.
    if any(p == "" for p in parts):
        raise ValueError(
            "merge_into_table: empty-string partition values collapse into "
            "the NULL partition on write (__HIVE_DEFAULT_PARTITION__); map "
            "them to NULL or a sentinel before merging"
        )

    # Partition DIRECTORY names must be built with Spark's own Hive path
    # escaping: partitionBy writes 'day=2024-01-01 10%3A00' for a value
    # containing ':', so a raw f"{col}={val}" path here would (a) miss the
    # existing partition (misclassifying its updates as noop_missing_key)
    # and (b) make _go_live swap in an EMPTY dir while the real merged
    # rows die with the scratch cleanup. Calling the JVM's escapePathName
    # keeps this bit-identical to whatever the writer does.  NULL values
    # get the writer's own default-partition name for the same reason.
    _catalog_utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    _esc = _catalog_utils.escapePathName
    _default_part = _catalog_utils.DEFAULT_PARTITION_NAME()

    def pdir(val) -> str:
        if val is None:
            return f"{partition_col}={_default_part}"
        return f"{partition_col}={_esc(str(val))}"

    # Touched partitions that already exist on disk are the ONLY ones read
    # — copy-on-write stays partition-scoped even though classification and
    # rewrite are now single global jobs.
    if probe_via_listing and fs.exists(hpath(table)):
        on_disk = {
            st.getPath().getName()
            for st in fs.listStatus(hpath(table))
            if st.isDirectory()
            and st.getPath().getName().startswith(f"{partition_col}=")
        }
        existing_subs = {
            val: f"{table}/{pdir(val)}" for val in parts if pdir(val) in on_disk
        }
    else:
        existing_subs = {
            val: f"{table}/{pdir(val)}"
            for val in parts
            if fs.exists(hpath(f"{table}/{pdir(val)}"))
        }
    if existing_subs:
        existing = (
            spark.read.option("basePath", table)
            .parquet(*existing_subs.values())
            .select(partition_col, key_col, *payload_cols)
        )
    else:
        existing = spark.createDataFrame(
            [], plan.select(partition_col, key_col, *payload_cols).schema
        )

    # Classify against what the table ACTUALLY holds, on the NULL-safe
    # (partition, key) pair: rows in the NULL partition must match their
    # on-disk counterparts.
    merged, counts = apply_merge(plan, existing, [partition_col, key_col])
    counts["partitions_rewritten"] = len(parts)

    # ONE partitioned write into a shared scratch root (a sibling of the
    # table, so partition discovery on the table never sees it; its name
    # maps back to the table root for recover_merge_swap).  The
    # repartition keys whole partitions (plus a bounded key-hash salt when
    # files_per_partition is set) to one task each — no small-file spray.
    scratch_root = f"{table}__merging"
    merged = cluster_for_write(merged, partition_col, files_per_partition, key_col)
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(scratch_root)

    # Go live: per-partition rename-aside swaps, pure metadata ops, fanned
    # out on a thread pool (independent directories).  The table root is
    # created first so the very first insert batch's rename is a metadata
    # op on every FileSystem — HDFS/object-store rename into a missing
    # parent returns false rather than creating it.
    fs.mkdirs(hpath(table))
    fs.delete(hpath(f"{scratch_root}/_SUCCESS"), False)

    def _go_live(val) -> None:
        tmp = f"{scratch_root}/{pdir(val)}"
        if not fs.exists(hpath(tmp)):
            # every plan row for this partition was a noop (or all rows
            # were deleted): the rewritten partition is EMPTY — represent
            # it as an empty dir so the swap semantics stay uniform
            fs.mkdirs(hpath(tmp))
        _swap_aside(
            fs,
            jvm,
            tmp,
            f"{table}/{pdir(val)}",
            f"{table}__prev_{pdir(val)}",
        )

    with ThreadPoolExecutor(max_workers=min(_SWAP_THREADS, max(len(parts), 1))) as ex:
        # list() propagates the first swap failure
        list(ex.map(_go_live, sorted(parts, key=str)))
    fs.delete(hpath(scratch_root), True)
    return counts


def recover_merge_swap(spark: SparkSession, table: str) -> dict[str, list[str]]:
    """Crash recovery + GC for the leftovers of ``merge_into_table``'s
    partition swaps.

    ``_swap_aside`` guarantees a crash never LOSES bytes, but it can leave
    them parked: ``{table}__prev_{col}={val}`` trees (crash after the new
    partition went live but before cleanup — or mid-swap, with the
    partition missing at its path) and the ``{table}__merging`` scratch
    root (crash before or during the go-live step).  This sweep finishes
    what the crashed run could not, in the only safe order:

    - ``__prev_…`` with the partition PRESENT → the new tree is live; the
      parked old tree is garbage → delete it (finishing the crashed run's
      last step).
    - ``__prev_…`` with the partition ABSENT → the crash hit between the
      two renames; the parked tree IS the partition → rename it back
      (rollback, zero data loss).
    - ``__merging`` with the table root present → every partition is live
      (old or new) at its path; the scratch is garbage → delete it.  With
      the table root absent (a first merge that crashed before the root
      was created) the scratch is the only copy: it is NOT deleted —
      reported under ``kept`` for operator attention instead.

    Run it before the next merge into the same table — never concurrently
    with one (it would mistake a live run's scratch for a leftover).
    Returns {rolled_back, cleaned, kept} path lists so the caller's logs
    state exactly what happened."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    base = table.rstrip("/")
    p_base = jvm.org.apache.hadoop.fs.Path(base)
    fs = p_base.getFileSystem(conf)
    prev_prefix = p_base.getName() + "__prev_"
    p_scratch = jvm.org.apache.hadoop.fs.Path(f"{base}__merging")

    report: dict[str, list[str]] = {"rolled_back": [], "cleaned": [], "kept": []}
    if not fs.exists(p_base.getParent()):
        return report
    # all rollbacks FIRST: a mid-swap crash leaves both a parked partition
    # and the scratch root, and the scratch's fate (garbage vs only-copy)
    # depends on the rollback having restored the table before it is judged
    for status in fs.listStatus(p_base.getParent()):
        p = status.getPath()
        if not p.getName().startswith(prev_prefix):
            continue
        dest = f"{base}/{p.getName()[len(prev_prefix):]}"
        p_dest = jvm.org.apache.hadoop.fs.Path(dest)
        if fs.exists(p_dest):
            fs.delete(p, True)
            report["cleaned"].append(p.toString())
        else:
            if not fs.rename(p, p_dest):
                raise IOError(f"recovery rollback failed: {p} -> {dest}")
            report["rolled_back"].append(dest)
    if fs.exists(p_scratch):
        if fs.exists(p_base):
            fs.delete(p_scratch, True)
            report["cleaned"].append(fs.makeQualified(p_scratch).toString())
        else:
            report["kept"].append(fs.makeQualified(p_scratch).toString())
    return report
