"""Footer-stats file skipping — Delta/Iceberg-style data skipping built on
plain parquet.

Spark's parquet reader already prunes ROW GROUPS inside every file it opens,
but it still opens every file: on a 100 TB table of ~100k files, a
one-month query pays 100k footer reads and task launches to discard 97% of
them.  Table formats fix this by keeping per-FILE column min/max in a
manifest and pruning the file LIST before the scan is planned.  This module
is that manifest for plain parquet directories, in two tiers:

- ``parquet_file_stats`` builds a single-column manifest DISTRIBUTED — the
  file list is parallelized and each executor task reads only the parquet
  FOOTER (``pyarrow.parquet.ParquetFile.metadata``, no data pages) of its
  files, returning (file, n_rows, kind, min, max) for one column.
  ``read_with_file_skipping`` collects it driver-side (O(files) metadata
  rows, exactly what a Delta log holds) and prunes per query.
- ``write_stats_manifest`` / ``read_with_manifest_skipping`` are the
  million-file tier: a MULTI-column manifest persisted once at ingest as
  its own parquet table.  Query-time pruning is then a distributed filter
  over the manifest table — no footer reads at all, and the driver collects
  only the SURVIVING paths (O(kept), not O(total)).  This is a
  train-once/serve-many seam: the expensive footer sweep happens once per
  table version, every query reuses it.

Typing: min/max are stored as strings plus a ``kind`` tag.  String, date
and timestamp stats ('str' kind, ISO-rendered) compare lexicographically;
numeric stats ('num' kind) are compared as exact ``Decimal``s — never
lexicographically, where '9' > '10' would silently skip files that hold
in-range rows.  Mixed or unknown kinds refuse loudly rather than prune
wrongly.

Effectiveness tracks layout: a table written sorted/range-partitioned on the
stat column (``repartitionByRange`` on ingest, or o05's z-order key for
multi-column envelopes) yields tight non-overlapping envelopes and near-
perfect skipping; a randomly laid-out table degrades gracefully to a full
file list.  Footer-tier stats can never go stale; the persisted manifest is
versioned by the caller alongside the data it describes (rebuild on write,
like a Delta log checkpoint).
"""

from __future__ import annotations

import datetime as _dt
from decimal import Decimal
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_SCHEMA = (
    "file string, n_rows long, col string, kind string, "
    "min_val string, max_val string"
)


def _render(v) -> tuple[str, str]:
    """Render a footer statistic as (kind, string).  'num' values are
    compared as Decimals by the skipping tier; 'str' values (strings and
    ISO-rendered dates/timestamps) compare lexicographically, which matches
    value order for those types.  Booleans ride the 'num' path (False=0)."""
    if isinstance(v, bool):
        return "num", str(int(v))
    if isinstance(v, (int, float)):
        return "num", repr(v)
    if isinstance(v, (_dt.date, _dt.datetime, _dt.time)):
        return "str", v.isoformat()
    if isinstance(v, bytes):
        try:
            return "str", v.decode("utf-8")
        except UnicodeDecodeError:
            return "raw", v.hex()
    return "str", str(v)


def _key(kind: str, s: str):
    """Comparison key for a rendered stat: exact Decimal for numerics (so
    int64 stats never round through a float), the string itself otherwise."""
    return Decimal(s) if kind == "num" else s


def _bound(kind: str, v) -> "Decimal | str":
    """Coerce a caller-supplied query bound to the manifest's kind, loudly:
    a numeric manifest with a non-numeric bound is a caller bug, not a
    reason to fall back to lexicographic pruning."""
    if kind == "num":
        try:
            return Decimal(str(v))
        except ArithmeticError as e:
            raise TypeError(
                f"stat column is numeric but bound {v!r} is not"
            ) from e
    k, s = _render(v)
    if k == "num":
        raise TypeError(
            f"stat column is string-ordered but bound {v!r} is numeric"
        )
    return s


def parquet_file_stats(
    spark: SparkSession, files: list[str], cols: "str | list[str]"
) -> DataFrame:
    """Distributed manifest build: one output row per (parquet file, stat
    column) with (file, n_rows, col, kind, min_val, max_val).  Each task
    touches only the footers of its slice of the file list; a file whose
    footer carries no stats for a column (older writers can omit them)
    comes back with NULL min/max and is never skipped."""
    col_list = [cols] if isinstance(cols, str) else list(cols)
    if not files:
        return spark.createDataFrame([], _MANIFEST_SCHEMA)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for path in pdf["file"]:
                meta = pq.ParquetFile(path).metadata
                idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
                for col in col_list:
                    if col not in idx:
                        raise ValueError(f"column {col!r} absent from {path}")
                    lo = hi = None
                    for rg in range(meta.num_row_groups):
                        st = meta.row_group(rg).column(idx[col]).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break
                        lo = st.min if lo is None or st.min < lo else lo
                        hi = st.max if hi is None or st.max > hi else hi
                    # Render BOTH bounds and reconcile kinds: a binary
                    # column whose min happens to decode as UTF-8 but
                    # whose max doesn't would otherwise mis-tag the row
                    # 'str' with a hex max — an ordering unrelated to the
                    # bytes.  Any kind mismatch demotes the row to 'raw',
                    # which every pruning tier refuses loudly.
                    lo_kind, lo_s = (None, None) if lo is None else _render(lo)
                    hi_kind, hi_s = (None, None) if hi is None else _render(hi)
                    kind = lo_kind if lo_kind == hi_kind else "raw"
                    out.append(
                        {
                            "file": path,
                            "n_rows": meta.num_rows,
                            "col": col,
                            "kind": kind,
                            "min_val": lo_s,
                            "max_val": hi_s,
                        }
                    )
            yield pd.DataFrame(
                out, columns=["file", "n_rows", "col", "kind", "min_val", "max_val"]
            )

    n_slices = min(len(files), spark.sparkContext.defaultParallelism)
    listing = spark.createDataFrame(
        [(f,) for f in sorted(files)], "file string"
    ).repartition(n_slices)
    return listing.mapInPandas(scan, _MANIFEST_SCHEMA)


def _prune(manifest_rows, col: str, lo, hi) -> list[str]:
    """Shared pruning decision over materialized manifest rows for one
    column: keep a file when its [min, max] envelope intersects [lo, hi],
    or when its stats are NULL (an envelope you don't have cannot prune).
    Comparison is typed per the manifest's ``kind`` tag; 'raw' (non-UTF-8
    binary) kinds refuse — their hex rendering does not order like the
    bytes unless lengths match."""
    kinds = {r["kind"] for r in manifest_rows if r["kind"] is not None}
    if "raw" in kinds:
        raise TypeError(
            f"column {col!r} has non-UTF-8 binary stats; range skipping "
            "on raw bytes is not supported"
        )
    if len(kinds) > 1:
        raise TypeError(f"column {col!r} has mixed stat kinds {sorted(kinds)}")
    kept = []
    for r in manifest_rows:
        if r["min_val"] is None or r["max_val"] is None:
            kept.append(r["file"])
            continue
        k = r["kind"]
        lo_b, hi_b = _bound(k, lo), _bound(k, hi)
        if not (_key(k, r["max_val"]) < lo_b or _key(k, r["min_val"]) > hi_b):
            kept.append(r["file"])
    return kept


def read_with_file_skipping(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, int, int]:
    """Footer tier: prune the file list of the parquet directory at ``path``
    to files whose [min, max] envelope for ``col`` intersects [lo, hi]
    (inclusive; numerics compared as numbers, strings/dates as their ISO
    strings), then read only the survivors with the residual
    ``col BETWEEN lo AND hi`` filter still applied (file stats are an
    envelope, not a guarantee — Spark's own row-group pruning + predicate
    pushdown finish the job inside each kept file).

    Returns (df, n_files_total, n_files_kept) so callers can assert the
    skipping actually skipped (no silent caps in reverse: no silent
    full-scans either)."""
    import glob as _glob
    import os

    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    manifest = parquet_file_stats(spark, files, col).collect()
    kept = _prune(manifest, col, lo, hi)
    if kept:
        df = spark.read.parquet(*kept).filter(F.col(col).between(F.lit(lo), F.lit(hi)))
    else:
        df = spark.read.parquet(*files).filter(F.lit(False))
    return df, len(files), len(kept)


def write_stats_manifest(
    spark: SparkSession, path: str, cols: list[str], manifest_path: str
) -> int:
    """Ingest-time tier: sweep the footers of every parquet file under
    ``path`` ONCE (distributed) for all of ``cols`` and persist the
    manifest as its own small parquet table at ``manifest_path``.  Returns
    the number of data files covered.  At 100 TB this runs per table
    version next to the write that produced it; queries then never touch
    footers (see ``read_with_manifest_skipping``)."""
    import glob as _glob
    import os

    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    parquet_file_stats(spark, files, cols).coalesce(1).write.mode(
        "overwrite"
    ).parquet(manifest_path)
    return len(files)


def read_with_manifest_skipping(
    spark: SparkSession,
    manifest_path: str,
    predicates: dict,
) -> tuple[DataFrame, int, int]:
    """Query-time tier against a persisted manifest: ``predicates`` maps
    stat column -> (lo, hi); a file survives only if EVERY predicate's
    envelope intersects (conjunctive, like Iceberg's inclusive metrics
    evaluator).  The pruning decision runs as a distributed filter over the
    manifest table and only the SURVIVING file paths are collected —
    O(kept) driver memory, no footer I/O at query time.  The residual
    filters are still applied to the scan.

    Returns (df, n_files_total, n_files_kept)."""
    man = spark.read.parquet(manifest_path)
    n_total = man.select("file").distinct().count()
    # Refuse loudly rather than prune wrongly (the module contract):
    # (a) a predicate on a column the manifest never swept would zero out
    #     every file via the n_preds conjunction below — silently empty
    #     results over data that exists;
    # (b) kind='raw' stats (non-UTF-8 binary min/max, stored as hex) have
    #     no meaningful order against a literal — the footer tier raises
    #     for these in _prune, so this tier must too.
    missing = set(predicates) - {
        r["col"]
        for r in man.select("col").distinct().collect()
    }
    if missing:
        raise ValueError(
            f"manifest at {manifest_path} has no stats for predicate "
            f"column(s) {sorted(missing)} — rebuild it with those columns "
            "or drop the predicate"
        )
    raw_cols = [
        r["col"]
        for r in man.filter(
            F.col("col").isin(list(predicates)) & (F.col("kind") == "raw")
        )
        .select("col")
        .distinct()
        .collect()
    ]
    if raw_cols:
        raise TypeError(
            f"manifest stats for {sorted(raw_cols)} are non-UTF-8 binary "
            "(kind='raw'); range pruning on them would compare hex text — "
            "refusing, like the footer tier"
        )
    # Per-column keep decision, typed.  The kind tag rides each manifest
    # row, so the filter expression branches on it JVM-side; numeric
    # comparison casts both sides to decimal(38,9) (footer stats for
    # int64/double fit), string comparison stays lexicographic.
    keep_any: list = []
    for col, (lo, hi) in predicates.items():
        lo_s, hi_s = str(lo), str(hi)
        num_ok = (F.col("max_val").cast("decimal(38,9)") >= F.lit(lo_s).cast("decimal(38,9)")) & (
            F.col("min_val").cast("decimal(38,9)") <= F.lit(hi_s).cast("decimal(38,9)")
        )
        str_ok = (F.col("max_val") >= F.lit(lo_s)) & (F.col("min_val") <= F.lit(hi_s))
        no_stats = F.col("min_val").isNull() | F.col("max_val").isNull()
        keep = F.when(no_stats, F.lit(True)).otherwise(
            F.when(F.col("kind") == "num", num_ok).otherwise(str_ok)
        )
        keep_any.append(
            (F.col("col") == col, keep.alias("keep"))
        )
    # A file survives iff it passes every predicate on its own manifest row.
    pred_cols = list(predicates)
    per_file = (
        man.filter(F.col("col").isin(pred_cols))
        .withColumn(
            "keep",
            F.coalesce(
                *[F.when(c, k) for c, k in keep_any],
                F.lit(True),
            ),
        )
        .groupBy("file")
        .agg(
            F.min(F.col("keep").cast("int")).alias("all_keep"),
            F.count(F.lit(1)).alias("n_preds"),
        )
        .filter((F.col("all_keep") == 1) & (F.col("n_preds") == len(pred_cols)))
    )
    kept = [r["file"] for r in per_file.select("file").collect()]
    residual = None
    for col, (lo, hi) in predicates.items():
        c = F.col(col).between(F.lit(lo), F.lit(hi))
        residual = c if residual is None else (residual & c)
    if kept:
        df = spark.read.parquet(*kept).filter(residual)
    else:
        any_file = man.select("file").limit(1).collect()[0]["file"]
        df = spark.read.parquet(any_file).filter(F.lit(False))
    return df, n_total, len(kept)
