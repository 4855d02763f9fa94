"""Sharded corpus export with a VERIFIED manifest — the deliverable end
of a training-data pipeline.  Everything upstream (dedup, splits,
mixtures) exists to produce this artifact: N deterministic shards plus a
manifest stating per-shard row counts and order-independent content
checksums, so the CONSUMER (a training job, possibly a different stack
on a different cluster) can prove it loaded exactly what was exported —
a torn copy, a truncated shard, or a re-export that silently drifted all
fail at load, not as corrupted training three days later.

Design:

- Shard assignment is the engine-portable 60-bit md5 hash of the key,
  mod n_shards — deterministic across reruns, partitionings, and
  engines (ds04/ds07's discipline), so re-exporting unchanged data
  yields bit-identical shard membership and checksums.
- The per-shard checksum is the SUM of a per-row portable hash over the
  caller-named content columns, accumulated in DECIMAL(38,0) (a BIGINT
  sum of 2⁶⁰-scale terms wraps past ~8k rows; lb03's lesson) — an
  order-independent quantity BOTH engines can recompute declaratively,
  unlike a file-bytes digest which depends on parquet encoder details.
- One job writes every shard (repartition on the shard id — whole
  shards per task, no small-file spray); the manifest is computed in the
  SAME pass shape (one keyed aggregation) and written last, so a crash
  leaves data files without a manifest — an incomplete export is
  DETECTABLY incomplete, never silently short.

- One verifier: ``verify_shards`` re-reads a list of shard directories
  and recomputes their stats grouped by the PHYSICAL shard column.
  ``verify_export`` (every shard, plus no data outside the manifest),
  ``load_shard`` (one shard) and ``stream_verified_shards`` (each
  micro-batch's announced shards) all call it.

Scale shape: one corpus shuffle on the shard id, one map-side-combinable
keyed aggregation for the manifest; verification re-reads the export
with the same aggregation.  The manifest is O(shards) driver metadata.

Incremental updates (``update_export``) rewrite ONLY the shards a change
feed touches: shard membership is a pure function of the key, so the
touched-shard set is the distinct shard ids of the changed keys —
O(changes) work and O(touched) rewrites, never a full re-export.
Untouched shard files are byte-identical afterwards (callers can pin
mtimes), and the manifest is patched atomically last, so an interrupted
update is DETECTABLY inconsistent under ``verify_export``, never
silently torn.

Concurrency: updates commit through a put-if-absent GENERATION token
(``.manifest.gen-N`` hard-linked into place, exactly
``versioned_table``'s optimistic-concurrency commit): every updater
reads the current generation up front, stages its rewrite without
touching live state, then claims generation N+1 — two racers both
claiming N+1 means the loser raises ``ConcurrentCommitError`` BEFORE any
live shard dir moves, instead of last-write-wins silently dropping one
update.  Tokens are tiny; a claim of any generation at or below the
current maximum is refused OUTRIGHT (token file present or not), so the
ledger below the max is redundant history and ``vacuum_generations``
may compact it without reopening the ABA window for a stalled updater.

Streaming consumption (``stream_verified_shards``) is
batch-transactional: EVERY announced shard of a micro-batch is verified
against the manifest (chunked pruned scans + one keyed aggregation per
chunk, never a per-shard driver-serialized job loop) BEFORE any shard is
handed to ``consume`` — a tampered shard fails the batch with ZERO
side effects, so the checkpoint replay after repair re-delivers nothing:
exactly-once per shard across incarnations for verification failures.
If ``consume`` ITSELF raises mid-batch, shards already consumed in that
batch are re-delivered when the batch replays (standard foreachBatch
at-least-once within a failed batch); consumers needing stronger
semantics dedup on the ``epoch_id`` passed to a 3-argument ``consume``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cnics_to_fhir_spark.load.versioned_table import ConcurrentCommitError
from cnics_to_fhir_spark.operators.merge import apply_merge
from cnics_to_fhir_spark.session import overlap

MANIFEST_FILE = "_export_manifest.json"


def _generation(path: str) -> int:
    """Current update generation of the export at ``path``: the highest
    claimed generation token (0 for a fresh export).  Derived from the
    token files rather than stored in the manifest so an incrementally
    updated export's manifest stays byte-comparable to a from-scratch
    export of the same corpus (the equivalence ``update_export``'s
    contract promises)."""
    prefix = f".{MANIFEST_FILE}.gen-"
    gens = [0]
    if os.path.isdir(path):
        for f in os.listdir(path):
            if f.startswith(prefix):
                try:
                    gens.append(int(f[len(prefix):]))
                except ValueError:
                    pass
    return max(gens)


def _claim_generation(path: str, gen: int) -> None:
    """Put-if-absent claim of update generation ``gen``: hard-link a fresh
    temp file to the token name — ``os.link`` fails with EEXIST if another
    updater already claimed it, turning a racing update into a loud
    ``ConcurrentCommitError`` before any live state has been touched.

    A claim at or below the CURRENT maximum generation is refused up
    front, token file present or not — this is what makes
    ``vacuum_generations`` safe: a stalled updater that read generation N
    long ago still loses to the current max even after the gen-(N+1)
    token it would have collided with was compacted away.  (The check
    then the link is not atomic, but every interleaving stays loud: a
    racer advancing the max between our check and our link either owns
    our exact target — EEXIST — or a LOWER one, which cannot happen,
    because the racer passed the same check against a max ≥ ours.)"""
    current = _generation(path)
    if gen <= current:
        raise ConcurrentCommitError(
            f"update generation {gen} of the export at {path} was claimed "
            f"by another updater (current generation is {current}); "
            "re-read the export state and retry"
        )
    token = os.path.join(path, f".{MANIFEST_FILE}.gen-{gen}")
    tmp = os.path.join(path, f".gen-claim.{uuid.uuid4().hex}.tmp")
    open(tmp, "w").close()
    try:
        os.link(tmp, token)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"update generation {gen} of the export at {path} was claimed "
            "by another updater; re-read the export state and retry"
        ) from None
    finally:
        os.unlink(tmp)


def vacuum_generations(path: str, grace_s: float = 600.0) -> dict[str, int]:
    """Compact the generation-token ledger: delete every token strictly
    below the current maximum that is older than ``grace_s`` seconds —
    the ``versioned_table.vacuum`` grace discipline, so a token linked
    milliseconds ago by a committing updater is never swept mid-commit.
    The max token always survives: it IS the current generation, and
    ``_claim_generation``'s at-or-below-max refusal keeps the ABA guard
    intact for every compacted generation (a stalled updater claiming
    into the vacuumed range is refused by the check, not by EEXIST).
    Returns {"tokens_removed": n, "generation": current_max}."""
    prefix = f".{MANIFEST_FILE}.gen-"
    current = _generation(path)
    removed = 0
    import time as _time

    now = _time.time()
    if os.path.isdir(path):
        for f in os.listdir(path):
            if not f.startswith(prefix):
                continue
            try:
                g = int(f[len(prefix):])
            except ValueError:
                continue
            if g >= current:
                continue
            p = os.path.join(path, f)
            try:
                if now - os.path.getmtime(p) < grace_s:
                    continue  # possibly an updater committing right now
                os.remove(p)
            except FileNotFoundError:
                continue  # another vacuum swept it mid-listing
            removed += 1
    return {"tokens_removed": removed, "generation": current}


def _row_hash(key_col: str, content_cols: list[str]) -> Column:
    from cnics_to_fhir_spark.operators.dedup import portable_hash

    sig = F.concat_ws(
        "\x1f", F.col(key_col).cast("string"),
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in content_cols],
    )
    return portable_hash(sig)


def _shard_stats(
    df: DataFrame, shard: Column, key_col: str, content_cols: list[str]
) -> DataFrame:
    """Per-shard row count and checksum, grouped by the ``shard`` Column:
    the key hash on the input side, the physical ``shard`` directory
    column when verifying files."""
    return (
        df.select(
            shard.alias("shard"),
            _row_hash(key_col, content_cols).alias("__h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("__h").cast("decimal(38,0)")).alias("__sum"),
        )
        .select(
            "shard", "n_rows", F.col("__sum").cast("string").alias("checksum")
        )
    )


def _has_data(shard_dir: str) -> bool:
    return os.path.isdir(shard_dir) and any(
        not f.startswith((".", "_")) for f in os.listdir(shard_dir)
    )


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str = "doc_id",
    content_cols: list[str] | None = None,
) -> dict:
    """Write ``df`` as ``n_shards`` deterministic parquet shards under
    ``path`` plus the verification manifest.  Returns the manifest.

    The input is consumed TWICE (the partitioned write, then the manifest
    aggregation — the manifest stays INPUT-side so a row-dropping writer
    bug must fail ``verify_export``, and a nondeterministic upstream can't
    make the manifest describe data the write didn't see), so it is
    materialized once with an eager ``localCheckpoint`` up front: the
    upstream DAG executes exactly once, both passes read frozen rows."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if os.path.exists(os.path.join(path, MANIFEST_FILE)):
        raise ValueError(f"export already exists at {path}")
    content_cols = content_cols or [
        c for c in df.columns if c != key_col
    ]
    df = df.localCheckpoint(eager=True)
    from cnics_to_fhir_spark.operators.dedup import portable_hash

    shard = (portable_hash(F.col(key_col).cast("string")) % n_shards).cast("int")

    # The write and the manifest aggregation both read the frozen
    # checkpoint and are independent — submit them from two driver
    # threads so the light stats job back-fills executors the write's
    # task tail leaves idle (guide §2.6).  The manifest deliberately
    # stays INPUT-side (not a read-back of the written files) so a
    # row-dropping writer bug still fails verify_export.
    def _write():
        (
            df.withColumn("shard", shard)
            .repartition(F.col("shard"))
            .write.mode("errorifexists")
            .partitionBy("shard")
            .parquet(path)
        )

    def _stats():
        return {
            r["shard"]: {"n_rows": r["n_rows"], "checksum": r["checksum"]}
            for r in _shard_stats(df, shard, key_col, content_cols).collect()
        }

    _, stats = overlap(df.sparkSession, _write, _stats)
    manifest = {
        "version": 1,
        "n_shards": n_shards,
        "key_col": key_col,
        "content_cols": content_cols,
        "total_rows": sum(s["n_rows"] for s in stats.values()),
        "shards": {str(k): v for k, v in sorted(stats.items())},
    }
    tmp = os.path.join(path, f".{MANIFEST_FILE}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    # put-if-absent, not rename: two exporters racing to the same path are
    # already loud at the errorifexists data write, but the manifest commit
    # keeps the same discipline so the invariant holds even for an empty df
    dest = os.path.join(path, MANIFEST_FILE)
    try:
        os.link(tmp, dest)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"manifest at {path} was committed by another exporter"
        ) from None
    finally:
        os.unlink(tmp)
    return manifest


def verify_export(spark: SparkSession, path: str) -> dict:
    """Verify EVERY shard of the export against the manifest
    (``verify_shards`` over the manifest's shard list), after checking
    that no ``shard=*`` directory missing from the manifest holds data;
    raises on ANY mismatch (missing shard, truncated shard, drifted
    content, extra rows, unexpected shard).  Returns the verified
    manifest — consumers call this before training."""
    with open(os.path.join(path, MANIFEST_FILE)) as f:
        manifest = json.load(f)
    unexpected = sorted(
        int(d[len("shard="):])
        for d in os.listdir(path)
        if d.startswith("shard=")
        and d[len("shard="):] not in manifest["shards"]
        and _has_data(os.path.join(path, d))
    )
    if unexpected:
        raise ValueError(
            f"unexpected shards {unexpected} at {path} failed verification: "
            "shard directory holds data but is not in the manifest"
        )
    verify_shards(spark, path, [int(k) for k in manifest["shards"]], manifest)
    return manifest


def verify_shards(
    spark: SparkSession,
    path: str,
    shards: list[int],
    manifest: dict | None = None,
    max_shards_per_scan: int = 64,
) -> dict[int, dict]:
    """Verify a LIST of shards against the manifest in
    ``ceil(n / max_shards_per_scan)`` pruned multi-shard scans with ONE
    shard-keyed aggregation each — the one verifier behind
    ``verify_export``, ``load_shard`` and ``stream_verified_shards``, so
    verifying a 10⁴-shard announcement costs ~10⁴/64 Spark jobs, not 10⁴
    driver-serialized ones.  Raises ``ValueError`` on ANY unknown shard
    id, missing/empty shard directory, or count/checksum drift — naming
    EVERY offending shard, not just the first.  Returns ``{shard:
    {n_rows, checksum}}`` recomputed FROM THE FILES READ (not echoed from
    the manifest).

    The stats group by the PHYSICAL shard column read from the directory
    layout — a row misfiled into the wrong shard dir then shows up as TWO
    mismatched shards instead of silently re-bucketing to where it should
    have been.

    ``max_shards_per_scan`` bounds the size of each verification job (and
    its collected stats) regardless of how many shards were announced at
    once; it does NOT split the failure domain — the caller sees one
    all-or-nothing verdict for the whole list."""
    if manifest is None:
        with open(os.path.join(path, MANIFEST_FILE)) as f:
            manifest = json.load(f)
    if max_shards_per_scan < 1:
        raise ValueError("max_shards_per_scan must be >= 1")
    ids = sorted({int(s) for s in shards})
    unknown = [s for s in ids if str(s) not in manifest["shards"]]
    if unknown:
        raise ValueError(
            f"shards {unknown} are not in the manifest at {path} "
            f"(known: {sorted(int(k) for k in manifest['shards'])})"
        )
    missing = [s for s in ids if not _has_data(os.path.join(path, f"shard={s}"))]
    if missing:
        # manifest entries whose files are gone are a truncated artifact —
        # the same failure class as a short shard, reported the same way
        raise ValueError(
            f"shards {missing} at {path} failed verification: shard "
            "directory missing or empty"
        )
    got: dict[int, dict] = {}
    for i in range(0, len(ids), max_shards_per_scan):
        chunk = ids[i : i + max_shards_per_scan]
        df = spark.read.option("basePath", path).parquet(
            *[os.path.join(path, f"shard={s}") for s in chunk]
        )
        stats = _shard_stats(
            df, F.col("shard").cast("int"), manifest["key_col"], manifest["content_cols"]
        )
        got.update(
            {
                int(r["shard"]): {"n_rows": r["n_rows"], "checksum": r["checksum"]}
                for r in stats.collect()
            }
        )
    want = {s: manifest["shards"][str(s)] for s in ids}
    if got != want:
        wrong = sorted(s for s in ids if got.get(s) != want[s])
        raise ValueError(
            f"mismatched shards {wrong} at {path} failed verification: "
            f"expected { {s: want[s] for s in wrong} }, read "
            f"{ {s: got.get(s) for s in wrong} }"
        )
    return got


def load_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """Read ONE shard of an export, verifying its row count and checksum
    against the manifest before returning — the CONSUMER half of the
    export contract for streaming loaders: a training job that opens
    shards one at a time verifies shard ``k`` as it loads it
    (``verify_shards`` over ``[k]``), paying one shard-sized verification
    pass instead of ``verify_export``'s all-or-nothing sweep over the
    whole artifact.  Raises on an unknown shard id, a missing shard
    directory, a truncated shard, or drifted content; returns the shard's
    rows (with the physical ``shard`` column).

    Scale shape: one pruned scan of one shard directory + one keyed
    aggregation over that shard — the verification cost rides inside the
    read the consumer was doing anyway."""
    verify_shards(spark, path, [shard])
    return spark.read.option("basePath", path).parquet(
        os.path.join(path, f"shard={int(shard)}")
    )


def stream_verified_shards(
    spark: SparkSession,
    path: str,
    announcements: DataFrame,
    checkpoint: str,
    consume,
    max_shards_per_scan: int = 64,
):
    """The CONSUMER half of the streaming export loop (st11 produces,
    this loads): a training job consumes an export shard-by-shard as a
    STREAM of shard announcements.  ``announcements`` is a streaming
    DataFrame carrying a ``shard int`` column (e.g. a file source the
    producer drops ready-markers into); EVERY announced shard of a
    micro-batch is verified against the manifest FIRST (``verify_shards``:
    count + order-independent content checksum, recomputed from the files
    in chunked pruned scans of ≤ ``max_shards_per_scan`` shards each),
    and only after the WHOLE batch verifies is each shard handed to
    ``consume(shard, rows)`` as a pruned single-shard scan.  A
    3-parameter ``consume(shard, rows, epoch_id)`` also receives the
    micro-batch epoch id for consumer-side dedup.

    Failure semantics: a tampered/truncated/unknown shard raises inside
    ``foreachBatch`` BEFORE any shard of that batch reaches ``consume``
    — zero side effects from the poison batch — and the streaming query
    dies loudly with the checkpoint holding the failed batch.  After the
    artifact is repaired, a RESTART from the same checkpoint resumes at
    that batch and the remaining shards flow: exactly-once per shard
    across incarnations for every verification failure, with clean shards
    of earlier batches never re-delivered.  The one caveat is a failure
    in ``consume`` ITSELF mid-batch: shards consumed earlier in that
    batch are re-delivered when the batch replays (foreachBatch's
    standard at-least-once within a failed batch) — consumers needing
    exactly-once under their OWN failures dedup on (epoch_id, shard).

    Scale shape: the per-batch driver round-trip is the announced shard
    ID LIST (O(shards), metadata); verification is
    ``ceil(shards / max_shards_per_scan)`` jobs of one pruned scan + one
    shard-keyed aggregation each, never a per-shard serial job loop; the
    rows themselves stay executor-side in whatever plan ``consume``
    builds.  Returns the started StreamingQuery — callers drive it
    (processAllAvailable/stop)."""
    import inspect

    try:
        pass_epoch = len(inspect.signature(consume).parameters) >= 3
    except (TypeError, ValueError):
        pass_epoch = False

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        shards = sorted(
            int(r["shard"])
            for r in batch_df.select("shard").distinct().collect()
        )
        if not shards:
            return
        # the manifest is re-read per batch: a producer's update_export
        # between batches legitimately moves the generation forward
        with open(os.path.join(path, MANIFEST_FILE)) as f:
            manifest = json.load(f)
        # phase 1 — verify EVERYTHING before consuming ANYTHING
        verify_shards(spark, path, shards, manifest, max_shards_per_scan)
        # phase 2 — hand over pruned single-shard scans of the verified files
        for s in shards:
            rows = spark.read.option("basePath", path).parquet(
                os.path.join(path, f"shard={s}")
            )
            if pass_epoch:
                consume(s, rows, int(epoch_id))
            else:
                consume(s, rows)

    return (
        announcements.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def update_export(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    change_col: str = "change",
) -> dict:
    """Apply a row-level change feed (``insert``/``update``/``delete``
    with post-image content columns) to an existing export by rewriting
    ONLY the shards the changed keys hash into — the production
    incremental loop: a trickle of changes rewrites a trickle of shards,
    never the corpus.  Composes directly with
    ``versioned_table.read_changes`` (map its output to
    (key, change, <post-image content>)) so a corpus table's CDF drives
    shard-level re-export.

    ``changes`` must carry exactly (key_col, ``change_col``,
    *content_cols) per the manifest.  Semantics (operators/merge.apply_merge,
    shared with the table sinks): unknown change labels fail loudly; INSERT
    of a present key fails loudly (an export is keyed — duplicating a key
    would corrupt the artifact); UPDATE/DELETE of an absent key counts as
    ``noop_missing_key``; exported keys must be unique within touched
    shards (checked) — the precondition incremental update relies on.

    Crash discipline: new shard contents are staged, swapped in per
    shard, and the manifest is patched LAST (tmp + rename) — an
    interrupted update leaves the manifest disagreeing with the
    rewritten shards, so ``verify_export`` fails loudly instead of a
    consumer training on a torn artifact.

    Concurrency discipline: the generation token is claimed put-if-absent
    AFTER staging but BEFORE any live shard dir moves — two racing
    updates both stage, exactly one claims, and the loser raises
    ``ConcurrentCommitError`` with the live artifact untouched (its
    staging dir is cleaned up).  A crash between claim and publish leaves
    a torn artifact ``verify_export`` rejects; the orphaned token simply
    advances the next honest update's generation.

    Returns {inserted, updated, deleted, noop_missing_key,
    shards_rewritten, manifest}.

    Scale shape: one O(changes) pass to find touched shards (bounded
    driver list), one pruned scan of ONLY the touched shard dirs, one
    keyed classify join + one anti-join + one shard-keyed write over
    those rows, one keyed aggregation for the patched stats.  Untouched
    shard files are never opened and stay byte-identical."""
    # generation is read BEFORE any other state (manifest included) — the
    # claim below then covers every state read: a competing update that
    # fully commits after this line but before our commit point advanced
    # the generation, so our gen+1 claim loses loudly instead of
    # committing an artifact staged against a stale manifest snapshot
    gen = _generation(path)
    with open(os.path.join(path, MANIFEST_FILE)) as f:
        manifest = json.load(f)
    n_shards = manifest["n_shards"]
    key_col = manifest["key_col"]
    content_cols = manifest["content_cols"]
    expect = {key_col, change_col, *content_cols}
    if set(changes.columns) != expect:
        raise ValueError(
            f"update_export: changes columns {sorted(changes.columns)} != "
            f"expected {sorted(expect)} per the manifest"
        )
    from cnics_to_fhir_spark.operators.dedup import portable_hash

    shard = (portable_hash(F.col(key_col).cast("string")) % n_shards).cast("int")
    # changes is consumed several times (touched set, duplicate guard,
    # apply_merge) — freeze it once.
    ch = (
        changes.select(
            shard.alias("shard"), key_col, change_col, *content_cols
        ).localCheckpoint(eager=True)
    )
    touched = sorted(r["shard"] for r in ch.select("shard").distinct().collect())
    if not touched:
        # an empty feed cannot carry duplicate keys — the pre-flight dup
        # check below is vacuous, so the early return stays ahead of it
        return {
            "inserted": 0, "updated": 0, "deleted": 0,
            "noop_missing_key": 0, "shards_rewritten": 0,
            "manifest": manifest,
        }

    existing_dirs = [
        os.path.join(path, f"shard={k}")
        for k in touched
        if os.path.isdir(os.path.join(path, f"shard={k}"))
    ]
    if existing_dirs:
        existing = spark.read.option("basePath", path).parquet(*existing_dirs)
        existing = existing.select("shard", key_col, *content_cols)
    else:
        existing = ch.select("shard", key_col, *content_cols).limit(0)
    # BOTH duplicate-key preconditions in ONE pre-flight aggregation job
    # (guide §5; was two standalone count jobs).  Feed side: two inserts of
    # one absent key (or two updates of one present key) would both land in
    # ``incoming`` and silently duplicate a key in a keyed artifact — and
    # verify_export would pass, because the manifest stats are recomputed
    # from the same duplicated rows.  Shard side: the uniqueness
    # precondition the shard-scoped anti-join relies on (touched rows
    # only).  Both are checked before ANY side effect, so folding them into
    # one job preserves fail-before-write ordering; the feed error keeps
    # precedence when both fire (the old check order).
    dups = {
        r["side"]: r["n"]
        for r in (
            ch.select(F.col(key_col).alias("__k"), F.lit("feed").alias("side"))
            .unionByName(
                existing.select(
                    F.col(key_col).alias("__k"), F.lit("shard").alias("side")
                )
            )
            .groupBy("side", "__k")
            .count()
            .filter(F.col("count") > 1)
            .groupBy("side")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    if dups.get("feed"):
        raise ValueError(
            f"update_export: {dups['feed']} key(s) appear more than once in "
            "the change feed — collapse the feed to one change per key first"
        )
    if dups.get("shard"):
        raise ValueError(
            f"update_export: {dups['shard']} duplicate key(s) in touched "
            "shards — incremental update requires unique keys"
        )

    merged, counts = apply_merge(
        ch, existing, [key_col], action_col=change_col, unique_keys=True
    )
    # consumed twice (write + patched stats): freeze the merged rows so
    # both passes see identical data and the upstream runs once
    merged = merged.localCheckpoint(eager=True)

    # Staging write and patched-stats aggregation both read the frozen
    # checkpoint and are independent — overlap them on two driver threads
    # (guide §2.6), same as export_shards; the stats stay merged-side so
    # a row-dropping writer bug still fails verify_export.
    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")

    def _write_staging():
        (
            merged.repartition(F.col("shard"))
            .write.mode("errorifexists")
            .partitionBy("shard")
            .parquet(staging)
        )

    def _patched_stats():
        return {
            r["shard"]: {"n_rows": r["n_rows"], "checksum": r["checksum"]}
            for r in _shard_stats(
                merged, F.col("shard"), key_col, content_cols
            ).collect()
        }

    _, new_stats = overlap(spark, _write_staging, _patched_stats)

    # COMMIT POINT for exclusivity: claim the next generation before any
    # live shard dir moves.  A racing update that already claimed it makes
    # us the loser — clean the staging dir and raise with the live
    # artifact untouched.
    try:
        _claim_generation(path, gen + 1)
    except ConcurrentCommitError:
        shutil.rmtree(staging, ignore_errors=True)
        raise

    trash = os.path.join(path, f".trash-{uuid.uuid4().hex}")
    os.makedirs(trash)
    for k in touched:
        old_dir = os.path.join(path, f"shard={k}")
        new_dir = os.path.join(staging, f"shard={k}")
        if os.path.isdir(old_dir):
            os.rename(old_dir, os.path.join(trash, f"shard={k}"))
        # a shard emptied by deletes has no staged dir and no manifest
        # entry afterwards — same convention as an export whose shard
        # received no rows
        if os.path.isdir(new_dir):
            os.rename(new_dir, old_dir)
    shutil.rmtree(staging, ignore_errors=True)

    shards = {
        k: v
        for k, v in manifest["shards"].items()
        if int(k) not in set(touched)
    }
    for k, v in new_stats.items():
        shards[str(k)] = v
    manifest = {
        **manifest,
        "total_rows": sum(s["n_rows"] for s in shards.values()),
        "shards": {str(k): shards[k] for k in sorted(shards, key=int)},
    }
    tmp = os.path.join(path, f".{MANIFEST_FILE}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.rename(tmp, os.path.join(path, MANIFEST_FILE))
    shutil.rmtree(trash, ignore_errors=True)
    counts["shards_rewritten"] = len(touched)
    counts["manifest"] = manifest
    return counts
