"""Sharded export + verified manifest (load/corpus_export.py): roundtrip,
determinism across partitionings, and every corruption class failing at
verify — never at training time."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from cnics_to_fhir_spark.load.corpus_export import (
    MANIFEST_FILE,
    export_shards,
    verify_export,
)


def _docs(spark, n=200):
    return spark.createDataFrame(
        [(i, f"text body {i}", "src" + str(i % 3)) for i in range(n)],
        "doc_id long, text string, source string",
    )


@pytest.mark.filterwarnings("error:Spark session is not provided")
def test_roundtrip_and_deterministic_manifest(spark, tmp_path):
    df = _docs(spark)
    m1 = export_shards(df, str(tmp_path / "a"), n_shards=8)
    assert m1["total_rows"] == 200 and len(m1["shards"]) == 8
    assert verify_export(spark, str(tmp_path / "a")) == m1
    # re-export of the same data under ANY partitioning: identical manifest
    m2 = export_shards(df.repartition(7), str(tmp_path / "b"), n_shards=8)
    assert m2 == m1
    # double-export refused
    with pytest.raises(ValueError, match="already exists"):
        export_shards(df, str(tmp_path / "a"), n_shards=8)


def test_every_corruption_class_fails_verification(spark, tmp_path):
    df = _docs(spark)
    path = str(tmp_path / "e")
    export_shards(df, path, n_shards=4)

    # truncated shard: delete one shard's data file
    victim = sorted(glob.glob(os.path.join(path, "shard=2", "*.parquet")))[0]
    os.remove(victim)
    with pytest.raises(ValueError, match="failed verification"):
        verify_export(spark, path)

    # drifted content: re-export elsewhere, tamper with the manifest
    path2 = str(tmp_path / "f")
    export_shards(df, path2, n_shards=4)
    mp = os.path.join(path2, MANIFEST_FILE)
    doc = json.load(open(mp))
    doc["shards"]["1"]["checksum"] = "42"
    json.dump(doc, open(mp, "w"))
    with pytest.raises(ValueError, match="mismatched shards \\[1\\]"):
        verify_export(spark, path2)


def test_misfiled_row_surfaces_as_two_mismatched_shards(spark, tmp_path):
    import shutil

    df = _docs(spark, n=80)
    path = str(tmp_path / "g")
    export_shards(df, path, n_shards=4)
    # move one shard's file into another shard dir: physical grouping must
    # flag BOTH shards rather than silently re-bucketing by hash
    src = sorted(glob.glob(os.path.join(path, "shard=0", "*.parquet")))[0]
    shutil.move(src, os.path.join(path, "shard=3", "misfiled.parquet"))
    with pytest.raises(ValueError, match="failed verification"):
        verify_export(spark, path)


def test_input_dag_executes_once(spark, tmp_path):
    """export_shards consumes its input twice (write + manifest agg); the
    eager localCheckpoint must make the UPSTREAM run exactly once — at
    100 TB re-running a full curation pipeline to compute the manifest is
    a second full pipeline execution (the round-9 e2e13 bench paid it)."""
    marker_dir = tmp_path / "markers"
    marker_dir.mkdir()
    md = str(marker_dir)

    def touch(batches):
        import os
        import uuid

        for pdf in batches:
            if len(pdf):
                open(os.path.join(md, uuid.uuid4().hex), "w").close()
            yield pdf

    df = _docs(spark, n=100).repartition(4).mapInPandas(
        touch, schema="doc_id long, text string, source string"
    )
    export_shards(df, str(tmp_path / "once"), n_shards=4)
    n_first = len(os.listdir(md))
    assert n_first <= 4  # one marker per non-empty input partition, once


def test_load_shard_verifies_per_shard(spark, tmp_path):
    import shutil

    from cnics_to_fhir_spark.load.corpus_export import load_shard

    df = _docs(spark, n=120)
    path = str(tmp_path / "ls")
    m = export_shards(df, path, n_shards=4)
    # clean read: rows match the manifest count, shard column present
    got = load_shard(spark, path, 2)
    assert got.count() == m["shards"]["2"]["n_rows"]
    assert set(r["shard"] for r in got.select("shard").distinct().collect()) == {2}
    # other shards untouched by this read path: still verify independently
    load_shard(spark, path, 0)

    # unknown shard id
    with pytest.raises(ValueError, match="not in the manifest"):
        load_shard(spark, path, 99)

    # truncation: drop shard 1's file -> ONLY shard 1 fails
    victim = sorted(glob.glob(os.path.join(path, "shard=1", "*.parquet")))[0]
    backup = str(tmp_path / "victim.bak")
    shutil.move(victim, backup)
    with pytest.raises(ValueError, match="shard 1 directory missing|failed verification"):
        load_shard(spark, path, 1)
    load_shard(spark, path, 2)  # unaffected shard still loads
    shutil.move(backup, victim)

    # content drift: a foreign file smuggled into shard 3
    src = sorted(glob.glob(os.path.join(path, "shard=0", "*.parquet")))[0]
    shutil.copy(src, os.path.join(path, "shard=3", "smuggled.parquet"))
    with pytest.raises(ValueError, match=r"shards \[3\] at .* failed verification"):
        load_shard(spark, path, 3)


@pytest.mark.filterwarnings("error:Spark session is not provided")
def test_update_export_incremental_equals_full_reexport(spark, tmp_path):
    """The incremental-update contract: after update_export, the manifest
    (and the artifact) are IDENTICAL to a from-scratch export of the
    post-change corpus, but only the touched shards' files moved."""
    from cnics_to_fhir_spark.load.corpus_export import update_export

    df = _docs(spark, n=200)
    path = str(tmp_path / "inc")
    export_shards(df, path, n_shards=8)
    before = {
        d: {f: os.stat(os.path.join(path, d, f)).st_mtime_ns
            for f in os.listdir(os.path.join(path, d))}
        for d in os.listdir(path) if d.startswith("shard=")
    }

    changes = spark.createDataFrame(
        [
            (7, "update", "text body 7 REVISED", "src1"),
            (13, "update", "text body 13 REVISED", "src1"),
            (42, "delete", None, None),
            (9000, "insert", "fresh doc", "srcX"),
        ],
        "doc_id long, change string, text string, source string",
    )
    res = update_export(spark, path, changes)
    assert res["inserted"] == 1 and res["updated"] == 2 and res["deleted"] == 1
    assert res["noop_missing_key"] == 0
    assert res["shards_rewritten"] <= 4  # at most one shard per changed key
    manifest = verify_export(spark, path)

    # untouched shards: every file byte-identical (mtime pin)
    touched_dirs = set()
    for d, files in before.items():
        now = {f: os.stat(os.path.join(path, d, f)).st_mtime_ns
               for f in os.listdir(os.path.join(path, d))} if os.path.isdir(
                   os.path.join(path, d)) else {}
        if now != files:
            touched_dirs.add(d)
    assert len(touched_dirs) == res["shards_rewritten"]

    # equivalence: a from-scratch export of the post corpus produces the
    # IDENTICAL manifest
    post = (
        df.filter(F.col("doc_id") != 42)
        .withColumn(
            "text",
            F.when(F.col("doc_id").isin(7, 13),
                   F.concat(F.col("text"), F.lit(" REVISED")))
            .otherwise(F.col("text")),
        )
        .unionByName(spark.createDataFrame(
            [(9000, "fresh doc", "srcX")], "doc_id long, text string, source string"
        ))
    )
    fresh = export_shards(post, str(tmp_path / "fresh"), n_shards=8)
    assert fresh == manifest


def test_update_export_honesty_rules(spark, tmp_path):
    from cnics_to_fhir_spark.load.corpus_export import load_shard, update_export

    df = _docs(spark, n=60)
    path = str(tmp_path / "hr")
    export_shards(df, path, n_shards=4)

    with pytest.raises(ValueError, match="unknown change labels"):
        update_export(spark, path, spark.createDataFrame(
            [(1, "upsert", "x", "s")],
            "doc_id long, change string, text string, source string"))
    with pytest.raises(ValueError, match="changes columns"):
        update_export(spark, path, spark.createDataFrame(
            [(1, "update")], "doc_id long, change string"))

    # update/delete of absent keys: honest noop counts, nothing rewritten
    # beyond the hashed shards of those keys
    res = update_export(spark, path, spark.createDataFrame(
        [(7777, "update", "x", "s"), (8888, "delete", None, None)],
        "doc_id long, change string, text string, source string"))
    assert res["noop_missing_key"] == 2
    assert res["inserted"] == res["updated"] == res["deleted"] == 0
    verify_export(spark, path)

    # empty change feed: a clean no-op
    res = update_export(spark, path, spark.createDataFrame(
        [], "doc_id long, change string, text string, source string"))
    assert res["shards_rewritten"] == 0

    # deleting EVERY row of one shard: dir + manifest entry disappear,
    # verify still passes, load_shard refuses the now-absent shard
    m = verify_export(spark, path)
    victim = 0
    keys = [r["doc_id"] for r in load_shard(spark, path, victim).collect()]
    res = update_export(spark, path, spark.createDataFrame(
        [(k, "delete", None, None) for k in keys],
        "doc_id long, change string, text string, source string"))
    assert res["deleted"] == len(keys)
    m2 = verify_export(spark, path)
    assert str(victim) not in m2["shards"]
    assert not os.path.isdir(os.path.join(path, f"shard={victim}"))
    with pytest.raises(ValueError, match="not in the manifest"):
        load_shard(spark, path, victim)


def test_update_export_rejects_duplicate_keys_in_change_feed(spark, tmp_path):
    """Two changes of one key in a single feed (two inserts of an absent
    key, or two updates of a present key) would BOTH land in the merged
    rows — a silently duplicated key in a keyed artifact that
    verify_export can't catch, because the manifest stats are recomputed
    from the same duplicated rows (ADVICE r10, medium)."""
    from cnics_to_fhir_spark.load.corpus_export import update_export

    path = str(tmp_path / "dup")
    export_shards(_docs(spark, n=40), path, n_shards=4)
    for feed in [
        [(9001, "insert", "a", "s"), (9001, "insert", "b", "s")],
        [(3, "update", "a", "s"), (3, "update", "b", "s")],
        [(5, "update", "a", "s"), (5, "delete", None, None)],
    ]:
        with pytest.raises(ValueError, match="more than once in the change feed"):
            update_export(spark, path, spark.createDataFrame(
                feed, "doc_id long, change string, text string, source string"))
    verify_export(spark, path)  # artifact untouched by the refused feeds


def test_update_export_concurrent_updaters_one_wins_one_raises(spark, tmp_path):
    """The put-if-absent generation commit (VERDICT r10 #3): two updates
    that both read the same export state race to claim generation N+1 —
    exactly one wins; the loser raises ConcurrentCommitError BEFORE any
    live shard dir moves, and the artifact verifies throughout (the old
    tmp+rename manifest patch made this race last-write-wins: both
    'succeeded' and one update silently vanished)."""
    import threading

    from cnics_to_fhir_spark.load import corpus_export as ce
    from cnics_to_fhir_spark.load.versioned_table import ConcurrentCommitError

    path = str(tmp_path / "race")
    export_shards(_docs(spark, n=100), path, n_shards=4)

    # both updaters must reach the commit point before either claims —
    # a barrier wrapped around the claim primitive makes the race window
    # deterministic instead of scheduler-dependent
    barrier = threading.Barrier(2, timeout=120)
    real_claim = ce._claim_generation

    def racing_claim(p, gen):
        barrier.wait()
        real_claim(p, gen)

    results: dict[str, object] = {}

    def run(tag, key, text):
        changes = spark.createDataFrame(
            [(key, "insert", text, "srcR")],
            "doc_id long, change string, text string, source string",
        )
        try:
            results[tag] = ce.update_export(spark, path, changes)
        except ConcurrentCommitError as e:
            results[tag] = e

    ce._claim_generation = racing_claim
    try:
        t1 = threading.Thread(target=run, args=("a", 9001, "doc A"))
        t2 = threading.Thread(target=run, args=("b", 9002, "doc B"))
        t1.start(); t2.start()
        t1.join(240); t2.join(240)
    finally:
        ce._claim_generation = real_claim

    outcomes = {tag: type(v).__name__ for tag, v in results.items()}
    assert sorted(outcomes.values()) == ["ConcurrentCommitError", "dict"], outcomes
    winner = next(t for t, v in results.items() if isinstance(v, dict))
    m = verify_export(spark, path)  # artifact consistent after the race
    assert m["total_rows"] == 101  # pre-state + exactly the winner's insert
    rows = {r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()}
    assert (9001 in rows) == (winner == "a")
    assert (9002 in rows) == (winner == "b")
    # the loser's staging dir was cleaned up; the claimed token persists
    assert not [d for d in os.listdir(path) if d.startswith(".staging-")]
    assert ce._generation(path) == 1
    # a retry of the loser (re-reading current state) succeeds at gen 2
    loser = next(t for t, v in results.items() if not isinstance(v, dict))
    key, text = (9001, "doc A") if loser == "a" else (9002, "doc B")
    res = ce.update_export(spark, path, spark.createDataFrame(
        [(key, "insert", text, "srcR")],
        "doc_id long, change string, text string, source string"))
    assert res["inserted"] == 1 and ce._generation(path) == 2
    assert verify_export(spark, path)["total_rows"] == 102


def test_stream_verified_loader_tamper_fails_batch_restart_resumes(spark, tmp_path):
    """The consumer contract (VERDICT r10 #9): a tampered shard fails the
    MICRO-BATCH it arrives in (the stream dies loudly, nothing corrupt is
    consumed); after the artifact is repaired, a restart from the SAME
    checkpoint resumes at the failed batch — clean shards flow, each
    consumed exactly once across incarnations."""
    import shutil

    from cnics_to_fhir_spark.load.corpus_export import stream_verified_shards

    path = str(tmp_path / "exp")
    export_shards(_docs(spark, n=60), path, n_shards=4)

    announce = tmp_path / "announce"
    announce.mkdir()
    chk = str(tmp_path / "chk")
    for k, shards in enumerate([[0], [1], [2, 3]]):
        part = str(tmp_path / f"ann{k}")
        spark.createDataFrame([(s,) for s in shards], "shard int") \
            .coalesce(1).write.parquet(part)
        f = next(p for p in os.listdir(part) if p.endswith(".parquet"))
        dst = str(announce / f"{k:02d}.parquet")
        os.rename(os.path.join(part, f), dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))

    # tamper shard 1: smuggle a foreign file in (content drift)
    smuggled = os.path.join(path, "shard=1", "smuggled.parquet")
    src = sorted(glob.glob(os.path.join(path, "shard=0", "*.parquet")))[0]
    shutil.copy(src, smuggled)

    consumed: list[int] = []

    def consume(shard, rows):
        consumed.append(shard)
        rows.count()

    stream = lambda: (  # noqa: E731 — two incarnations need fresh readers
        spark.readStream.schema("shard int")
        .option("maxFilesPerTrigger", 1).parquet(str(announce))
    )
    q = stream_verified_shards(spark, path, stream(), chk, consume)
    with pytest.raises(Exception, match="failed verification"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    assert consumed == [0]  # batch 0 flowed; the poison batch consumed nothing

    # repair, restart from the SAME checkpoint: resumes at the failed batch
    os.remove(smuggled)
    q2 = stream_verified_shards(spark, path, stream(), chk, consume)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert consumed == [0, 1, 2, 3]  # no re-delivery of batch 0


def test_stream_verified_loader_multishard_poison_batch_zero_side_effects(
    spark, tmp_path
):
    """VERDICT r11 #1: a batch announcing TWO shards where the SECOND is
    tampered must fail BEFORE the clean first shard reaches consume —
    zero side effects from the poison batch — so the restart after repair
    delivers the clean shard exactly once across incarnations (the old
    per-shard serial loop consumed shard 1, failed on shard 2, then
    re-delivered shard 1 on replay)."""
    import shutil

    from cnics_to_fhir_spark.load.corpus_export import stream_verified_shards

    path = str(tmp_path / "exp")
    export_shards(_docs(spark, n=60), path, n_shards=4)

    announce = tmp_path / "announce"
    announce.mkdir()
    chk = str(tmp_path / "chk")
    for k, shards in enumerate([[0], [1, 2], [3]]):
        part = str(tmp_path / f"ann{k}")
        spark.createDataFrame([(s,) for s in shards], "shard int") \
            .coalesce(1).write.parquet(part)
        f = next(p for p in os.listdir(part) if p.endswith(".parquet"))
        dst = str(announce / f"{k:02d}.parquet")
        os.rename(os.path.join(part, f), dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))

    # tamper shard 2 — the SECOND shard of the sorted batch [1, 2]
    smuggled = os.path.join(path, "shard=2", "smuggled.parquet")
    src = sorted(glob.glob(os.path.join(path, "shard=0", "*.parquet")))[0]
    shutil.copy(src, smuggled)

    consumed: list[int] = []

    def consume(shard, rows):
        consumed.append(shard)
        rows.count()

    stream = lambda: (  # noqa: E731 — two incarnations need fresh readers
        spark.readStream.schema("shard int")
        .option("maxFilesPerTrigger", 1).parquet(str(announce))
    )
    q = stream_verified_shards(spark, path, stream(), chk, consume)
    with pytest.raises(Exception, match="failed verification"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # the clean shard 1 of the poison batch was NOT consumed: the whole
    # batch verified (and failed) before any consume side effect
    assert consumed == [0]

    os.remove(smuggled)
    q2 = stream_verified_shards(spark, path, stream(), chk, consume)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # shard 1 delivered exactly once across the failure + restart
    assert consumed == [0, 1, 2, 3]


def test_stream_verified_loader_chunked_scans_and_epoch_id(spark, tmp_path):
    """One announcement file naming MANY shards (a producer that bulk
    announces) still verifies as bounded chunked scans
    (max_shards_per_scan) with the all-before-any-consume guarantee, and
    a 3-parameter consume receives the micro-batch epoch id."""
    import shutil

    from cnics_to_fhir_spark.load.corpus_export import stream_verified_shards

    path = str(tmp_path / "exp")
    export_shards(_docs(spark, n=200), path, n_shards=8)

    announce = tmp_path / "announce"
    announce.mkdir()
    chk = str(tmp_path / "chk")
    part = str(tmp_path / "ann0")
    spark.createDataFrame([(s,) for s in range(8)], "shard int") \
        .coalesce(1).write.parquet(part)
    f = next(p for p in os.listdir(part) if p.endswith(".parquet"))
    os.rename(os.path.join(part, f), str(announce / "00.parquet"))

    # poison a shard that lands in the LAST verification chunk (shard 7
    # with chunks of 3: [0,1,2] [3,4,5] [6,7]) — nothing may be consumed
    smuggled = os.path.join(path, "shard=7", "smuggled.parquet")
    src = sorted(glob.glob(os.path.join(path, "shard=0", "*.parquet")))[0]
    shutil.copy(src, smuggled)

    consumed: list[tuple[int, int]] = []

    def consume(shard, rows, epoch_id):
        consumed.append((shard, epoch_id))
        rows.count()

    stream = lambda: (  # noqa: E731
        spark.readStream.schema("shard int").parquet(str(announce))
    )
    q = stream_verified_shards(
        spark, path, stream(), chk, consume, max_shards_per_scan=3
    )
    with pytest.raises(Exception, match="failed verification"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    assert consumed == []  # earlier chunks verified clean, still no consume

    os.remove(smuggled)
    q2 = stream_verified_shards(
        spark, path, stream(), chk, consume, max_shards_per_scan=3
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert [s for s, _ in consumed] == list(range(8))
    assert len({e for _, e in consumed}) == 1  # one epoch id for the batch


def test_verify_shards_names_every_offender(spark, tmp_path):
    """The batch verifier reports ALL bad shards of a list, not just the
    first — unknown ids, missing dirs, and drifted content each as their
    own failure class."""
    import shutil

    from cnics_to_fhir_spark.load.corpus_export import verify_shards

    path = str(tmp_path / "exp")
    m = export_shards(_docs(spark, n=60), path, n_shards=4)

    got = verify_shards(spark, path, [0, 1, 2, 3], max_shards_per_scan=2)
    assert {str(k): v for k, v in got.items()} == m["shards"]

    with pytest.raises(ValueError, match=r"shards \[7, 9\] are not in the manifest"):
        verify_shards(spark, path, [0, 9, 7])

    shutil.rmtree(os.path.join(path, "shard=1"))
    src = sorted(glob.glob(os.path.join(path, "shard=0", "*.parquet")))[0]
    shutil.copy(src, os.path.join(path, "shard=3", "smuggled.parquet"))
    with pytest.raises(ValueError, match=r"shards \[1\] at .* directory missing"):
        verify_shards(spark, path, [0, 1, 3])
    with pytest.raises(ValueError, match=r"shards \[3\] at .* failed verification"):
        verify_shards(spark, path, [0, 2, 3])


def test_generation_vacuum_keeps_aba_guard(tmp_path):
    """VERDICT r11 #5: compacting all-but-the-max generation token must
    not reopen the ABA window — a stalled updater holding gen N still
    loses to the current max (refused by the at-or-below-max check, not
    by token EEXIST), and fresh tokens survive the grace period."""
    from cnics_to_fhir_spark.load import corpus_export as ce
    from cnics_to_fhir_spark.load.versioned_table import ConcurrentCommitError

    path = str(tmp_path / "tok")
    os.makedirs(path)
    for g in range(1, 6):
        ce._claim_generation(path, g)
    assert ce._generation(path) == 5

    # fresh tokens are inside the grace period: nothing is swept
    assert ce.vacuum_generations(path)["tokens_removed"] == 0

    res = ce.vacuum_generations(path, grace_s=0.0)
    assert res == {"tokens_removed": 4, "generation": 5}
    assert ce._generation(path) == 5  # the max token IS the ledger head

    # the stalled updater that read gen 2 long ago claims 3 — the token
    # it would have collided with is gone, but the claim still loses
    with pytest.raises(ConcurrentCommitError, match="current generation is 5"):
        ce._claim_generation(path, 3)
    ce._claim_generation(path, 6)  # the honest next update proceeds
    assert ce._generation(path) == 6


def test_generation_claim_primitive(tmp_path):
    """The commit primitive itself: double-claim of one generation is a
    loud ConcurrentCommitError, no tmp debris, tokens form the ledger."""
    from cnics_to_fhir_spark.load import corpus_export as ce
    from cnics_to_fhir_spark.load.versioned_table import ConcurrentCommitError

    path = str(tmp_path / "tok")
    os.makedirs(path)
    assert ce._generation(path) == 0
    ce._claim_generation(path, 1)
    assert ce._generation(path) == 1
    with pytest.raises(ConcurrentCommitError, match="claimed by another updater"):
        ce._claim_generation(path, 1)
    assert not [f for f in os.listdir(path) if f.endswith(".tmp")]
    ce._claim_generation(path, 2)
    assert ce._generation(path) == 2


def test_update_export_precondition_order_and_shard_dup_guard(spark, tmp_path):
    """The two duplicate-key preconditions now run as ONE pre-flight job
    (VERDICT r12 next-round #3); semantics must be unchanged: both are
    checked before any side effect, the FEED error keeps precedence when
    both would fire, and a duplicate-keyed touched shard still fails a
    clean feed loudly."""
    import shutil

    from cnics_to_fhir_spark.load.corpus_export import update_export

    path = str(tmp_path / "order")
    export_shards(_docs(spark, n=40), path, n_shards=4)
    # duplicate EVERY key in one shard by cloning its data file
    victim = sorted(glob.glob(os.path.join(path, "shard=2", "*.parquet")))[0]
    shutil.copy(victim, victim.replace(".parquet", "-clone.parquet"))
    dup_key = spark.read.parquet(os.path.join(path, "shard=2")).select(
        "doc_id"
    ).first()["doc_id"]

    # feed that BOTH duplicates a key and touches the corrupted shard:
    # the feed error must win (old check order preserved)
    feed = spark.createDataFrame(
        [(dup_key, "update", "a", "s"), (dup_key, "update", "b", "s")],
        "doc_id long, change string, text string, source string",
    )
    with pytest.raises(ValueError, match="more than once in the change feed"):
        update_export(spark, path, feed)

    # clean feed touching the corrupted shard: the shard-side guard fires
    clean = spark.createDataFrame(
        [(dup_key, "update", "a", "s")],
        "doc_id long, change string, text string, source string",
    )
    with pytest.raises(ValueError, match="duplicate key"):
        update_export(spark, path, clean)
    # no side effects from either refused feed: no staging/trash leftovers
    assert not glob.glob(os.path.join(path, ".staging-*"))
    assert not glob.glob(os.path.join(path, ".trash-*"))
