"""Semantics pins for operators/dataset.py (mixing, packing, shuffle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cnics_to_fhir_spark.operators import dataset


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_greedy_packing_resets_and_oversize(spark):
    # tokens: 3, 3, 3 (budget 7 → bins [0,0,1]); then an oversize 10-token
    # doc gets its own bin; then a 2-token doc opens a fresh bin after it.
    rows = [
        (0, "a b c", "en"),
        (1, "d e f", "en"),
        (2, "g h i", "en"),
        (3, "t t t t t t t t t t", "en"),
        (4, "x y", "en"),
        (10, "uno dos", "es"),  # separate shard restarts at bin 0
    ]
    out = {
        r["doc_id"]: (r["shard"], r["bin_id"], r["bin_fill"])
        for r in dataset.pack_greedy(_docs(spark, rows), budget=7).collect()
    }
    assert out[0] == ("en", 0, 3)
    assert out[1] == ("en", 0, 6)
    assert out[2] == ("en", 1, 3)  # 6+3 > 7 → new bin
    assert out[3] == ("en", 2, 10)  # oversize: alone, fill > budget
    assert out[4] == ("en", 3, 2)  # forced out of the overfull bin
    assert out[10] == ("es", 0, 2)


def test_greedy_bins_never_mix_fitting_overflow(spark):
    # Every bin's fill ≤ budget unless the bin holds exactly one oversize doc.
    rows = [(i, " ".join(["w"] * (1 + i * 3 % 11)), "en") for i in range(40)]
    df = dataset.pack_greedy(_docs(spark, rows), budget=16)
    bad = (
        df.groupBy("shard", "bin_id")
        .agg(F.sum("tok").alias("fill"), F.count("*").alias("n"))
        .filter((F.col("fill") > 16) & (F.col("n") > 1))
        .count()
    )
    assert bad == 0


def test_chunked_packing_offsets(spark):
    rows = [(0, "a b c", "en"), (1, "d e", "en"), (2, "f g h i", "en")]
    out = {
        r["doc_id"]: (r["bin_id"], r["bin_offset"])
        for r in dataset.pack_chunked(_docs(spark, rows), budget=4).collect()
    }
    # cum-before: 0, 3, 5 → bins 0, 0, 1; offsets 0, 3, 1
    assert out[0] == (0, 0)
    assert out[1] == (0, 3)
    assert out[2] == (1, 1)


def test_stratified_sample_threshold_and_rate(spark):
    rows = [(i, "t", "en" if i % 2 == 0 else "zh") for i in range(2000)]
    df = _docs(spark, rows)
    kept = dataset.stratified_sample(
        df, rates={"en": "80"}, strata_col="lang", key_col="doc_id", default_rate="20"
    )
    checked = kept.withColumn(
        "bucket", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    ).collect()
    for r in checked:
        limit = "80" if r["lang"] == "en" else "20"
        assert r["bucket"] < limit
    n_en = sum(1 for r in checked if r["lang"] == "en")
    n_zh = len(checked) - n_en
    assert 0.4 * 1000 < n_en < 0.6 * 1000  # ≈ 50 %
    assert 0.07 * 1000 < n_zh < 0.19 * 1000  # ≈ 12.5 %


def test_deterministic_shuffle_reproducible_and_dense(spark):
    rows = [(i, "t", "en") for i in range(500)]
    df = _docs(spark, rows)
    a = {r["doc_id"]: (r["bucket"], r["rank"]) for r in dataset.deterministic_shuffle(df, "doc_id").collect()}
    b = {r["doc_id"]: (r["bucket"], r["rank"]) for r in dataset.deterministic_shuffle(df, "doc_id").collect()}
    assert a == b  # reproducible across runs
    per_bucket: dict[str, list[int]] = {}
    for bucket, rank in a.values():
        per_bucket.setdefault(bucket, []).append(rank)
    for ranks in per_bucket.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))  # dense 1..n


def test_curate_corpus_dedup_and_quality_floor(spark):
    rows = [
        (0, "the cat sat on the mat and looked around the room", "en"),
        (1, "THE CAT SAT ON THE MAT AND LOOKED AROUND THE ROOM", "en"),  # dup of 0
        (2, "word word word word word word word word", "en"),  # low diversity
        (3, "a quick brown fox jumps over the lazy dog near banks", "en"),
    ]
    out = dataset.curate_corpus(
        _docs(spark, rows), quality_min=0.5, rates={"en": "ff"}, default_rate="ff"
    ).collect()
    ids = {r["doc_id"] for r in out}
    assert 1 not in ids  # fingerprint dup: only the lowest id survives
    assert 0 in ids and 3 in ids
    assert all(r["quality"] >= 0.5 for r in out)


def test_weighted_sample_priority_formula_and_determinism(spark):
    rows = [(i, " ".join(["w"] * (1 + i % 5)), "en") for i in range(300)]
    df = _docs(spark, rows)
    out = dataset.weighted_priority_sample(df, k=50).collect()
    assert len(out) == 50
    # priority recomputed row-by-row must match: (hash32 * 1e6) div weight
    import hashlib

    for r in out:
        h32 = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
        expect = (h32 * 1_000_000) // max(r["weight"], 1)
        assert r["priority"] == expect
    again = dataset.weighted_priority_sample(df.repartition(7), k=50).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in again)


def test_weighted_sample_prefers_heavy_docs(spark):
    # 150 one-token docs vs 150 hundred-token docs: heavy docs get priorities
    # ~100× smaller, so they should dominate a k=100 bottom-k draw.
    rows = [(i, "w", "en") for i in range(150)]
    rows += [(1000 + i, " ".join(["w"] * 100), "en") for i in range(150)]
    out = dataset.weighted_priority_sample(_docs(spark, rows), k=100).collect()
    heavy = sum(1 for r in out if r["doc_id"] >= 1000)
    assert heavy > 80


def test_chunk_sliding_coverage_and_overlap(spark):
    # 80 tokens, size 32, overlap 8 (stride 24) -> chunks at 0,24,48;
    # chunk 2 spans tokens [48,80) so the tail is already covered
    text = " ".join(f"t{i}" for i in range(80))
    df = _docs(spark, [(1, text, "en")])
    out = sorted(
        dataset.chunk_sliding(df, size=32, overlap=8).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["chunk_id"] for r in out] == [0, 1, 2]
    assert [r["chunk_tokens"] for r in out] == [32, 32, 32]
    # consecutive chunks share exactly `overlap` tokens
    c0, c1 = out[0]["chunk_text"].split(" "), out[1]["chunk_text"].split(" ")
    assert c0[-8:] == c1[:8]
    # every token covered, in order
    covered = []
    for r in out:
        toks = r["chunk_text"].split(" ")
        covered.extend(toks[8:] if r["chunk_id"] > 0 else toks)
    assert covered == text.split(" ")


def test_chunk_sliding_short_and_exact_docs(spark):
    df = _docs(spark, [(1, " ".join(["w"] * 10), "en"), (2, " ".join(["w"] * 32), "en")])
    out = dataset.chunk_sliding(df, size=32, overlap=8).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert len(per_doc[1]) == 1 and per_doc[1][0]["chunk_tokens"] == 10
    assert len(per_doc[2]) == 1 and per_doc[2][0]["chunk_tokens"] == 32


def test_chunk_sliding_invariants_grid(spark):
    """Coverage invariant over a (doc length × geometry) grid: stitching
    chunk 0 plus the non-overlap tail of every later chunk reproduces the
    document exactly; chunk count matches the closed form."""
    lengths = [1, 7, 31, 32, 33, 56, 57, 80, 200]
    for size, overlap in [(32, 8), (16, 0), (8, 4)]:
        stride = size - overlap
        rows = [(n, " ".join(f"t{i}" for i in range(n)), "en") for n in lengths]
        out = dataset.chunk_sliding(_docs(spark, rows), size=size, overlap=overlap).collect()
        per_doc: dict[int, list] = {}
        for r in out:
            per_doc.setdefault(r["doc_id"], []).append(r)
        for n in lengths:
            chunks = sorted(per_doc[n], key=lambda r: r["chunk_id"])
            expect_chunks = 1 if n <= size else (n - size + stride - 1) // stride + 1
            assert len(chunks) == expect_chunks, (n, size, overlap)
            stitched = []
            for r in chunks:
                toks = r["chunk_text"].split(" ")
                stitched.extend(toks if r["chunk_id"] == 0 else toks[overlap:])
            assert stitched == [f"t{i}" for i in range(n)], (n, size, overlap)


def test_epoch_upsample_integer_exact(spark):
    rows = [(i, "srcA" if i % 2 == 0 else "srcB") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    # srcA at 2.5 epochs, srcB downsampled to 0.4
    out = dataset.epoch_upsample(df, {"srcA": 250, "srcB": 40}).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, copies in by_doc.items():
        n = copies[0]["n_epochs"]
        assert sorted(c["epoch"] for c in copies) == list(range(1, n + 1))
        assert n in ((2, 3) if doc % 2 == 0 else (1,))
    # srcA docs always appear (floor 2); srcB docs can drop entirely
    a_docs = [d for d in range(0, 200, 2)]
    assert all(d in by_doc for d in a_docs)
    b_present = sum(1 for d in range(1, 200, 2) if d in by_doc)
    assert 10 < b_present < 90  # ~40% of 100 within binomial tolerance
    # deterministic: same input -> identical output
    again = dataset.epoch_upsample(df, {"srcA": 250, "srcB": 40}).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def _python_temperature_weights(rows) -> dict[str, int]:
    """The τ=2 weights computed outside Spark: floor(100·sqrt(n_max/n_s))."""
    import math
    from collections import Counter

    n = Counter(src for _, src in rows)
    n_max = max(n.values())
    return {s: math.floor(100 * math.sqrt(n_max / c)) for s, c in n.items()}


def _mixture_matches_reference(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    w = _python_temperature_weights(rows)
    got = sorted(map(tuple, dataset.temperature_mixture(df).collect()))
    assert got == sorted(map(tuple, dataset.epoch_upsample(df, w).collect()))
    return w, got


def test_temperature_mixture_balance_direction(spark):
    # 100-doc source vs 25-doc source: tail weight = floor(100*sqrt(4)) = 200
    rows = [(i, "big" if i < 100 else "small") for i in range(125)]
    w, out = _mixture_matches_reference(spark, rows)
    assert w == {"big": 100, "small": 200}
    n_big = sum(1 for r in out if r[1] == "big")
    n_small = sum(1 for r in out if r[1] == "small")
    assert n_big == 100            # largest source: exactly 1 epoch each
    assert n_small == 50           # exact doubling: 2 epochs per doc
    # equal-sized sources -> identity mixture
    eq = [(i, f"s{i%2}") for i in range(40)]
    w, out = _mixture_matches_reference(spark, eq)
    assert w == {"s0": 100, "s1": 100}
    assert len(out) == 40


def test_temperature_mixture_matches_python_weights(spark):
    """The in-plan weights must give exactly the mixture that
    ``epoch_upsample`` gives for weights computed in plain Python.
    Includes a fractional-weight source so the per-doc hash coin is
    exercised, and a 1-doc source (max weight)."""
    rows = [(i, "big") for i in range(100)] + [
        (i, "mid") for i in range(100, 140)
    ] + [(999, "solo")]
    w, out = _mixture_matches_reference(spark, rows)
    # mid = floor(100*sqrt(2.5)) = 158, solo = floor(100*sqrt(100)) = 1000
    # -> exactly 10 epochs
    assert w == {"big": 100, "mid": 158, "solo": 1000}
    assert sum(1 for r in out if r[1] == "solo") == 10


def test_global_rank_is_exact_total_order(spark):
    from cnics_to_fhir_spark.operators.dataset import global_rank

    df = spark.range(200).select((F.col("id") * 13 % 50).alias("s"), "id")
    ranked, total = global_rank(df, ["s", "id"], npartitions=8)
    rows = sorted((r["s"], r["id"], r["__rank"]) for r in ranked.collect())
    assert total == 200
    assert [r[2] for r in rows] == list(range(1, 201))


def test_global_ntile_edges(spark):
    from cnics_to_fhir_spark.operators.dataset import global_ntile

    # fewer rows than buckets: every row its own bucket, in order
    small = spark.createDataFrame([(5, 1), (3, 2), (9, 3)], ["s", "id"])
    got = {r["id"]: r["bucket"] for r in global_ntile(small, ["s", "id"], 7).collect()}
    assert got == {2: 1, 1: 2, 3: 3}
    # empty input: no rows, bucket column present
    empty = spark.createDataFrame([], "s int, id int")
    out = global_ntile(empty, ["s", "id"], 3)
    assert out.count() == 0 and "bucket" in out.columns


def test_psi_drift_detects_shift(spark):
    from cnics_to_fhir_spark.operators.drift import psi_drift

    rows = []
    # group "stable": identical uniform-ish values both sides
    for i in range(200):
        rows.append(("stable", float(i % 50), i < 100))
    # group "shifted": baseline near 0-50, comparison near 200-250
    for i in range(200):
        rows.append(("shifted", float(i % 50) + (0.0 if i < 100 else 200.0), i < 100))
    df = spark.createDataFrame(rows, ["grp", "v", "is_base"])
    out = {r["grp"]: r for r in psi_drift(df, "v", "grp", "is_base").collect()}
    assert out["stable"]["n_base"] == 100 and out["stable"]["n_new"] == 100
    # micro-units: 0.1 PSI == 100_000
    assert out["stable"]["psi_q"] < 100_000
    assert out["shifted"]["psi_q"] > 250_000  # everything clamps to the far bin


def test_global_ntile_invariant_to_partition_count(spark):
    from cnics_to_fhir_spark.operators.dataset import global_ntile

    df = spark.range(500).select((F.col("id") * 7919 % 613).alias("s"), "id")
    base = {
        (r["s"], r["id"]): r["bucket"]
        for r in global_ntile(df, ["s", "id"], 4, npartitions=2).collect()
    }
    for n in (3, 8, 64):
        got = {
            (r["s"], r["id"]): r["bucket"]
            for r in global_ntile(df, ["s", "id"], 4, npartitions=n).collect()
        }
        assert got == base


def test_ds11_capacity_one_token_doc(spark, tmp_path):
    """Capacity is the smallest power of two >= n INCLUDING n=1 → 1, not 2
    (ADVICE r6 scale_ops.py ds11: bin(0) has bit-length 1). Spark entry and
    DuckDB oracle agree on the fixture."""
    import duckdb

    from cnics_to_fhir_spark.plans import catalog

    rows = [
        (1, "one", "en", "s", 3),
        (2, "two words", "en", "s", 9),
        (3, "a b c", "en", "s", 5),
        (4, "w x y z p", "en", "s", 9),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    ent = catalog()["ds11_length_buckets"]
    got = {
        r["capacity"]: (r["n_docs"], r["total_tokens"], r["utilization"])
        for r in ent.spark(spark, sf_dir).collect()
    }
    # n=1 → capacity 1 (full), n=2 → 2 (full), n=3 → 4, n=5 → 8
    assert got[1] == (1, 1, 1.0)
    assert got[2] == (1, 2, 1.0)
    assert got[4] == (1, 3, 0.75)
    assert got[8] == (1, 5, 0.625)
    con = duckdb.connect()
    glob = str(tmp_path / "documents.parquet" / "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
    oracle = {
        r[0]: (r[1], r[2], r[3]) for r in con.execute(ent.oracle).fetchall()
    }
    assert oracle == got


def test_ewma_daily_counts_exact_dyadic(spark):
    # user 1 has three consecutive observed days with counts 4, 2, 8.
    # α=1/2 truncated EWMA renormalized over existing taps:
    #   day1: 4/1 = 4.0
    #   day2: (2·(1/2) + 4·(1/4)) / (3/4) = 2/0.75 ≈ 2.666667
    #   day3: (8·(1/2) + 2·(1/4) + 4·(1/8)) / (7/8) = 5.0/0.875 ≈ 5.714286
    import datetime

    from cnics_to_fhir_spark.operators.events_windows import ewma_daily_counts

    rows = []
    for day, n in [(1, 4), (2, 2), (3, 8)]:
        for k in range(n):
            rows.append((1, datetime.datetime(2024, 1, day, 10, k)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r["day"]: r for r in ewma_daily_counts(df).collect()}
    assert got["2024-01-01"]["ewma"] == 4.0
    assert got["2024-01-02"]["ewma"] == 2.666667  # floor(2.6666…·1e6+0.5)/1e6
    assert got["2024-01-03"]["ewma"] == 5.714286
    assert got["2024-01-03"]["n_events"] == 8


def test_ewma_daily_counts_rejects_bad_lags(spark):
    import pytest

    from cnics_to_fhir_spark.operators.events_windows import ewma_daily_counts

    df = spark.createDataFrame([(1,)], "user_id long").withColumn(
        "ts", __import__("pyspark").sql.functions.current_timestamp()
    )
    with pytest.raises(ValueError):
        ewma_daily_counts(df, n_lags=0)
    with pytest.raises(ValueError):
        ewma_daily_counts(df, n_lags=21)


def test_weighted_percentiles_hand_computed(spark):
    # values 10,20,30 with weights 1,2,7 -> W=10; targets: ceil(p*W/100):
    # p25 -> 3 -> first value whose cumweight (1,3,10) >= 3 is 20
    # p50 -> 5 -> 30; p90 -> 9 -> 30; p99 -> 10 -> 30; p10 -> 1 -> 10
    from cnics_to_fhir_spark.operators.dataset import weighted_percentiles

    df = spark.createDataFrame(
        [(10.0, 1), (20.0, 2), (30.0, 3), (30.0, 4)], "v double, w long"
    )
    got = {
        r["pct"]: r["value"]
        for r in weighted_percentiles(df, "v", "w", [10, 25, 50, 90, 99]).collect()
    }
    assert got == {10: 10.0, 25: 20.0, 50: 30.0, 90: 30.0, 99: 30.0}


def test_weighted_percentiles_matches_naive_across_partitions(spark):
    # prefix offsets must be exact when the histogram spans partitions:
    # force a tiny partition count and compare against a naive local
    # computation of the same ceil-rank definition.
    from cnics_to_fhir_spark.operators.dataset import weighted_percentiles

    rows = [(float(v % 37), (v % 5) + 1) for v in range(500)]
    df = spark.createDataFrame(rows, "v double, w long").repartition(7)
    got = {
        r["pct"]: r["value"]
        for r in weighted_percentiles(df, "v", "w", [1, 50, 95], npartitions=3).collect()
    }
    agg = {}
    for v, w in rows:
        agg[v] = agg.get(v, 0) + w
    total = sum(agg.values())
    expected = {}
    for p in (1, 50, 95):
        target = (p * total + 99) // 100
        c = 0
        for v in sorted(agg):
            c += agg[v]
            if c >= target:
                expected[p] = v
                break
    assert got == expected


def test_leakage_safe_split_clusters_share_split_and_singletons_covered(spark):
    from cnics_to_fhir_spark.operators.dataset import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    # components: {1,2,3} (chain), {5,6}; 4 and 7 are singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r for r in leakage_safe_split(docs, pairs).collect()}
    assert len(out) == 7  # every doc assigned, singletons included
    assert out[1]["split"] == out[2]["split"] == out[3]["split"]
    assert out[1]["rep"] == out[2]["rep"] == out[3]["rep"] == 1
    assert out[5]["split"] == out[6]["split"] and out[5]["rep"] == 5
    assert out[4]["rep"] == 4 and out[7]["rep"] == 7
    assert {r["split"] for r in out.values()} <= {"train", "val", "test"}


def test_cohort_retention_hand_computed(spark):
    """u1,u2 form the week-0 cohort; only u1 returns in week 1 (50%).
    u3's cohort is week 1 and returns in its week +2. Offset-0 rows are
    the cohorts themselves at exactly 1e6."""
    import datetime as dt

    import pytest

    from cnics_to_fhir_spark.operators.events_windows import cohort_retention

    def t(day):
        return dt.datetime(2024, 1, 1) + dt.timedelta(days=day)

    rows = [(1, t(0)), (1, t(8)), (2, t(1)), (3, t(7)), (3, t(22))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r["cohort_period"], r["offset_periods"]): (
            r["n_active"], r["cohort_size"], r["retention_rate_q"]
        )
        for r in cohort_retention(df).collect()
    }
    assert out == {
        (0, 0): (2, 2, 1_000_000),
        (0, 1): (1, 2, 500_000),
        (1, 0): (1, 1, 1_000_000),
        (1, 2): (1, 1, 1_000_000),
    }
    with pytest.raises(ValueError, match="period_days"):
        cohort_retention(df, period_days=0)


def test_interleave_schedule_prefix_proportionality(spark):
    """Every prefix of the weighted-fair schedule carries each source in
    proportion to its weight: after virtual time T, a weight-w source has
    placed exactly min(floor(T*w), n_docs) docs — WFQ's per-prefix
    fairness, not just expected share.  Also: deterministic across
    partitionings, slots dense 1..k."""
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "doc_id long, source string"
    )
    weights = spark.createDataFrame(
        [("s0", 1), ("s1", 2), ("s2", 4)], "source string, weight long"
    )
    out = dataset.interleave_schedule(
        docs, weights, k=70, source_col="source", key_col="doc_id"
    ).collect()
    assert [r["slot"] for r in out] == list(range(1, 71))
    w = {"s0": 1, "s1": 2, "s2": 4}
    # at every slot boundary, each source's count so far is what WFQ
    # promises: floor(position * weight / 1e6), within the ±1 ambiguity of
    # docs tied at exactly the boundary position
    seen = {s: 0 for s in w}
    for r in out:
        seen[r["source"]] += 1
        for s, n in seen.items():
            expect = r["position"] * w[s] // 1_000_000
            assert abs(n - expect) <= 1, (r["slot"], s, n, expect)
    # proportionality over the whole prefix: s2 gets ~4x s0
    assert seen["s2"] >= 3 * seen["s0"]
    # determinism across partitionings
    out2 = dataset.interleave_schedule(
        docs.repartition(7), weights, k=70,
        source_col="source", key_col="doc_id",
    ).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]


def test_interleave_schedule_full_total_order(spark):
    """VERDICT r11 #3: the FULL training order — every doc slotted, WFQ
    prefix fairness holding at EVERY cut point (checked row-by-row over
    the whole order), ds17's prefix variant bit-identical to the head,
    deterministic across partitionings, and a plan with no unpartitioned
    window / SinglePartition exchange over corpus rows."""
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "doc_id long, source string"
    )
    weights = spark.createDataFrame(
        [("s0", 1), ("s1", 2), ("s2", 4)], "source string, weight long"
    )
    full_df = dataset.interleave_schedule_full(docs, weights)
    plan = full_df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan  # no serial global window/sort
    full = sorted(full_df.collect(), key=lambda r: r["slot"])

    assert [r["slot"] for r in full] == list(range(1, 301))  # dense, total
    w = {"s0": 1, "s1": 2, "s2": 4}
    n_docs = {"s0": 100, "s1": 100, "s2": 100}
    # prefix fairness at every cut point: after the slot at virtual time
    # T, each source has placed min(floor(T*w), n_docs) docs (±1 for docs
    # tied exactly at the boundary position)
    seen = {s: 0 for s in w}
    for r in full:
        seen[r["source"]] += 1
        for s, n in seen.items():
            expect = min(r["position"] * w[s] // 1_000_000, n_docs[s])
            assert abs(n - expect) <= 1, (r["slot"], s, n, expect)
    assert all(seen[s] == n_docs[s] for s in w)  # everything scheduled

    # ds17 is exactly the head of the full order
    head = dataset.interleave_schedule(docs, weights, k=70).collect()
    assert [tuple(r) for r in head] == [tuple(r) for r in full[:70]]

    # determinism across input partitionings and npartitions choices
    full2 = sorted(
        dataset.interleave_schedule_full(
            docs.repartition(7), weights, npartitions=5
        ).collect(),
        key=lambda r: r["slot"],
    )
    assert [tuple(r) for r in full] == [tuple(r) for r in full2]

    # same weight-validation contract as the prefix variant
    w_missing = spark.createDataFrame([("s0", 1)], "source string, weight long")
    with pytest.raises(ValueError, match="weight >= 1"):
        dataset.interleave_schedule_full(docs, w_missing)
    w_zero = spark.createDataFrame(
        [("s0", 1), ("s1", 2), ("s2", 0)], "source string, weight long"
    )
    with pytest.raises(ValueError, match=r"\('s2', 0\)"):
        dataset.interleave_schedule_full(docs, w_zero)


def test_interleave_schedule_rejects_missing_and_nonpositive_weights(spark):
    """ADVICE r11: a source missing from the weights dim must not be
    silently dropped by the join, and weight 0 must not flood the
    schedule head with NULL positions (integer DIV by zero sorts
    nulls-first) — both raise, naming the offending sources."""
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(60)], "doc_id long, source string"
    )
    # s2 has no weights row
    w_missing = spark.createDataFrame(
        [("s0", 1), ("s1", 2)], "source string, weight long"
    )
    with pytest.raises(ValueError, match=r"weight >= 1.*'s2'"):
        dataset.interleave_schedule(docs, w_missing, k=10)
    # s1 has weight 0
    w_zero = spark.createDataFrame(
        [("s0", 1), ("s1", 0), ("s2", 4)], "source string, weight long"
    )
    with pytest.raises(ValueError, match=r"\('s1', 0\)"):
        dataset.interleave_schedule(docs, w_zero, k=10)
    # a weight-carrying superset dim is fine: extra sources don't matter
    w_extra = spark.createDataFrame(
        [("s0", 1), ("s1", 2), ("s2", 4), ("s9", 7)],
        "source string, weight long",
    )
    out = dataset.interleave_schedule(docs, w_extra, k=10).collect()
    assert [r["slot"] for r in out] == list(range(1, 11))
