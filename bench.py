"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing = full pipeline per query (plan + execute + count-collapse), after a
one-time warmup touch of the parquet footers so JVM startup isn't billed to
the first query.
"""

from __future__ import annotations

import json
import os
import time

from cnics_to_fhir_spark.plans import catalog
from cnics_to_fhir_spark.session import build_session

HEADLINE = [
    "e2e01_conditions_pipeline",
    "e2e02_observations_pipeline",
    "e2e04_patients_pipeline",
    "q01_pricing_summary",
    "q06_forecast_revenue",
    "q03_shipping_priority",
    "q04_order_priority",
    "q05_local_supplier_volume",
    "q17_small_quantity_revenue",
    "q10_returned_items",
    "q14_promo_effect",
    "q18_large_volume_orders",
    "q19_disjunctive_revenue",
    "q21_sole_return_supplier",
    "q22_dormant_balances",
    "w01_topn_per_group",
    "w02_running_spend",
    "j01_inner_join_agg",
    "j09_salted_skew_join",
    "j10_bloom_semi_join",
    "j11_scd2_merge",
    "o05_zorder_key",
    "j03_decorrelated_page",
    "j06_merge_actions",
    "a03_first_row_per_group",
    "a02_collect_set",
    "f01_dx_coding_dispatch",
    "f11_lab_value_typing",
    "b01_resource_assembly",
    "dd01_exact_dedup",
    "dd02_ngram_jaccard",
    "dd03_minhash_lsh",
    "dd05_embedding_neardup",
    "ann01_cosine_topk",
    "ann03_ivf_topk",
    "ann05_quantized_rerank",
    "tx01_text_profile",
    "tx03_rolling_fingerprint",
    "tx04_heavy_hitters",
    "ev01_tumbling_window",
    "ev02_sessionization",
    "rj01_interval_attribution",
    "ds02_chunked_packing",
    "ds03_greedy_packing",
    "ds04_deterministic_shuffle",
    "ds05_weighted_sample",
    "ds06_sliding_chunks",
    "e2e05_corpus_curation",
    # round-3 additions (totals across rounds therefore aren't directly
    # comparable — compare per-query)
    "q07_volume_shipping",
    "q08_market_share",
    "q09_product_profit",
    "q12_late_shipments",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_count",
    "q20_part_promotion",
    "a07_rollup_subtotals",
    "a08_percentiles",
    "p09_pivot_priority",
    "mm04_real_png_decode",
    "mm05_audio_features",
    "u02_except_intersect",
    "p10_not_in_null_semantics",
    "a15_string_agg",
    "f23_higher_order_funcs",
    "w03_time_range_window",
    "w04_rank_family",
    "dd05b_neardup_refined_cells",
    "dd07_fuzzy_name_match",
    "ev06_cohort_retention",
    "ev07_funnel",
    "q02_min_cost_supplier",
    "q11_important_stock",
    "e2e06_entity_resolution",
    "tx05_tfidf_topk",
    "ev08_transition_matrix",
    "a16_cube_subtotals",
    "a17_histogram",
    "a18_stat_aggregates",
    "w05_share_of_total",
    # round-4 additions
    "a04b_crosswalk_field_lww",
    "dc01_decontaminate",
    "dc02_pii_redaction",
    "tx06_repetition_signals",
    "ds07_hash_split",
    "e2e07_curation_v2",
    "dd08_boilerplate_removal",
    "ds08_epoch_mixture",
    "aj02_asof_nearest",
    "tx07_unigram_surprise",
    "ds09_temperature_mixture",
    "mm06_image_phash_dedup",
    "j12_bucketed_colocated_join",
    "j13_dynamic_partition_pruning",
    # round-5 additions
    "dd12_duplicated_spans",
    "rj02_interval_overlap_join",
    "ds10_quality_buckets",
    "tx09_nb_langid",
    "e2e08_curation_v3",
    "dd13_containment_pairs",
    "j14_aqe_skew_split",
    "dq01_drift_psi",
    "tx10_bpe_encode",
    "w06_exact_percentiles",
    "ann07_pq_adc_topk",
    "gr03_triangle_count",
    "ds11_length_buckets",
    "ev09_zscore_anomaly_days",
    "a19_grouping_sets",
    # round-6 additions
    "dq02_ks_drift",
    "ev10_funnel_latency",
    "mm07_phash_neardup",
    "dc03_domain_cap",
    "ann08_filtered_topk",
    "dq03_version_diff",
    "ann09_ivfpq_topk",
    "ev11_ewma_smoothing",
    "w07_mad_outliers",
    # round-7 additions
    "a20_weighted_percentiles",
    "dq04_embedding_drift",
    "ann10_recall_eval",
    "dc04_k_anonymity",
    "tx11_zipf_fit",
    "o06_stats_file_skipping",
    "ann11_mmr_diversified",
    "u03_schema_evolution_scan",
    "j15_merge_table_sink",
    # round-8 additions
    "s05_fhir_snapshot_replay",
    "o06b_manifest_file_skipping",
    "lb01_majority_vote",
    "ev12_asof_tolerance",
    "dc05_pii_pseudonymize",
    "dd14_semantic_decontaminate",
    "tx12_tfidf_hashed",
    "a21_quantile_sketch",
    "dq05_expectation_suite",
    "e2e09_label_export_pipeline",
    "u04_rename_evolution_scan",
    "ds13_leakage_safe_split",
    "lb03_fleiss_kappa",
    "e2e10_pretraining_data_build",
    # round-9 additions
    "ds14_temperature_mixture_join",
    "e2e11_incremental_corpus_update",
    "lb04_annotator_reliability",
    "u05_partition_evolution_scan",
    "dc06_l_diversity",
    "e2e12_reliability_weighted_labels",
    "ev13_cohort_retention",
    "tx13_bigram_surprise",
    "lb05_dawid_skene_relabel",
    "o07_time_travel_merge",
    "o08_change_data_feed",
    "u06_type_widening_scan",
    "ds15_export_manifest",
    "e2e13_pretraining_export",
    # round-10 additions
    "ds16_incremental_reexport",
    "tx14_bm25_topk",
    "o09_versioned_compaction",
    # round-11 additions (st12 is excluded with the other streaming-
    # equivalence runs below — trigger overhead, not data path)
    "ds17_interleave_schedule",
    # round-12 additions
    "ds18_interleave_full_order",
    # dd15_lsh_pr_eval is excluded with lb02/lb06 below (VERDICT r10 #2):
    # its exact-Jaccard ground-truth join — the expensive half of a QA
    # harness run once per LSH parameter choice, not a production data
    # path — was 19.5 s, 10% of the whole headline bench. Correctness is
    # still gated via the catalog oracle (selfcheck + driver prefix); the
    # LSH data path itself stays benched through dd03/dd03b.
    # st11_stream_incremental_export is excluded with the other
    # streaming-equivalence runs below (trigger overhead, not data path).
    # lb06_dawid_skene_converged is excluded with the other iterative ops
    # below (driver-loop EM steps dominate at toy SF, not data path).
    # lb02_bradley_terry is excluded with the other iterative ops below.
    # Iterative ops (dd06, cl01, ann04, dd09, and the round-5 additions
    # gr02/dd10/ann06 — k-means or fixpoint loops) and
    # streaming-equivalence runs
    # (st01/st02/st03 — micro-batch scheduling overhead, not data path) are
    # deliberately NOT headline: their wall time at toy SFs is driver-loop
    # / trigger launch overhead (~1.2 s/iteration), not data-path
    # throughput; correctness is gated via the catalog oracle like
    # everything else.
]


# Bounded subset inlined into the final stdout JSON line (the driver's tail
# capture is ~2000 chars; ~80 queries no longer fit). Chosen to cover one
# representative per family: e2e verticals, TPC-H classics, dedup, ANN,
# events, text, dataset assembly.
FLAGSHIP_INLINE = [
    "e2e01_conditions_pipeline",
    "e2e04_patients_pipeline",
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q18_large_volume_orders",
    "j09_salted_skew_join",
    "j10_bloom_semi_join",
    "w01_topn_per_group",
    "dd01_exact_dedup",
    "dd03_minhash_lsh",
    "dd05_embedding_neardup",
    "ann01_cosine_topk",
    "ann03_ivf_topk",
    "tx04_heavy_hitters",
    "ev02_sessionization",
    "rj01_interval_attribution",
    "ds03_greedy_packing",
    "e2e05_corpus_curation",
    "e2e06_entity_resolution",
    "mm04_real_png_decode",
    "e2e07_curation_v2",
    "dd08_boilerplate_removal",
    "tx06_repetition_signals",
    "aj02_asof_nearest",
]


def host_fingerprint() -> dict[str, object]:
    """CPU model / scaling governor / total RAM — with the core count the
    run's session stamps, enough to tell whether two bench runs executed
    on comparable hardware. The r5→r6 rounds saw a uniform ~1.26x
    wall-clock shift caused by the bench HOST changing between rounds,
    which would have hidden a real 1.3x code regression; recording the
    fingerprint lets the regression diff flag cross-host comparisons
    instead of silently mixing them."""
    fp: dict[str, object] = {}
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.lower().startswith("model name"):
                    fp["cpu"] = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    try:
        with open("/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor") as f:
            fp["governor"] = f.read().strip()
    except OSError:
        fp["governor"] = "n/a"
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal"):
                    fp["mem_gib"] = round(int(line.split()[1]) / 1024 / 1024, 1)
                    break
    except OSError:
        pass
    try:
        fp["load_1m_at_start"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    # Single-thread CPU calibration: a fixed pure-python spin whose wall
    # time moves 1:1 with the host's effective per-core speed.  The model
    # string can't catch a burstable VM running out of CPU credits or a
    # migrated/throttled incarnation of "the same" hardware — round 7
    # measured the SAME committed query set at a uniform 1.4x on an idle
    # box with an identical fingerprint.  spin_ms gives the next round a
    # denominator: per-query ratios near (spin_now / spin_prior) are host
    # speed, not code.  best-of-3 sheds scheduler blips.
    spins = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(5_000_000):
            acc += i
        spins.append(time.perf_counter() - t0)
    fp["spin_ms"] = round(min(spins) * 1000, 1)
    return fp


def window_probe(spark) -> dict[str, float]:
    """Mid-run contention sentinel (VERDICT r10 #1 + #4).  The start-of-run
    load stamp can't see a load burst that arrives mid-bench: round 10
    committed a `contended: false` bench whose positions 41-49 carried a
    transient 1.4-3.8x inflation (rj01's raw runs decayed back to idle
    levels MID-QUERY).  This probe re-measures host speed every
    ~PROBE_EVERY queries with two fixed workloads:

    - ``spin_ms``  — a single-thread pure-python spin (per-core speed);
    - ``shuffle_s`` — a fixed 1M-row 8-task groupBy (scan→shuffle→agg),
      because round 10 also showed the single-core calibration saying
      "faster" while every shuffle-heavy query ran slower — a shuffle
      probe makes host-speed attribution for shuffle queries measurable
      instead of re-litigated each round.

    Windows whose stamp inflates >PROBE_INFLATION vs the start-of-run
    baseline get their queries re-run after the main loop (see main)."""
    spins = []
    for _ in range(2):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i
        spins.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    (
        spark.range(0, 1_000_000, 1, 8)
        .selectExpr("id % 101 AS k", "id")
        .groupBy("k")
        .sum("id")
        .count()
    )
    shuffle_s = time.perf_counter() - t0
    try:
        load = round(os.getloadavg()[0], 1)
    except OSError:
        load = -1.0
    return {
        "spin_ms": round(min(spins) * 1000, 2),
        "shuffle_s": round(shuffle_s, 3),
        "load_1m": load,
    }


PROBE_EVERY = 20  # queries per sentinel window
PROBE_INFLATION = 1.5  # window stamp ratio vs baseline that flags a rerun


def wait_for_idle(threshold: float = 1.0, max_wait_s: int = 180) -> bool:
    """Round 7's headline was recorded at start load 5.0 — a contended box
    — and read 27% slower than the identical committed code at idle.  A
    bench that runs while the previous selfcheck JVM drains measures the
    scheduler, not the engine.  Wait (bounded) for the 1-minute load to
    fall below ``threshold``; return True if idle was reached.  If the box
    never quiets down, the caller stamps the run ``contended`` so the
    number can't silently masquerade as a code regression."""
    deadline = time.monotonic() + max_wait_s
    while True:
        try:
            load = os.getloadavg()[0]
        except OSError:
            return True
        if load < threshold:
            return True
        if time.monotonic() >= deadline:
            return False
        print(
            f"# load {load:.1f} >= {threshold} — waiting for idle "
            f"({int(deadline - time.monotonic())}s left)",
            flush=True,
        )
        time.sleep(10)


def main() -> None:
    global HEADLINE
    # Debug subset (comma-separated query names): exercise the harness —
    # sentinel windows, rerun pass, sidecar shape — in seconds instead of
    # a full run. Committed benches never set it (the sidecar would only
    # cover the subset).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = [n.strip() for n in only.split(",") if n.strip()]
        HEADLINE = [n for n in HEADLINE if n in keep] or keep
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    idle = wait_for_idle()
    host = host_fingerprint()
    contended = not idle
    if contended:
        print(
            f"# CONTENDED RUN: start load {host.get('load_1m_at_start')} "
            "never fell below 1.0 — timings inflated by host noise; "
            "output is stamped contended=true",
            flush=True,
        )
    spark = build_session("bench")
    # the cores the queries ran on: local[$SPARK_GRAFT_CPUS], not the host's
    host["cores"] = spark.sparkContext.defaultParallelism

    # Prior round's per-query numbers (the committed sidecar, read BEFORE it
    # is overwritten) drive the end-of-run regression diff: round-over-round
    # drift gets attributed per query instead of discovered a round later.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_detail.json")
    prior: dict[str, float] = {}
    prior_host: dict[str, object] = {}
    try:
        with open(detail_path) as f:
            prev = json.load(f)
        if prev.get("sf") == (float(sf) if sf.replace(".", "").isdigit() else sf):
            prior = prev.get("queries", {})
            prior_host = prev.get("host", {})
    except (OSError, ValueError):
        pass
    # Same-host check compares the stable identity fields only (cpu model,
    # core count, governor) — load average is expected to vary run-to-run.
    same_host = bool(prior) and all(
        prior_host.get(k) == host.get(k) for k in ("cpu", "cores", "governor")
    )
    if prior and not same_host:
        print(
            f"# HOST CHANGED since prior detail (prior={prior_host}, now={host}): "
            "per-query ratios are cross-host and not attributable to code",
            flush=True,
        )

    entries = catalog()
    # Warmup: force JVM + parquet footer reads once, outside timed region.
    entries["a01_distinct"].spark(spark, sf_dir).count()

    # JVM-side calibration: a fixed 32-task scan→shuffle→agg whose wall
    # time tracks Spark's per-stage overhead + JVM throughput on THIS
    # incarnation of the host.  The python spin above can read "fast"
    # while Spark runs uniformly 1.5x slower (observed round 7: same
    # committed query set, same fingerprint, python spin unchanged,
    # every sub-second query inflated — per-stage overhead, invisible to
    # a single-thread python loop).  Compare spark_calib_s across rounds
    # before attributing per-query ratios to code.
    calib_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 50_000_000, 1, 32)
            .selectExpr("id % 97 AS k", "id")
            .groupBy("k")
            .sum("id")
            .count()
        )
        calib_runs.append(time.perf_counter() - t0)
    host["spark_calib_s"] = round(sorted(calib_runs)[1], 3)
    print(f"# spark_calib_s: {host['spark_calib_s']}", flush=True)

    def time_query(e) -> tuple[float, list[float], int]:
        """Median timing for one catalog entry.

        median-of-3: each run re-executes the full plan (no caching
        anywhere in the engine); the median sheds both codegen-compile
        warmup on run 1 AND one-off scheduler/GC stalls that best-of-N
        would hide and single-shot would mistake for a regression —
        80-300 ms noise on sub-second queries made round-over-round drift
        unattributable before.

        Sub-2s entries swing 0.8-1.5s between idle runs on this box
        (e2e02/e2e04, round 7) — scheduler blips are the same order as
        the measurement.  Median-of-5 instead of 3 below 2s makes
        consecutive idle runs agree within ~1.2x.  Above 2s the blips
        amortize, but run 1 carries the query's one-time codegen/JIT
        warmup, which at e2e scale is SECONDS (e2e01 round 9: runs
        [4.63, 2.20, 1.77] — the 4.63 rode into the median and tripped
        the driver's regression diff as a ghost 1.4x): discard run 1
        and take the median of three warm runs instead."""
        runs = []
        n = 0
        for _ in range(3):
            # Cold cache per run: dd03 persists its shingle table inside its
            # plan and can't unpersist lazily; leaked cache blocks otherwise
            # bleed memory pressure into later queries (observed: dd05 6.3 s
            # next to dd03 vs 0.7 s isolated) and make later runs cache hits
            # instead of re-executions.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            # count() executes the whole plan without driver-side
            # materialization of payload columns.
            n = e.spark(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
        if sorted(runs)[1] < 2.0:
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                n = e.spark(spark, sf_dir).count()
                runs.append(time.perf_counter() - t0)
        else:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = e.spark(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
        raw = list(runs)
        if sorted(raw[:3])[1] >= 2.0:
            runs = runs[1:]
        return round(sorted(runs)[len(runs) // 2], 3), [round(r, 3) for r in raw], n

    # Start-of-run sentinel baseline: the idle floor (min of 3) the mid-run
    # windows are judged against.
    probes = [window_probe(spark) for _ in range(3)]
    base_spin = min(p["spin_ms"] for p in probes)
    base_shuffle = min(p["shuffle_s"] for p in probes)
    host["probe_spin_ms"] = base_spin
    host["probe_shuffle_s"] = base_shuffle
    print(f"# sentinel baseline: spin {base_spin}ms shuffle {base_shuffle}s", flush=True)

    def inflation(p: dict[str, float]) -> float:
        return round(max(p["spin_ms"] / base_spin, p["shuffle_s"] / base_shuffle), 2)

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    loads: dict[str, float] = {}  # 1-min loadavg at each query's start:
    # ~free, and makes per-query drift attributable post-hoc (VERDICT r11
    # #2: a burst contained INSIDE a window whose bounding probes read
    # clean passes the sentinel — the stamp pins which queries it hit)
    windows: list[dict] = []  # per-window sentinel stamps for the sidecar
    window_names: list[list[str]] = []
    for i, name in enumerate(HEADLINE):
        if i % PROBE_EVERY == 0:
            p = window_probe(spark)
            windows.append({"at_query": i, **p, "inflation": inflation(p)})
            window_names.append([])
            if windows[-1]["inflation"] > PROBE_INFLATION:
                print(f"# SENTINEL: window at q{i} inflated {windows[-1]['inflation']}x", flush=True)
        e = entries[name]
        loads[name] = round(os.getloadavg()[0], 2)
        timings[name], all_runs[name], n = time_query(e)
        window_names[-1].append(name)
        print(f"# {name}: {timings[name]}s ({n} rows)", flush=True)
    p = window_probe(spark)
    windows.append({"at_query": len(HEADLINE), **p, "inflation": inflation(p)})

    # A window is suspect if EITHER bounding probe inflated past the
    # threshold (a burst can begin or end mid-window).  Rerun suspect
    # windows' queries once the sentinel reads clean again — the committed
    # number must measure the engine, not a transient load burst the
    # start-of-run stamp couldn't see.
    flagged: list[int] = [
        w for w in range(len(window_names))
        if windows[w]["inflation"] > PROBE_INFLATION
        or windows[w + 1]["inflation"] > PROBE_INFLATION
    ]
    reruns: dict[str, dict[str, object]] = {}
    if flagged:
        names = [n for w in flagged for n in window_names[w]]
        print(f"# SENTINEL: re-running {len(names)} queries from inflated windows {flagged}", flush=True)
        for attempt in range(12):
            p = window_probe(spark)
            if inflation(p) <= PROBE_INFLATION:
                break
            print(f"# SENTINEL: still inflated ({inflation(p)}x), waiting", flush=True)
            time.sleep(10)
        clean_at_start = inflation(p) <= PROBE_INFLATION
        for name in names:
            first = timings[name]
            rerun_load = round(os.getloadavg()[0], 2)
            rerun, raw, _ = time_query(entries[name])
            p = window_probe(spark)
            clean = clean_at_start and inflation(p) <= PROBE_INFLATION
            reruns[name] = {"first": first, "rerun": rerun, "rerun_clean": clean}
            if clean:
                timings[name] = rerun
                all_runs[name] = all_runs[name] + raw
                loads[name] = rerun_load
            print(f"# {name}: rerun {rerun}s (first {first}s, clean={clean})", flush=True)

    # Regression diff vs the prior committed detail (same SF only): flag
    # >1.3x movers in either direction so a real regression is visible the
    # round it happens, with noise already filtered by the median.
    regressions: dict[str, dict[str, float]] = {}
    for name, t in timings.items():
        p = prior.get(name)
        if p and p > 0 and (t / p > 1.3 or t / p < 1 / 1.3):
            regressions[name] = {"prior": p, "now": t, "ratio": round(t / p, 2)}
    if prior:
        common = [k for k in timings if k in prior]
        tag = "" if same_host else " [CROSS-HOST — ratios not code-attributable]"
        prior_spin = prior_host.get("spin_ms")
        if prior_spin and host.get("spin_ms"):
            spin_ratio = round(host["spin_ms"] / prior_spin, 2)
            tag += f" [cpu spin {spin_ratio}x prior — per-query ratios near this are host speed, not code]"
        print(
            f"# vs prior detail: {len(common)} common, "
            f"prior sum {round(sum(prior[k] for k in common), 2)}s -> "
            f"now {round(sum(timings[k] for k in common), 2)}s, "
            f"{len(regressions)} movers past 1.3x{tag}",
            flush=True,
        )
        for name, r in sorted(regressions.items(), key=lambda kv: -kv[1]["ratio"]):
            print(f"#   {r['ratio']}x {name}: {r['prior']}s -> {r['now']}s", flush=True)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Per-query detail goes to a sidecar file (and the per-query stderr-style
    # '#' lines above); the FINAL stdout line stays compact (<200 bytes) so
    # the driver's bounded tail capture always parses it. Rounds 2 and 3
    # lost their headline number because the ~80-query dict blew past the
    # capture window.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "timing": "sub2s_median_of_5; over2s_run1_warmup_discarded_median_of_3",
        "contended": contended,
        "host": host,
        "prior_host_same": same_host if prior else None,
        "queries": timings,
        "runs": all_runs,
        "load_1m_at_query": loads,
        "regressions_vs_prior": regressions,
        "sentinel_windows": windows,
        "sentinel_reruns": reruns,
        "sf": sf_val,
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(f"# per-query detail -> {detail_path}", flush=True)
    # The inline `queries` dict is a bounded flagship subset so the final
    # line stays parseable inside the 2000-char tail window; bench_detail.json
    # (committed to the repo) carries the full per-query map.
    inline = {k: timings[k] for k in FLAGSHIP_INLINE if k in timings}
    final_line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "sf": sf_val,
            "n_queries": len(timings),
            "timing": "sub2s_median_of_5; over2s_run1_warmup_discarded_median_of_3",
            "contended": contended,
            "sentinel": {"inflated_windows": len(flagged), "reruns": len(reruns)},
            "host": {
                "cpu": str(host.get("cpu", ""))[:48],
                "cores": host.get("cores"),
                "governor": host.get("governor"),
                "same_as_prior": same_host if prior else None,
            },
            "queries": inline,
        }
    )
    assert len(final_line) < 1800, f"final bench line too long ({len(final_line)}B)"
    print(final_line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
