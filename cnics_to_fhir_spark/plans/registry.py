"""Named-query registry: every operator in SURVEY.md §2 gets an entry here.

Each entry pairs a Spark DataFrame builder with the equivalent ANSI SQL for
the DuckDB oracle (None for genuinely non-SQL-expressible operators, which
the driver checks rows-only). ``__spark_entry__.py`` is a thin adapter over
this registry.

Determinism rules (the oracle compares an order-insensitive value hash):
- alias every computed column identically on both sides;
- round floating aggregates (money → 2 dp) on both sides;
- cast DuckDB integer SUMs to BIGINT (DuckDB widens to HUGEINT, Spark stays
  long);
- never emit a nondeterministically-chosen row (LIMIT without total order,
  first() over duplicate keys, ...);
- integer division of a NEGATIVE numerator: Spark's DIV and DuckDB's //
  both truncate toward zero (C-style) — python's // floors, so pure-python
  test mirrors must use int(a/b)-style truncation (lb03's kappa lesson).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class CatalogEntry:
    name: str
    tags: str  # SURVEY.md §2 operator ids this query exercises
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, CatalogEntry] = {}


def query(name: str, tags: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = CatalogEntry(name=name, tags=tags, spark=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from cnics_to_fhir_spark.sources.tables import read_table

    return read_table(spark, sf_dir, name)


def detach_result(df: DataFrame) -> DataFrame:
    """Pin a fixture-backed result so its scratch files can be deleted:
    eager localCheckpoint materializes the computed partitions into
    executor storage and truncates the lineage, after which the caller's
    ``finally: rmtree(scratch)`` is safe.

    Local-mode assumption (ADVICE r12): localCheckpoint pins blocks in
    EXECUTOR storage with truncated lineage — on a real cluster a lost
    executor makes the result unrecoverable once the scratch files are
    deleted.  Fine for this local[N] harness; a cluster deployment should
    use reliable ``checkpoint()`` (or collect) here instead.

    This replaces the old ``rows = df.collect();
    spark.createDataFrame(rows, schema)`` detach, which serialized every
    row through the driver, re-verified each field in Python
    (types.verify_struct was ~0.3 s for a 16k-row result), and rebuilt a
    LogicalRDD — one distributed job instead, no driver round-trip of the
    payload (guide §5: the driver should do almost no data work)."""
    return df.localCheckpoint(eager=True)


# Curated catalog order. The driver verifies a bounded prefix of the catalog
# (50 entries in rounds 1-2), so the §2-core operators and flagship
# extensions come first; rows-only entries (no DuckDB oracle — xxhash64/
# sketch based, pinned by pytest instead) go last. Entries not named here
# keep their registration order after the prioritized block.
#
# The ordering is presentation, not the verification boundary: every entry
# — prefix or not — is oracle-checked each round by `python selfcheck.py`
# (the FULL catalog, whatever its current size, at sf0.001 AND sf0.01 —
# plus the sf1 probe), so entries outside the
# driver's prefix are locally verified, never silently unchecked.
_PRIORITY: tuple[str, ...] = (
    # --- round-12 rotation (VERDICT r11 #6): CORRECTNESS_r11 went 43+7
    # green, ledger at 230/230 entries ever driver-verified. This prefix
    # holds:
    #   1. the 12-entry §2-core spine (reference-parity verticals +
    #      one representative per §2 family — kept every round),
    #   2. the round-12 NEW entry (ds18) plus the four entries whose
    #      CODE or DEFINITION changed this round and therefore need a
    #      fresh driver record (dd15 sampled eval set, gr02 sampled
    #      graph, st12 batch-transactional consume, ds17 weight
    #      validation),
    #   3. re-verification fillers by staleness (latest driver record,
    #      computed from CORRECTNESS_r01-r11 in-tree): the two r5
    #      holdovers (truncated out of the r11 prefix), then the FULL
    #      r6 block alphabetically — overflow past 50 is harmless (the
    #      driver truncates; what's cut stays listed so the next
    #      rotation starts from it). The rows-only 7 were rotated in
    #      r11 and come back around r13-r14.
    # Every entry — prefix or not — is still oracle-checked each round
    # by `python selfcheck.py` (full catalog, sf0.001 + sf0.01).
    #
    # (1) §2-core spine
    "e2e01_conditions_pipeline",
    "e2e02_observations_pipeline",
    "e2e03_medications_pipeline",
    "e2e04_patients_pipeline",
    "f01_dx_coding_dispatch",
    "f11_lab_value_typing",
    "j01_inner_join_agg",
    "j06_merge_actions",
    "a04b_crosswalk_field_lww",
    "b01_resource_assembly",
    "w01_topn_per_group",
    "st01_stream_batch_equivalence",
    # (2) round-12 newcomer + this round's changed entries
    "ds18_interleave_full_order",
    "dd15_lsh_pr_eval",
    "gr02_pagerank_converged",
    "st12_stream_verified_loader",
    "ds17_interleave_schedule",
    # (3) staleness tail: the r5 holdovers, then the r6 block
    "f04_med_status",
    "st06_stream_restart_equivalence",
    "a06_uniqueness_guard",
    "a07_rollup_counts",
    "a07_rollup_subtotals",
    "a08_percentiles",
    "a08_salted_agg",
    "a09_percentiles",
    "a15_string_agg",
    "a17_histogram",
    "a18_stat_aggregates",
    "a19_grouping_sets",
    "ann07_pq_adc_topk",
    "dd13_containment_pairs",
    "dq01_drift_psi",
    "ds11_length_buckets",
    "e2e08_curation_v3",
    "ev09_zscore_anomaly_days",
    "f23_higher_order_funcs",
    "f24_props_json_extract",
    "gr03_triangle_count",
    "j14_aqe_skew_split",
    "o03_deterministic_sample",
    "p09_pivot_priority",
    "p10_not_in_null_semantics",
    "q08_market_share",
    "q09_product_profit",
    "q11_important_stock",
    "q12_late_shipments",
    "q13_customer_distribution",
    "q16_supplier_count",
    "q20_part_promotion",
    "rj02_interval_overlap_join",
    "st07_stream_incremental_dedup_state",
    "tx09_nb_langid",
    "tx10_bpe_encode",
    "u02_except_intersect",
    "w03_time_range_window",
    "w05_share_of_total",
    "w06_exact_percentiles",
)


def catalog() -> dict[str, CatalogEntry]:
    # Import side-effect modules that populate the registry.
    from cnics_to_fhir_spark.plans import e2e, relational, scale_ops, streaming_eq, transforms  # noqa: F401

    ordered: dict[str, CatalogEntry] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    # remaining oracle-bearing entries keep registration order ...
    for name, entry in _REGISTRY.items():
        if name not in ordered and entry.oracle is not None:
            ordered[name] = entry
    # ... and rows-only entries (pytest-pinned) close the catalog.
    for name, entry in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = entry
    return ordered
