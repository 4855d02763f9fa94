"""Reconciliation engine — snapshot diff → action plan (J5-J7, A5, A6).

The reference reconciles per patient, per resource type, with Python loops
over FHIR GET responses (cnics_to_fhir.py:548-570 conditions, :645-666 meds,
:728-750 labs, :328-337 patient anti-join delete). Net semantics per business
key (only ``identifier[0].value`` is compared — :556, :652, :736):

  key in current  ∧ key in existing → update  (PUT  /{type}/{id})
  key in current  ∧ key ∉ existing  → insert  (POST /{type})
  key ∉ current   ∧ key in existing → delete  (DELETE /{type}/{id})

That is exactly ONE full-outer join — the engine's central IR. A FHIR job
runs one for all its sites and resource types, keyed on (resource_type,
site, key). Everything upstream (extract + transform + assembly) and
downstream (the HTTP writer) hangs off this plan DataFrame, which makes the
whole pipeline testable without a FHIR server and lets the same code run under
``foreachBatch`` for incremental mode (SURVEY.md §2.10). The copy-on-write
sinks (load/table_merge, load/versioned_table, load/corpus_export) apply a
plan through ``apply_merge``.

Scale design: both sides are pre-aggregated to one row per key BEFORE the
join (the reference's loop takes the first key match then breaks — :552-560;
we take a deterministic min per key), so the full-outer shuffle is on a
deduplicated high-cardinality key — no skew amplification, map-side partial
aggregation, and AQE picks the join strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ACTION_INSERT = "insert"
ACTION_UPDATE = "update"
ACTION_DELETE = "delete"
ACTIONS = (ACTION_INSERT, ACTION_UPDATE, ACTION_DELETE)


def merge_plan(
    current: DataFrame,
    existing: DataFrame,
    keys: list[str] | None = None,
    existing_id: str = "id",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Classify every business key into insert/update/delete.

    ``keys``     — the columns that together form the business key
                   (default ``["key"]``); a row matches only when every
                   one is equal and non-NULL.
    ``current``  — freshly-extracted target state; ≥1 row per key;
                   payload columns are carried through to the writer.
    ``existing`` — store snapshot with the ``keys`` and ``existing_id``.

    Returns: the keys, action, id (NULL for insert), payload cols (NULL for
    delete). Duplicate keys on either side collapse to one action row,
    matching the reference's first-match-then-break loop
    (cnics_to_fhir.py:552-560). The reference's "first" is MySQL natural
    order — nondeterministic — so the engine pins an explicit total order
    instead: the per-key MINIMUM of the payload struct (field-by-field
    lexicographic). ``F.first`` in a groupBy would be partition-order
    dependent; min-over-struct is stable under any partitioning and
    shuffles exactly the same bytes.

    NULL handling: Spark's struct comparison sorts NULL fields FIRST while
    DuckDB's ``min(row(...))``/ORDER BY defaults put them last, so a bare
    struct-min would not be oracle-replayable for nullable payloads. Each
    payload field is therefore preceded by an ``isnull`` flag in the
    comparison struct (false < true), which pins NULLS-LAST per field on
    both engines — replay with ``min(row(...))`` over the same
    (c IS NULL, c) interleaving, or arg-min with ``ORDER BY c NULLS LAST``.
    """
    keys = keys or ["key"]
    payload_cols = payload_cols or [c for c in current.columns if c not in keys]

    cmp_fields = []
    for i, c in enumerate(payload_cols):
        cmp_fields.append(F.col(c).isNull().alias(f"n{i}"))
        cmp_fields.append(F.col(c).alias(f"v{i}"))
    cur = (
        current.groupBy(*keys)
        .agg(F.min(F.struct(*cmp_fields)).alias("__p"))
        .select(
            *keys,
            *[F.col(f"__p.v{i}").alias(c) for i, c in enumerate(payload_cols)],
        )
        .withColumn("__in_current", F.lit(True))
    )
    exi = (
        existing.groupBy(*keys)
        .agg(F.min(existing_id).alias("__existing_id"))
        .withColumn("__in_existing", F.lit(True))
    )

    joined = cur.join(exi, on=keys, how="full_outer")
    action = (
        F.when(
            F.coalesce(joined["__in_current"], F.lit(False))
            & F.coalesce(joined["__in_existing"], F.lit(False)),
            F.lit(ACTION_UPDATE),
        )
        .when(F.coalesce(joined["__in_current"], F.lit(False)), F.lit(ACTION_INSERT))
        .otherwise(F.lit(ACTION_DELETE))
    )
    return joined.select(
        *keys,
        action.alias("action"),
        F.col("__existing_id").alias("id"),
        *[F.col(c) for c in payload_cols],
    )


def apply_merge(
    plan: DataFrame,
    existing: DataFrame,
    keys: list[str],
    action_col: str = "action",
    unique_keys: bool = False,
) -> tuple[DataFrame, dict[str, int]]:
    """Apply an action plan to a copy-on-write target's existing rows — the
    step every table/export sink shares after ``merge_plan``.

    ``existing`` holds the target rows the plan can touch, already projected
    to the columns the sink writes; ``plan`` carries those columns plus
    ``action_col``.  Each plan row is flagged by NULL-SAFE presence of its
    ``keys`` in ``existing`` (rows in a NULL partition must match their
    stored counterparts).  ``unique_keys=True`` states that the caller has
    already checked ``existing`` holds each key once, which drops the dedup
    aggregation (one shuffle stage) from the presence probe.  The flagged
    plan is frozen with one eager ``localCheckpoint``; the label check and
    the (action, present) tally ride that job as an Observation, so the
    step adds no job of its own.

    Raises ValueError, before the caller writes anything, on an unknown
    label or on an INSERT of a key already present (survivors keep it, so
    the key would be duplicated).  Returns the target's new rows — existing
    rows no update/delete touches, plus inserts and updates of present
    keys — and the counts {inserted, updated, deleted, noop_missing_key}:
    an update or delete of an absent key is a reported no-op, never
    invented or silently dropped.
    """
    from functools import reduce

    from pyspark.sql import Observation

    act = F.col(action_col)
    probe = [f"__k{i}" for i in range(len(keys))]
    on = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(p)) for k, p in zip(keys, probe)],
    )

    def probe_keys(df: DataFrame) -> DataFrame:
        return df.select(*[F.col(k).alias(p) for k, p in zip(keys, probe)])

    present = probe_keys(existing)
    if not unique_keys:
        present = present.distinct()
    known = F.coalesce(act.isin(*ACTIONS), F.lit(False))
    metrics = [
        F.collect_set(F.when(~known, F.coalesce(act, F.lit("NULL")))).alias("bad")
    ] + [
        F.count(F.when((act == a) & (F.col("__present") == p), F.lit(1))).alias(
            f"{a}_{p}"
        )
        for a in ACTIONS
        for p in (True, False)
    ]
    obs = Observation()
    flagged = (
        plan.join(present.withColumn("__present", F.lit(True)), on=on, how="left")
        .drop(*probe)
        .withColumn("__present", F.coalesce(F.col("__present"), F.lit(False)))
        .observe(obs, *metrics)
        .localCheckpoint(eager=True)
    )
    got = obs.get  # blocks on the checkpoint job above
    if got["bad"]:
        raise ValueError(f"unknown {action_col} labels {sorted(got['bad'])!r}")
    if got[f"{ACTION_INSERT}_True"]:
        raise ValueError(
            f"{got[f'{ACTION_INSERT}_True']} insert(s) of keys already present "
            "in the target — duplicating a key would corrupt it; send them "
            "as updates"
        )
    counts = {
        "inserted": got[f"{ACTION_INSERT}_False"],
        "updated": got[f"{ACTION_UPDATE}_True"],
        "deleted": got[f"{ACTION_DELETE}_True"],
        "noop_missing_key": got[f"{ACTION_UPDATE}_False"]
        + got[f"{ACTION_DELETE}_False"],
    }

    touched = probe_keys(flagged.filter(act.isin(ACTION_UPDATE, ACTION_DELETE)))
    survivors = existing.join(touched, on=on, how="left_anti")
    incoming = flagged.filter(
        (act == ACTION_INSERT) | ((act == ACTION_UPDATE) & F.col("__present"))
    ).select(*existing.columns)
    return survivors.unionByName(incoming), counts


def scd2_merge(
    current: DataFrame,
    history: DataFrame,
    key: str,
    payload_cols: list[str],
    batch_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: snapshot → versioned history.

    The reference's reconciliation (merge_plan above) overwrites state; SCD2
    is its audit-keeping extension — instead of updating in place, a changed
    key CLOSES its open row (``valid_to`` = batch_ts) and opens a new one,
    so every past state stays queryable AS OF any time.

    Per key (open row = ``valid_to IS NULL``):
      absent from history              → new open row   [insert]
      open row, any payload col differs→ close old + new open row [change]
      open row, payload identical      → keep open row untouched
      open row, key absent from current→ close row      [soft delete]
    Closed history rows pass through unchanged.

    One full-outer shuffle on the key (open side vs current); each joined
    row emits ≤2 output rows via an exploded struct array — no second join,
    no window. Change detection is column-wise null-safe equality (NOT a
    hash), so it is engine-portable and the DuckDB oracle can replay it.
    """
    fro, to = valid_from, valid_to
    open_rows = history.filter(F.col(to).isNull())
    closed_rows = history.filter(F.col(to).isNotNull())

    cur = current.select(F.col(key), *[F.col(c).alias(f"__c_{c}") for c in payload_cols])
    old = open_rows.select(
        F.col(key),
        F.col(fro).alias("__o_from"),
        *[F.col(c).alias(f"__o_{c}") for c in payload_cols],
    )
    j = old.withColumn("__in_old", F.lit(True)).join(
        cur.withColumn("__in_cur", F.lit(True)), on=key, how="full_outer"
    )
    in_old = F.coalesce(F.col("__in_old"), F.lit(False))
    in_cur = F.coalesce(F.col("__in_cur"), F.lit(False))
    unchanged = F.lit(True)
    for c in payload_cols:
        unchanged = unchanged & F.col(f"__o_{c}").eqNullSafe(F.col(f"__c_{c}"))

    def row(src_prefix: str, from_col, to_col) -> F.Column:
        return F.struct(
            *[F.col(f"{src_prefix}{c}").alias(c) for c in payload_cols],
            from_col.alias(fro),
            to_col.alias(to),
        )

    ts = F.lit(batch_ts)
    null_ts = F.lit(None).cast("string")
    emitted = (
        F.when(in_old & in_cur & unchanged, F.array(row("__o_", F.col("__o_from"), null_ts)))
        .when(
            in_old & in_cur,  # changed: close the old row, open the new one
            F.array(row("__o_", F.col("__o_from"), ts), row("__c_", ts, null_ts)),
        )
        .when(in_old, F.array(row("__o_", F.col("__o_from"), ts)))  # soft delete
        .otherwise(F.array(row("__c_", ts, null_ts)))  # brand-new key
    )
    merged = j.select(F.col(key), F.explode(emitted).alias("__r")).select(
        key, *[F.col(f"__r.{c}") for c in payload_cols], f"__r.{fro}", f"__r.{to}"
    )
    return closed_rows.select(key, *payload_cols, fro, to).unionByName(merged)


def anti_join_deletes(existing: DataFrame, current: DataFrame, key: str = "key") -> DataFrame:
    """J5 — site-level patient delete: existing keys absent from the current
    extract (cnics_to_fhir.py:328-337). left_anti keeps the plan broadcast-
    able when ``current`` is the small side."""
    return existing.join(current.select(key).distinct(), on=key, how="left_anti")


def action_counts(plan: DataFrame, resource_type_col: str | None = None) -> DataFrame:
    """A5 — the reference's 12 insert/update/delete counters
    (cnics_to_fhir.py:309-320, :914-925) as one aggregation over the plan."""
    keys = ([resource_type_col] if resource_type_col else []) + ["action"]
    return plan.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def assert_unique_keys(df: DataFrame, key: str) -> DataFrame:
    """A6 — duplicate-identifier guard (cnics_to_fhir.py:359, :906-908):
    returns offending keys; callers raise if non-empty."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
