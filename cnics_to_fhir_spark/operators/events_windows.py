"""Event-stream analytics over the ``events`` table.

Batch forms of the streaming operators (streaming/ wraps the same
expressions under readStream): tumbling windows via ``F.window`` and
sessionization via the lag-gap-cumsum pattern — both shuffle once on the
grouping key and survive scale-up unchanged (watermarks bound state in the
streaming variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cnics_to_fhir_spark.functions.numeric import stable_round


def tumbling_window_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event_type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Assign session ids per user: a new session starts when the gap from
    the previous event exceeds ``gap_minutes``. lag + cumsum over a window —
    one shuffle on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn(
        "session_seq", F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    s = sessionize(events, gap_minutes)
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias("duration_sec"),
        )
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """Sliding-window counts/sums per event_type over 1-hour windows every
    30 minutes: each event lands in 2 overlapping windows (F.window
    replicates it into each).  Same single shuffle as the tumbling form,
    with a width/slide row amplification before it — the standard sliding
    trade."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def gap_filled_hourly(events: DataFrame, value_col: str = "value") -> DataFrame:
    """Hourly rollup with gap fill: every (hour, event_type) cell between
    the corpus min and max hour exists in the output, zero-filled when no
    event landed in it — the time-spine pattern behind hypertable rollups
    and training-telemetry dashboards.

    Scale shape: the fact table aggregates once on (hour, type); the spine
    is sequence(min_hour, max_hour) × distinct(type) — two tiny aggregate
    results combined driver-free, so the cross product is O(hours × types)
    rows, never O(events). The final left join broadcasts the dense rollup
    only if small; the spine side is always the small build side.
    """
    hour = F.date_trunc("hour", F.col("ts"))
    dense = (
        events.groupBy(hour.alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(value_col).alias("sv"))
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h")
    )
    types = events.select("event_type").distinct()
    spine = hours.crossJoin(types)
    return (
        spine.join(dense, ["h", "event_type"], "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            stable_round(F.coalesce("sv", F.lit(0.0)), 2).alias("total_value"),
        )
    )


def zscore_anomaly_days(events: DataFrame) -> DataFrame:
    """Per-user anomalous activity days: each (user, day) event count is
    z-scored against the USER'S OWN daily distribution; days with
    |z| ≥ 2 flag (the windowed outlier-detection op every event
    pipeline runs before trusting volume-derived features).

    Determinism design: the per-user moments are EXACT INTEGER sums
    (S1 = Σn, S2 = Σn², cnt) — order-independent on any engine — and the
    float chain (mean, sample variance via S2 − S1²/cnt, z) evaluates
    the identical expression from those integers on both sides, so the
    doubles agree to the last ulp and the rounded-grid threshold compare
    cannot flip.  Users with zero variance produce no rows (no
    distribution to deviate from).

    Scale: one (user, day)-keyed count, one user-keyed moment agg (both
    map-side partial), one broadcast-size join back — nothing holds more
    than O(users) state."""
    daily = (
        events.select("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mom = daily.groupBy("user_id").agg(
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
        F.count(F.lit(1)).alias("cnt"),
    ).filter(F.col("cnt") > 1)
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("cnt")) / (F.col("cnt") - 1)
    z = (F.col("n") - F.col("s1") / F.col("cnt")) / F.sqrt(var)
    return (
        daily.join(mom, "user_id")
        .filter(var > 0)
        .select(
            "user_id",
            "day",
            F.col("n").alias("n_events"),
            stable_round(z, 4).alias("z"),
        )
        .filter(F.abs(F.col("z")) >= 2.0)
    )


def ewma_daily_counts(
    events: DataFrame, n_lags: int = 8
) -> DataFrame:
    """Exponentially-weighted moving average (α = 1/2) of each user's
    daily event count — the trend-smoothing feature every activity model
    wants, in a form that is EXACT on any engine.

    The textbook recursion s_t = α·x_t + (1−α)·s_{t−1} is a sequential
    float chain (order-dependent rounding, and unexpressible without a
    serial scan).  This computes the TRUNCATED equivalent over the last
    ``n_lags`` observed days: with α = 1/2 the weights are dyadic
    (w_j = 2^{−(j+1)}), so scaling by 2^{n_lags} turns both the weighted
    sum and the weight total into exact INTEGER window sums — the only
    float op is one final correctly-rounded division, identical on every
    IEEE engine.  Weights renormalize over the lags that exist, so early
    rows are averages over their real history, not zero-padded.

    Scale: one (user, day)-keyed count agg (map-side partial), then ONE
    user-keyed window with a constant number (``n_lags``) of lag taps —
    O(1) state per row, no self-join, no range frame.  Survives 100 TB as
    exactly two shuffles."""
    if not (1 <= n_lags <= 20):
        raise ValueError("n_lags must be in [1, 20]")
    daily = (
        events.select("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    # integer weight for lag j: 2^(n_lags-1-j)  (α=1/2 geometric, scaled 2^n_lags)
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for j in range(n_lags):
        tap = F.lag(F.col("n"), j).over(w)
        weight = 1 << (n_lags - 1 - j)
        num = num + F.coalesce(tap, F.lit(0)).cast("long") * F.lit(weight)
        den = den + F.when(tap.isNotNull(), F.lit(weight)).otherwise(F.lit(0)).cast("long")
    return daily.select(
        "user_id",
        "day",
        F.col("n").alias("n_events"),
        stable_round(num.cast("double") / den.cast("double"), 6).alias("ewma"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix — the activation/churn table every product
    and engagement pipeline reports: users grouped by their FIRST-active
    period (the cohort), each later period measuring how many came back.

    Period indexing is pure integer arithmetic off the fixed epoch
    2024-01-01 (days-since-epoch DIV period_days), not calendar
    truncation — ISO-week vs locale-week and timezone-truncation
    differences between engines can't touch it, and the retention rate
    quantizes to micro-units via exact DIV.  The offset-0 row IS the
    cohort (rate = 10⁶ exactly).

    Scale shape: one (user, period) DISTINCT (map-side combinable), one
    user-keyed min for the cohort, one user-keyed join back (the only
    corpus-sized shuffle), one (cohort, offset) count-distinct, and an
    O(cohorts) size table broadcast onto the O(cohorts × offsets) matrix.
    No windows, no driver state.

    Output: (cohort_period, offset_periods, n_active, cohort_size,
    retention_rate_q)."""
    if period_days < 1:
        raise ValueError(f"period_days must be >= 1, got {period_days}")
    period = F.expr(
        f"CAST(datediff(CAST({ts_col} AS DATE), DATE'2024-01-01') DIV {period_days}"
        " AS BIGINT)"
    )
    act = events.select(
        F.col(user_col).alias("u"), period.alias("w")
    ).distinct()
    first = act.groupBy("u").agg(F.min("w").alias("cw"))
    ret = (
        act.join(first, "u")
        .groupBy(F.col("cw").alias("cohort_period"), (F.col("w") - F.col("cw")).alias("offset_periods"))
        .agg(F.countDistinct("u").cast("long").alias("n_active"))
    )
    sizes = first.groupBy(F.col("cw").alias("cohort_period")).agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return ret.join(F.broadcast(sizes), "cohort_period").select(
        "cohort_period",
        "offset_periods",
        "n_active",
        "cohort_size",
        F.expr("CAST(n_active * 1000000 DIV cohort_size AS BIGINT)").alias(
            "retention_rate_q"
        ),
    )
