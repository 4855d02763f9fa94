"""Dataset drift detection between two corpus versions (PSI).

A training pipeline re-ingests its sources continuously; before a new
crawl joins the mix you compare its per-feature distributions against the
version the current model was trained on.  The standard monitoring score
is the Population Stability Index: bin the baseline, histogram both sides
on the SAME bins, PSI = Σ (p_i − q_i)·ln(p_i/q_i) (add-one smoothed so
empty bins are defined).  PSI < 0.1 ≈ stable, > 0.25 ≈ retrain-worthy
drift.

Determinism design (tx07's pattern): per-bin PSI terms are computed from
integer counts with two float ops (one division pair, one ln of an
integer-valued product ratio) and quantized to integer micro-units ONCE;
group PSI is then an order-independent integer sum on any engine.

Scale shape: one baseline min/max agg per group (group-keyed, map-side
partials), one (group, bin, side) count agg over a scan-fused bin
expression, a groups×bins spine (tiny cross join) so smoothing sees empty
bins, and a group-keyed final sum.  Nothing is ever keyed by row; state is
O(groups × bins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PSI_BINS = 10
_SHIFT_QUANT = 1_000_000


def psi_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_col: str,
) -> DataFrame:
    """PSI per ``group_col`` between the ``baseline_col``=true rows and the
    rest.  Bins are ``_PSI_BINS`` (10) equal-width slices of the BASELINE's
    [min, max] per group (comparison-side values clamp into the edge
    bins, which is where drift shows up).  → (group, n_base, n_new,
    psi_q) with psi_q in integer micro-units; groups with a degenerate
    baseline (min = max) put everything in bin 0."""
    g, v = F.col(group_col), F.col(value_col)
    base = df.filter(F.col(baseline_col))
    # O(groups) rows, single consumer (the broadcast bin join below) — the
    # min/max pass is one corpus scan, the binning pass the second, and
    # everything after the (grp, b) count agg is array arithmetic INSIDE
    # the group row: the former spine crossJoin + two left joins + totals
    # join (5 sort-merge joins over checkpointed O(groups×bins) frames)
    # collapse into per-group array expressions (guide §2.4 — remove
    # shuffles outright).  Values are identical: the same integer counts
    # feed the same float ops in the same order; only the carrier of the
    # per-bin rows changed (array slots instead of joined rows).
    stats = base.groupBy(group_col).agg(F.min(v).alias("mn"), F.max(v).alias("mx"))
    width = (F.col("mx") - F.col("mn")) / F.lit(_PSI_BINS)
    bin_expr = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(F.lit(_PSI_BINS - 1), F.floor((v - F.col("mn")) / width).cast("int")),
        )
    )
    percell = (
        df.join(F.broadcast(stats), group_col)
        .select(g.alias("grp"), F.col(baseline_col).alias("is_base"), bin_expr.alias("b"))
        .groupBy("grp", "b")
        .agg(
            # explicit NOT (not .otherwise) so a NULL baseline flag counts
            # on NEITHER side — the former per-side filters dropped nulls
            F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("c1"),
            F.sum(F.when(~F.col("is_base"), 1).otherwise(0)).alias("c2"),
        )
    )
    grouped = percell.groupBy("grp").agg(
        F.collect_list(F.struct("b", "c1", "c2")).alias("cells")
    )
    bins = F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))

    def smoothed(field):
        # count of bin i on one side, add-one smoothed (missing bin -> 1),
        # as a long — exactly the former spine left-join + coalesce(c,0)+1
        return lambda i: (
            F.coalesce(
                F.try_element_at(
                    F.filter(F.col("cells"), lambda x: x["b"] == i), F.lit(1)
                )[field],
                F.lit(0).cast("long"),
            )
            + 1
        )

    withp = grouped.select(
        "grp",
        F.transform(bins, smoothed("c1")).alias("p1s"),
        F.transform(bins, smoothed("c2")).alias("p2s"),
    ).select(
        "grp",
        "p1s",
        "p2s",
        F.aggregate(F.col("p1s"), F.lit(0).cast("long"), lambda a, x: a + x).alias("n1"),
        F.aggregate(F.col("p2s"), F.lit(0).cast("long"), lambda a, x: a + x).alias("n2"),
    )

    def tq(p1, p2):
        term = (p1 / F.col("n1") - p2 / F.col("n2")) * (
            F.log(p1 * F.col("n2")) - F.log(p2 * F.col("n1"))
        )
        return F.floor(term * 1e6).cast("long")

    return withp.select(
        F.col("grp").alias(group_col),
        (F.col("n1") - F.lit(_PSI_BINS)).alias("n_base"),
        (F.col("n2") - F.lit(_PSI_BINS)).alias("n_new"),
        F.aggregate(
            F.zip_with(F.col("p1s"), F.col("p2s"), tq),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("psi_q"),
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance per group — PSI's
    bin-free complement (PSI needs a bin count and washes out narrow
    shifts inside a bin; KS is the sup-norm ECDF gap over EVERY observed
    value, the classic two-sample drift test).
    → (group, n_base, n_new, ks_q), ks_q = floor(D · 1e6).

    Determinism: the ECDF gap at each distinct value is the INTEGER
    cross-multiplication |c1·n2 − c2·n1| (no per-value float), the group
    max is an integer max, and the single float op — dividing the winning
    gap by n1·n2 — happens once per group, after the max, then floors to
    micro-units.  Both engines see identical IEEE doubles.

    Scale shape: one (group, value)-keyed count agg (map-side partials),
    one running-sum window over the DISTINCT values of each group (the
    only shuffle whose width is data-dependent — O(distinct values), not
    O(rows)), a broadcast of the O(groups) totals, and a group-keyed max.
    Nothing is ever keyed by row id.

    NULL values carry no ECDF position (and Spark/DuckDB disagree on
    default null ordering: Spark sorts NULLs first ascending, DuckDB
    last), so NULL observations are dropped from both the ECDF and the
    group totals before anything is counted — mirrored in the dq02
    oracle's WHERE."""
    from pyspark.sql.window import Window

    df = df.filter(F.col(value_col).isNotNull())
    counts = df.groupBy(group_col, value_col).agg(
        F.sum(F.when(F.col(baseline_col), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(~F.col(baseline_col), 1).otherwise(0)).alias("c2"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.select(
        group_col,
        F.sum("c1").over(w).alias("a1"),
        F.sum("c2").over(w).alias("a2"),
    )
    tot = df.groupBy(group_col).agg(
        F.sum(F.when(F.col(baseline_col), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~F.col(baseline_col), 1).otherwise(0)).alias("n2"),
    )
    gap = F.abs(F.col("a1") * F.col("n2") - F.col("a2") * F.col("n1"))
    return (
        cum.join(F.broadcast(tot), group_col)
        .groupBy(group_col)
        .agg(
            F.first("n1").alias("n_base"),
            F.first("n2").alias("n_new"),
            F.floor(
                F.max(gap).cast("double")
                / (F.first("n1") * F.first("n2")).cast("double")
                * 1e6
            )
            .cast("long")
            .alias("ks_q"),
        )
        # a one-sided group has no ECDF to compare — drop it rather than
        # emit a NULL/inf score (mirrored in the dq02 oracle's HAVING)
        .filter((F.col("n_base") > 0) & (F.col("n_new") > 0))
    )


def version_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    fingerprint_col: str,
) -> DataFrame:
    """Row-level change classification between two corpus versions — the
    audit a pipeline runs before swapping dataset v(N) for v(N+1): one
    full-outer join on the id, comparing a content fingerprint (hash of
    the text, NOT the text itself).  → (id, action) with action in
    {'added', 'removed', 'changed', 'unchanged'}.

    Scale shape: both sides reduce to (id, fingerprint) BEFORE the join —
    at 100 TB the shuffle carries two ~16-byte columns per row, never the
    documents; the join is a plain id-keyed sort-merge that AQE handles.
    The same classify-by-join shape as the FHIR MERGE
    (operators/merge.py:36), applied to corpus versioning.
    """
    o = old.select(F.col(id_col).alias("__id"), F.col(fingerprint_col).alias("__ofp"))
    n = new.select(F.col(id_col).alias("__id"), F.col(fingerprint_col).alias("__nfp"))
    j = o.join(n, on="__id", how="full_outer")
    action = (
        F.when(F.col("__ofp").isNull(), F.lit("added"))
        .when(F.col("__nfp").isNull(), F.lit("removed"))
        .when(F.col("__ofp") != F.col("__nfp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col("__id").alias(id_col), action.alias("action"))


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier screen: median + MAD (median absolute
    deviation), flagging values with \\|v − median\\| > k·MAD — the
    monitoring-grade twin of the z-score screen (a single wild value
    corrupts a mean/stddev gate; the breakdown point of MAD is 50%).

    Both medians are EXACT lower medians (the ⌈n/2⌉-th order statistic)
    selected by rank, not interpolated — so the result is a value that
    occurs in the data and every engine agrees on it bit-for-bit.

    Scale design: medians come from the VALUE-FREQUENCY HISTOGRAM, never
    a row-level sort.  (1) one (group, value)-keyed count agg collapses
    the corpus to O(groups × distinct values) rows — for quantized
    metrics (money at 2 dp, counts, scores on a grid) that is orders of
    magnitude below row count; (2) a cumulative-count window over the
    small histogram finds the first value whose running count reaches
    (n+1)÷2 (integer arithmetic); (3) the deviation histogram reuses the
    same collapsed table, so the second median costs another
    histogram-sized pass, not a corpus pass.  The corpus is scanned
    exactly once.  For genuinely continuous full-precision values,
    quantize to a grid first (what any 100-TB MAD consumer does anyway)
    or the histogram degenerates to row count.
    """
    from pyspark.sql import Window

    g, v = F.col(group_col), F.col(value_col)
    # The histogram feeds every downstream consumer (totals, both median
    # selections, the outlier count) — unpinned, each consumer re-derives
    # it from the raw table and the corpus is scanned 8×. Pinning the
    # O(groups × distinct values) table caps the corpus at ONE scan
    # (the dq01/psi_drift rule).
    hist = (
        df.select(g.alias("grp"), v.alias("v"))
        .groupBy("grp", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = hist.groupBy("grp").agg(F.sum("c").alias("n"))
    target = F.expr("(n + 1) DIV 2")
    w = Window.partitionBy("grp").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    med = (
        cum.join(tot, "grp")
        .filter(F.col("cum") >= target)
        .groupBy("grp")
        .agg(F.min("v").alias("med"))
    )
    dhist = (
        hist.join(F.broadcast(med), "grp")
        .groupBy("grp", F.abs(F.col("v") - F.col("med")).alias("d"))
        .agg(F.sum("c").alias("c"))
    )
    wd = Window.partitionBy("grp").orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dcum = dhist.withColumn("cum", F.sum("c").over(wd))
    mad = (
        dcum.join(tot, "grp")
        .filter(F.col("cum") >= target)
        .groupBy("grp")
        .agg(F.min("d").alias("mad"))
    )
    from cnics_to_fhir_spark.functions.numeric import stable_round

    return (
        hist.join(F.broadcast(med), "grp")
        .join(F.broadcast(mad), "grp")
        .join(F.broadcast(tot), "grp")
        .groupBy(
            F.col("grp"),
            F.col("n").alias("n_values"),
            stable_round(F.col("med"), 6).alias("median"),
            stable_round(F.col("mad"), 6).alias("mad"),
        )
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("v") - F.col("med")) > F.lit(k) * F.col("mad"), F.col("c")
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
    )


def embedding_mean_shift(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Embedding-space drift between two corpus snapshots: per group, the
    component-wise shift between the mean vector of snapshot A (even ids)
    and snapshot B (odd ids) — the retraining trigger an embedding-backed
    pipeline watches (a centroid that moved means the encoder, the corpus,
    or both changed under the index).
    → (group, n_a, n_b, linf_shift_q, l1_shift_q), shifts in 1/``_SHIFT_QUANT``
    (10⁶) units of embedding magnitude.

    Determinism: each component is quantized to an integer
    floor(x·_SHIFT_QUANT + 0.5) BEFORE any aggregation, so the per-(group, dim)
    sums are exact integers whatever the partition/evaluation order; the
    per-dim mean shift is the integer cross-multiplication
    |sa·cb − sb·ca| with ONE correctly-rounded float division, and the
    L∞/L1 reductions are integer max/sum — both engines agree
    bit-for-bit (the same order-independence trick as psi_drift's
    integer counts and ks_drift's cross-multiplied ECDF gap).

    Scale shape: posexplode fans each row into ``dim`` (pos, component)
    rows — a NARROW 64× expansion feeding one map-side-combinable
    (group, half, pos) sum, so the only shuffle is O(groups × dims) — and
    the final per-group reduction is over ≤ dims rows per group. Nothing
    is ever keyed by row id and no vector rides a shuffle."""
    half = (F.col(id_col) % 2 == 0).alias("is_a")
    comp = df.select(
        F.col(group_col).alias("grp"),
        half,
        F.posexplode(vec_col).alias("pos", "x"),
    ).select(
        "grp",
        "is_a",
        "pos",
        F.floor(F.col("x").cast("double") * _SHIFT_QUANT + F.lit(0.5))
        .cast("long")
        .alias("xq"),
    )
    per_dim = comp.groupBy("grp", "pos").agg(
        F.sum(F.when(F.col("is_a"), F.col("xq")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("is_a"), F.col("xq")).otherwise(0)).alias("sb"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("cb"),
    )
    # Per-dim mean shift |sa/ca − sb/cb| via the integer cross-
    # multiplication |sa·cb − sb·ca| (exact; integer floor/truncating
    # division is NOT used because Spark's DIV truncates toward zero
    # while floor division rounds toward −∞ — they disagree on negative
    # sums) followed by ONE correctly-rounded float division per dim —
    # identical IEEE doubles on both engines (ks_drift's pattern).
    # Long-overflow bound: |sa·cb| ≤ n²·max|x|·_SHIFT_QUANT — fine through ~1e6
    # rows/group at |x| ≤ 4; beyond that, sample per group first.
    shift = F.floor(
        F.abs(F.col("sa") * F.col("cb") - F.col("sb") * F.col("ca")).cast("double")
        / (F.col("ca") * F.col("cb")).cast("double")
    ).cast("long")
    return (
        per_dim.filter((F.col("ca") > 0) & (F.col("cb") > 0))
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.first("ca").alias("n_a"),
            F.first("cb").alias("n_b"),
            F.max(shift).alias("linf_shift_q"),
            F.sum(shift).alias("l1_shift_q"),
        )
    )
