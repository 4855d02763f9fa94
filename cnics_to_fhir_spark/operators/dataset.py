"""Training-dataset assembly operators: sequence packing, stratified
sampling and epoch mixtures (dataset mixing), and deterministic global
shuffle.

These are the last-mile ops of an LLM data pipeline, downstream of dedup /
quality filtering (operators/dedup.py, operators/textanalysis.py): decide
what fraction of each stratum enters the mix, pack documents into fixed
token-budget context windows, and give the corpus a reproducible random
order for training.

Scale design (100 TB):
- Sampling is a pure per-row filter on an md5 bucket — no shuffle, pushes
  down to the scan, and is deterministic across engines and reruns (unlike
  ``df.sample``, whose output depends on partitioning).
- Packing shuffles once on the shard key and runs per-shard; shards are the
  unit of parallelism exactly as in real pretraining pipelines (each output
  shard is packed independently). Chunked packing stays fully native
  (window cumsum inside codegen); exact greedy packing is the one
  genuinely sequential recurrence here, so it uses Arrow-batched
  ``applyInPandas`` per shard — never a driver-side loop.
- Mixtures replicate or drop rows per document with one epoch step
  (``_explode_epochs``): ``epoch_upsample`` feeds it an explicit weight
  recipe as a literal CASE, ``temperature_mixture`` feeds it τ=2 weights
  computed in the plan from the source counts — no driver collect.
- The shuffle materializes (bucket, rank-in-bucket) rather than a global
  row_number: a single total-order window would serialize onto one task,
  while 256 md5 buckets ≡ range partitions that sort in parallel; global
  order is (bucket, rank) lexicographically.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cnics_to_fhir_spark.operators.textanalysis import token_count
from cnics_to_fhir_spark.session import overlap


def _md5_prefix(col, n: int):
    return F.substring(F.md5(col.cast("string")), 1, n)


def stratified_sample(
    df: DataFrame, rates: dict[str, str], strata_col: str, key_col: str, default_rate: str = "00"
) -> DataFrame:
    """Deterministic per-stratum sampling for dataset mixing.

    ``rates`` maps a stratum value to a 2-hex-digit threshold: a row is kept
    iff the first two hex chars of ``md5(key)`` sort before the threshold,
    so ``"80"`` ≈ 50 %, ``"40"`` ≈ 25 %. Lowercase-hex lexicographic order
    equals numeric order, which keeps the predicate engine-portable (no
    hex→int conversion on either side).
    """
    bucket = _md5_prefix(F.col(key_col), 2)
    thresh = F.lit(default_rate)
    for stratum, rate in rates.items():
        thresh = F.when(F.col(strata_col) == stratum, F.lit(rate)).otherwise(thresh)
    return df.filter(bucket < thresh)


def pack_chunked(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "lang",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Concat-and-chunk packing (GPT-style): within each shard, documents in
    ``id_col`` order form one virtual token stream split every ``budget``
    tokens. Emits the bin each document *starts* in and its offset there.
    One shuffle (on the shard key); the cumsum window is codegen-native.
    ``extra_cols`` pass through unchanged.
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tok = token_count(F.col(text_col))
    prec = F.coalesce(F.sum(tok).over(w), F.lit(0)).cast("long")
    return df.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col).alias("doc_id"),
        tok.cast("long").alias("tok"),
        F.floor(prec / budget).alias("bin_id"),
        (prec % budget).alias("bin_offset"),
        *[F.col(c) for c in extra_cols],
    )


def curate_corpus(
    df: DataFrame,
    budget: int = 256,
    quality_min: float = 0.65,
    rates: dict[str, str] | None = None,
    default_rate: str = "20",
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "lang",
) -> DataFrame:
    """End-to-end corpus curation in ONE DataFrame DAG: exact dedup (keep
    the lowest id per normalized-text fingerprint) → quality gate →
    stratified language mixing → chunked sequence packing.

    Shuffle budget: one hash partition on the fingerprint (dedup window) and
    one on the shard key (packing window); the quality gate and the sampler
    are pure filters fused into the scan side of the first exchange.
    """
    from cnics_to_fhir_spark.operators.textanalysis import fingerprint, quality_score

    if rates is None:
        rates = {"en": "80", "de": "40"}
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    kept = (
        df.select(
            F.col(shard_col),
            F.col(id_col),
            F.col(text_col),
            fingerprint(F.col(text_col)).alias("fingerprint"),
            quality_score(F.col(text_col)).alias("quality"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("quality") >= quality_min))
    )
    kept = stratified_sample(kept, rates, shard_col, id_col, default_rate)
    return pack_chunked(
        kept, budget, text_col=text_col, id_col=id_col, shard_col=shard_col,
        extra_cols=("quality",),
    )


def pack_greedy(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "lang",
) -> DataFrame:
    """Exact greedy sequential packing: within each shard (in ``id_col``
    order) a document joins the current bin iff it fits, else opens a new
    one; an oversize document gets a bin to itself. The fill-level reset
    makes this a true sequential recurrence — not expressible as a window
    cumsum — so it runs as Arrow-batched ``applyInPandas`` per shard, the
    same per-shard parallelism as :func:`pack_chunked`.
    """
    prepared = df.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).cast("long").alias("tok"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fills = [], []
        bin_id, fill = -1, 0
        first = True
        for tok in pdf["tok"]:
            if first or fill + tok > budget:
                bin_id += 1
                fill = tok
                first = False
            else:
                fill += tok
            bins.append(bin_id)
            fills.append(fill)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        pdf["bin_fill"] = pd.Series(fills, dtype="int64")
        return pdf

    return prepared.groupBy("shard").applyInPandas(
        pack, schema="shard string, doc_id long, tok long, bin_id long, bin_fill long"
    )


def chunk_sliding(
    df: DataFrame,
    size: int,
    overlap: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking (RAG-style): chunk *i* covers
    tokens [i·stride, i·stride + size), stride = size − overlap, so
    consecutive chunks share ``overlap`` tokens and every token is covered.

    Pure per-row explode — no shuffle, no UDF: the token array splits once,
    the chunk count is exact integer arithmetic ((n − size + stride − 1)
    div stride + 1, never float ceil, so the SQL oracle agrees on every
    boundary), and each chunk is an array_join of a slice. An empty
    document yields one empty chunk. Output amplification is
    size/stride ≈ 1/(1−overlap/size) — bounded and known up front, which
    is what lets the downstream packing stage size its shuffle.
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    toks = F.split(F.col(text_col), " ")
    n = token_count(F.col(text_col)).cast("long")
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            toks.alias("__toks"),
            n.alias("__n"),
        )
        .withColumn(
            "__n_chunks",
            F.when(F.col("__n") <= size, F.lit(1).cast("long")).otherwise(
                F.expr(f"(__n - {size} + {stride - 1}) div {stride} + 1")
            ),
        )
        .select(
            "doc_id",
            "__toks",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n_chunks") - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.slice(F.col("__toks"), (F.col("chunk_id") * stride + 1).cast("int"), size).alias("__c"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("__c").cast("long").alias("chunk_tokens"),
            F.array_join("__c", " ").alias("chunk_text"),
        )
    )


def weighted_priority_sample(
    df: DataFrame,
    k: int,
    weight: "F.Column | None" = None,
    key_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic weighted bottom-k sample (priority sampling).

    Each row gets an integer priority ``(hash32 * scale) div weight`` where
    ``hash32`` is the first 8 hex chars of ``md5(key)`` as an integer —
    a fixed uniform draw in [0, 2^32). Dividing by the weight shrinks the
    priority of heavy rows, so the global bottom-k by (priority, key) is a
    weighted-without-replacement sample that is reproducible across reruns,
    partitionings, and engines (pure integer arithmetic end to end — no
    float rounding to diverge between Spark and the SQL oracle).

    Scale shape: priorities are per-row scan expressions; the bottom-k is
    TakeOrderedAndProject — per-partition top-k heaps merged on the driver,
    never a global sort. With hash32 < 2^32 and scale = 1e6 the product
    stays < 2^52, well inside BIGINT.

    ``weight`` defaults to the document's token count (longer docs more
    likely sampled — the usual token-budget-proportional corpus draw).
    """
    w = token_count(F.col("text")) if weight is None else weight
    hash32 = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("long")
    prepared = df.select(
        "*",
        F.greatest(w.cast("long"), F.lit(1)).alias("weight"),
        hash32.alias("__h32"),
    )
    # integer `div` keeps both engines exact; `/` would widen to double.
    prepared = prepared.select(
        "*", F.expr(f"(__h32 * {scale}) div weight").alias("priority")
    )
    return prepared.orderBy("priority", key_col).limit(k).drop("__h32")


def deterministic_shuffle(df: DataFrame, key_col: str, n_hex: int = 2) -> DataFrame:
    """Reproducible pseudo-random training order: ``bucket`` = first
    ``n_hex`` md5 hex chars of the key (256 range partitions at the
    default), ``rank`` = position within the bucket by full md5 (key as
    tiebreak). Global order is (bucket, rank); each bucket sorts in
    parallel — no single-task total-order window.
    """
    h = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy("bucket").orderBy("h", key_col)
    return (
        df.withColumn("h", h)
        .withColumn("bucket", F.substring(F.col("h"), 1, n_hex))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .drop("h")
    )


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment: ``bucket`` = engine-portable
    60-bit md5 hash of the key, mod 100; train < train_pct ≤ val <
    train_pct+val_pct ≤ test. Pure per-row arithmetic — no shuffle, no
    sampling state, stable across reruns/engines/partitionings, and any
    future doc keeps landing in the same split (the property leakage-safe
    eval demands). Input columns pass through; ``bucket``/``split`` append. DuckDB mirror of the hash:
    ``CAST(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 15)) AS UBIGINT)``."""
    from cnics_to_fhir_spark.operators.dedup import portable_hash

    bucket = portable_hash(F.col(key_col).cast("string")) % 100
    return df.select(
        "*",
        bucket.cast("long").alias("bucket"),
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def _explode_epochs(df: DataFrame, weight: Column, key_col: str) -> DataFrame:
    """The per-doc epoch step both mixtures share: ``weight`` is in
    integer HUNDREDTHS of an epoch (250 ⇒ 2.5 epochs). The fractional
    epoch is decided per row by the engine-portable 60-bit md5 hash:
    ``n = w div 100 + (hash(key) mod 100 < w mod 100)``, so the step is
    exact integer arithmetic — deterministic across reruns, partitionings
    and engines, and a given doc always gets the same epoch count. Rows
    explode over ``sequence(1, n)``; n = 0 drops the row. Appends
    (n_epochs, epoch), one row per (doc, epoch)."""
    from cnics_to_fhir_spark.operators.dedup import portable_hash

    frac_hit = (portable_hash(F.col(key_col).cast("string")) % 100) < (weight % 100)
    n = (weight.cast("long") / F.lit(100)).cast("long") + frac_hit.cast("long")
    return (
        df.select("*", n.alias("n_epochs"))
        .filter(F.col("n_epochs") > 0)
        .select(
            "*", F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_epochs"))).alias("epoch")
        )
    )


def epoch_upsample(
    df: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    key_col: str = "doc_id",
    default_weight: int = 100,
) -> DataFrame:
    """Source-weighted mixture with epochs: replicate each document
    ``weight/100`` times (weights are integer HUNDREDTHS — 250 ⇒ 2.5
    epochs), the standard upsampling step when a mixture recipe weights a
    small high-quality source above 1.0 epoch (and downsamples others
    below it). A weight below 100 can drop a row entirely, which makes
    this the one mixture op covering both up- AND down-sampling.

    Scale shape: pure per-row scan arithmetic + explode (``_explode_epochs``)
    — NO shuffle, no collected state; the weights map is a literal CASE in
    the plan. Output: input columns + (n_epochs, epoch)."""
    w = F.lit(default_weight)
    for src, wt in weights.items():
        w = F.when(F.col(source_col) == src, F.lit(int(wt))).otherwise(w)
    return _explode_epochs(df, w, key_col)


def temperature_mixture(
    df: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Mixture weights from the data itself: temperature sampling at
    τ = 2.  Moving the sampling distribution from p_s ∝ n_s to
    q_s ∝ n_s^(1/τ) means each doc of source s is seen q_s/p_s ∝
    n_s^(1/τ−1) = sqrt(n_max/n_s) times (normalized so the LARGEST
    source stays at 1.0 epoch) — the mT5/XLM-R recipe that upsamples
    small sources toward balance.  w_s = floor(100 · sqrt(n_max/n_s)) in
    integer hundredths; sqrt is IEEE correctly-rounded in every engine,
    so the quantized weights are bit-identical wherever they're computed
    — no float-divergence risk (unlike a general pow).  On equal-sized
    sources this is a no-op (all weights = 100).

    The weight table never rides the driver: the counts, n_max and w_s
    stay in the plan and reach each doc through a (source)-keyed join, so
    source cardinality is unbounded (per-domain or per-URL-prefix mixing).
    The n_max scalar broadcasts (one row); the weight join is left to AQE,
    which broadcasts it while it fits and shuffle-joins past that.

    Scale shape: one (source)-keyed count, one scalar max, one keyed join,
    then ``_explode_epochs``' shuffle-free integer arithmetic.
    Output: input columns + (n_epochs, epoch), exactly like
    ``epoch_upsample``."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    mx = counts.agg(F.max("__n").alias("__n_max"))
    w = counts.crossJoin(F.broadcast(mx)).select(
        source_col,
        F.floor(F.lit(100) * F.sqrt(F.col("__n_max").cast("double") / F.col("__n")))
        .cast("long")
        .alias("__wt"),
    )
    joined = df.join(w, source_col).select(*df.columns, "__wt")
    return _explode_epochs(joined, F.col("__wt"), key_col).drop("__wt")


# ---------------------------------------------------------------------------
# Exact global rank / NTILE without a single-partition window
# ---------------------------------------------------------------------------

def global_rank(
    df: DataFrame, order_cols: list[str], npartitions: int | None = None
) -> tuple[DataFrame, int]:
    """Exact global row_number over ``order_cols`` — WITHOUT the
    single-partition window Spark would plan for ``row_number() OVER
    (ORDER BY ...)`` (a serial sort of the whole corpus on one task,
    the canonical scale-killer).

    Two-pass range-partitioned rank: (1) ``repartitionByRange`` on the
    order key gives non-overlapping sorted ranges in partition-id order
    (pinned with localCheckpoint — swap for reliable checkpoint on a real
    cluster, same note as dd06); (2) per-partition counts round-trip the
    driver (npartitions rows, bounded) to become prefix offsets, and a
    per-PARTITION row_number plus the offset is the exact global rank.
    Every stage is parallel; ``order_cols`` must be a total order (include
    a unique id) for a deterministic result.  → (df + ``__rank``, total).
    """
    spark = df.sparkSession
    n = npartitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = [F.col(c) for c in order_cols]
    r = (
        df.repartitionByRange(n, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        row["__pid"]: row["cnt"]
        for row in r.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not counts:
        return r.drop("__pid").withColumn("__rank", F.lit(0).cast("long")), 0
    off_expr = F.create_map(
        *[x for pid in sorted(offsets) for x in (F.lit(pid), F.lit(offsets[pid]))]
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    ranked = r.withColumn(
        "__rank",
        F.row_number().over(w).cast("long") + off_expr[F.col("__pid")].cast("long"),
    )
    return ranked.drop("__pid"), acc


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    pcts: list[int],
    npartitions: int | None = None,
) -> DataFrame:
    """EXACT weighted percentiles of ``value_col`` under integer weights —
    the quantile a quality-weighted data-mixing policy actually needs
    (each row counts ``weight`` times; sampling temperature / dedup
    multiplicity / token counts are all weights).  → (pct, value) rows.

    Definition: the p-th weighted percentile is the smallest value v with
    cumulative weight ≥ ceil(p·W/100), W = total weight — integer ceil
    arithmetic ((p·W + 99) // 100), never a float threshold.

    Scale shape (the same two-pass trick as ``global_rank``, applied to
    weight sums): (1) collapse the corpus to a value→total-weight
    HISTOGRAM (one map-side-combinable agg — the only corpus-wide scan);
    (2) range-repartition the histogram by value, cumulative-sum weights
    WITHIN each partition (parallel windows), and add per-partition
    weight totals round-tripped once through the driver (npartitions
    longs) as prefix offsets — the exact global cumulative weight with no
    single-task global window.  Each requested percentile then matches
    exactly one histogram row via the half-open interval
    cum − w < target ≤ cum against a broadcast O(|pcts|) target table."""
    spark = df.sparkSession
    n = npartitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    hist = df.groupBy(value_col).agg(
        F.sum(F.col(weight_col).cast("long")).alias("__w")
    )
    r = (
        hist.repartitionByRange(n, F.col(value_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    ptot = {
        row["__pid"]: row["w"]
        for row in r.groupBy("__pid").agg(F.sum("__w").alias("w")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(ptot):
        offsets[pid] = acc
        acc += ptot[pid]
    total_w = acc
    if total_w == 0:
        return spark.createDataFrame([], "pct long, value double")
    off_expr = F.create_map(
        *[x for pid in sorted(offsets) for x in (F.lit(pid), F.lit(offsets[pid]))]
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = r.withColumn(
        "__cum", F.sum("__w").over(w) + off_expr[F.col("__pid")].cast("long")
    )
    targets = spark.createDataFrame(
        [(p, (p * total_w + 99) // 100) for p in pcts], "pct long, __t long"
    )
    return (
        cum.join(
            F.broadcast(targets),
            (F.col("__t") <= F.col("__cum"))
            & (F.col("__t") > F.col("__cum") - F.col("__w")),
        )
        .select("pct", F.col(value_col).alias("value"))
    )


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    bucket_col: str = "bucket",
    npartitions: int | None = None,
) -> DataFrame:
    """Exact ``NTILE(n_buckets) OVER (ORDER BY order_cols)`` at corpus
    scale, built on ``global_rank``: the SQL-standard allocation (the
    first ``total mod n`` buckets take ``ceil(total/n)`` rows, the rest
    ``floor``) applied to the exact rank in closed-form integer
    arithmetic — value-identical to the engines' native NTILE, which
    cannot be used directly because it serializes onto one task."""
    ranked, total = global_rank(df, order_cols, npartitions)
    if total == 0:
        return ranked.withColumn(bucket_col, F.lit(None).cast("long")).drop("__rank")
    q, rem = divmod(total, n_buckets)
    rank = F.col("__rank")
    if q == 0:
        bucket = rank
    elif rem == 0:
        bucket = F.expr(f"(__rank - 1) div {q}") + 1
    else:
        cut = rem * (q + 1)
        bucket = (
            F.when(rank <= cut, F.expr(f"(__rank - 1) div {q + 1}") + 1)
            .otherwise(F.lit(rem) + F.expr(f"(__rank - {cut} - 1) div {q}") + 1)
        )
    return ranked.withColumn(bucket_col, bucket.cast("long")).drop("__rank")


def leakage_safe_split(
    df: DataFrame,
    dup_pairs: DataFrame,
    id_col: str = "doc_id",
    bounds: tuple[str, str] = ("c0", "e0"),
) -> DataFrame:
    """Train/val/test assignment that near-duplicates CANNOT straddle —
    the split-leakage guard a plain hash split (ds07) lacks: if two
    near-dup docs land in train and test, the benchmark is graded on
    memorized training data.  The split key is the near-dup CLUSTER, not
    the document: connected components over ``dup_pairs`` (star
    contraction, O(log² n) rounds), every member inherits its component
    representative's md5 bucket, singletons are their own representative —
    so by construction every edge's endpoints share a split.

    ``bounds`` are 2-hex-digit md5-prefix boundaries (default: 75% train /
    12.5% val / 12.5% test); lowercase-hex lexicographic order equals
    numeric order, so the predicate replays engine-portably (ds01's
    convention).

    Scale shape: the components run on the PAIR graph (near-dup output,
    orders of magnitude smaller than the corpus); the corpus itself pays
    one ids-keyed left join to pick up its representative and a pure
    projection for the bucket — no shuffle of text, no window.
    → (id, rep, split)."""
    from cnics_to_fhir_spark.operators.graph import connected_components_star

    comps = connected_components_star(dup_pairs).select(
        F.col("doc_id").alias("__id"), F.col("cluster_rep").alias("__rep")
    )
    assign = (
        df.select(F.col(id_col).alias("__id"))
        .join(comps, "__id", "left")
        .select(
            "__id", F.coalesce(F.col("__rep"), F.col("__id")).alias("rep")
        )
    )
    bucket = _md5_prefix(F.col("rep"), 2)
    lo, hi = bounds
    return assign.select(
        F.col("__id").alias(id_col),
        "rep",
        F.when(bucket < F.lit(lo), F.lit("train"))
        .when(bucket < F.lit(hi), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def incremental_split_update(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    block_words: int = 4,
    threshold: float = 0.5,
    bounds: tuple[str, str] = ("c0", "e0"),
) -> DataFrame:
    """Split-stable incremental corpus update — the operator under
    e2e11: ``corpus`` already carries a leakage-safe split (recomputed
    here as phase-1 state); ``batch`` near-dup-checks against it through
    the incremental pattern (corpus×corpus pairs never re-verified),
    inherits the split of the cluster it joins transitively through
    within-batch chains, and genuinely-new docs get the md5 bucket of
    their all-new component representative.  Batch docs bridging two
    differently-split clusters are flagged ``conflict=true`` (split =
    the min-rep cluster's); existing docs' splits are passed through
    untouched.  Raises if a within-batch near-dup pair straddles splits
    or a non-conflict inherited doc disagrees with any corpus neighbor.

    The ingest's component step runs on the REP-COLLAPSED graph (each
    corpus cluster enters as its single phase-1 representative), so it is
    O(batch + touched reps) regardless of corpus-internal similarity;
    collapsing is equivalent to the full union closure because a corpus
    cluster is internally connected — any path through its interior
    exists through its rep.  ``corpus`` and ``batch`` must be disjoint
    on ``id_col``.

    → (id, is_new, split, inherited, conflict) for every doc."""
    from cnics_to_fhir_spark.operators.dedup import (
        incremental_jaccard_pairs,
        ngram_jaccard_pairs,
    )
    from cnics_to_fhir_spark.operators.graph import connected_components_star

    # Phase-1 state and the ingest's candidate pairs are independent DAGs:
    # materialize both on concurrent job threads (the scheduler interleaves
    # jobs from separate threads freely).
    def _phase1():
        corpus_pairs = ngram_jaccard_pairs(
            corpus, text_col=text_col, id_col=id_col,
            k=k, block_words=block_words, threshold=threshold,
        )
        return leakage_safe_split(
            corpus, corpus_pairs, id_col=id_col, bounds=bounds
        ).localCheckpoint(eager=True)

    def _ingest_pairs():
        return incremental_jaccard_pairs(
            corpus, batch, text_col=text_col, id_col=id_col,
            k=k, block_words=block_words, threshold=threshold,
        ).localCheckpoint(eager=True)

    existing, inc = overlap(corpus.sparkSession, _phase1, _ingest_pairs)

    batch_ids = batch.select(F.col(id_col).alias("__bid")).distinct()

    # Cross pairs: identify the batch endpoint by membership (id spaces
    # are caller-defined, never assumed), then collapse the corpus
    # endpoint to its phase-1 cluster rep.
    cross_edges = (
        inc.filter(F.col("cross"))
        .join(
            batch_ids.select(
                F.col("__bid").alias("id_a"), F.lit(True).alias("__a_new")
            ),
            "id_a",
            "left",
        )
        .select(
            F.when(F.col("__a_new"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("new_id"),
            F.when(F.col("__a_new"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("corpus_id"),
        )
        .join(
            existing.select(F.col(id_col).alias("corpus_id"), "rep"), "corpus_id"
        )
        .select("new_id", "rep")
    )
    within = inc.filter(~F.col("cross")).select("id_a", "id_b")
    # Roles stay explicit on cross_edges (the disagreement probe joins each
    # side to a different table); only the CC input canonicalizes.
    cc_input = (
        cross_edges.select(
            F.least("new_id", "rep").alias("id_a"),
            F.greatest("new_id", "rep").alias("id_b"),
        )
        .unionByName(within)
        .distinct()
    )
    comps = connected_components_star(cc_input).localCheckpoint(eager=True)

    rep_splits = (
        comps.join(
            batch_ids.select(F.col("__bid").alias("doc_id")), "doc_id", "left_anti"
        )
        .join(existing.select(F.col(id_col).alias("doc_id"), "split"), "doc_id")
    )
    comp_sum = (
        rep_splits.groupBy("cluster_rep")
        .agg(
            F.min("doc_id").alias("min_rep"),
            F.countDistinct("split").alias("n_splits"),
        )
        .join(
            existing.select(
                F.col(id_col).alias("min_rep"), F.col("split").alias("inherit_split")
            ),
            "min_rep",
        )
    )
    bucket = F.substring(F.md5(F.col("urep").cast("string")), 1, 2)
    lo, hi = bounds
    fresh_split = (
        F.when(bucket < F.lit(lo), F.lit("train"))
        .when(bucket < F.lit(hi), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    nassign = (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(
            comps.select("doc_id", "cluster_rep"), "doc_id", "left"
        )
        .select("doc_id", F.coalesce("cluster_rep", "doc_id").alias("urep"))
    )
    new_out = (
        nassign.join(
            comp_sum.withColumnRenamed("cluster_rep", "urep"), "urep", "left"
        )
        .select(
            "doc_id",
            F.lit(True).alias("is_new"),
            F.when(F.col("min_rep").isNotNull(), F.col("inherit_split"))
            .otherwise(fresh_split)
            .alias("split"),
            F.col("min_rep").isNotNull().alias("inherited"),
            F.coalesce(F.col("n_splits") > 1, F.lit(False)).alias("conflict"),
        )
        .localCheckpoint(eager=True)
    )

    nsplit = new_out.select("doc_id", "split", "conflict")
    straddle = (
        within.join(
            nsplit.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")),
            "id_a",
        )
        .join(
            nsplit.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select(F.lit("within_batch_straddle").alias("kind"))
    )
    disagree = (
        cross_edges.join(
            nsplit.select(F.col("doc_id").alias("new_id"), "split", "conflict"),
            "new_id",
        )
        .join(
            existing.select(
                F.col(id_col).alias("rep"), F.col("split").alias("corpus_split")
            ),
            "rep",
        )
        .filter(~F.col("conflict") & (F.col("split") != F.col("corpus_split")))
        .select(F.lit("neighbor_disagree").alias("kind"))
    )
    violations = {
        r["kind"]: r["n"]
        for r in straddle.unionByName(disagree)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if violations:
        raise AssertionError(f"split-stability guarantees violated: {violations}")

    corpus_out = existing.select(
        F.col(id_col).alias("doc_id"),
        F.lit(False).alias("is_new"),
        "split",
        F.lit(False).alias("inherited"),
        F.lit(False).alias("conflict"),
    )
    return corpus_out.unionByName(new_out).withColumnRenamed("doc_id", id_col)


def interleave_schedule(
    df: DataFrame,
    weights: DataFrame,
    k: int,
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """The first ``k`` slots of a deterministic WEIGHTED FAIR INTERLEAVE of
    ``df``'s sources — the training ORDER a pretraining loader consumes
    (ds08/ds09 decide HOW MUCH of each source; this decides WHEN each doc
    arrives, so no source floods a training window).

    Weighted-fair-queuing schedule: within each source, docs take a
    deterministic shuffled order (md5 of the key — ds04's portable
    discipline, no rand()); doc number ``r`` of a weight-``w`` source is
    scheduled at virtual time ``r/w`` (kept exact as integer micro-units
    ``r*1_000_000 DIV w``), so a weight-5 source lands 5 docs in every
    virtual-time unit while a weight-1 source lands one — proportional
    share at every prefix of the schedule, not just in expectation.
    Global order is (position, source, key): total, so engines agree
    bit-for-bit.

    Scale shape: one window per source partition for the rank, then the
    ``rank <= k`` filter bounds the candidate set to ``k × n_sources``
    rows REGARDLESS of corpus size — the only global sort (and the final
    ≤k-row slot numbering) runs on that bounded set, never the corpus.
    ``weights`` is a tiny (source, weight) dim, broadcast.

    Every source present in ``df`` must carry a weight ≥ 1 in
    ``weights``: a missing source would silently vanish from the
    schedule (join drop), and a weight of 0 yields NULL positions
    (integer DIV by zero) that would sort FIRST under nulls-first and
    flood the schedule head — both are raised loudly instead, checked on
    the BOUNDED candidate set (the corpus is scanned once, frozen via
    ``localCheckpoint`` at ≤ k × n_sources rows, and the validation
    action reads the frozen set — no second corpus scan).

    Returns (slot, source, key, position) for slots 1..k.
    """
    from cnics_to_fhir_spark.operators.dedup import portable_hash

    ranked = df.select(
        F.col(source_col).alias("source"),
        F.col(key_col).alias(key_col),
        portable_hash(F.col(key_col).cast("string")).alias("__h"),
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy("__h", key_col)
        ),
    ).filter(F.col("rk") <= k)
    # left join so an unweighted source SURFACES (null weight) instead of
    # silently dropping; checkpoint the ≤ k×n_sources candidate set so the
    # validation action and the final sort share one corpus scan
    cand0 = ranked.join(F.broadcast(weights), on="source", how="left") \
        .localCheckpoint(eager=True)
    bad = (
        cand0.filter(F.col("weight").isNull() | (F.col("weight") < 1))
        .select("source", "weight").distinct().limit(20).collect()
    )
    if bad:
        raise ValueError(
            "interleave_schedule: every source in df needs a weights row "
            "with weight >= 1 (missing row => None); offending sources: "
            f"{sorted((r['source'], r['weight']) for r in bad)}"
        )
    cand = cand0.select(
        "source",
        key_col,
        F.expr("CAST(rk * 1000000 DIV weight AS BIGINT)").alias("position"),
    )
    top = cand.orderBy("position", "source", key_col).limit(k)
    # slot numbering over ≤k rows — a single-partition window bounded by
    # construction (the candidate filter above), never corpus-sized
    return top.select(
        F.row_number()
        .over(Window.orderBy("position", "source", key_col))
        .cast("long")
        .alias("slot"),
        "source",
        key_col,
        "position",
    )


def interleave_schedule_full(
    df: DataFrame,
    weights: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
    npartitions: int | None = None,
) -> DataFrame:
    """The TOTAL weighted-fair training order of the corpus — every doc
    slotted, not just the first ``k`` (``interleave_schedule`` is the
    prefix/audit variant; a production loader consumes THIS).  Same WFQ
    position arithmetic: doc ``r`` of a weight-``w`` source lands at
    virtual time ``r*1_000_000 DIV w``; global order (position, source,
    key) is total, so engines agree bit-for-bit, and every PREFIX of the
    schedule carries each source in proportion to its weight.

    Scale shape — NO unpartitioned window over corpus rows, NO hot-source
    single task (the two seams the rank<=k bound hid in the prefix
    variant):

    - the per-source rank is ``global_rank``'s two-pass trick generalized
      to grouped ranks: ``repartitionByRange(source, h, key)`` gives
      non-overlapping sorted ranges, per-(partition, source) counts
      round-trip the driver ONCE (O(npartitions + n_sources) rows — each
      partition holds few distinct sources because ranges sort by source
      first) to become per-source prefix offsets, and a per-partition
      window plus the offset is the exact per-source rank.  A source
      spanning many ranges is ranked by many parallel tasks.
    - slot numbering is ``global_rank`` itself over (position, source,
      key): range-partitioned sort + bounded driver offsets, never
      ``row_number() OVER (ORDER BY ...)``'s serial global window.

    ``weights`` must cover every source in ``df`` with weight ≥ 1 —
    validated driver-side from the per-source counts the rank pass
    already collected (zero extra jobs), same contract as
    ``interleave_schedule``.

    Returns (slot, source, key, position) over ALL rows of ``df``.
    """
    from cnics_to_fhir_spark.operators.dedup import portable_hash

    spark = df.sparkSession
    n = npartitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    base = df.select(
        F.col(source_col).alias("source"),
        F.col(key_col).alias(key_col),
        portable_hash(F.col(key_col).cast("string")).alias("__h"),
    )
    r = (
        base.repartitionByRange(n, F.col("source"), F.col("__h"), F.col(key_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = (
        r.groupBy("__pid", "source").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    wrows = weights.select("source", "weight").collect()  # tiny dim by contract
    wmap = {row["source"]: row["weight"] for row in wrows}
    present = sorted({row["source"] for row in counts})
    bad = [
        (s, wmap.get(s))
        for s in present
        if wmap.get(s) is None or wmap[s] < 1
    ]
    if bad:
        raise ValueError(
            "interleave_schedule_full: every source in df needs a weights "
            "row with weight >= 1 (missing row => None); offending "
            f"sources: {bad}"
        )
    if not counts:
        return base.limit(0).select(
            F.lit(0).cast("long").alias("slot"),
            "source",
            key_col,
            F.lit(0).cast("long").alias("position"),
        )
    # per-source prefix offsets: docs of this source in LOWER ranges
    acc: dict[str, int] = {}
    offsets: dict[tuple[int, str], int] = {}
    for row in sorted(counts, key=lambda x: (x["source"], x["__pid"])):
        offsets[(row["__pid"], row["source"])] = acc.get(row["source"], 0)
        acc[row["source"]] = acc.get(row["source"], 0) + row["cnt"]
    okey = F.concat_ws("\x1f", F.col("__pid").cast("string"), F.col("source"))
    off_expr = F.create_map(
        *[
            x
            for (pid, src) in sorted(offsets)
            for x in (F.lit(f"{pid}\x1f{src}"), F.lit(offsets[(pid, src)]))
        ]
    )
    w = Window.partitionBy("__pid", "source").orderBy("__h", key_col)
    ranked = r.withColumn(
        "rk", F.row_number().over(w).cast("long") + off_expr[okey].cast("long")
    )
    # coverage was validated above, so the inner broadcast join drops nothing
    cand = ranked.join(F.broadcast(weights), on="source", how="inner").select(
        "source",
        key_col,
        F.expr("CAST(rk * 1000000 DIV weight AS BIGINT)").alias("position"),
    )
    sched, _total = global_rank(cand, ["position", "source", key_col], n)
    return sched.select(
        F.col("__rank").alias("slot"), "source", key_col, "position"
    )
