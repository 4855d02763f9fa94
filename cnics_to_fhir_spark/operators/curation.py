"""Corpus-curation operators a training-data pipeline runs before packing:
benchmark decontamination and PII redaction.

Scale design:

- ``decontaminate``: benchmark suites are small (10³-10⁵ docs) next to a
  100 TB corpus, so the benchmark's distinct k-gram set BROADCASTS and the
  corpus side never shuffles — each corpus partition streams its exploded
  grams through a broadcast-hash semi-probe, then one (doc_id)-keyed
  aggregation counts hits. No corpus-×-benchmark shuffle exists in the
  plan.  Gram choice k=8 words follows the common 8-13-gram collision
  window used for benchmark decontamination; short docs fall back to a
  whole-doc gram (same rule as dedup.word_shingles, so the DuckDB oracle
  replays it).
- ``pii_redact``: pure per-row regexp_replace/regexp_count — codegen'd,
  no shuffle at all; patterns are RE2-safe so the same literal pattern
  runs identically under Java regex (Spark) and RE2 (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cnics_to_fhir_spark.operators.dedup import word_shingles

# RE2- and Java-regex-compatible patterns (no lookbehind, no backrefs).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"


def _distinct_grams(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("gram"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Benchmark-overlap detection: (doc_id, n_hits) for every corpus doc
    sharing at least one k-word gram with a benchmark doc OTHER than
    itself (benchmark rows that also sit in the corpus don't self-flag,
    but their copies do — which is the point of decontamination).

    ``n_hits`` = number of DISTINCT corpus-side grams found anywhere in
    the benchmark; join ``drop_contaminated`` on it or threshold for a
    softer policy."""
    from cnics_to_fhir_spark.functions.partitioning import ensure_min_parallelism

    bench = _distinct_grams(benchmark, text_col, id_col, k).select(
        F.col("id").alias("bench_id"), "gram"
    )
    # The gram shingling is thousands of expression evaluations per row; a
    # single-row-group corpus file would run it on one core (dc01 profiled
    # 1.6 s in a 1-task stage at sf0.1). The guard no-ops once the scan's
    # split count reaches defaultParallelism.
    corp = _distinct_grams(ensure_min_parallelism(corpus, id_col), text_col, id_col, k)
    return (
        corp.join(F.broadcast(bench), on="gram")
        .filter(F.col("id") != F.col("bench_id"))
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count_distinct("gram").cast("long").alias("n_hits"))
    )


def drop_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    hits = decontaminate(corpus, benchmark, text_col, id_col, k)
    return corpus.join(hits.select(id_col), on=id_col, how="left_anti")


def doc_chunks(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """→ (doc_id, pos, chunk): NON-overlapping k-word chunks with their
    position — the 'line' analog for newline-free corpora (C4/RefinedWeb
    dedup lines; this corpus has no newlines, so fixed k-word windows play
    that role). A doc shorter than k words is one whole-doc chunk."""
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.greatest(F.ceil(F.size(toks) / F.lit(k)).cast("int"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "),
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "chunk")
    )


def remove_boilerplate_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Sub-document exact dedup (boilerplate removal): drop every k-word
    chunk that occurs in ≥ ``min_docs`` DISTINCT documents, then reassemble
    each document from its surviving chunks in position order. → (doc_id,
    clean_text, n_chunks, n_removed); a fully-boilerplate doc comes back
    with clean_text = ''.

    Scale shape (100 TB): the boilerplate set is corpus-sized in the worst
    case, so it is NEVER broadcast or collected — the plan is three keyed
    shuffles, each with map-side partial aggregation: (chunk)-keyed count
    of distinct docs, a (chunk)-keyed join marking hot chunks (AQE handles
    the Zipf skew on popular boilerplate via skew-join splitting), and a
    (doc)-keyed reassembly.  Reassembly sorts WITHIN one row's collected
    array (array_sort over (pos, chunk) structs) — never a window over the
    corpus."""
    chunks = doc_chunks(df, text_col, id_col, k)
    hot = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("chunk", F.lit(True).alias("is_boiler"))
    )
    marked = chunks.join(hot, on="chunk", how="left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).cast("long").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_boiler").isNull(),
                                F.struct(F.col("pos"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def redact(col: Column, pattern: str, token: str) -> Column:
    return F.regexp_replace(col, pattern, token)


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (id, redacted, n_emails, n_phones): emails → <EMAIL>, NANP-style
    phone numbers → <PHONE>, with per-doc match counts (count BEFORE
    redaction, so the numbers describe the original text)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        redact(redact(t, EMAIL_PATTERN, "<EMAIL>"), PHONE_PATTERN, "<PHONE>").alias(
            "redacted"
        ),
        F.regexp_count(t, F.lit(EMAIL_PATTERN)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_PATTERN)).cast("long").alias("n_phones"),
    )


def domain_cap(
    df: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact per-domain document cap (C4/RefinedWeb-style head-domain
    suppression): keep at most ``cap`` docs per domain, selected
    deterministically by a portable 60-bit hash of the id so the sample is
    reproducible and engine-replayable.

    Scale shape — the naive plan is ``ROW_NUMBER() OVER (PARTITION BY
    domain ORDER BY hash)``: at 100 TB one hot domain (30% of a web crawl
    is the head domain) serializes onto one task.  This is the exact
    two-phase form instead (ds10's global-rank idea applied per domain):

    1. bucket every row by the hash's TOP 10 bits (range-prefix, so bucket
       order == hash order) and build a (domain × ≤1024)-row histogram —
       one map-side-combined agg, state O(domains·1024);
    2. per domain, the cumulative histogram (a window over ≤1024 tiny
       rows) yields the cutoff bucket and the residual quota inside it;
       rows in buckets below the cutoff are kept outright, and ONLY the
       cutoff bucket — ~1/1024 of the domain — pays a row_number window.

    The selection is value-identical to the naive window (bucket is a
    monotone prefix of the hash; ties break by id within the bucket), so a
    plain ROW_NUMBER oracle replays it.  Domains under the cap keep all
    rows.  → (id, domain, n_domain) with n_domain the pre-cap domain size
    (no silent caps: the accounting column states what the cap saw).
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    from cnics_to_fhir_spark.operators.dedup import portable_hash
    from pyspark.sql.window import Window

    h = portable_hash(F.col(id_col).cast("string"), seed=73)
    rows = df.select(
        F.col(id_col).alias("__id"),
        F.col(domain_col).alias("__dom"),
        h.alias("__h"),
    ).withColumn("__bucket", F.shiftright(F.col("__h"), 50))

    hist = rows.groupBy("__dom", "__bucket").agg(F.count(F.lit(1)).alias("__n"))
    w_cum = (
        Window.partitionBy("__dom")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist_cum = hist.withColumn("__cum", F.sum("__n").over(w_cum))
    totals = hist.groupBy("__dom").agg(F.sum("__n").alias("n_domain"))
    w_first = Window.partitionBy("__dom").orderBy("__bucket")
    cuts = (
        hist_cum.filter(F.col("__cum") >= cap)
        .withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .select(
            "__dom",
            F.col("__bucket").alias("__cb"),
            (F.lit(cap) - (F.col("__cum") - F.col("__n"))).alias("__need"),
        )
    )

    joined = rows.join(F.broadcast(cuts), on="__dom", how="left")
    below = joined.filter(F.col("__cb").isNull() | (F.col("__bucket") < F.col("__cb")))
    w_at = Window.partitionBy("__dom").orderBy("__h", "__id")
    at_cut = (
        joined.filter(F.col("__bucket") == F.col("__cb"))
        .withColumn("__r", F.row_number().over(w_at))
        .filter(F.col("__r") <= F.col("__need"))
        .drop("__r")
    )
    kept = below.unionByName(at_cut).select("__id", "__dom")
    return (
        kept.join(F.broadcast(totals), on="__dom")
        .select(
            F.col("__id").alias(id_col),
            F.col("__dom").alias(domain_col),
            F.col("n_domain").cast("long").alias("n_domain"),
        )
    )


def k_anonymize(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
    id_col: str = "doc_id",
    token: str = "*",
    broadcast_counts: bool = True,
) -> DataFrame:
    """k-anonymity generalization over a quasi-identifier tuple: rows whose
    (quasi_cols) group holds fewer than ``k`` rows get EVERY quasi column
    generalized to ``token``; rows in groups of >= k keep their values.

    The privacy gate a corpus release runs before the PII regexes (dc02)
    ever see a document: rare attribute COMBINATIONS re-identify even when
    each value alone is common, so the unit of suppression is the tuple,
    not the column.  Output: (id, <col>_k per quasi column, n_group,
    is_anonymous) — n_group is the pre-generalization group size, so the
    accounting states exactly what the gate saw (no silent suppression).

    Scale shape: one map-side-combinable groupBy builds the
    (distinct-quasi-tuple → count) table; each row then needs only ITS
    tuple's count, a lookup join.  With a low-cardinality tuple (language
    × source here) the counts table broadcasts and the corpus never
    shuffles; for high-cardinality tuples (zip × birth-year at 100 TB)
    pass ``broadcast_counts=False`` and the join shuffles both sides on
    the tuple — still one shuffle of the corpus, never a window.

    NULL quasi values are a first-class group: groupBy already buckets
    NULLs together, and the lookup join uses null-safe equality
    (``eqNullSafe``), so a row with a missing demographic matches its
    count row instead of silently vanishing — invariant (4) "no rows
    vanish" holds for NULLs too (pinned by the property test's NULL
    case).  A NULL in a small group generalizes to ``token`` like any
    other value.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    counts = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("n_group"))
    if broadcast_counts:
        counts = F.broadcast(counts)
    left = df.alias("__l")
    right = counts.alias("__r")
    cond = None
    for c in quasi_cols:
        eq = F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.{c}"))
        cond = eq if cond is None else (cond & eq)
    keep = F.col("__r.n_group") >= k
    sel = [F.col(f"__l.{id_col}").alias(id_col)]
    sel += [
        F.when(keep, F.col(f"__l.{c}")).otherwise(F.lit(token)).alias(f"{c}_k")
        for c in quasi_cols
    ]
    sel += [
        F.col("__r.n_group").cast("long").alias("n_group"),
        keep.alias("is_anonymous"),
    ]
    return left.join(right, on=cond, how="inner").select(*sel)


def l_diversify(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int,  # noqa: E741 — the literature's name
    id_col: str = "doc_id",
    token: str = "*",
) -> DataFrame:
    """l-diversity — the homogeneity-attack gate k-anonymity misses: a
    quasi-identifier group can be large (perfectly k-anonymous) while
    every member shares the same SENSITIVE value, so membership alone
    discloses it.  Groups whose sensitive column carries fewer than ``l``
    distinct non-NULL values get that column suppressed to ``token`` for
    ALL their rows (the leak channel is the sensitive value — the quasi
    columns stay, dc04 already governs them); diverse groups pass
    through.  Output: (id, quasi cols, <sensitive>_l as string, n_group,
    n_sensitive, is_diverse) — group size and diversity count keep the
    audit honest, like dc04's accounting.

    NULL sensitive values carry no disclosure and count for nothing: a
    group of all-NULL sensitives has n_sensitive = 0 and suppresses
    (to one consistent token, not a NULL that reads as "value absent in
    the release" while the quasi tuple still isolates the group).

    Scale shape: dc04's exactly — one map-side-combinable groupBy builds
    (quasi tuple → n_group, n_distinct sensitive), each row then takes a
    lookup join on ITS tuple, broadcast at dimension cardinality.
    Null-safe join equality so NULL quasi groups match their count row
    (dc04's invariant: no rows vanish)."""
    if l < 1:
        raise ValueError(f"l must be >= 1, got {l}")
    counts = F.broadcast(
        df.groupBy(*quasi_cols).agg(
            F.count(F.lit(1)).cast("long").alias("n_group"),
            F.countDistinct(sensitive_col).cast("long").alias("n_sensitive"),
        )
    )
    left = df.alias("__l")
    right = counts.alias("__r")
    cond = None
    for c in quasi_cols:
        eq = F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.{c}"))
        cond = eq if cond is None else (cond & eq)
    keep = F.col("__r.n_sensitive") >= l
    sel = [F.col(f"__l.{id_col}").alias(id_col)]
    sel += [F.col(f"__l.{c}").alias(c) for c in quasi_cols]
    sel += [
        F.when(keep, F.col(f"__l.{sensitive_col}").cast("string"))
        .otherwise(F.lit(token))
        .alias(f"{sensitive_col}_l"),
        F.col("__r.n_group").alias("n_group"),
        F.col("__r.n_sensitive").alias("n_sensitive"),
        keep.alias("is_diverse"),
    ]
    return left.join(right, on=cond, how="inner").select(*sel)


def pseudonymize_entities(
    df: DataFrame,
    pattern: str,
    tag: str = "EMAIL",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document CONSISTENT pseudonymization: every occurrence of the
    same PII entity — anywhere in the corpus — is replaced by the same
    stable token ``<TAG_k>``, where k is the entity's rank in the global
    entity dictionary (lexicographic, dense).  Plain redaction (dc02's
    ``<EMAIL>``) destroys linkage; pseudonymization preserves it ("these
    400 documents quote the same address") without storing the value —
    what de-identified clinical/support corpora actually ship.

    Output: (id, redacted, n_entities).

    Scale shape: the entity DICTIONARY is the hard part — it is unbounded
    (every distinct email in a crawl), so it is never collected or
    broadcast.  (1) one extraction pass explodes per-doc DISTINCT matches
    — (id, entity) rows, narrow; (2) the distinct entity set gets exact
    dense ranks from ``dataset.global_rank`` (range-repartitioned two-pass
    rank — no single-task global window); (3) ranks shuffle-join back to
    the (id, entity) pairs on the entity key; (4) per-doc replacement
    folds the doc's (entity → token) pairs over the text with one
    higher-order ``aggregate`` — the text column itself never shuffles
    (the fold happens after an ids-only join back to the corpus).
    Replacement order inside a doc is the sorted entity order, so overlap
    between one entity and another's replacement is deterministic.
    """
    from cnics_to_fhir_spark.operators.dataset import global_rank

    ents = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array_distinct(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0))
        ).alias("entity"),
    )
    dictionary, _total = global_rank(ents.select("entity").distinct(), ["entity"])
    dictionary = dictionary.withColumnRenamed("__rank", "rank")
    # Replacement order: LONGEST entity first (struct-min on (−length,
    # entity, rank)) — replacing a shorter entity first would rewrite
    # inside any longer entity that contains it ('a@x.com' inside
    # 'na@x.com'), destroying the longer one's token and its linkage.
    # Longest-first is containment-safe: a longer entity can never appear
    # inside a shorter one, and replacement tokens ('<TAG_k>') cannot
    # match an entity pattern's occurrence again.
    pairs = (
        ents.join(dictionary, "entity")
        .groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.length("entity")).alias("neg_len"),
                        F.col("entity"),
                        F.col("rank"),
                    )
                )
            ).alias("__pairs")
        )
    )
    joined = df.join(pairs, df[id_col] == pairs["__id"], "left")
    repl = F.aggregate(
        F.coalesce(
            F.col("__pairs"),
            F.array().cast("array<struct<neg_len:int,entity:string,rank:bigint>>"),
        ),
        F.col(text_col),
        lambda acc, x: F.replace(
            acc, x["entity"], F.concat(F.lit(f"<{tag}_"), x["rank"], F.lit(">"))
        ),
    )
    return joined.select(
        F.col(id_col),
        repl.alias("redacted"),
        F.coalesce(F.size("__pairs"), F.lit(0)).cast("long").alias("n_entities"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus vector
    whose cosine to ANY benchmark vector reaches ``threshold``.  dc01
    catches verbatim/near-verbatim leakage at the n-gram level; paraphrased
    eval items slip past it and surface HERE, in embedding space — the
    second gate a training corpus passes before a benchmark score means
    anything.

    Output: every corpus row as (id, n_benchmark_hits, max_cosine_q,
    is_contaminated) — clean rows report 0 / NULL / false, so the gate's
    coverage is visible, not implied.

    Scale shape: the comparison is blocked on the coarse quantizer cell
    (``cell_col``) exactly like dd05 — candidates are per-cell corpus ×
    per-cell benchmark, never corpus × benchmark.  The benchmark side is
    tiny by definition (an eval suite) and broadcasts; the corpus never
    shuffles — one broadcast join, one (id)-keyed aggregation of hits,
    one ids-only left join back.  Cross-cell paraphrases are the recall
    trade every IVF-blocked comparison makes; raise coverage with
    multiprobe (ann05's lever) when the benchmark is small enough to
    afford it."""
    from cnics_to_fhir_spark.functions.numeric import stable_round
    from cnics_to_fhir_spark.operators.similarity import cosine_with_norms, norm

    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(cell_col).alias("__cell"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", norm(F.col("__cv")))
    b = benchmark.select(
        F.col(cell_col).alias("__cell"),
        F.col(vec_col).cast("array<double>").alias("__bv"),
    ).withColumn("__bn", norm(F.col("__bv")))
    scored = c.join(F.broadcast(b), "__cell").select(
        "__cid",
        stable_round(
            cosine_with_norms(F.col("__cv"), F.col("__bv"), F.col("__cn"), F.col("__bn")),
            6,
        ).alias("__cos"),
    )
    hits = (
        scored.filter(F.col("__cos") >= threshold)
        .groupBy("__cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_benchmark_hits"),
            F.max("__cos").alias("max_cosine_q"),
        )
    )
    base = corpus.select(F.col(id_col).alias("__cid"))
    return (
        base.join(hits, "__cid", "left")
        .select(
            F.col("__cid").alias(id_col),
            F.coalesce(F.col("n_benchmark_hits"), F.lit(0).cast("long")).alias(
                "n_benchmark_hits"
            ),
            F.col("max_cosine_q"),
            (F.coalesce(F.col("n_benchmark_hits"), F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )
