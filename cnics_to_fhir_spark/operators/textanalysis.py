"""Text-analysis operators for training-data pipelines over ``documents``.

All native Column expressions (split / filter / aggregate higher-order
functions) — no Python in the hot path, so at 100 TB these run inside
whole-stage codegen directly over the parquet scan with full column pruning
(only ``text`` is read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cnics_to_fhir_spark.functions.numeric import stable_round

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deterministic and SQL-expressible so the oracle can replicate.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "de", "et", "est"],
}


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty string."""
    return F.when(F.length(text) == 0, F.lit(0)).otherwise(F.size(tokens(text)))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def avg_token_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t))
    return total / F.size(toks)


def marker_ratio(text: Column, markers: list[str]) -> Column:
    """Fraction of tokens that are language markers."""
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
    return hits.cast("double") / F.size(toks)


def quality_score(text: Column) -> Column:
    """Composite quality heuristic: rewards lexical diversity and plausible
    word lengths, penalizes very short docs. Bounded [0, 1]."""
    n = token_count(text)
    diversity = distinct_token_count(text).cast("double") / n
    len_ok = (avg_token_length(text) >= 3) & (avg_token_length(text) <= 10)
    length_factor = F.least(n.cast("double") / F.lit(32.0), F.lit(1.0))
    return stable_round(diversity * 0.6 + F.when(len_ok, 0.2).otherwise(0.0) + length_factor * 0.2, 4)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over the case/whitespace-normalized text —
    the exact-dup key (a content-defined rolling-hash variant lives in
    dedup.simhash for near-dups)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def lang_id(text: Column) -> Column:
    """Best-marker-ratio language guess; 'unk' when nothing scores > 0."""
    scores = [(lang, marker_ratio(text, m)) for lang, m in LANG_MARKERS.items()]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("unk")
    # reversed() so earlier languages win ties, matching a stable argmax
    for lang, score in reversed(scores):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


# BPE-ish pre-tokenizer: letter runs, digit runs, punctuation runs — the
# coarse split a byte-pair encoder refines. ASCII classes keep the regex
# identical across Spark (Java regex) and the SQL oracle (RE2).
BPE_SPLIT_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"

POLY_MOD = 1_000_000_007
POLY_BASE = 31


def bpe_tokens(text: Column) -> Column:
    """array<string> of BPE-style pre-tokens."""
    return F.regexp_extract_all(text, F.lit(BPE_SPLIT_RE), 0)


def poly_hash(s: Column) -> Column:
    """Polynomial rolling hash h = Σ c·31^i mod 1e9+7 over codepoints —
    the classic Rabin-Karp accumulator, evaluated left-to-right so both
    engines fold identically."""
    return F.aggregate(
        F.transform(F.split(s, ""), lambda c: F.ascii(c)),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * POLY_BASE + c) % POLY_MOD,
    )


def rolling_fingerprint(text: Column, k: int = 3) -> Column:
    """Winnowing-style document fingerprint: rolling-hash every k-word
    shingle, keep the minimum — robust to local edits (a single changed
    word perturbs only k shingles, rarely the global min)."""
    from cnics_to_fhir_spark.operators.dedup import word_shingles

    return F.array_min(F.transform(word_shingles(text, k), poly_hash))


def profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass text profile per document."""
    t = F.col(text_col)
    return df.select(
        id_col,
        token_count(t).alias("n_tokens"),
        distinct_token_count(t).alias("n_distinct_tokens"),
        stable_round(avg_token_length(t), 4).alias("avg_token_len"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fingerprint"),
        lang_id(t).alias("lang_guess"),
    )


def heavy_hitters(df: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Top-k corpus token frequencies — the vocabulary/frequency profile a
    training pipeline budgets tokenizers on.

    Scale shape: explode → hash-agg. Token frequency is Zipfian (worst-case
    skewed keys), but partial aggregation combines each partition's counts
    map-side before the shuffle, so the reducer for 'the' receives one row
    per upstream partition, not one per occurrence. The top-k itself is
    TakeOrderedAndProject (per-partition heaps + driver merge), never a
    global sort. (freq DESC, token ASC) is a total order → deterministic cut.
    """
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(k)
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style repetition filters per document:

    - ``top_bigram_frac``: count of the most frequent word bigram over the
      total bigram count (boilerplate/templating detector);
    - ``dup_token_ratio``: 1 − distinct/total tokens (stutter detector);
    - ``repetitive``: top_bigram_frac (rounded, so both engines compare
      the same grid value) > 0.2 — the Gopher-family rejection rule.

    Plan shape: ZERO shuffle.  The top-bigram count is computed WITHIN
    each row — sort the bigram array, then the max equal-run length via a
    higher-order ``aggregate`` (all JVM-side Catalyst expressions) — so a
    100 TB corpus never materializes the (doc, gram) explode: the naive
    formulation shuffles one corpus-width of (id, gram) rows through two
    aggregations; this one is a pure scan expression, embarrassingly
    parallel, with per-row work O(L log L) on the document length.
    Bigrams come from ``dedup.word_shingles`` (whole-doc fallback for
    1-token docs); the DuckDB oracle keeps the declarative explode+group
    formulation — max per-doc bigram count ≡ max run in the sorted array,
    so the two shapes agree value-for-value."""
    from cnics_to_fhir_spark.operators.dedup import word_shingles

    t = F.col(text_col)
    bg = F.array_sort(word_shingles(t, 2))
    # max run length over the sorted array: acc = (prev gram, current run,
    # best run); one pass, no shuffle.
    top = F.aggregate(
        bg,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    m = F.size(bg).cast("long")
    n = token_count(t)
    frac = stable_round(top.cast("double") / m, 6)
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        frac.alias("top_bigram_frac"),
        stable_round(
            F.lit(1.0) - distinct_token_count(t).cast("double") / n, 6
        ).alias("dup_token_ratio"),
        (frac > 0.2).alias("repetitive"),
    )


def unigram_surprise(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style quality scoring with a corpus-trained unigram LM:
    score every document by its average negative log-likelihood under the
    corpus's own token distribution — low = boilerplate of common tokens,
    high = rare-token gibberish; filtering keeps the middle.

    Determinism design: per-doc float summation would be order-dependent
    (Spark and the oracle sum in different orders), so the per-TOKEN
    surprise is quantized ONCE into integer micro-nats
    (``floor((ln N − ln count)·1e6)``) and everything downstream —
    per-doc totals, averages, the reject flag — is exact integer
    arithmetic, order-independent on both engines.  The only float op is
    one ln per vocab entry; an engine pair disagreeing in the last ulp
    exactly on a 1e-6 grid boundary is the residual risk (same class as
    the documented q11 threshold filter).

    Scale shape: one (token)-keyed count aggregation builds the vocab
    (bounded by vocabulary, not corpus), one scalar total, one
    (token)-keyed join back (AQE may broadcast a small vocab; a web-scale
    vocab shuffles — both correct), one (doc)-keyed aggregation.
    → (doc_id, n_tokens, sum_nll_q, avg_nll_q)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("n_total"))
    scored = vocab.crossJoin(total).select(
        "tok",
        F.floor((F.log(F.col("n_total")) - F.log(F.col("cnt").cast("double"))) * 1e6)
        .cast("long")
        .alias("llq"),
    )
    return (
        toks.join(scored, on="tok")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("llq").cast("long").alias("sum_nll_q"),
        )
        .select(
            id_col,
            "n_tokens",
            "sum_nll_q",
            F.expr("sum_nll_q div n_tokens").alias("avg_nll_q"),
        )
    )


def bigram_surprise(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """tx07's quality score upgraded to a corpus-trained BIGRAM LM — the
    step toward CCNet's KenLM perplexity filter that a unigram model
    can't take: "the the the the" is full of common tokens (low unigram
    surprise) but its TRANSITIONS are rare, and repetitive boilerplate
    lights up only under a conditional model.

    Per-bigram surprise = −ln P(w | prev) with add-one smoothing,
    P = (c(prev,w)+1)/(c(prev)+V), quantized ONCE to integer micro-nats
    (floor(·1e6)) so per-doc totals and averages are order-independent
    exact integer arithmetic on both engines (tx07's determinism design;
    the single float op per distinct bigram is one ln).  Empty tokens are
    filtered from the sequence BEFORE pairing (double spaces must not
    break adjacency); docs with fewer than 2 surviving tokens have no
    transitions and no output row — a conditional model has nothing to
    say about them, and a fake score would be noise dressed as signal.

    Scale shape: the raw bigram stream (O(corpus tokens)) is aggregated
    to per-(doc, bigram) COUNTS in its very first shuffle — map-side
    combinable, and natural text repeats bigrams within a document, so
    everything downstream (global counts, context rollup, the score
    join, the per-doc total via Σ k·llq) runs on the reduced table,
    materialized once.  Distinct-bigram tables are vocabulary-bounded
    (Zipf-tiny vs corpus); the probe that motivated this shape: joining
    the UNREDUCED stream measured super-linear at the sf1→sf10 decade
    (plan flip + double explode), the reduced form is sub-linear.
    → (doc_id, n_bigrams, sum_nll2_q, avg_nll2_q)."""
    f = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"filter(split({text_col}, ' '), t -> t <> '')").alias("ts"),
    )
    bigc = (
        f.filter(F.size("ts") >= 2)
        .select(
            "id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(element_at(ts, CAST(i AS INT)) AS prev,"
                    "             element_at(ts, CAST(i + 1 AS INT)) AS w))"
                )
            ).alias("b"),
        )
        .groupBy("id", F.col("b.prev").alias("prev"), F.col("b.w").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    vocab_n = (
        f.select(F.explode("ts").alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    # Global bigram count c(prev,w) and context count c(prev) attach as
    # WINDOW sums over the reduced table instead of a join back to its
    # own aggregation — bigc is consumed exactly ONCE, nothing O(corpus)
    # is ever cached or hash-built.  The alternatives all failed at the
    # sf1→sf10 decade, measured: un-materialized double consumption
    # (column pruning defeats ReusedExchange — 0 reuses, whole explode
    # pipeline ran twice, exp 1.08), and every materialized variant
    # (localCheckpoint / persist) either poisoned join planning with its
    # compressed-size estimate (a "small" 2.6M-row checkpoint grew a
    # 3.6 GiB broadcast build) or OOM'd the shared single-JVM heap.
    # These unordered whole-partition windows are plain hash-partition
    # aggregates-with-passthrough: no sort frame, partition keys are the
    # bigram/context vocabulary (Zipf-bounded), memory per task is one
    # running sum.  Known tradeoff at web scale: a HEAVY context ('the')
    # colocates its whole window partition on one task — if a corpus's
    # hottest context outgrows a task, switch the cp attachment to the
    # two-level form (aggregate (prev, salt) partials, roll up, broadcast
    # the vocabulary-bounded ctx table back) — the c window is keyed on
    # full bigrams and skews far less.
    w_pw = Window.partitionBy("prev", "w")
    w_p = Window.partitionBy("prev")
    scored = (
        bigc.withColumn("c", F.sum("k").over(w_pw).cast("long"))
        .withColumn("cp", F.sum("k").over(w_p).cast("long"))
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "id",
            "k",
            F.floor(
                (
                    F.log(F.col("cp").cast("double") + F.col("v"))
                    - F.log(F.col("c").cast("double") + F.lit(1.0))
                )
                * 1e6
            )
            .cast("long")
            .alias("llq"),
        )
    )
    return (
        scored.groupBy(F.col("id").alias(id_col))
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("llq")).cast("long").alias("sum_nll2_q"),
        )
        .select(
            id_col,
            "n_bigrams",
            "sum_nll2_q",
            F.expr("sum_nll2_q div n_bigrams").alias("avg_nll2_q"),
        )
    )





# ---------------------------------------------------------------------------
# BPE merge training (tokenizer-learning over the corpus)
# ---------------------------------------------------------------------------

BPE_SEP = "\x1f"  # unit separator: never appears in text tokens (filtered)


def _bpe_wrap(word: Column) -> Column:
    """word → sentinel-wrapped symbol string: 'low' → '␟l␟␟o␟␟w␟'.

    Each symbol is individually wrapped in the separator, so a merge
    (A, B) is the LITERAL replace '␟A␟␟B␟' → '␟AB␟' — and because the
    replacement re-emits both boundary sentinels, left-to-right
    non-overlapping string replace reproduces greedy BPE application
    exactly ('␟a␟␟a␟␟a␟␟a␟' → '␟aa␟␟aa␟'), identically in Spark and any
    SQL engine with a literal replace().  Single-wrapping would break the
    greedy chain (the consumed trailing sentinel can't start the next
    match) and can also match across symbol boundaries."""
    return F.concat(
        F.lit(BPE_SEP), F.concat_ws(BPE_SEP + BPE_SEP, F.split(word, "")), F.lit(BPE_SEP)
    )


def _bpe_pairs(syms: Column) -> Column:
    """Adjacent symbol pairs of a wrapped string, overlaps included
    (classical BPE counts every adjacent occurrence)."""
    arr = F.split(F.substring(syms, F.lit(2), F.length(syms) - 2), BPE_SEP + BPE_SEP)
    # zip(arr[:-1], arr[1:]) — empty for single-symbol words (a
    # sequence(1, 0) formulation would emit Spark's DESCENDING [1, 0] and
    # index out of bounds there)
    return F.zip_with(
        F.slice(arr, 1, F.size(arr) - 1),
        F.slice(arr, 2, F.size(arr) - 1),
        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
    )


def bpe_learn_merges(
    df: DataFrame, text_col: str = "text", n_merges: int = 3
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus —
    → (merge_round, lhs, rhs, pair_count), one row per learned merge,
    ties broken (count DESC, lhs ASC, rhs ASC) so the trajectory is
    deterministic and SQL-replayable (tx08's oracle unrolls the rounds).

    The distributed shape is the real tokenizer-training shape: pair
    statistics aggregate over the WORD VOCABULARY weighted by word
    frequency (vocabulary-bounded shuffle, corpus-sized only on the one
    initial word count), and each round's winner is a 1-row driver
    round-trip — k-means' economics applied to tokenizer training.
    Merge application is a codegen'd literal replace on the wrapped
    symbol string (see _bpe_wrap), no UDFs anywhere."""
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter((F.col("w") != "") & (~F.col("w").contains(BPE_SEP)))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("n", _bpe_wrap(F.col("w")).alias("s"))
        .localCheckpoint(eager=True)
    )
    merges = []
    for r in range(1, n_merges + 1):
        top = (
            words.select("n", F.explode(_bpe_pairs(F.col("s"))).alias("p"))
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("n").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("lhs"), F.col("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["pair_count"]
        merges.append((r, lhs, rhs, cnt))
        words = words.select(
            "n",
            F.replace(
                F.col("s"),
                F.lit(BPE_SEP + lhs + BPE_SEP + BPE_SEP + rhs + BPE_SEP),
                F.lit(BPE_SEP + lhs + rhs + BPE_SEP),
            ).alias("s"),
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "merge_round int, lhs string, rhs string, pair_count bigint"
    )


# ---------------------------------------------------------------------------
# Trained Naive-Bayes language ID (corpus-trained, integer micro-nats)
# ---------------------------------------------------------------------------

def nb_langid(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    score_all: bool = False,
) -> DataFrame:
    """Multinomial Naive-Bayes language identification TRAINED on the
    corpus's own labels (the fasttext-style classifier of a curation
    pipeline, reduced to its distributed essence): docs with
    ``id % 5 != 0`` train add-one-smoothed per-(lang, token)
    likelihoods; the held-out rest are scored and argmin-classified.
    → (doc_id, pred_lang, total_cost, lang, correct) per test doc.
    ``score_all=True`` scores EVERY doc with the same split-trained model
    (the curation-gate mode e2e08 composes: the model never trains on
    what it filters is the held-out discipline; here train rows are
    scored too, which is how a production langid gate runs).

    Determinism design (tx07's trick applied to a classifier): each
    (lang, token) negative log-likelihood quantizes ONCE to integer
    micro-nats — ``floor((ln(T_l + V) − ln(c + 1))·1e6)`` — so per-doc
    scores are order-independent integer sums on both engines, and the
    argmin tie-breaks (cost, lang) totally.

    Scale shape: model state is vocabulary-bounded, never corpus-bounded —
    one (lang, token)-keyed count agg (map-side partials), one 5-row lang
    total, one scalar vocab size; scoring is a token-keyed join of test
    tokens against the cost table (AQE broadcasts a small model; a
    web-scale vocab shuffles — both correct) + a doc-keyed sum.  The only
    driver round-trips are Spark-internal scalar crossJoins; no collect.
    """
    is_test = F.col(id_col) % 5 == 0
    train = df.filter(~is_test)
    test = df if score_all else df.filter(is_test)
    tr_toks = train.select(
        F.col(label_col).alias("lang"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = tr_toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    lang_tot = tr_toks.groupBy("lang").agg(F.count(F.lit(1)).alias("t_l"))
    vstats = counts.select("tok").distinct().agg(F.count(F.lit(1)).alias("v"))
    micro = lambda col: F.floor(col * 1e6).cast("long")  # noqa: E731
    cost_tbl = (
        counts.join(lang_tot, "lang")
        .crossJoin(vstats)
        .select(
            "lang",
            "tok",
            micro(F.log(F.col("t_l") + F.col("v")) - F.log(F.col("c") + 1)).alias("cost"),
        )
    )
    defaults = lang_tot.crossJoin(vstats).select(
        "lang", micro(F.log(F.col("t_l") + F.col("v"))).alias("cost0")
    )
    d_l = train.groupBy(F.col(label_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("d_l")
    )
    priors = d_l.crossJoin(d_l.agg(F.sum("d_l").alias("d"))).select(
        "lang", micro(F.log(F.col("d")) - F.log(F.col("d_l"))).alias("prior_cost")
    )
    te_toks = test.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    scored = (
        te_toks.crossJoin(F.broadcast(lang_tot.select("lang")))
        .join(cost_tbl, ["lang", "tok"], "left")
        .join(F.broadcast(defaults), "lang")
        .select("id", "lang", F.coalesce(F.col("cost"), F.col("cost0")).alias("cost"))
    )
    totals = (
        scored.groupBy("id", "lang")
        .agg(F.sum("cost").alias("tok_cost"))
        .join(F.broadcast(priors), "lang")
        .select("id", "lang", (F.col("tok_cost") + F.col("prior_cost")).alias("total_cost"))
    )
    w = Window.partitionBy("id").orderBy("total_cost", "lang")
    pred = (
        totals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", F.col("lang").alias("pred_lang"), "total_cost")
    )
    return (
        pred.join(test.select(F.col(id_col).alias("id"), F.col(label_col)), "id")
        .select(
            F.col("id").alias(id_col),
            "pred_lang",
            "total_cost",
            label_col,
            (F.col("pred_lang") == F.col(label_col)).alias("correct"),
        )
    )


def bpe_encode_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 3,
) -> DataFrame:
    """Close the tokenizer loop: learn ``n_merges`` BPE merges over the
    corpus (``bpe_learn_merges``), APPLY them, and report per-document
    token counts before/after — the number a pretraining pipeline
    actually budgets on.  → (doc_id, n_words, n_bpe_tokens).

    Scale shape: the merge table is a ``n_merges``-row driver round-trip;
    application is ``n_merges`` chained literal replaces over the DISTINCT
    word vocabulary (vocabulary-bounded, never corpus-bounded — the same
    economics as training), and the per-doc rollup is one token-keyed
    join plus a doc-keyed sum, both map-side-combinable."""
    merges = sorted(
        bpe_learn_merges(df, text_col=text_col, n_merges=n_merges).collect(),
        key=lambda r: r["merge_round"],
    )
    vocab = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter((F.col("w") != "") & (~F.col("w").contains(BPE_SEP)))
        .distinct()
        .select("w", _bpe_wrap(F.col("w")).alias("s"))
    )
    for m in merges:
        vocab = vocab.select(
            "w",
            F.replace(
                F.col("s"),
                F.lit(BPE_SEP + m["lhs"] + BPE_SEP + BPE_SEP + m["rhs"] + BPE_SEP),
                F.lit(BPE_SEP + m["lhs"] + m["rhs"] + BPE_SEP),
            ).alias("s"),
        )
    wsyms = vocab.select(
        "w",
        F.size(
            F.split(F.substring(F.col("s"), F.lit(2), F.length("s") - 2), BPE_SEP + BPE_SEP)
        ).cast("long").alias("n_syms"),
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter((F.col("w") != "") & (~F.col("w").contains(BPE_SEP)))
    return (
        toks.join(wsyms, "w")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    top_n: int = 100,
) -> DataFrame:
    """Zipf's-law fit per group: the least-squares slope of ln(freq) vs
    ln(rank) over each group's top-``top_n`` token ranks, with intercept.

    The tokenizer-health / corpus-naturalness gauge: natural language sits
    near slope −1; machine-generated spam, template boilerplate, and
    broken encodings bend the rank-frequency line, so a per-language slope
    drifting between crawls is a curation alarm (pairs with dq01's PSI and
    tx01's profile).

    Determinism design (tx07's micro-nat idea applied to regression):
    ln(rank) and ln(freq) are each quantized ONCE to integer micro-nats;
    all five regression sums (n, Σx, Σy, Σxy, Σx²) then accumulate as
    exact BIGINTs — order-independent on both engines.  With x,y ≤
    ln(2⁶³)·1e6 < 4.4e7 and top_n ≤ 10⁴ the SUMS stay < 2⁶³; the slope's
    cross PRODUCTS (n·Σxy, Σx·Σy, …) can reach ~10²² near that bound, so
    they are formed in exact decimal(38,0), not BIGINT.  The slope
    and intercept are each ONE float expression over those exact sums
    (slope = (nΣxy−ΣxΣy)/(nΣx²−Σx²); intercept = (Σy−slope·Σx)/n, both in
    micro-nats), then rounded to 1e-6 — correctly-rounded IEEE ops over
    identical inputs, so both engines agree bit-for-bit.

    Scale shape: explode → map-side-combined (group, token) count agg —
    state bounded by vocabulary, not corpus.  The per-group rank window
    runs over the VOCAB histogram (≤ distinct tokens per group) and only
    ``top_n`` rows survive into the O(groups) regression agg.  At a
    web-scale vocab the top-N selection should switch to the two-phase
    histogram cut (domain_cap's); at tokenizer-budget N this is the
    standard tx04/tx05 shape.
    → (group, n_ranks, slope, intercept)."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("grp").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            "grp",
            F.floor(F.log(F.col("rank").cast("double")) * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("xq"),
            F.floor(F.log(F.col("cnt").cast("double")) * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("yq"),
        )
    )
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
    )
    # The SUMS stay < 2^63 at top_n <= 10^4, but the slope's cross
    # PRODUCTS (n*sxy, sx*sy, ...) can reach ~10^22 near that bound with
    # web-scale counts — form them in decimal(38,0) (exact, 38 digits
    # covers 5+19-digit operands) so the regression stays integer-exact
    # with ANSI on or off, no silent BIGINT wraparound.
    n_d = F.col("n").cast("decimal(38,0)")
    sx_d = F.col("sx").cast("decimal(38,0)")
    sy_d = F.col("sy").cast("decimal(38,0)")
    num = n_d * F.col("sxy").cast("decimal(38,0)") - sx_d * sy_d
    den = n_d * F.col("sxx").cast("decimal(38,0)") - sx_d * sx_d
    slope = num.cast("double") / den.cast("double")
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / 1e6
    )
    return agg.filter(den != 0).select(
        F.col("grp").alias(group_col),
        F.col("n").alias("n_ranks"),
        stable_round(slope, 6).alias("slope"),
        stable_round(intercept, 6).alias("intercept"),
    )


def tfidf_hashed(
    df: DataFrame,
    dims: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashed TF-IDF document vectors — the classical cheap doc
    embedding (hashing-trick bag-of-words), emitted SPARSE as one row per
    non-zero (doc, dim): ``weight_q = Σ_tok∈dim tf(doc,tok) · idf_q(tok)``.
    When no neural encoder is in the loop (or as its pre-filter), these
    vectors feed the same downstream consumers as the ``embeddings``
    table: cosine near-dup (dd05), clustering (cl01), drift (dq04).

    Exactness: idf quantizes to integer micro-nats (floor(ln((N+1)/(df+1))
    ·1e6 + .5) — tx07's convention) BEFORE the weighted sum, tf is an
    exact count, so every weight is a BIGINT sum of BIGINT products — no
    float accumulation anywhere, engines agree bit-for-bit.  The hash is
    the engine-portable md5-prefix (dedup.portable_hash), replayed
    verbatim by the oracle.

    Scale shape: three map-side-combinable keyed aggregations — (doc, tok)
    term counts, (tok) document frequencies, (doc, dim) weight sums — plus
    one join keyed on tok.  The df table is vocabulary-sized; N rides in
    as a one-row broadcast (never a driver literal, so the plan is a
    single DAG).  Output rows ≤ docs × dims — the sparse bound a dense
    array column would forfeit (and array cells break row
    canonicalization downstream — the a11 lesson)."""
    from cnics_to_fhir_spark.operators.dedup import portable_hash

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "tok",
        F.floor(
            F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("idf_q"),
    )
    return (
        tf.join(idf, "tok")
        .select(
            F.col(id_col),
            F.pmod(portable_hash(F.col("tok")), F.lit(dims)).cast("int").alias("dim"),
            (F.col("tf") * F.col("idf_q")).alias("w"),
        )
        .groupBy(id_col, "dim")
        .agg(F.sum("w").cast("long").alias("weight_q"))
    )
