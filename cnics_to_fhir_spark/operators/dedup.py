"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (the point of each variant):

- ``exact``: one hash-shuffle on a 128-bit content key; partial aggregation
  map-side; at 100 TB the shuffle carries (key, min_id) only, never text.
- ``ngram_jaccard``: blocking key → equi-join → exact Jaccard on candidates.
  The blocking key keeps the join linear; never an O(n²) cross join.
- ``minhash_lsh``: signature is H array-min passes over the shingle array
  (all codegen'd); banding turns near-dup search into an equi-join on
  (band_id, band_hash) — the classic shuffle-friendly LSH plan. Candidate
  pairs then get exact Jaccard verification.
- ``simhash``: explode→hash→bit-vote→groupBy; one shuffle keyed by doc,
  64 vectorized agg expressions; near-dups = equal 16-bit prefix bands.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cnics_to_fhir_spark.functions.numeric import stable_round
from cnics_to_fhir_spark.functions.partitioning import ensure_min_parallelism


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def exact_dedup_plan(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by content hash; keep the smallest id as the canonical copy.

    Returns (fingerprint, keeper_id, n_copies) — the decision table; a join
    back on fingerprint filters the corpus.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    plan = exact_dedup_plan(df, text_col, id_col)
    return df.join(
        plan.select(F.col("keeper_id").alias(id_col)), on=id_col, how="left_semi"
    )


# ---------------------------------------------------------------------------
# Word shingles + Jaccard
# ---------------------------------------------------------------------------

def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string>; whole-doc shingle when shorter."""
    toks = F.split(text, " ")
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (distinct semantics)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    block_words: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via blocking + exact Jaccard.

    Blocking key = first ``block_words`` tokens (cheap, deterministic,
    SQL-expressible). Candidates = pairs sharing a block; verified with exact
    shingle Jaccard ≥ threshold. Output: (id_a, id_b, jaccard_sim).
    """
    # Candidate generation shuffles only (id, block) — never shingle arrays;
    # the verify stage re-attaches shingles by id. At 100 TB the block join
    # therefore moves ~16 B/row instead of the full shingle set, and the
    # (small) candidate list broadcasts back against the corpus.
    df = ensure_min_parallelism(df, id_col)
    blocks = df.select(
        F.col(id_col).alias("id"),
        F.array_join(F.slice(F.split(F.col(text_col), " "), 1, block_words), " ").alias("block"),
    )
    pairs = (
        blocks.select(F.col("id").alias("id_a"), "block")
        .join(blocks.select(F.col("id").alias("id_b"), "block"), on="block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("shingles"),
    )
    return _verify_jaccard(pairs, shingled, threshold)


def _verify_jaccard(pairs: DataFrame, shingled: DataFrame, threshold: float) -> DataFrame:
    """Attach shingles to candidate (id_a, id_b) pairs and keep exact-Jaccard
    survivors. ``shingled`` = (id, shingles).

    The shingle side is O(corpus) with fat array payloads and must NEVER
    be the broadcast build side: Catalyst's size estimate of a persisted
    relation undercounts the in-memory UnsafeRow blow-up of array<string>
    columns, so at scale the auto-broadcast pick deserializes a
    multi-GB LongToUnsafeRowMap per executor and OOMs (observed: dd15 at
    sf10, 125k sampled docs — java heap OOM inside HashedRelation read).
    ``shuffle_hash`` pins a shuffled hash join: keyed exchange on the id,
    no replicated corpus copy, the 100-TB-honest shape regardless of what
    the stats claim.

    Per-pair cost is the dominant CPU of every caller, so two exact
    rewrites keep the arithmetic identical while skipping work:

    - ``|union| = n_a + n_b - |inter|`` (shingle arrays are distinct by
      construction), with the per-DOC sizes projected once on the shingled
      side — drops the per-PAIR ``array_union`` set build, the larger of
      the two set operations.  The division operands are the same integers
      as before, so the double quotient is bit-identical.
    - a size-ratio prefilter ahead of the intersect: ``jaccard <=
      min(n_a,n_b)/max(n_a,n_b)``, so a pair with ``min < (threshold -
      1e-6) * max`` can never survive even after ``stable_round``'s
      <= 5e-7 perturbation (1e-6 slack > 5e-7, strict superset kept) —
      candidates from coarse blocking die on two ints instead of a set
      build over hundreds of strings."""
    sized = shingled.select(
        "id", "shingles", F.size("shingles").alias("__n")
    )
    a = sized.select(
        F.col("id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("__n").alias("__n_a"),
    )
    b = sized.select(
        F.col("id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("__n").alias("__n_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.col("__n_a") + F.col("__n_b") - inter
    # The emptiness guard tests n_a + n_b > 0, which over non-negative
    # distinct-array sizes is EXACTLY union > 0 (union <= n_a + n_b and
    # union >= max(n_a, n_b)), same lazy branch semantics — but costs two
    # int reads instead of an array_intersect: the threshold filter
    # collapses into the join condition, where a guard mentioning the
    # intersect would evaluate it a third time per candidate pair (Spark
    # cannot subexpression-eliminate across lazy CASE branches).  The CASE
    # itself is ALSO load-bearing: an unconditional quotient is
    # null-intolerant, and InferFiltersFromConstraints then derives
    # isnotnull(size(array_distinct(word_shingles(..)))) and pushes the
    # whole shingle expression into the SCAN filter — per-doc shingling
    # evaluated twice, below the min-parallelism exchange, on the serial
    # scan side (the dd13 pathology; measured 2.8x slower on dd02).
    jac = F.when(
        (F.col("__n_a") + F.col("__n_b")) > 0,
        inter.cast("double") / union.cast("double"),
    ).otherwise(F.lit(0.0))
    ratio_ok = (
        F.least("__n_a", "__n_b").cast("double")
        >= F.lit(threshold - 1e-6) * F.greatest("__n_a", "__n_b").cast("double")
    )
    return (
        pairs.join(a.hint("shuffle_hash"), on="id_a")
        .join(b.hint("shuffle_hash"), on="id_b")
        .filter(ratio_ok)
        .select("id_a", "id_b", stable_round(jac, 6).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )


def incremental_jaccard_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    block_words: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection: pairs for a NEW ``batch`` against an
    already-deduplicated ``corpus`` plus within-batch pairs — the steady-
    state production shape, where re-verifying corpus x corpus every
    ingest would redo almost all the work for no new information.

    Output: (id_a, id_b, jaccard_sim, cross) with id_a < id_b always and
    ``cross`` true for batch-vs-corpus pairs; corpus x corpus pairs are
    structurally excluded (never generated, not filtered out).

    Scale shape: the candidate join touches the corpus only through its
    (id, block) projection keyed on the block — at 100 TB the corpus side
    is pre-bucketed by block so each ingest shuffles ONLY the batch
    (bucket-join, corpus stationary), and the verify stage re-attaches
    shingles by id exactly like ngram_jaccard_pairs. Work per ingest is
    O(batch-related candidates), independent of corpus-internal
    similarity."""
    corpus = ensure_min_parallelism(corpus, id_col)

    def blocks(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.array_join(
                F.slice(F.split(F.col(text_col), " "), 1, block_words), " "
            ).alias("block"),
        )

    def shingles(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(word_shingles(F.col(text_col), k)).alias("shingles"),
        )

    cb, bb = blocks(corpus), blocks(batch)
    cross = (
        bb.select(F.col("id").alias("id_x"), "block")
        .join(cb.select(F.col("id").alias("id_y"), "block"), on="block")
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            F.lit(True).alias("cross"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    within = (
        bb.select(F.col("id").alias("id_a"), "block")
        .join(bb.select(F.col("id").alias("id_b"), "block"), on="block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(False).alias("cross"))
    )
    pairs = cross.unionByName(within).dropDuplicates(["id_a", "id_b", "cross"])
    sh = shingles(corpus).unionByName(shingles(batch))
    verified = _verify_jaccard(pairs.select("id_a", "id_b"), sh, threshold)
    return verified.join(pairs, on=["id_a", "id_b"]).select(
        "id_a", "id_b", "jaccard_sim", "cross"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def portable_hash(col: Column, seed: int | None = None) -> Column:
    """60-bit integer hash BOTH engines compute identically: the first 15
    hex chars of md5((seed ':')? value) read as an integer. DuckDB mirror:
    ``CAST(('0x' || substring(md5(...), 1, 15)) AS UBIGINT)``. Slower than
    xxhash64 (the production path) but engine-portable — the ``portable``
    LSH variant uses it so the whole pipeline replays under the oracle."""
    s = col if seed is None else F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _min_hash_at(shingles: Column, j: int, portable: bool) -> Column:
    """min over shingles of hash_j(shingle), with ``j`` captured by a real
    closure. NEVER write ``lambda s, j=j: ...`` here: pyspark's transform
    dispatches on lambda ARITY, so a second parameter — even defaulted —
    turns the lambda into the (element, index) form and silently rebinds
    ``j`` to the array-index column. That collapsed all "independent"
    hash functions into one (xxhash64 path: hash(position, shingle),
    identical for every j) and made the portable path hash a
    plan-dependent Column repr — caught only by the sf1 oracle run, where
    a band collision present in Spark was absent from the DuckDB replay."""
    if portable:
        return F.array_min(F.transform(shingles, lambda s: portable_hash(s, seed=j)))
    return F.array_min(F.transform(shingles, lambda s: F.xxhash64(F.lit(j), s)))


def minhash_from_shingles(
    shingles: Column, num_hashes: int = 32, portable: bool = False
) -> Column:
    """MinHash signature from a pre-computed (distinct) shingle array."""
    return F.array(
        *[_min_hash_at(shingles, j, portable) for j in range(num_hashes)]
    )


def _lsh_candidates(
    shingled: DataFrame, num_hashes: int, bands: int, portable: bool
) -> DataFrame:
    """MinHash signatures → band buckets → distinct candidate pairs
    (id_a < id_b).  The band join runs over (id, band_id, band_hash) rows
    only (~24 B each); shingle arrays never ride the band explode."""
    rows = num_hashes // bands
    if portable:
        def band_hash(b: int) -> Column:
            joined = F.concat_ws(
                "|", *[F.col("sig")[b * rows + r].cast("string") for r in range(rows)]
            )
            return portable_hash(joined)
    else:
        def band_hash(b: int) -> Column:
            return F.xxhash64(*[F.col("sig")[b * rows + r] for r in range(rows)])

    banded = shingled.select(
        "id", minhash_from_shingles(F.col("shingles"), num_hashes, portable).alias("sig")
    ).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        band_hash(b).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_hash")

    return (
        banded.select(F.col("id").alias("id_a"), "band_id", "band_hash")
        .join(banded.select(F.col("id").alias("id_b"), "band_id", "band_hash"), on=["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """MinHash → band buckets → equi-join candidates → exact-Jaccard verify.

    bands × rows = num_hashes; collision prob ≈ 1-(1-s^rows)^bands.
    ``portable=True`` swaps xxhash64 for the md5-derived portable hash so
    an external engine can replay the full pipeline (see
    dd03b_minhash_lsh_portable); same plan shape, same shuffles.

    ``materialize=True`` collects the (slim, ids+score) pair rows and
    unpersists the shingle cache before returning — the lazy result
    otherwise pins corpus-sized cached blocks for as long as callers hold
    it (e2e07's cache-lifetime rule; the catalog entries use this).
    Honesty note on the driver round-trip: pair COUNT is O(near-dup
    pairs), not O(1) — bounded at the verification scale factors; a
    production run materializes to a sink instead of the driver.
    """
    rows = num_hashes // bands
    # The band join + pair dedup run over (id, band_id, band_hash) rows only
    # (~24 B each); the 8-way band explode never amplifies shingle arrays.
    # Shingles are used 3× (banding + both sides of the verify join), so
    # they are cached MEMORY_AND_DISK (~25 % wall-clock at sf0.1).
    df = ensure_min_parallelism(df, id_col)
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("shingles"),
    )
    from pyspark import StorageLevel

    shingled = shingled.persist(StorageLevel.MEMORY_AND_DISK)
    candidates = _lsh_candidates(shingled, num_hashes, bands, portable)
    out = _verify_jaccard(candidates, shingled, threshold)
    if materialize:
        pair_rows = out.collect()
        schema = out.schema
        shingled.unpersist()
        return df.sparkSession.createDataFrame(pair_rows, schema)
    return out


def lsh_pr_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
    df_cap: int = 10,
    sample_mod: int | None = None,
) -> DataFrame:
    """Precision/recall of the LSH BANDING itself — the parameter-tuning
    harness a dedup pipeline needs before trusting (num_hashes, bands) at
    corpus scale: how many banding candidates are real near-dups
    (precision — wasted verify work when low), and how many real
    near-dups the bands surface at all (recall — silently surviving
    duplicates when low).  ann10 plays this role for ANN; this is the
    dedup twin.

    ``sample_mod``: evaluate on the deterministic seeded sample of docs
    with ``portable_hash(id) % sample_mod == 0`` instead of the full
    corpus — the P/R statistic is an ESTIMATE of the banding's quality
    and doesn't need every pair; a 1/m doc sample cuts the exact-Jaccard
    ground-truth join (the quadratic term, and the reason a full-corpus
    eval is unaffordable at scale) by ~m², while staying engine-portable
    and replayable (the same md5 predicate selects the same docs in any
    engine).  ``None`` = full corpus.

    Ground truth = exact Jaccard ≥ ``threshold`` over the UNION of two
    independent candidate generators — a df-capped shingle inverted index
    (dd13's discipline: Σ df² volume bounded, hot shingles excluded and
    COUNTED, never silently dropped) and the LSH candidates themselves —
    so a true pair missed by the capped index but found by LSH still
    lands in the truth set, and precision never reads false-low.  A
    J ≥ 0.5 pair shares at least half its shingles, so only a pair ALL of
    whose shared shingles are hot can be missing from truth entirely;
    ``n_capped_shingles`` quantifies that exposure per run.

    Output: ONE row (n_truth, n_cand, n_hit, n_capped_shingles,
    precision_q, recall_q) — shares in integer micro-units via exact DIV,
    NULL (not fake 100%) when a denominator is zero.

    Scale shape: the banding side is dd03b's (ids+band-hash rows only);
    the index side is one shingle-keyed count agg + one df-capped
    self-join; verification joins are keyed on ids; every metric is a
    map-side-combinable count — no driver state beyond the single output
    row."""
    from pyspark import StorageLevel

    if sample_mod is not None:
        if sample_mod < 1:
            raise ValueError("sample_mod must be >= 1")
        df = df.filter(
            portable_hash(F.col(id_col).cast("string")) % sample_mod == 0
        )
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("shingles"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    cand = _lsh_candidates(shingled, num_hashes, bands, portable=True)

    inv = shingled.select("id", F.explode("shingles").alias("s"))
    dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("c"))
    kept = dfreq.filter(F.col("c") <= df_cap).select("s")
    n_capped = dfreq.agg(
        F.sum((F.col("c") > df_cap).cast("long")).alias("n_capped_shingles")
    ).select(F.coalesce(F.col("n_capped_shingles"), F.lit(0)).alias("n_capped_shingles"))
    # every join below has an O(corpus)-scaled side (shingle vocabulary,
    # inverted index, verified pair set) — shuffle_hash pins keyed
    # exchanges so none of them can become a replicated broadcast build
    # at scale (see _verify_jaccard's note; same honesty rule)
    invk = inv.join(kept.hint("shuffle_hash"), on="s", how="left_semi")
    pinv = (
        invk.select(F.col("id").alias("id_a"), "s")
        .join(invk.select(F.col("id").alias("id_b"), "s").hint("shuffle_hash"), on="s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    allp = pinv.unionByName(cand).dropDuplicates(["id_a", "id_b"])
    truth = _verify_jaccard(allp, shingled, threshold).select("id_a", "id_b")

    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    nh = cand.join(truth.hint("shuffle_hash"), on=["id_a", "id_b"], how="left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    out = (
        nt.crossJoin(nc)
        .crossJoin(nh)
        .crossJoin(n_capped)
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            "n_capped_shingles",
            F.when(
                F.col("n_cand") > 0,
                F.expr("CAST(n_hit * 1000000 DIV n_cand AS BIGINT)"),
            ).alias("precision_q"),
            F.when(
                F.col("n_truth") > 0,
                F.expr("CAST(n_hit * 1000000 DIV n_truth AS BIGINT)"),
            ).alias("recall_q"),
        )
    )
    rows = out.collect()
    shingled.unpersist()
    return df.sparkSession.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash per doc: explode tokens → xxhash64 → per-bit vote →
    reassemble. One shuffle (groupBy id), all-native aggregation.
    ``portable=True`` uses the md5-derived 60-bit portable hash, so the
    signature width is capped at 60 automatically — an uncapped 64 would
    silently zero the top 4 bits (hash has no entropy there) and weaken
    the prefix bands."""
    if portable:
        bits = min(bits, 60)
    df = ensure_min_parallelism(df, id_col)
    token_hash = portable_hash(F.col("tok")) if portable else F.xxhash64("tok")
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", token_hash)
    votes = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
    return votes.select("id", sim.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Candidate pairs by equal SimHash band (4 bands ⇒ any pair with
    hamming ≤ 3 shares at least one band — pigeonhole), verified by exact
    hamming distance. 16-bit bands over 64-bit xxhash64 signatures, or
    15-bit bands over 60-bit portable signatures (portable=True)."""
    bits = 60 if portable else 64
    band_w = bits // 4
    mask = (1 << band_w) - 1
    sh = simhash(df, text_col, id_col, bits=bits, portable=portable)
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col("simhash"), band_w * b).bitwiseAND(F.lit(mask)).alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("id", "simhash", "band.band_id", "band.band_val")
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band_id", "band_val")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band_id", "band_val")
    pairs = (
        a.join(b, on=["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def refine_blocks(
    df: DataFrame,
    vec_col: str = "embedding",
    block_col: str = "label",
    bits: int = 3,
    out_col: str = "block_fine",
) -> DataFrame:
    """Deterministically split each coarse cell by the sign pattern of the
    leading ``bits`` vector components: n_cells × 2^bits at zero training
    cost. THE scale lever for blocked self-joins: Σ|cell|² must stay
    bounded as the corpus grows (the sf1 probe measured 14× wall on 10×
    data with fixed cells, 1× after one 8× refinement — PLANS.md), and
    this is the cheap refinement to apply between quantizer retrainings
    (operators/clustering.kmeans gives the trained version). Sign-bit
    splits are SQL-expressible, so refined pipelines stay oracle-checked."""
    fine = F.col(block_col).cast("long") * (1 << bits)
    for b in range(bits):
        fine = fine + F.when(
            F.element_at(F.col(vec_col), b + 1) > 0, F.lit(1 << (bits - 1 - b))
        ).otherwise(F.lit(0))
    return df.withColumn(out_col, fine)


def choose_refine_bits(
    n_rows: int, n_cells: int, target_cell_rows: int, max_bits: int
) -> int:
    """Smallest b ≤ max_bits with avg cell size ≤ target after a 2^b split.

    Integer comparisons only (no log2 floats) so the DuckDB oracle's CASE
    chain lands on the identical b at every scale — a float log2 could flip
    CEIL at exact power-of-two boundaries between engines."""
    bits = 0
    while bits < max_bits and n_rows > target_cell_rows * max(n_cells, 1) * (1 << bits):
        bits += 1
    return bits


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
    target_cell_rows: int | None = 256,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, IVF-style:
    the self-join is blocked on a coarse cluster id (``block_col`` — a
    centroid assignment in a real pipeline), so the pair space is
    Σ|cluster|² instead of |corpus|². Near-dups land in the same coarse
    cell by construction; cross-cell near-dups are the recall cost, the
    standard IVF trade. Output: (id_a, id_b, cosine_sim).

    Scale guard (default ON): with a FIXED cell count the blocked self-join
    is quadratic in corpus size — the sf1 probe measured 14× wall on 10×
    data before this guard existed.  When the average cell would exceed
    ``target_cell_rows``, the blocking is automatically refined by the sign
    pattern of the leading ``bits`` vector components (cell = coarse<<8 |
    sign bits, weight 1<<b for component b), with ``bits`` chosen by
    integer arithmetic from (row count, cell count) so n_cells grows ∝
    corpus and Σ|cell|² stays bounded.  The decision costs one count
    aggregation over (id, block) — cheap next to the self-join it guards;
    deployments that already know their corpus stats can pass
    ``target_cell_rows=None`` and pre-refine explicitly (``refine_blocks``
    or the trained quantizer in operators/clustering).  The sign split is
    pure deterministic arithmetic, so refined runs stay oracle-checked."""
    from cnics_to_fhir_spark.operators.similarity import cosine_with_norms, norm

    df = ensure_min_parallelism(df, id_col)
    if target_cell_rows is not None:
        # Bounded driver round-trip: TWO longs (row count, cell count) come
        # back, like the k×dim centroids in operators/clustering — then
        # ``bits`` is a Python literal, so the refined cell expression
        # constant-folds and the self-join keys stay codegen-friendly.  (An
        # in-plan broadcast-scalar variant was measured 2.3× slower at sf1:
        # the runtime ``bits`` column defeats constant folding on the join
        # key.)  The stats pass is one extra scan of (id, block) — <1% of
        # the self-join it guards; deployments that know their corpus stats
        # skip it with target_cell_rows=None plus explicit refine_blocks /
        # a trained quantizer.
        stats = df.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct(block_col).alias("c")
        ).first()
        bits = choose_refine_bits(
            stats["n"], stats["c"], target_cell_rows, max_bits=8
        )
        if bits > 0:
            cell = F.col(block_col).cast("long") * 256
            for b in range(bits):
                cell = cell + F.when(
                    F.element_at(F.col(vec_col), b + 1) > 0, F.lit(1 << b)
                ).otherwise(F.lit(0))
            df = df.withColumn("__auto_cell", cell)
            block_col = "__auto_cell"
    # Norms are computed once per row BEFORE the self-join (same association
    # as dot/(‖a‖·‖b‖), so rounded values match the oracle) — each candidate
    # pair then runs one higher-order dot instead of three. With ~c rows per
    # block that is 2(c-1) fewer array traversals per row.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    pairs = (
        base.select(F.col("id").alias("id_a"), "block", F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a"))
        .join(
            base.select(F.col("id").alias("id_b"), "block", F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b")),
            on="block",
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return pairs.select(
        "id_a",
        "id_b",
        stable_round(
            cosine_with_norms(F.col("vec_a"), F.col("vec_b"), F.col("nrm_a"), F.col("nrm_b")), 6
        ).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= threshold)


# ---------------------------------------------------------------------------
# Duplicate clusters (transitive closure over near-dup pairs)
# ---------------------------------------------------------------------------

_PROPAGATION_MAX_ITERS = 20


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs: every doc that appears in a
    pair gets its component's minimum id as ``cluster_rep`` — the canonical
    keeper; drop everything where doc_id != cluster_rep.

    Min-label propagation to fixpoint: each iteration every node takes the
    min of its own label and its neighbors' labels (one join + one groupBy
    per iteration, both on the node id). Converges in O(component diameter)
    iterations — duplicate clusters are near-cliques, so 2-3 in practice.
    ``localCheckpoint`` truncates lineage per iteration (swap for reliable
    ``checkpoint`` on a real cluster). The fixpoint (min reachable id) is
    path-independent, so the result is deterministic however partitions
    race — which is what lets a DuckDB recursive-CTE oracle replay it.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    for _ in range(_PROPAGATION_MAX_ITERS):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("dst_label")),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
        )
        # the changed-row count rides the checkpoint materialization as an
        # Observation over (old, new) pairs already present in the
        # projection — the old probe was a separate labels⋈new_labels job
        # per iteration (guide §5)
        from pyspark.sql import Observation

        obs = Observation()
        new_labels = (
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                labels["id"],
                F.col("label").alias("__old"),
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
            )
            .observe(
                obs,
                F.count(
                    F.when(F.col("__old") != F.col("label"), F.lit(1))
                ).alias("chg"),
            )
            .select("id", "label")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["chg"]
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_rep"))
    raise RuntimeError(
        f"label propagation did not converge in {_PROPAGATION_MAX_ITERS} iterations"
    )


def semantic_dedup(
    spark,
    emb: DataFrame,
    threshold: float = 0.35,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the
    embeddings (trained coarse quantizer, not a data-provided label), then
    inside each cluster mark every vector whose cosine to a LOWER-id
    cluster-mate reaches ``threshold`` — the kept representative of each
    semantic near-dup group is its lowest id.  → (vec_id, cluster, is_dup)
    for every input vector.

    Scale shape: training is cl01's loop (corpus distributed, k×dim
    centroids on the driver per iteration); the pair stage DELEGATES to
    ``embedding_near_dup_pairs`` with the trained cell as the blocking
    key, so it inherits the Σ|cell|² scale guard — when cells outgrow the
    target the blocking auto-refines by leading sign bits, keeping
    n_cells ∝ corpus instead of the fixed-k quadratic (on a real corpus
    also raise k ∝ corpus_size / target_cell — SemDeDup used 50k clusters
    at LAION scale).  The final is_dup attach is an ids-only left join."""
    from cnics_to_fhir_spark.operators.clustering import kmeans_assign

    cells = kmeans_assign(
        spark, emb, vec_col=vec_col, id_col=id_col, k=k, iters=2
    ).select("vec_id", F.col("cluster").alias("cell"))
    v = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    iv = v.join(cells, "vec_id")
    dups = (
        embedding_near_dup_pairs(
            iv, id_col="vec_id", vec_col="v", block_col="cell", threshold=threshold
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return iv.join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cluster"),
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated spans (ExactSubstr dedup at shingle resolution)
# ---------------------------------------------------------------------------

def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal cross-document duplicated spans — the shingle-resolution form
    of suffix-array ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a token position is
    *duplicated* when the k-gram starting there occurs in >= ``min_docs``
    distinct documents; maximal runs of consecutive duplicated positions
    are merged into spans (gaps-and-islands), which a trainer then cuts or
    drops.  → (doc_id, span_start [1-based token index], span_len_tokens,
    n_dup_grams) per maximal span.

    Scale shape (the reason this beats a literal suffix array at 100 TB):
    the corpus-wide state is ONE (gram-hash)-keyed count aggregation —
    shingle volume, the same budget dd03's MinHash stage already pays, with
    map-side partials; the positions that survive the left-semi probe then
    shuffle ONCE keyed by doc for the per-doc islands window (positions
    only: the gram text is md5-fixed-width before the shuffle and dropped
    after the probe).  No pairwise doc comparison exists anywhere, so cost
    is linear in corpus shingles + output spans, not quadratic in docs.
    """
    df = ensure_min_parallelism(df, id_col)
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")).filter(
        F.size(F.split(F.col("t"), " ")) >= k
    )
    grams = base.select(
        "id", F.posexplode(word_shingles(F.col("t"), k)).alias("pos0", "gram")
    ).select("id", (F.col("pos0") + 1).cast("long").alias("pos"), F.md5("gram").alias("g"))
    if min_docs == 2:
        # "≥2 distinct docs" ⟺ min(id) ≠ max(id): two single-pass aggregates
        # instead of countDistinct's partial-distinct expansion (measured
        # ~25% off the whole entry at sf0.1).
        dup = (
            grams.groupBy("g")
            .agg(F.min("id").alias("mn"), F.max("id").alias("mx"))
            .filter(F.col("mn") != F.col("mx"))
            .select("g")
        )
    else:
        dup = (
            grams.groupBy("g")
            .agg(F.countDistinct("id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("g")
        )
    marked = grams.join(dup, "g", "left_semi").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    isl = marked.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
        )
        .select(F.col("id").alias(id_col), "span_start", "span_len_tokens", "n_dup_grams")
    )


# ---------------------------------------------------------------------------
# Containment near-dup (asymmetric: small doc inside big doc)
# ---------------------------------------------------------------------------

_CONTAINMENT_K = 4
_CONTAINMENT_MAX_DF = 10


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    with_cap_count: bool = False,
) -> DataFrame:
    """Asymmetric containment dedup: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    over distinct 4-word shingle sets — the measure that catches a small
    document quoted wholesale inside a big one, which Jaccard dilutes
    below any usable threshold (and which real decontamination pipelines
    therefore score with containment, not Jaccard).
    → (id_a, id_b, c_a_in_b, c_b_in_a) for pairs whose larger direction
    reaches ``threshold``; id_a < id_b.

    Scale shape — inverted-index blocking with a document-frequency cap:
    candidate pairs come from sharing a shingle whose doc-freq is in
    [2, 10], so candidate volume is Σ_g df(g)² over capped shingles
    (bounded by 10 · index size), never all-pairs; the Zipf-hot
    shingles that would explode the self-join are excluded.  Recall
    contract: a contained doc shares EVERY one of its shingles with its
    container, so a pair is missed only when all its shared shingles are
    corpus-hot — pure-boilerplate content, exactly what dd08 removes
    upstream.  The shingle-set rejoin ships arrays only for surviving
    candidates.  Docs shorter than 4 words have no 4-shingle and are
    excluded from both sides of the measure.

    No-silent-caps accounting: with ``with_cap_count=True`` every output
    row carries ``n_capped_shingles`` — the number of distinct shingles
    the df-cap excluded on THIS run (broadcast 1-row scalar; costs one
    extra shingle scan + tiny agg, which is why it is opt-in)."""
    df = ensure_min_parallelism(df, id_col)
    sh = df.filter(F.size(F.split(F.col(text_col), " ")) >= _CONTAINMENT_K).select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), _CONTAINMENT_K)).alias("s"),
    )
    # explode_outer, not explode: plain explode lets Catalyst infer
    # `isnotnull(s) AND size(s) > 0` and push the full shingle expression
    # below the min-parallelism exchange, where it evaluates (twice) inside
    # the scan stage — 1 task for a single-file input, serializing the
    # heaviest projection in the query.  `s` is never null/empty here
    # (>= 4 words guarantees >= 1 shingle), so the outer variant plus an
    # explicit null guard is row-identical while the shingle projection
    # stays on the repartitioned side of the exchange.
    inv = sh.select("id", F.explode_outer("s").alias("g")).filter(
        F.col("g").isNotNull()
    )
    dfreq = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df_"))
    rare = dfreq.filter((F.col("df_") >= 2) & (F.col("df_") <= _CONTAINMENT_MAX_DF)).select("g")
    idx = inv.join(rare, "g", "left_semi")
    cand = (
        idx.select(F.col("id").alias("id_a"), "g")
        .join(idx.select(F.col("id").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    out = (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("s").alias("sa")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("s").alias("sb")), "id_b")
        .select(
            "id_a",
            "id_b",
            stable_round(inter.cast("double") / F.size("sa"), 6).alias("c_a_in_b"),
            stable_round(inter.cast("double") / F.size("sb"), 6).alias("c_b_in_a"),
        )
        .filter(F.greatest(F.col("c_a_in_b"), F.col("c_b_in_a")) >= threshold)
    )
    if with_cap_count:
        # derived from the SAME dfreq lineage as `rare` (identical partial
        # aggregation + exchange), so runtime exchange reuse serves both
        # consumers from one shuffle instead of two independent
        # shingle-scan + agg pipelines
        capped = dfreq.agg(
            F.sum(F.when(F.col("df_") > _CONTAINMENT_MAX_DF, 1).otherwise(0))
            .cast("long")
            .alias("n_capped_shingles")
        )
        out = out.crossJoin(F.broadcast(capped))
    return out
