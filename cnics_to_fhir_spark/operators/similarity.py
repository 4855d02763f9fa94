"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: exact brute force — broadcast the (small) query set
  against the corpus, cosine in native higher-order functions, windowed
  top-k. The baseline: correct at any scale where |queries| is bounded,
  because the corpus is never shuffled — one scan, one broadcast join, one
  top-k partial aggregation per query.
- ``lsh_topk``: random-hyperplane (sign) LSH bucketing — corpus and queries
  hash to ``n_planes``-bit sketches; candidates share a band; exact cosine
  re-ranks. Hyperplane weights are derived deterministically from xxhash64
  so the operator needs no stored model and both sides of a join compute
  identical planes. The scale path: turns ANN into an equi-join.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from cnics_to_fhir_spark.functions.numeric import stable_round
from cnics_to_fhir_spark.functions.partitioning import ensure_min_parallelism
from cnics_to_fhir_spark.session import overlap


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, left-to-right (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sql_double(x: float) -> str:
    """A Python float as a SQL double literal: repr() is the shortest
    string that round-trips to the same IEEE-754 double, and the ``D``
    suffix keeps Spark from parsing it as DECIMAL.

    Non-finite values need the CAST spelling — ``repr()`` yields
    ``nan``/``inf``, which the SQL parser rejects ('nanD' is not a
    literal), where the old ``F.lit`` path silently propagated the
    double (e.g. a NaN embedding flowing through k-means means)."""
    v = float(x)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(v) + "D"


def dot_sql(a: str, b: str) -> str:
    """``dot`` as a SQL string over expression strings — parses to the
    identical expression tree (same casts, same 0.0 double seed, same
    left-to-right fold), but costs ONE py4j parse instead of a dozen
    Column RPCs per call site; loops that inline centroid matrices build
    thousands of such subtrees (guide §5)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_with_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine when per-row norms were precomputed before a join.

    Arithmetic is identical to ``cosine`` (dot/(‖a‖·‖b‖), same association),
    so rounded values match the SQL oracles bit-for-bit — but each candidate
    pair evaluates ONE higher-order dot instead of three. Norms are computed
    once per row, not once per pair: in a top-k probe scoring each corpus row
    against q queries this removes 2q-2 of the 3q array traversals."""
    return dot(a, b) / (norm_a * norm_b)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self-matches by id).

    Output: (query_id, neighbor_id, cosine_sim, rank) — rank by rounded
    similarity then neighbor id, fully deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = ensure_min_parallelism(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                cosine_with_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cell (nprobe=1).

    ``cell_col`` is the coarse-quantizer assignment (a centroid id in a real
    index; the ``label`` column here). The search becomes an equi-join on the
    cell id — at 100 TB, bucket the corpus by cell and the probe is a
    shuffle-free co-located join; recall is bounded by the quantizer, the
    standard IVF trade. Unlike sign-LSH this is fully SQL-expressible, so it
    is the oracle-checked scale path."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(cell_col).alias("cell"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = ensure_min_parallelism(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("cell"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                cosine_with_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lo: float = 0.2,
    hi: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive training-pair mining: for each query, the top-k
    SEMI-HARD negatives — neighbors with cosine in [lo, hi), i.e. similar
    enough to be informative gradients but below the near-duplicate
    threshold that would make them false negatives (the standard
    sentence-embedding mining recipe).  Output: (query_id, neighbor_id,
    cosine_sim, rank), rank over the band by similarity DESC then id.

    Scale shape = ann01's: the query set broadcasts, the corpus never
    shuffles, the band filter runs scan-side before the per-query top-k
    window; at mining scale (every doc a query) swap the broadcast for
    the IVF cell join (ann03/ann06) — the band/rank logic is unchanged."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = ensure_min_parallelism(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                cosine_with_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                6,
            ).alias("cosine_sim"),
        )
        .filter((F.col("cosine_sim") >= lo) & (F.col("cosine_sim") < hi))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF with nprobe > 1: each query probes its ``nprobe`` NEAREST coarse
    cells (by squared distance to the trained centroids, ties on cid) —
    the standard production recall knob over ``ivf_topk``'s nprobe=1.

    Scale shape: the centroid table is k rows (driver-resident by design,
    the k-means training already round-trips it); the per-query probe list
    comes from a broadcast nested-loop over those k rows + a window, then
    EXPLODES to nprobe rows per query — so the probe join stays a cell
    equi-join (bucket-by-cell ⇒ shuffle-free), just with nprobe× the
    query-side rows; the corpus side still never replicates or shuffles.
    Fully deterministic (same distance expansion + rounding as the
    quantizer), hence SQL-replayable: ann06's oracle extends ann04's
    unrolled training with an rn <= nprobe probe set."""
    spark = corpus.sparkSession
    cent = spark.createDataFrame(centroids, "cid int, cv array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    w = Window.partitionBy("query_id").orderBy("dist", "cid")
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "dist",
            # rounded to the 1e-6 grid before ranking (oracle mirrors with
            # FLOOR(d*1e6+0.5)/1e6): Spark sums the dot-product terms in
            # array order, DuckDB in its own — an unrounded rank-2 probe
            # boundary flips on float-summation noise between engines
            stable_round(
                dot(F.col("q_vec"), F.col("q_vec"))
                - 2 * dot(F.col("q_vec"), F.col("cv"))
                + dot(F.col("cv"), F.col("cv")),
                6,
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_vec", "q_norm", F.col("cid").alias("cell"))
    )
    c = ensure_min_parallelism(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("cell"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(probes), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                cosine_with_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(wk)).filter(F.col("rank") <= k)


def _plane_weight(plane: int, dim_index: Column, portable: bool = False) -> Column:
    """Deterministic pseudo-random hyperplane weight in [-1, 1):
    xxhash64(plane, dim) scaled; or, when ``portable``, the md5-derived
    60-bit portable hash (operators/dedup.portable_hash) scaled — DuckDB
    mirror: CAST(hash AS DOUBLE)/2^59 - 1. Uniform enough for sign-LSH."""
    if portable:
        from cnics_to_fhir_spark.operators.dedup import portable_hash

        h = portable_hash(dim_index.cast("string"), seed=plane)
        return h.cast("double") / F.lit(float(2**59)) - 1.0
    h = F.xxhash64(F.lit(plane), dim_index)
    return h.cast("double") / F.lit(float(2**63))


def _projection(vec: Column, plane: int, portable: bool = False) -> Column:
    def weighted(v: Column, i: Column) -> Column:
        return v.cast("double") * _plane_weight(plane, i, portable)

    return F.aggregate(F.transform(vec, weighted), F.lit(0.0), lambda acc, v: acc + v)


def sign_sketch(vec: Column, n_planes: int = 16, portable: bool = False) -> Column:
    """n-bit sign sketch: bit p = [Σᵢ wᵢ(p)·vᵢ > 0].

    Portable path rounds the projection to the 1e-6 grid before the sign
    test (mirrored by the ann02b oracle's FLOOR(s*1e6+0.5)/1e6): Spark sums
    the 64 weighted terms in array order while DuckDB's SUM aggregates in
    its own order, so a projection within float-rounding of 0 could
    otherwise flip a sketch bit between engines at larger SFs."""
    bits = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = _projection(vec, p, portable)
        if portable:
            proj = stable_round(proj, 6)
        bits = bits + F.when(
            proj > 0, F.shiftleft(F.lit(1).cast("long"), p)
        ).otherwise(F.lit(0).cast("long"))
    return bits


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Approximate top-k: sign-LSH bands prune the corpus, exact cosine
    re-ranks survivors. Recall < 1 by construction; rows-only oracle for
    the xxhash64 path, full SQL oracle for ``portable=True``
    (ann02b_lsh_topk_portable).

    Defaults (16 planes, 8 two-bit bands) give ≥0.9 recall even on weakly
    clustered gaussian vectors; widen ``rows`` per band (fewer bands) when
    the corpus has real cluster structure to cut candidate volume."""
    rows = n_planes // bands

    def with_bands(df: DataFrame, prefix: str) -> DataFrame:
        sk = sign_sketch(F.col(vec_col), n_planes, portable)
        return (
            df.select(
                F.col(id_col).alias(f"{prefix}_id"),
                F.col(vec_col).alias(f"{prefix}_vec"),
                norm(F.col(vec_col)).alias(f"{prefix}_norm"),
                sk.alias("sketch"),
            )
            .select(
                f"{prefix}_id",
                f"{prefix}_vec",
                f"{prefix}_norm",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band_id"),
                                F.shiftrightunsigned(F.col("sketch"), rows * b)
                                .bitwiseAND(F.lit((1 << rows) - 1))
                                .alias("band_val"),
                            )
                            for b in range(bands)
                        ]
                    )
                ).alias("band"),
            )
            .select(f"{prefix}_id", f"{prefix}_vec", f"{prefix}_norm", "band.band_id", "band.band_val")
        )

    cb = with_bands(ensure_min_parallelism(corpus, id_col), "neighbor")
    qb = with_bands(queries, "query")
    candidates = (
        cb.join(qb, on=["band_id", "band_val"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        stable_round(
            cosine_with_norms(
                F.col("query_vec"), F.col("neighbor_vec"), F.col("query_norm"), F.col("neighbor_norm")
            ),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Int8 scalar quantization + rerank
# ---------------------------------------------------------------------------

def int8_quantize(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: qᵢ = ⌊vᵢ·127/max|v| + 0.5⌋.

    floor(x+0.5) (not round()) so Spark and the SQL oracle agree on every
    half-way case; an all-zero vector quantizes to zeros instead of NULLs."""
    mx = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.when(
        mx == 0, F.transform(vec, lambda x: F.lit(0))
    ).otherwise(
        F.transform(vec, lambda x: F.floor(x.cast("double") * 127.0 / mx + 0.5).cast("int"))
    )


def int_dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over int arrays in exact long arithmetic — engine-portable
    ordering (no float rounding can reorder candidates)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: int8-quantized coarse scoring → exact-cosine rerank.

    Stage 1 scores every (query, corpus) pair on 8-bit integer dot products
    — 4× less candidate bandwidth than float32 and exact long arithmetic,
    so the shortlist (top k·shortlist_factor per query by (int_score,
    neighbor_id)) is deterministic and identical across engines. Stage 2
    re-attaches the full-precision vectors BY ID (only shortlist rows — the
    corpus-wide stage never carries vectors past the scan) and reranks by
    exact cosine. Quantization error costs recall only when a true
    neighbor falls outside the shortlist; factor 4 makes that rare while
    keeping rerank cost at O(k·factor) per query.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        int8_quantize(F.col(vec_col)).alias("q_q"),
    )
    c = ensure_min_parallelism(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        int8_quantize(F.col(vec_col)).alias("c_q"),
    )
    coarse = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", int_dot(F.col("q_q"), F.col("c_q")).alias("int_score")
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("int_score").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        coarse.withColumn("r", F.row_number().over(w1))
        .filter(F.col("r") <= k * shortlist_factor)
        .select("query_id", "neighbor_id")
    )
    n_full = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_norm"),
    )
    q_full = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    reranked = (
        shortlist.join(n_full, on="neighbor_id")
        .join(F.broadcast(q_full), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                cosine_with_norms(F.col("q_vec"), F.col("n_vec"), F.col("q_norm"), F.col("n_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return reranked.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

def pq_adc_topk(
    spark,
    emb: DataFrame,
    queries: DataFrame,
    n_sub: int = 2,
    dim: int = 64,
    k_codes: int = 4,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Product-quantized top-k search with asymmetric distance — the
    memory-side half of every billion-scale ANN system (IVF-PQ): split
    each vector into ``n_sub`` subspaces, k-means a tiny codebook per
    subspace (Lloyd, lowest-id init — clustering.kmeans_train), encode
    the corpus as one code PER SUBSPACE, and score a query by summing
    per-subspace lookup-table distances to the codewords instead of
    touching the raw vectors.  → (query_id, neighbor_id, adc_dist, rank).

    Scale shape: corpus state after encoding is ``n_sub`` small ints per
    vector (the raw embedding column is never read again at query time —
    a 64-dim float corpus compresses ~128×); per query the LUT is
    ``n_sub × k_codes`` partial distances, broadcast; scoring is
    ids+codes-only joins plus a per-query top-k window.  Training has
    cl01's economics (codebooks round-trip the driver, corpus stays
    put).  ADC distance is approximate by construction — the oracle
    replays the quantization exactly rather than comparing to exact
    distances (ann05 pins a recall floor for the rerank pattern).

    ``cell_col`` turns this into FULL IVF-PQ (nprobe=1, global codebooks):
    candidates are restricted to the query's coarse cell BEFORE any LUT
    join — the inverted-list prune composed with the compressed-scoring
    half.  Codebooks stay global (trained on the whole corpus, not on
    per-cell residuals — the IVFADC-without-residual variant), so the
    cell constraint is one extra narrow join: corpus (id, cell) joins the
    codes on the id they're already keyed by, the query's cell rides the
    broadcast LUT.  At 100 TB the scored join shrinks from |corpus| to
    |cell| candidates per query while corpus state stays n_sub ints +
    one cell id per vector."""
    from cnics_to_fhir_spark.operators.clustering import kmeans_train, nearest_centroid
    from cnics_to_fhir_spark.functions.numeric import stable_round

    if dim % n_sub:
        raise ValueError("dim must divide evenly into n_sub subspaces")
    width = dim // n_sub
    v = F.col(vec_col).cast("array<double>")

    def _train_sub(i: int):
        start = i * width + 1  # F.slice is 1-based
        sub = emb.select(F.col(id_col), F.slice(v, start, width).alias("sv"))
        # training still round-trips the driver per Lloyd iteration; only
        # the trained centroid matrix is kept — the per-subspace assignment
        # frame is re-derived below as ONE projection over the corpus
        # instead of n_sub assignment frames joined back on vec_id
        _assigned, cents = kmeans_train(
            spark, sub, vec_col="sv", id_col=id_col, k=k_codes, iters=2
        )
        cent_df = spark.createDataFrame(cents, "cid int, cv array<double>")
        qi = queries.select(
            F.col(id_col).alias("query_id"), F.slice(v, start, width).alias("qv")
        )
        lut = qi.crossJoin(F.broadcast(cent_df)).select(
            "query_id",
            F.col("cid").alias(f"c{i}"),
            F.expr(
                f"(({dot_sql('qv', 'qv')}) - (2 * ({dot_sql('qv', 'cv')})))"
                f" + ({dot_sql('cv', 'cv')})"
            ).alias(f"p{i}"),
        )
        return cents, lut

    # The n_sub trainings are data-independent Lloyd loops, each a serial
    # chain of driver round-trips (init collect + means collect per
    # iteration) over small jobs — overlap them on driver threads so one
    # subspace's collect latency back-fills another's task tail
    # (guide §2.6).  Results are indexed by subspace, so the trained list
    # and LUT columns are identical to the serial construction.
    results = overlap(
        spark, *(functools.partial(_train_sub, i) for i in range(n_sub)), max_workers=4
    )
    trained: list[list[tuple[int, list[float]]]] = [r[0] for r in results]
    luts = [r[1] for r in results]
    # encode: every subspace code in one pass over the corpus — a narrow
    # projection (nearest_centroid inlines the trained codebooks as literal
    # expressions), replacing the former n_sub-way self-join on vec_id
    # (guide §2.4: remove shuffles outright).  Code values are identical:
    # nearest_centroid IS the final-assignment argmin of kmeans_train.
    codes = emb.select(
        F.col(id_col).alias("vec_id"),
        *[
            nearest_centroid(
                f"slice(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {i * width + 1}, {width})",
                trained[i],
            )[0].alias(f"c{i}")
            for i in range(n_sub)
        ],
    )
    if cell_col is not None:
        corpus_cells = emb.select(
            F.col(id_col).alias("vec_id"), F.col(cell_col).alias("__cell")
        )
        query_cells = queries.select(
            F.col(id_col).alias("query_id"), F.col(cell_col).alias("__cell")
        )
        cand = codes.join(corpus_cells, "vec_id").join(
            F.broadcast(query_cells), "__cell"
        )
        scored = cand.join(F.broadcast(luts[0]), ["query_id", "c0"])
    else:
        scored = codes.join(F.broadcast(luts[0]), "c0")
    for i in range(1, n_sub):
        scored = scored.join(F.broadcast(luts[i]), ["query_id", f"c{i}"])
    adc = stable_round(sum(F.col(f"p{i}") for i in range(n_sub)), 6)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc_dist")
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def filtered_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    allowed_ids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Filtered vector search (the RAG production shape): top-k ONLY among
    corpus vectors whose id passes a metadata predicate — "nearest docs
    that are also lang='en' / after 2024 / from this tenant".

    ``allowed_ids`` is a one-column DataFrame of passing ids (the
    predicate evaluated on the metadata table, ids-only).  The filter is
    applied as a semi-join BEFORE any vector moves: at 100 TB the
    metadata predicate prunes on a narrow id column (typically a
    broadcast or a co-bucketed semi-join on the same id the corpus is
    already bucketed by), and only surviving vectors enter the IVF cell
    probe.  Post-filtering — search first, filter the top-k after — is
    the classic recall bug this operator exists to avoid: a selective
    predicate leaves fewer than k survivors in the unfiltered top-k.
    Queries are NOT filtered; the predicate constrains results only.
    """
    ids = allowed_ids.select(
        F.col(allowed_ids.columns[0]).cast("long").alias(id_col)
    ).distinct()
    filtered = corpus.join(ids, on=id_col, how="left_semi")
    return ivf_topk(
        filtered, queries, k=k, id_col=id_col, vec_col=vec_col, cell_col=cell_col
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against its exact
    ground truth — the acceptance metric an ANN index ships with (an
    IVF/PQ/LSH index is only "built" once its recall on a query sample is
    known; this is the evaluation pass a pipeline runs after every index
    rebuild or quantizer retrain).
    → (query_id, n_hits, recall), recall = n_hits/k.

    Both inputs are O(queries × k) rows — tiny next to the searches that
    produced them — so every join here is on pre-shrunk frames: one
    (query, neighbor)-keyed inner join counts hits, one left join from
    the exact side's query list keeps 0-recall queries visible (an
    inner-join-only recall silently drops the worst queries — precisely
    the ones the metric exists to expose)."""
    hits = (
        approx.select(query_col, neighbor_col)
        .join(exact.select(query_col, neighbor_col), [query_col, neighbor_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).cast("int").alias("n_hits"))
    )
    qs = exact.select(query_col).distinct()
    return qs.join(hits, query_col, "left").select(
        query_col,
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(float(k))).alias(
            "recall"
        ),
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k: select ``k`` of each
    query's top-``pool`` exact candidates greedily by
    ``lam·rel(c) − (1−lam)·max_{s∈selected} sim(c, s)``.

    Plain top-k hands back ``k`` near-copies when the corpus has dup
    clusters (dd05's exhibit); retrieval-augmented data selection and
    hard-negative curation (mn01) want RELEVANT-BUT-DIVERSE sets, which is
    exactly MMR.  The greedy argmax is inherently sequential, so the split
    is: candidate generation stays fully distributed (``cosine_topk`` at
    k=pool — one corpus scan, never shuffled), and the rerank runs per
    query inside ``applyInPandas`` over groups of only ``pool`` rows —
    numpy does the pool×pool sim matrix per group; no driver collect, one
    shuffle of O(queries × pool) candidate rows.

    Determinism: candidate relevance reuses cosine_topk's 6-dp rounded
    sims; pairwise sims and MMR scores quantize to 1e-6 before every
    argmax; ties break on neighbor id.  → (query_id, neighbor_id,
    cosine_sim, mmr_rank, mmr_score), mmr_rank 1..k in selection order.
    Greedy selection is not SQL-expressible — correctness is pinned by
    pytest against an independent pure-numpy reference
    (tests/test_dedup.py)."""
    import numpy as np
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    cands = cosine_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vec")
    )
    joined = cands.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", "cosine_sim", "__vec"
    )

    out_schema = (
        "query_id long, neighbor_id long, cosine_sim double, "
        "mmr_rank int, mmr_score double"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cosine_sim", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        mat = np.asarray(list(pdf["__vec"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        pair = np.floor(unit @ unit.T * 1e6 + 0.5) / 1e6
        rel = pdf["cosine_sim"].to_numpy()
        ids = pdf["neighbor_id"].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        scores: list[float] = []
        remaining = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            if selected:
                div = pair[:, selected].max(axis=1)
            else:
                div = np.zeros(n)
            score = np.floor((lam * rel - (1.0 - lam) * div) * 1e6 + 0.5) / 1e6
            score_m = np.where(remaining, score, -np.inf)
            best = score_m.max()
            pick = int(np.flatnonzero(score_m == best)[ids[score_m == best].argmin()])
            selected.append(pick)
            scores.append(float(score[pick]))
            remaining[pick] = False
        sel = pdf.iloc[selected]
        return pd.DataFrame(
            {
                "query_id": sel["query_id"].to_numpy(),
                "neighbor_id": sel["neighbor_id"].to_numpy(),
                "cosine_sim": sel["cosine_sim"].to_numpy(),
                "mmr_rank": np.arange(1, len(selected) + 1, dtype=np.int32),
                "mmr_score": np.asarray(scores),
            }
        )

    return joined.groupBy("query_id").applyInPandas(rerank, out_schema)
