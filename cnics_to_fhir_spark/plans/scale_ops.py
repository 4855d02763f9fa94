"""Training-data-pipeline operators (BASELINE.json north star): dedup,
similarity search, text analysis, event windows — each over the driver's
``documents`` / ``embeddings`` / ``events`` tables.

Oracle notes: MinHash/SimHash/sign-LSH rely on xxhash64, which DuckDB lacks —
those entries are rows-only for the driver; their correctness is pinned by
pytest (tests/test_dedup.py) against hand-checkable fixtures, and their
*verification* stages (exact Jaccard / hamming) ARE oracle-checked via the
blocking-based variants here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cnics_to_fhir_spark.operators import dedup, events_windows, similarity, textanalysis
from cnics_to_fhir_spark.plans.registry import detach_result, query, table
from cnics_to_fhir_spark.session import overlap

_DEC_RE = r"(-?(0|[1-9][0-9]*)(\.[0-9]+)?([eE][+-]?[0-9]+)?)"


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------
@query(
    "dd01_exact_dedup",
    tags="DD-exact A5",
    oracle="""
        SELECT md5(text) AS fingerprint,
               MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
)
def dd01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_plan(table(spark, sf_dir, "documents"))


@query(
    "dd02_ngram_jaccard",
    tags="DD-jaccard J1",
    oracle="""
        WITH base AS (
            SELECT doc_id AS id,
                   array_to_string((string_split(text, ' '))[1:4], ' ') AS block,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN list_transform(
                                   range(1, len(string_split(text, ' ')) - 1),
                                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                            ELSE [text]
                       END) AS shingles
            FROM documents
        )
        SELECT a.id AS id_a, b.id AS id_b,
               FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6 AS jaccard_sim
        FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
        WHERE FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6 >= 0.5
    """,
)
def dd02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard near-dup pairs (k=3 word shingles, first-4-word
    blocking, threshold 0.5)."""
    return dedup.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), k=3, block_words=4, threshold=0.5
    )


@query("dd03_minhash_lsh", tags="DD-minhash J1", oracle=None)
def dd03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) candidates verified by exact Jaccard ≥ 0.5.
    Rows-only: xxhash64 signatures are not DuckDB-expressible; pytest pins
    semantics on fixtures."""
    return dedup.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"),
        num_hashes=32,
        bands=8,
        k=3,
        threshold=0.5,
        materialize=True,  # unpersist the shingle cache before returning
    )


@query(
    "dd03b_minhash_lsh_portable",
    tags="DD-minhash J1",
    oracle="""
        WITH sh AS (
            SELECT doc_id AS id,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN [array_to_string(
                                      list_slice(string_split(text, ' '), i, i + 2),
                                      ' ')
                                  FOR i IN range(1, len(string_split(text, ' ')) - 1)]
                            ELSE [array_to_string(string_split(text, ' '), ' ')]
                       END
                   ) AS shingles
            FROM documents
        ),
        hashes AS (
            SELECT id, j,
                   MIN(CAST(CAST(('0x' || substring(
                       md5(CAST(j AS VARCHAR) || ':' || s), 1, 15)) AS UBIGINT)
                       AS BIGINT)) AS m
            FROM sh, UNNEST(shingles) AS t(s), UNNEST(range(0, 8)) AS r(j)
            GROUP BY id, j
        ),
        sig AS (
            SELECT id, list(m ORDER BY j) AS sig FROM hashes GROUP BY id
        ),
        banded AS (
            SELECT id, b,
                   CAST(CAST(('0x' || substring(
                       md5(CAST(sig[b*2+1] AS VARCHAR) || '|'
                           || CAST(sig[b*2+2] AS VARCHAR)), 1, 15)) AS UBIGINT)
                       AS BIGINT) AS band_hash
            FROM sig, UNNEST(range(0, 4)) AS rb(b)
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b2.id AS id_b
            FROM banded a
            JOIN banded b2 ON a.b = b2.b AND a.band_hash = b2.band_hash
            WHERE a.id < b2.id
        )
        SELECT c.id_a, c.id_b,
               FLOOR((CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                      / len(list_distinct(list_concat(sa.shingles, sb.shingles))))
                     *1e6 + 0.5)/1e6 AS jaccard_sim
        FROM cand c
        JOIN sh sa ON sa.id = c.id_a
        JOIN sh sb ON sb.id = c.id_b
        WHERE (CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.shingles, sb.shingles)))) >= 0.5
    """,
)
def dd03b_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash+LSH pipeline under the oracle: shingling → 8
    portable-hash signatures → 4-band bucketing → candidate equi-join →
    exact-Jaccard verify, replayed end-to-end in DuckDB SQL via the
    md5-derived portable hash (operators/dedup.portable_hash). Production
    dd03 keeps xxhash64 (faster, rows-only); this entry proves the plan's
    semantics engine-independently — same shuffles, same shape."""
    return dedup.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"),
        num_hashes=8,
        bands=4,
        k=3,
        threshold=0.5,
        portable=True,
        materialize=True,  # unpersist the shingle cache before returning
    )


@query("dd04_simhash_near_dup", tags="DD-simhash", oracle=None)
def dd04_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (hamming ≤ 3, 16-bit-band candidates)."""
    return dedup.simhash_near_dup_pairs(table(spark, sf_dir, "documents"), max_hamming=3)


@query(
    "dd04b_simhash_portable",
    tags="DD-simhash",
    oracle="""
        WITH tok AS (
            SELECT doc_id AS id,
                   CAST(CAST(('0x' || substring(md5(t.tok), 1, 15)) AS UBIGINT)
                        AS BIGINT) AS h
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        ),
        votes AS (
            SELECT id, b,
                   SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM tok, UNNEST(range(0, 60)) AS r(b)
            GROUP BY id, b
        ),
        sh AS (
            SELECT id,
                   CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY id
        ),
        banded AS (
            SELECT id, simhash, b, (simhash >> (15 * b)) & 32767 AS band_val
            FROM sh, UNNEST(range(0, 4)) AS rb(b)
        ),
        pairs AS (
            SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
                   a.simhash AS sh_a, b2.simhash AS sh_b
            FROM banded a
            JOIN banded b2 ON a.b = b2.b AND a.band_val = b2.band_val
            WHERE a.id < b2.id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """,
)
def dd04b_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the md5-derived 60-bit portable hash (15-bit bands, same
    pigeonhole guarantee) so DuckDB replays the ENTIRE construction —
    per-bit voting, signature assembly, banding, hamming verify. Production
    dd04 keeps xxhash64; this proves the plan engine-independently."""
    return dedup.simhash_near_dup_pairs(
        table(spark, sf_dir, "documents"), max_hamming=3, portable=True
    )


@query(
    "dd05_embedding_neardup",
    tags="DD-cosine J1",
    oracle="""
        WITH params AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT label) AS BIGINT) AS c
            FROM embeddings
        ),
        p2 AS (
            -- integer replica of dedup.choose_refine_bits(n, c, 256, 8)
            SELECT CASE
                WHEN n <= 256 * c THEN 0
                WHEN n <= 256 * c * 2 THEN 1
                WHEN n <= 256 * c * 4 THEN 2
                WHEN n <= 256 * c * 8 THEN 3
                WHEN n <= 256 * c * 16 THEN 4
                WHEN n <= 256 * c * 32 THEN 5
                WHEN n <= 256 * c * 64 THEN 6
                WHEN n <= 256 * c * 128 THEN 7
                ELSE 8 END AS bits
            FROM params
        ),
        e AS (
            SELECT vec_id,
                   CASE WHEN (SELECT bits FROM p2) = 0
                        THEN CAST(label AS BIGINT)
                        ELSE CAST(label AS BIGINT) * 256
                             + (CASE WHEN 0 < (SELECT bits FROM p2) AND embedding[1] > 0 THEN 1 ELSE 0 END)
                             + (CASE WHEN 1 < (SELECT bits FROM p2) AND embedding[2] > 0 THEN 2 ELSE 0 END)
                             + (CASE WHEN 2 < (SELECT bits FROM p2) AND embedding[3] > 0 THEN 4 ELSE 0 END)
                             + (CASE WHEN 3 < (SELECT bits FROM p2) AND embedding[4] > 0 THEN 8 ELSE 0 END)
                             + (CASE WHEN 4 < (SELECT bits FROM p2) AND embedding[5] > 0 THEN 16 ELSE 0 END)
                             + (CASE WHEN 5 < (SELECT bits FROM p2) AND embedding[6] > 0 THEN 32 ELSE 0 END)
                             + (CASE WHEN 6 < (SELECT bits FROM p2) AND embedding[7] > 0 THEN 64 ELSE 0 END)
                             + (CASE WHEN 7 < (SELECT bits FROM p2) AND embedding[8] > 0 THEN 128 ELSE 0 END)
                        END AS cell,
                   CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               FLOOR((list_dot_product(a.v, b.v)
                     / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))))*1e6 + 0.5)/1e6 AS cosine_sim
        FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE FLOOR((list_dot_product(a.v, b.v)
              / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))))*1e6 + 0.5)/1e6 >= 0.35
    """,
)
def dd05_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, IVF-blocked on the coarse cluster id
    (``label``). Threshold 0.35 exercises the operator on the weakly-clustered
    synthetic gaussians (max within-cluster cosine ≈ 0.5); a real corpus
    would use ≈ 0.95.

    The DEFAULT path now carries the scale guard: when the average cell
    exceeds 256 rows the blocking auto-refines by leading sign bits
    (dedup.embedding_near_dup_pairs), so the sf1-probe quadratic (14× wall
    at 10× data with fixed cells) can no longer happen silently.  The
    oracle replays the integer bit-selection and the sign split exactly —
    at sf ≤ 0.1 bits = 0 (cells are under target, output identical to the
    unguarded plan); the sf1 probe lands on bits = 3."""
    return dedup.embedding_near_dup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=0.35
    )


@query(
    "dd05b_neardup_refined_cells",
    tags="DD-cosine J1",
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   CAST(label AS BIGINT) * 8
                   + (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END)
                   + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                   + (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS cell,
                   CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               FLOOR((list_dot_product(a.v, b.v)
                     / (SQRT(list_dot_product(a.v, a.v))
                        * SQRT(list_dot_product(b.v, b.v))))*1e6 + 0.5)/1e6
                   AS cosine_sim
        FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE FLOOR((list_dot_product(a.v, b.v)
              / (SQRT(list_dot_product(a.v, a.v))
                 * SQRT(list_dot_product(b.v, b.v))))*1e6 + 0.5)/1e6 >= 0.35
    """,
)
def dd05b_neardup_refined_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd05 with sign-bit cell refinement (dedup.refine_blocks): 8× more
    cells at zero training cost, keeping Σ|cell|² bounded as the corpus
    grows — the lever the sf1 probe showed cutting the blocked self-join
    5× at 10× data (PLANS.md). The refinement is pure sign arithmetic, so
    the oracle replays the refined blocking exactly; recall cost = pairs
    whose members split across sub-cells, the standard IVF trade."""
    refined = dedup.refine_blocks(
        table(spark, sf_dir, "embeddings"), bits=3, out_col="cell"
    )
    # target_cell_rows=None: this entry is the EXPLICIT pre-refinement
    # exhibit, so the auto-guard (which would re-split the already-refined
    # cells once they grow past target) is off to keep the oracle's fixed
    # 8-cell-per-label blocking exact at every SF.
    return dedup.embedding_near_dup_pairs(
        refined, block_col="cell", threshold=0.35, target_cell_rows=None
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@query(
    "ann01_cosine_topk",
    tags="ANN-brute J8 W",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 8
        ),
        c AS (
            SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ),
        scored AS (
            SELECT q.query_id, c.neighbor_id,
                   FLOOR((list_dot_product(q.qv, c.cv)
                         / (SQRT(list_dot_product(q.qv, q.qv)) * SQRT(list_dot_product(c.cv, c.cv))))*1e6 + 0.5)/1e6 AS cosine_sim
            FROM c, q
            WHERE c.neighbor_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def ann01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors vec_id < 8."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


@query(
    "ann03_ivf_topk",
    tags="ANN-ivf J1 W",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, label, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 8
        ),
        c AS (
            SELECT vec_id AS neighbor_id, label, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings
        ),
        scored AS (
            SELECT q.query_id, c.neighbor_id,
                   FLOOR((list_dot_product(q.qv, c.cv)
                         / (SQRT(list_dot_product(q.qv, q.qv)) * SQRT(list_dot_product(c.cv, c.cv))))*1e6 + 0.5)/1e6 AS cosine_sim
            FROM q JOIN c ON q.label = c.label AND c.neighbor_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def ann03_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (coarse-cell) approximate top-5: probe only the query's cluster
    cell — the bucketed-join scale path, oracle-checked."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


@query(
    "ann05_quantized_rerank",
    tags="ANN-quant J1 W F18",
    oracle="""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
            FROM embeddings
        ),
        qz AS (
            SELECT vec_id, v,
                   CASE WHEN mx = 0
                        THEN list_transform(v, x -> CAST(0 AS BIGINT))
                        ELSE list_transform(v, x -> CAST(FLOOR(x * 127 / mx + 0.5) AS BIGINT))
                   END AS q
            FROM base
        ),
        coarse AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   CAST(list_dot_product(a.q, b.q) AS BIGINT) AS int_score
            FROM qz a JOIN qz b ON b.vec_id <> a.vec_id
            WHERE a.vec_id < 8
        ),
        short AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY int_score DESC, neighbor_id) AS r
                FROM coarse
            ) WHERE r <= 20
        ),
        rerank AS (
            SELECT s.query_id, s.neighbor_id,
                   FLOOR((list_dot_product(qa.v, qb.v)
                         / (SQRT(list_dot_product(qa.v, qa.v)) * SQRT(list_dot_product(qb.v, qb.v))))*1e6 + 0.5)/1e6 AS cosine_sim
            FROM short s
            JOIN base qa ON qa.vec_id = s.query_id
            JOIN base qb ON qb.vec_id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
            FROM rerank
        ) WHERE rank <= 5
    """,
)
def ann05_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: int8 scalar-quantized coarse scoring (exact long
    arithmetic → engine-identical shortlists) then exact-cosine rerank of
    the top-20 shortlist; vectors rejoin by id so the corpus-wide stage
    carries 4×-smaller int8 arrays only."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, shortlist_factor=4
    )


@query("ann02_lsh_topk", tags="ANN-lsh J1", oracle=None)
def ann02_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-5 (16 planes, 4 bands) — the scale
    path; recall measured against ann01 in pytest."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


@query(
    "ann02b_lsh_topk_portable",
    tags="ANN-lsh J1 W",
    oracle="""
        WITH w AS (
            SELECT p, i,
                   CAST(CAST(('0x' || substring(
                       md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
                       1, 15)) AS UBIGINT) AS DOUBLE)
                       / 576460752303423488.0 - 1.0 AS wt
            FROM UNNEST(range(0, 16)) AS tp(p), UNNEST(range(0, 64)) AS ti(i)
        ),
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        proj AS (
            SELECT e.vec_id, w.p, SUM(e.v[w.i + 1] * w.wt) AS s
            FROM e, w GROUP BY e.vec_id, w.p
        ),
        sk AS (
            -- sign test on the 1e-6-rounded projection, matching Spark's
            -- stable_round before the sign bit (sum-order float safety)
            SELECT vec_id,
                   CAST(SUM(CASE WHEN FLOOR(s*1e6 + 0.5)/1e6 > 0
                                 THEN (CAST(1 AS BIGINT) << p)
                                 ELSE 0 END) AS BIGINT) AS sketch
            FROM proj GROUP BY vec_id
        ),
        banded AS (
            SELECT vec_id, b, (sketch >> (2 * b)) & 3 AS band_val
            FROM sk, UNNEST(range(0, 8)) AS tb(b)
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM banded q
            JOIN banded c ON q.b = c.b AND q.band_val = c.band_val
            WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   FLOOR((list_dot_product(eq.v, ec.v)
                          / (SQRT(list_dot_product(eq.v, eq.v))
                             * SQRT(list_dot_product(ec.v, ec.v))))*1e6 + 0.5)/1e6
                       AS cosine_sim
            FROM cand
            JOIN e eq ON eq.vec_id = cand.query_id
            JOIN e ec ON ec.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER)
                       AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def ann02b_lsh_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH with engine-portable hyperplanes: weights derive from the
    md5 portable hash, so DuckDB replays projection signs, band bucketing,
    candidate pruning, and the exact-cosine rerank end-to-end — the third
    rows-only sketch op promoted to a full oracle (with dd03b/dd04b).
    Production ann02 keeps xxhash64 hyperplanes; same plan, same shuffles."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, portable=True
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@query(
    "tx01_text_profile",
    tags="TX F14 F22",
    oracle="""
        WITH t AS (
            SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        ),
        m AS (
            SELECT doc_id, text, toks,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct_tokens,
                   CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS atl,
                   CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(toks) AS r_en,
                   CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y'))) AS DOUBLE) / len(toks) AS r_es,
                   CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS DOUBLE) / len(toks) AS r_de,
                   CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','est'))) AS DOUBLE) / len(toks) AS r_fr
            FROM t
        )
        SELECT doc_id,
               CAST(n_tokens AS INTEGER) AS n_tokens,
               CAST(n_distinct_tokens AS INTEGER) AS n_distinct_tokens,
               FLOOR((atl)*1e4 + 0.5)/1e4 AS avg_token_len,
               FLOOR((CAST(n_distinct_tokens AS DOUBLE) / n_tokens * 0.6
                     + CASE WHEN atl >= 3 AND atl <= 10 THEN 0.2 ELSE 0.0 END
                     + LEAST(CAST(n_tokens AS DOUBLE) / 32.0, 1.0) * 0.2)*1e4 + 0.5)/1e4 AS quality,
               md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
               CASE WHEN r_en = greatest(r_en, r_es, r_de, r_fr) AND r_en > 0 THEN 'en'
                    WHEN r_es = greatest(r_en, r_es, r_de, r_fr) AND r_es > 0 THEN 'es'
                    WHEN r_de = greatest(r_en, r_es, r_de, r_fr) AND r_de > 0 THEN 'de'
                    WHEN r_fr = greatest(r_en, r_es, r_de, r_fr) AND r_fr > 0 THEN 'fr'
                    ELSE 'unk' END AS lang_guess
        FROM m
    """,
)
def tx01_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document profile: token stats, quality score, fingerprint,
    language-ID heuristic (operators/textanalysis.py)."""
    return textanalysis.profile(table(spark, sf_dir, "documents"))


@query(
    "tx02_bpe_token_stats",
    tags="TX F22 F18",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+') AS bpe,
                   string_split(text, ' ') AS words
            FROM documents
        )
        SELECT doc_id,
               CAST(len(bpe) AS INTEGER) AS n_bpe_tokens,
               CAST(len(list_distinct(bpe)) AS INTEGER) AS n_distinct_bpe,
               CAST(len(list_filter(bpe, x -> x ~ '^[0-9]+$')) AS INTEGER) AS n_digit_runs,
               FLOOR((CAST(len(bpe) AS DOUBLE) / len(words))*1e4 + 0.5)/1e4 AS bpe_per_word
        FROM t
    """,
)
def tx02_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer stats: letter/digit/punct runs per document —
    the token-count feature a training pipeline budgets on."""
    d = table(spark, sf_dir, "documents")
    bpe = textanalysis.bpe_tokens(F.col("text"))
    words = F.split(F.col("text"), " ")
    from cnics_to_fhir_spark.functions.numeric import stable_round

    return d.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).alias("n_distinct_bpe"),
        F.size(F.filter(bpe, lambda x: x.rlike("^[0-9]+$"))).alias("n_digit_runs"),
        stable_round(F.size(bpe).cast("double") / F.size(words), 4).alias("bpe_per_word"),
    )


@query(
    "tx03_rolling_fingerprint",
    tags="TX F22 DD-exact",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                               i -> array_to_string(toks[i:i+2], ' '))
                        ELSE [array_to_string(toks, ' ')]
                   END AS shingles,
                   text
            FROM t
        )
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(text, ''),
                       c -> CASE WHEN c = '' THEN 0 ELSE unicode(c) END)),
                   (a, b) -> (a * 31 + b) % 1000000007) AS doc_poly_hash,
               list_min(list_transform(shingles, s ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split_regex(s, ''),
                           c -> CASE WHEN c = '' THEN 0 ELSE unicode(c) END)),
                       (a, b) -> (a * 31 + b) % 1000000007))) AS winnow_min
        FROM sh
    """,
)
def tx03_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp document fingerprints: whole-doc polynomial hash + the
    winnowing minimum over 3-word-shingle rolling hashes."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textanalysis.poly_hash(F.col("text")).alias("doc_poly_hash"),
        textanalysis.rolling_fingerprint(F.col("text"), k=3).alias("winnow_min"),
    )


# ---------------------------------------------------------------------------
# Multimodal columns (binary payload plumbing; decode is a deterministic stub
# because no image/audio libs exist in this container — see
# operators/multimodal.py)
# ---------------------------------------------------------------------------
@query(
    "mm01_binary_metadata",
    tags="MM F16",
    oracle="""
        SELECT doc_id,
               md5(text) AS content_md5,
               CAST(strlen(text) AS INTEGER) AS n_bytes
        FROM documents
    """,
)
def mm01_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata path: payload = utf8 bytes of text (a
    deterministic stand-in for image bytes); fingerprint + size are the
    exact-dedup keys for media at scale."""
    d = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.md5(payload).alias("content_md5"),
        F.octet_length(payload).alias("n_bytes"),
    )


@query(
    "mm03_frame_sample",
    tags="MM UDF F16",
    oracle="""
        SELECT doc_id AS id,
               CAST(j AS INTEGER) AS sample_index,
               unicode(substr(text, CAST(j * 64 + 1 AS INTEGER), 1)) AS sample_value
        FROM documents,
             UNNEST(range(0, CAST(ceil(strlen(text) / 64.0) AS BIGINT))) AS t(j)
    """,
)
def mm03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling geometry (one output row per sample) via mapInPandas
    over binary payloads; byte stride stands in for frame stride. The text
    corpus is ASCII so the DuckDB oracle can mirror byte offsets with
    substr/unicode — the Arrow row-multiplying path itself is what's under
    test."""
    from cnics_to_fhir_spark.operators import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return mm.frame_sample_stub(d, payload_col="payload", id_col="doc_id", every_n_bytes=64)


# (The former mm02_image_feature_stub entry is retired: the real decode
# lives in mm04/mm05, and the Arrow batch contract of the fake-decode
# path stays pinned by tests/test_multimodal.py against
# operators/multimodal.decode_image_stub directly — the catalog carries
# no stub-labeled entries.)


@query(
    "mm04_real_png_decode",
    tags="MM UDF",
    oracle="""
        WITH px AS (
            SELECT d.doc_id, (x*17 + y*29 + c*41 + d.doc_id) % 256 AS v
            FROM documents d,
                 UNNEST(range(0, 16)) AS tx(x),
                 UNNEST(range(0, 12)) AS ty(y),
                 UNNEST(range(0, 3)) AS tc(c)
        )
        SELECT doc_id,
               16 AS width, 12 AS height, 3 AS channels,
               FLOOR(AVG(v)*1e3 + 0.5)/1e3 AS mean_px
        FROM px GROUP BY doc_id
    """,
)
def mm04_real_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode in the verified loop: synthesize a deterministic
    16x12 RGB image per document (pixel = (x*17+y*29+c*41+doc_id) mod 256),
    encode with the stdlib PNG writer, decode with the real decoder
    (functions/mediacodec.py — PIL if importable, stdlib codec otherwise),
    and emit decoded geometry + pixel mean FROM THE DECODED BYTES. The
    oracle recomputes the pixel math relationally, so any codec defect
    (wrong unfilter, stride, channel order) breaks the value hash.

    Scale: payload bytes are born and die inside one narrow mapInPandas
    pass — nothing binary is ever shuffled."""
    from collections.abc import Iterator

    W, H, C = 16, 12, 3

    def gen_decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from cnics_to_fhir_spark.functions.mediacodec import decode_image, encode_png

        x = np.arange(W) * 17
        y = np.arange(H) * 29
        c = np.arange(C) * 41
        base = (y[:, None, None] + x[None, :, None] + c[None, None, :])
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                pixels = ((base + int(did)) % 256).astype(np.uint8)
                png = encode_png(pixels.tobytes(), W, H, C)
                w, h, ch, decoded = decode_image(png)
                a = np.frombuffer(decoded, dtype=np.uint8)
                mean_px = np.floor(a.mean() * 1e3 + 0.5) / 1e3
                rows.append((int(did), w, h, ch, float(mean_px)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "channels", "mean_px"]
            )

    d = table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        gen_decode,
        schema="doc_id long, width int, height int, channels int, mean_px double",
    )


@query(
    "mm05_audio_features",
    tags="MM UDF",
    oracle="""
        SELECT doc_id,
               8000 AS sample_rate,
               1 AS n_channels,
               CAST(400 + (doc_id % 50) * 16 AS BIGINT) AS n_frames,
               CAST((400 + (doc_id % 50) * 16) * 1000 / 8000 AS BIGINT)
                   AS duration_ms,
               CAST((doc_id % 100 + 1) * 100 AS DOUBLE) AS rms
        FROM documents
    """,
)
def mm05_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode in the verified loop: synthesize a square-wave WAV
    per document (amplitude (doc_id%100+1)*100, 400+(doc_id%50)*16 frames
    at 8 kHz — rms of a square wave == its amplitude, exactly), then run
    operators/multimodal.audio_features (stdlib ``wave`` parse) over the
    binary payloads. The oracle states the expected header fields and rms
    in closed form, so header mis-parse or PCM misread breaks the hash."""
    from collections.abc import Iterator

    def gen_wav(batches: Iterator) -> Iterator:
        import io
        import wave as wave_mod

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 400 + (did % 50) * 16
                amp = (did % 100 + 1) * 100
                samples = np.where(np.arange(n) % 2 == 0, amp, -amp).astype(np.int16)
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(samples.tobytes())
                ids.append(did)
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    from cnics_to_fhir_spark.operators import multimodal as mm

    d = table(spark, sf_dir, "documents").select("doc_id")
    wavs = d.mapInPandas(gen_wav, schema="doc_id long, payload binary")
    out = mm.audio_features(wavs, payload_col="payload", id_col="doc_id")
    return out.select(
        F.col("id").alias("doc_id"),
        "sample_rate",
        "n_channels",
        "n_frames",
        "duration_ms",
        "rms",
    )


# ---------------------------------------------------------------------------
# As-of join (custom operator — union + last-carry-forward, operators/asof.py)
# ---------------------------------------------------------------------------
@query(
    "aj01_asof_join",
    tags="AJ J1 W",
    oracle="""
        -- v is pre-reduced to one row per (user_id, ts) via MIN(value): the
        -- Spark operator's struct-min tiebreak picks the same row, so both
        -- engines are deterministic under duplicate right timestamps.
        WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
             v AS (SELECT user_id, ts, MIN(value) AS value
                   FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
        SELECT c.event_id, c.user_id,
               STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               STRFTIME(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
               ROUND(v.value, 2) AS view_value
        FROM c ASOF LEFT JOIN v
          ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def aj01_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach the latest at-or-before 'view' to every 'click' per user —
    point-in-time feature lookup, the training-data staple. One shuffle,
    no range explosion (see operators/asof.py)."""
    from cnics_to_fhir_spark.operators.asof import asof_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(clicks, views, on="user_id", ts_col="ts", payload_cols=["value"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("matched_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.round("matched_value", 2).alias("view_value"),
    )


# ---------------------------------------------------------------------------
# Rollup + salted aggregation (§2.4 extensions for pipeline reporting/skew)
# ---------------------------------------------------------------------------
@query(
    "a07_rollup_counts",
    tags="A5 ROLLUP",
    oracle="""
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def a07_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in one pass — the reference's 12 hand-kept
    counters (cnics_to_fhir.py:914-925) generalized to grouping sets."""
    o = table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias("priority"),
            "n",
            "total_price",
        )
    )


@query(
    "a09_percentiles",
    tags="A5 PCT",
    oracle="""
        SELECT event_type,
               FLOOR((quantile_cont(value, 0.5))*1e6 + 0.5)/1e6 AS p50,
               FLOOR((quantile_cont(value, 0.9))*1e6 + 0.5)/1e6 AS p90,
               FLOOR((MAX(value))*1e6 + 0.5)/1e6 AS vmax
        FROM events GROUP BY event_type
    """,
)
def a09_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (quality-score cutoffs for
    filtering pipelines). Exact percentile needs the group's values sorted —
    at 100 TB switch to percentile_approx (t-digest, mergeable map-side)
    and accept bounded error; both forms are one shuffle."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        stable_round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        stable_round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        stable_round(F.max("value"), 6).alias("vmax"),
    )


@query("a10_approx_distinct", tags="A5 APPROX", oracle=None)
def a10_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts per group — the mergeable, map-side-
    combinable form exact COUNT(DISTINCT) can't give you at 100 TB (exact
    needs a full shuffle of the distinct keys; HLL ships 1.5 KB sketches).
    Rows-only: sketch estimates are engine-specific; pytest pins the
    relative error against the exact count."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "a08_salted_agg",
    tags="A5 SKEW",
    oracle="""
        SELECT l_returnflag,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
)
def a08_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: phase 1 groups on (key, salt) so a hot
    key spreads over 8 reducers; phase 2 merges the 8 partials. Result is
    bit-identical to the direct groupBy (the oracle), which is the point —
    salting is a physical rewrite, not a semantic one. Spark's partial
    (map-side) aggregation already does this for simple aggs; the explicit
    form is the template for aggs without partial pushdown (collect_list,
    exact distinct counts)."""
    li = table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "salt", F.pmod(F.crc32(F.col("l_orderkey").cast("string")), F.lit(8))
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum("l_quantity").alias("p_qty"), F.count(F.lit(1)).alias("p_n")
    )
    return partial.groupBy("l_returnflag").agg(
        F.round(F.sum("p_qty"), 2).alias("sum_qty"), F.sum("p_n").alias("n")
    )


# ---------------------------------------------------------------------------
# Event windows
# ---------------------------------------------------------------------------
@query(
    "ev01_tumbling_window",
    tags="EV W A5",
    oracle="""
        SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """,
)
def ev01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows (batch form of the streaming aggregation)."""
    return events_windows.tumbling_window_agg(table(spark, sf_dir, "events"), "1 hour")


@query(
    "ev02_sessionization",
    tags="EV W A3",
    oracle="""
        WITH e AS (
            -- floor-to-second epoch to match Spark's CAST(timestamp AS LONG)
            SELECT user_id, event_id, ts, value,
                   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es
            FROM events
        ),
        s AS (
            SELECT user_id, event_id, ts, value, es,
                   CASE WHEN es - LAG(es) OVER w IS NULL
                             OR es - LAG(es) OVER w > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, event_id, ts, value, es,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM s
        )
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS session_value,
               STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               MAX(es) - MIN(es) AS duration_sec
        FROM sess GROUP BY user_id, session_seq
    """,
)
def ev02_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session stats."""
    return events_windows.session_stats(table(spark, sf_dir, "events"), gap_minutes=30)


# ---------------------------------------------------------------------------
# Dataset assembly (operators/dataset.py): mixing, packing, shuffle
# ---------------------------------------------------------------------------
@query(
    "ds01_stratified_sample",
    tags="DS-mix O3 F22",
    oracle="""
        SELECT doc_id, lang, source
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
              < CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40' ELSE '20' END
    """,
)
def ds01_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixing sampler: per-language keep rates (en 50 %, de 25 %,
    rest 12.5 %) via deterministic md5 buckets — a pure filter (no shuffle,
    scan-pushed), reproducible across engines and reruns unlike df.sample."""
    from cnics_to_fhir_spark.operators import dataset

    return dataset.stratified_sample(
        table(spark, sf_dir, "documents"),
        rates={"en": "80", "de": "40"},
        strata_col="lang",
        key_col="doc_id",
        default_rate="20",
    ).select("doc_id", "lang", "source")


@query(
    "ds02_chunked_packing",
    tags="DS-pack A3 W",
    oracle="""
        WITH t AS (
            SELECT lang AS shard, doc_id,
                   CAST(CASE WHEN length(text) = 0 THEN 0
                             ELSE len(string_split(text, ' ')) END AS BIGINT) AS tok
            FROM documents
        ),
        c AS (
            SELECT shard, doc_id, tok,
                   CAST(COALESCE(SUM(tok) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS prec
            FROM t
        )
        SELECT shard, doc_id, tok,
               prec // 256 AS bin_id,
               prec % 256 AS bin_offset
        FROM c
    """,
)
def ds02_chunked_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (budget 256 tokens) per language
    shard — GPT-style virtual token stream split every ``budget`` tokens;
    one shuffle on the shard key, cumsum window inside codegen."""
    from cnics_to_fhir_spark.operators import dataset

    return dataset.pack_chunked(table(spark, sf_dir, "documents"), budget=256)


def _ds03_oracle() -> str:
    """Binary-lifting oracle for greedy first-fit-sequential packing.

    The naive recursive-CTE replay advances ONE row per shard per
    recursion step — O(max rows per shard) steps, each rebuilding a hash
    join over the full doc table (~27 min of a full sf1 selfcheck pass;
    verdict r5 item #3).  This formulation is exact and O(n log n):

    - prefix sums s_rn per shard make "the bin starting at row p ends at
      the last j with s_j <= s_{p-1} + budget" a single ASOF join
      (greatest key <= bound; the key is s*BIG + rn so ties on s — zero-
      token docs — resolve to the LARGEST rn of the tied run, which is
      what greedy does since those docs never overflow a bin);
    - g(p) = that end + 1, clamped to >= p+1 (an oversize doc still
      occupies one bin by itself — the same clamp the recurrence's
      'else new bin with fill=tok' branch implies);
    - jump tables j_k(p) = g^(2^k)(p) by ``levels`` self-joins;
    - each row's bin start = the last orbit point of g (from row 1) that
      is <= rn, found by the standard binary-lifting walk (w_k CTEs,
      high bit to low); the step count IS the 0-based bin_id, and
      bin_fill = s_rn - s_{start-1}.

    ``levels=20`` is exact while bins-per-shard < 2^21 (~2M) — far above
    any verification SF (sf10: 500k docs total); the oracle is a test
    artifact, the engine side has no such bound."""
    budget, levels = 256, 20  # ds03's bin size; jump-table depth
    jumps = []
    for k in range(1, levels + 1):
        jumps.append(
            f"j{k} AS MATERIALIZED (\n"
            f"    SELECT a.shard, a.p, COALESCE(b.nxt, a.nxt) AS nxt\n"
            f"    FROM j{k - 1} a LEFT JOIN j{k - 1} b"
            f" ON b.shard = a.shard AND b.p = a.nxt\n"
            f")"
        )
    walks = [
        "w AS (SELECT shard, rn, CAST(1 AS BIGINT) AS pos,"
        " CAST(0 AS BIGINT) AS cnt FROM t)"
    ]
    prev = "w"
    for k in range(levels, -1, -1):
        cur = f"w{k}"
        walks.append(
            f"{cur} AS (\n"
            f"    SELECT a.shard, a.rn,\n"
            f"           CASE WHEN j.nxt <= a.rn THEN j.nxt ELSE a.pos END AS pos,\n"
            f"           CASE WHEN j.nxt <= a.rn THEN a.cnt + {1 << k}"
            f" ELSE a.cnt END AS cnt\n"
            f"    FROM {prev} a JOIN j{k} j ON j.shard = a.shard AND j.p = a.pos\n"
            f")"
        )
        prev = cur
    return f"""
        WITH t AS MATERIALIZED (
            SELECT lang AS shard, doc_id,
                   CAST(CASE WHEN length(text) = 0 THEN 0
                             ELSE len(string_split(text, ' ')) END AS BIGINT) AS tok,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
                   SUM(CAST(CASE WHEN length(text) = 0 THEN 0
                            ELSE len(string_split(text, ' ')) END AS BIGINT))
                       OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS s
            FROM documents
        ),
        big AS (SELECT MAX(rn) + 1 AS big FROM t),
        tb AS MATERIALIZED (
            SELECT shard, rn, s, tok,
                   s * big + rn AS skey,
                   (s - tok + {budget}) * big + (big - 1) AS bound
            FROM t CROSS JOIN big
        ),
        j0 AS MATERIALIZED (
            SELECT p.shard, p.rn AS p,
                   GREATEST(COALESCE(j.rn, 0) + 1, p.rn + 1) AS nxt
            FROM tb p ASOF LEFT JOIN tb j
              ON j.shard = p.shard AND j.skey <= p.bound
        ),
        {','.join(jumps)},
        {','.join(walks)}
        SELECT t.shard, t.doc_id, t.tok, w.cnt AS bin_id,
               CAST(t.s - (ts.s - ts.tok) AS BIGINT) AS bin_fill
        FROM t
        JOIN {prev} w ON w.shard = t.shard AND w.rn = t.rn
        JOIN t ts ON ts.shard = t.shard AND ts.rn = w.pos
    """


@query(
    "ds03_greedy_packing",
    tags="DS-pack UDF",
    oracle=_ds03_oracle(),
)
def ds03_greedy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact greedy first-fit-sequential packing (budget 256): the fill
    reset is a true sequential recurrence, so it runs as Arrow-batched
    applyInPandas per shard; the oracle replays it exactly via the
    O(n log n) binary-lifting formulation in ``_ds03_oracle`` (the naive
    one-row-per-step recursive CTE cost ~27 min/sf1 pass)."""
    from cnics_to_fhir_spark.operators import dataset

    return dataset.pack_greedy(table(spark, sf_dir, "documents"), budget=256)


@query(
    "ds04_deterministic_shuffle",
    tags="DS-shuffle W O3",
    oracle="""
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rank
        FROM documents
    """,
)
def ds04_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training order: (md5 bucket, rank-in-bucket) — 256
    parallel range partitions instead of a single-task global row_number;
    global order is (bucket, rank) lexicographically."""
    from cnics_to_fhir_spark.operators import dataset

    return dataset.deterministic_shuffle(
        table(spark, sf_dir, "documents"), key_col="doc_id"
    ).select("doc_id", "bucket", "rank")


@query(
    "ds05_weighted_sample",
    tags="DS-sample O2 O3",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang,
                   GREATEST(CAST(CASE WHEN length(text) = 0 THEN 0
                                 ELSE len(string_split(text, ' ')) END AS BIGINT),
                            1) AS w,
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h32
            FROM documents
        )
        SELECT doc_id, lang, w AS weight, (h32 * 1000000) // w AS priority
        FROM t
        ORDER BY priority, doc_id
        LIMIT 500
    """,
)
def ds05_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted bottom-k corpus sample (k=500, weight = token
    count): integer priority = (md5-derived 32-bit draw × 1e6) div weight —
    pure integer arithmetic, so Spark and the oracle agree exactly; the
    bottom-k is TakeOrderedAndProject (per-partition heaps), never a global
    sort."""
    from cnics_to_fhir_spark.operators import dataset

    sampled = dataset.weighted_priority_sample(
        table(spark, sf_dir, "documents"), k=500
    )
    return sampled.select("doc_id", "lang", "weight", "priority")


@query(
    "ds06_sliding_chunks",
    tags="DS-chunk F19 F22",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   CAST(CASE WHEN length(text) = 0 THEN 0
                             ELSE len(string_split(text, ' ')) END AS BIGINT) AS n
            FROM documents
        ),
        c AS (
            SELECT doc_id, toks, n,
                   CASE WHEN n <= 32 THEN 1
                        ELSE (n - 32 + 23) // 24 + 1 END AS n_chunks
            FROM t
        ),
        e AS (
            SELECT doc_id, toks, CAST(u.chunk_id AS BIGINT) AS chunk_id
            FROM c, UNNEST(range(0, n_chunks)) AS u(chunk_id)
        )
        SELECT doc_id, chunk_id,
               CAST(len(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)]) AS BIGINT) AS chunk_tokens,
               array_to_string(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)], ' ') AS chunk_text
        FROM e
    """,
)
def ds06_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 32, overlap 8 → stride 24):
    pure per-row explode, no shuffle; chunk counts are exact integer
    arithmetic so engines agree on every boundary."""
    from cnics_to_fhir_spark.operators import dataset

    return dataset.chunk_sliding(
        table(spark, sf_dir, "documents"), size=32, overlap=8
    )


@query(
    "e2e05_corpus_curation",
    tags="E2E DS DD-exact TX A3 W F22",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang, text, string_split(text, ' ') AS toks
            FROM documents
        ),
        m AS (
            SELECT doc_id, lang, text,
                   md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
                   FLOOR((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.6
                         + CASE WHEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                                     BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END
                         + LEAST(CAST(len(toks) AS DOUBLE) / 32.0, 1.0) * 0.2)*1e4 + 0.5)/1e4 AS quality,
                   CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(toks) END AS BIGINT) AS tok
            FROM t
        ),
        kept AS (
            SELECT * FROM (
                SELECT m.*, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
                FROM m
            )
            WHERE rn = 1 AND quality >= 0.65
              AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                  < CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40' ELSE '20' END
        ),
        c AS (
            SELECT lang AS shard, doc_id, tok, quality,
                   CAST(COALESCE(SUM(tok) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS prec
            FROM kept
        )
        SELECT shard, doc_id, tok,
               prec // 256 AS bin_id,
               prec % 256 AS bin_offset,
               quality
        FROM c
    """,
)
def e2e05_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation vertical in ONE DAG: exact dedup (keeper = lowest id
    per normalized fingerprint) → quality gate (≥ 0.65) → stratified
    language mixing → chunked packing. Two shuffles total (fingerprint
    window, shard window); the gate and sampler are scan-fused filters."""
    from cnics_to_fhir_spark.operators import dataset

    return dataset.curate_corpus(table(spark, sf_dir, "documents"))


@query(
    "cl01_kmeans_assign",
    tags="CL-iterative J8 A5 W",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                   list_transform(v, x -> FLOOR(x*1e6 + 0.5)/1e6) AS cv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
        ),
        d0 AS (
            SELECT e.vec_id, e.v, c.cid,
                   list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)
                     + list_dot_product(c.cv, c.cv) AS dist
            FROM e CROSS JOIN c0 c
        ),
        a0 AS (
            SELECT vec_id, v, cid, dist FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                FROM d0
            ) WHERE rn = 1
        ),
        c1 AS (
            SELECT cid, list(m ORDER BY idx) AS cv FROM (
                SELECT a.cid, t.idx, FLOOR(AVG(a.v[CAST(t.idx AS INT) + 1])*1e6 + 0.5)/1e6 AS m
                FROM a0 a, range(64) t(idx)
                GROUP BY a.cid, t.idx
            ) GROUP BY cid
        ),
        d1 AS (
            SELECT e.vec_id, c.cid,
                   list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)
                     + list_dot_product(c.cv, c.cv) AS dist
            FROM e CROSS JOIN c1 c
        ),
        a1 AS (
            SELECT vec_id, cid, dist FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                FROM d1
            ) WHERE rn = 1
        )
        SELECT vec_id, CAST(cid AS INT) AS cluster,
               FLOOR(dist*1e6 + 0.5)/1e6 AS dist
        FROM a1
    """,
)
def cl01_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd, k=4, 2 iterations, deterministic lowest-id init) —
    the iterative-refinement class done Spark-style: corpus stays
    distributed, only the k×64 centroid matrix visits the driver between
    iterations; the oracle unrolls the same two iterations in SQL."""
    from cnics_to_fhir_spark.operators import clustering

    return clustering.kmeans_assign(
        spark, table(spark, sf_dir, "embeddings"), k=4, iters=2
    )


@query(
    "ann04_ivf_trained_topk",
    tags="ANN-ivf CL-iterative J1 W",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                   list_transform(v, x -> FLOOR(x*1e6 + 0.5)/1e6) AS cv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
        ),
        a0 AS (
            SELECT vec_id, v, cid FROM (
                SELECT e.vec_id, e.v, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e CROSS JOIN c0 c
            ) WHERE rn = 1
        ),
        c1 AS (
            SELECT cid, list(m ORDER BY idx) AS cv FROM (
                SELECT a.cid, t.idx, FLOOR(AVG(a.v[CAST(t.idx AS INT) + 1])*1e6 + 0.5)/1e6 AS m
                FROM a0 a, range(64) t(idx)
                GROUP BY a.cid, t.idx
            ) GROUP BY cid
        ),
        cells AS (
            SELECT vec_id, v, cid FROM (
                SELECT e.vec_id, e.v, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e CROSS JOIN c1 c
            ) WHERE rn = 1
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   FLOOR((list_dot_product(q.v, c.v)
                         / (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.v, c.v))))*1e6 + 0.5)/1e6 AS cosine_sim
            FROM (SELECT * FROM cells WHERE vec_id < 8) q
            JOIN cells c ON q.cid = c.cid AND c.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def ann04_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-loop IVF: the coarse quantizer is TRAINED (cl01's 2-iteration
    k-means) instead of taken from the synthetic label column; cells feed
    the same bucketed-probe search as ann03. Train → index → search, all
    oracle-checked end to end."""
    from cnics_to_fhir_spark.operators import clustering, similarity

    emb = table(spark, sf_dir, "embeddings")
    cells = clustering.kmeans_assign(spark, emb, k=4, iters=2).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    indexed = emb.join(cells, "vec_id")
    return similarity.ivf_topk(
        indexed, indexed.filter(F.col("vec_id") < 8), k=5, cell_col="cell"
    )


@query(
    "dd06_dup_clusters",
    tags="DD-clusters CL-iterative J1",
    oracle="""
        WITH RECURSIVE base AS (
            SELECT doc_id AS id,
                   array_to_string((string_split(text, ' '))[1:4], ' ') AS block,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN list_transform(
                                   range(1, len(string_split(text, ' ')) - 1),
                                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                            ELSE [text]
                       END) AS shingles
            FROM documents
        ),
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
            WHERE FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6 >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS id, src AS r FROM edges
            UNION
            SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
        )
        SELECT id AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY id
    """,
)
def dd06_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure over dd02's near-dup pairs: connected components
    by min-label propagation (joins-until-fixpoint); every pair member gets
    its component's minimum doc_id as the canonical keeper. The oracle
    computes the same closure with a recursive CTE — path-independence of
    the fixpoint is what makes the two comparable."""
    pairs = dedup.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), k=3, block_words=4, threshold=0.5
    )
    return dedup.duplicate_clusters(pairs)


@query(
    "ev03_sliding_window",
    tags="EV W A5",
    oracle="""
        WITH e AS (
            SELECT event_type, value,
                   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es
            FROM events
        ),
        x AS (
            -- width 1 h / slide 30 min: every event belongs to exactly 2
            -- windows, starts at floor(es/1800)*1800 - k*1800 for k in {0,1}
            SELECT e.event_type, e.value,
                   (e.es // 1800) * 1800 - t.k * 1800 AS ws
            FROM e, (SELECT UNNEST([0, 1]) AS k) t
        )
        SELECT STRFTIME(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 2) AS total_value
        FROM x GROUP BY 1, 2
    """,
)
def ev03_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h wide, 30 min slide): F.window's overlap
    replication vs an oracle that unrolls the two containing windows per
    event arithmetically."""
    return events_windows.sliding_window_agg(table(spark, sf_dir, "events"))


@query(
    "tx04_heavy_hitters",
    tags="TX A5 O2 F22",
    oracle="""
        SELECT tok AS token, COUNT(*) AS freq
        FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
        ORDER BY freq DESC, token
        LIMIT 50
    """,
)
def tx04_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 token frequencies (operators/textanalysis.py:
    heavy_hitters): Zipf-skew-safe via map-side partial agg; top-k without a
    global sort."""
    return textanalysis.heavy_hitters(table(spark, sf_dir, "documents"), k=50)


@query(
    "rj01_interval_attribution",
    tags="RJ J1 A5 EV",
    oracle="""
        WITH e AS (
            SELECT event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es,
                   value, event_type
            FROM events
        ),
        i AS (
            SELECT event_id AS incident_id, es AS i_start, es + 600 AS i_end
            FROM e WHERE event_type = 'error'
        )
        SELECT i.incident_id,
               COUNT(*) AS n_events,
               FLOOR((SUM(p.value))*1e2 + 0.5)/1e2 AS window_value
        FROM i JOIN e p ON p.es >= i.i_start AND p.es < i.i_end
        GROUP BY i.incident_id
    """,
)
def rj01_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join without an equi key (operators/intervals.py): every event
    within 10 minutes after an 'error' event is attributed to that incident.
    Bucketized to a hash equi-join (W = interval length → ≤2× interval
    replication); the naive Spark plan here would be a nested-loop join."""
    from cnics_to_fhir_spark.functions.numeric import stable_round
    from cnics_to_fhir_spark.operators.intervals import point_in_interval_join

    e = table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("long").alias("es"), "value", "event_type"
    )
    incidents = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("es").alias("i_start"),
        (F.col("es") + 600).alias("i_end"),
    )
    joined = point_in_interval_join(
        e.select("es", "value"),
        incidents,
        point_col="es",
        start_col="i_start",
        end_col="i_end",
        bucket_seconds=600,
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_round(F.sum("value"), 2).alias("window_value"),
    )


@query(
    "ev04_gap_filled_rollup",
    tags="EV W A5 J1",
    oracle="""
        WITH dense AS (
            SELECT date_trunc('hour', ts) AS h, event_type,
                   COUNT(*) AS n, SUM(value) AS sv
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events
        ),
        spine AS (
            SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
            FROM bounds
        )
        SELECT STRFTIME(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
               t.event_type,
               COALESCE(d.n, 0) AS n,
               FLOOR(COALESCE(d.sv, 0)*1e2 + 0.5)/1e2 AS total_value
        FROM spine s
        CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        LEFT JOIN dense d ON d.h = s.h AND d.event_type = t.event_type
    """,
)
def ev04_gap_filled_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup with a dense time spine: empty (hour, type) cells are
    zero-filled (operators/events_windows.py: gap_filled_hourly). The spine
    is built from two scalar aggregates — O(hours × types), never
    O(events)."""
    return events_windows.gap_filled_hourly(table(spark, sf_dir, "events"))


@query("a11_approx_percentiles", tags="A5 APPROX PCT", oracle=None)
def a11_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL/Greenwald-Khanna approximate percentiles per group — mergeable
    sketches vs a09's exact form (exact interpolation needs the full sorted
    value set per group; the sketch is a bounded-size partial aggregate, so
    it map-side combines and never materializes the group). Rows-only:
    sketch outputs are engine-specific; pytest pins the rank error against
    a09's exact values. The three percentiles are projected into scalar
    columns (p50/p90/p99) so downstream canonicalizers that sort/hash rows
    never see an array-typed cell."""
    li = table(spark, sf_dir, "lineitem")
    pcts = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", [0.5, 0.9, 0.99], 10_000
        ).alias("pcts"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return pcts.select(
        "l_returnflag",
        F.col("pcts").getItem(0).alias("p50"),
        F.col("pcts").getItem(1).alias("p90"),
        F.col("pcts").getItem(2).alias("p99"),
        "n_rows",
    )


@query("a14_hll_rollup", tags="A5 APPROX ROLLUP", oracle=None)
def a14_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable distinct-count rollup (operators/sketches.py):
    one events scan builds per-(day, event_type) HLL sketches, then daily
    distinct users come from UNIONING those sketches — the persisted-
    sketch-table pattern that answers every coarser granularity at 100 TB
    without re-scanning raw data (exact COUNT(DISTINCT) re-shuffles every
    distinct key per granularity). Rows-only: estimates are
    engine-specific; pytest pins merge-tree invariance (rollup == direct
    sketch, register-max union is order-insensitive) and a 5% error bound
    vs exact."""
    from cnics_to_fhir_spark.operators.sketches import hll_rollup, hll_sketches

    ev = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    fine = hll_sketches(ev, ["day", "event_type"], "user_id")
    return hll_rollup(fine, ["day"]).orderBy("day")


@query(
    "dd07_fuzzy_name_match",
    tags="DD-fuzzy J1 F22 A5",
    oracle="""
        WITH names AS (
            SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM part GROUP BY p_name
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
               a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        FROM names a
        JOIN names b ON substring(a.p_name, 1, 3) = substring(b.p_name, 1, 3)
                    AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def dd07_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching by edit distance, dedupe-first: entity names
    are massively duplicated (a few hundred distinct over 10^4..10^7
    rows), so the plan aggregates to DISTINCT names + counts BEFORE any
    pairing — the candidate block join and levenshtein verify then run on
    the tiny name dimension, never the fact table (a naive id-level block
    join at sf0.1 costs ~20M distance evaluations and 19s; this form is
    ~200 names and milliseconds — the Σ|block|² term must be over
    DISTINCT keys at any scale). Prefix blocking misses pairs whose edits
    touch the first three chars — the standard recall trade."""
    names = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        F.substring("p_name", 1, 3).alias("blk"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.substring("p_name", 1, 3).alias("blk"),
    )
    return (
        a.join(b, on="blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 4)
        .select("name_a", "name_b", "edit_dist", "n_parts_a", "n_parts_b")
    )


@query(
    "e2e06_entity_resolution",
    tags="DD-fuzzy DD-clusters J1 A5",
    oracle="""
        WITH RECURSIVE names AS (
            SELECT DISTINCT p_name FROM part
        ),
        pairs AS (
            SELECT a.p_name AS id_a, b.p_name AS id_b
            FROM names a
            JOIN names b ON substring(a.p_name, 1, 3) = substring(b.p_name, 1, 3)
                        AND a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= 4
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS id, src AS r FROM edges
            UNION
            SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
        )
        SELECT id AS name, MIN(r) AS canonical_name FROM reach GROUP BY id
    """,
)
def e2e06_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution vertical, composed from verified parts: dedupe-first
    fuzzy pairs (dd07's plan) → connected components (dd06's min-label
    propagation, generic over string ids) → canonical-name mapping. The
    oracle replays blocking, levenshtein, and the transitive closure with a
    recursive CTE. Scale: everything after the name-level dedup runs on the
    tiny entity dimension; the fact table is only touched by the final
    (not materialized here) canonical join-back."""
    names = table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("id_a"), F.substring("p_name", 1, 3).alias("blk"))
    b = names.select(F.col("p_name").alias("id_b"), F.substring("p_name", 1, 3).alias("blk"))
    pairs = (
        a.join(b, on="blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("id_a", "id_b") <= 4)
        .select("id_a", "id_b")
    )
    return dedup.duplicate_clusters(pairs).select(
        F.col("doc_id").alias("name"), F.col("cluster_rep").alias("canonical_name")
    )


@query(
    "ev06_cohort_retention",
    tags="EV A5 J1 F17",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
            FROM events
        )
        SELECT STRFTIME(f.cohort_week, '%Y-%m-%d') AS cohort_week,
               CAST(DATEDIFF('week', f.cohort_week, a.activity_week) AS INTEGER)
                   AS weeks_since,
               CAST(COUNT(*) AS BIGINT) AS active_users
        FROM firsts f
        JOIN activity a ON a.user_id = f.user_id
        GROUP BY 1, 2
    """,
)
def ev06_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted
    in each subsequent activity week. Two aggregations and a join, all
    partitioned by user_id — Spark reuses the exchange; the matrix output
    is O(weeks²) regardless of event volume."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        firsts.join(activity, on="user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
            ).cast("int").alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@query(
    "ev07_funnel",
    tags="EV A5 J1 W",
    oracle="""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        )
        SELECT stage, CAST(users AS BIGINT) AS users FROM (
            SELECT '1_signup' AS stage, COUNT(*) AS users FROM s1
            UNION ALL
            SELECT '2_click', COUNT(*) FROM s2
            UNION ALL
            SELECT '3_purchase', COUNT(*) FROM s3
        )
    """,
)
def ev07_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (signup → later click → later purchase):
    each stage is a conditional MIN over the previous stage's timestamp,
    joined back per user. Every join and agg keys on user_id, so one
    exchange feeds the whole chain; counts are O(users), never O(events),
    past the first stage."""
    e = table(spark, sf_dir, "events")
    s1 = e.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, on="user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, on="user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = [
        s1.agg(F.count(F.lit(1)).alias("users")).select(F.lit("1_signup").alias("stage"), "users"),
        s2.agg(F.count(F.lit(1)).alias("users")).select(F.lit("2_click").alias("stage"), "users"),
        s3.agg(F.count(F.lit(1)).alias("users")).select(F.lit("3_purchase").alias("stage"), "users"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "tx05_tfidf_topk",
    tags="TX A5 W F22",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.tok
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        ),
        tf AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, tok
        ),
        df AS (
            SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM tok GROUP BY tok
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.tok,
                   FLOOR((tf.tf * ln(n.n_docs / df.df))*1e6 + 0.5)/1e6 AS tfidf
            FROM tf JOIN df ON tf.tok = df.tok, n
        )
        SELECT doc_id, tok, tfidf, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, tok) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
)
def tx05_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the canonical text-relevance op:
    token explode → per-doc TF agg → corpus DF agg (broadcast back, it is
    vocabulary-sized) → score → ranked window with a total order. Two
    corpus-wide shuffles (doc-keyed TF, token-keyed DF) regardless of
    document count; the DF side is the classic map-side-combine winner
    since token frequency follows Zipf."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    # corpus size as a one-row broadcast, not a driver-side count() —
    # keeps plan construction lazy and the whole query one job
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), on="tok")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("raw"),
        )
    )
    from cnics_to_fhir_spark.functions.numeric import stable_round

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok")
    )
    return (
        scored.select("doc_id", "tok", stable_round(F.col("raw"), 6).alias("tfidf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@query(
    "ev08_transition_matrix",
    tags="EV W A5",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        )
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY from_type, to_type
    """,
)
def ev08_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts (the Markov bigram matrix behind
    next-action models): LEAD over each user's time-ordered stream, then
    one |types|² aggregation. The window and the agg share the user_id
    partitioning; event_id breaks timestamp ties so both engines see the
    same successor."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "f24_props_json_extract",
    tags="F21 F18 A5 EV",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS k_sum,
               CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS k_min,
               CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS k_max
        FROM events GROUP BY event_type
    """,
)
def f24_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction over the event stream's JSON payload
    column: get_json_object path extraction stays inside codegen (no UDF,
    no full from_json schema when one path suffices — the scan prunes to
    (event_type, props) only), then an ordinary grouped aggregation.
    DuckDB's json_extract replays the path semantics."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 curation family: decontamination, PII redaction, repetition
# filters, deterministic splits — the remaining pre-training stages a
# 100 TB curation pipeline runs between dedup and packing.
# ---------------------------------------------------------------------------


@query(
    "dc01_decontaminate",
    tags="DC J8 A5",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bench AS (
            -- benchmark suite = 40-token excerpts of every 50th doc
            -- (benchmark items are excerpted from web text — the classic
            -- leak shape), re-keyed far above the corpus id range
            SELECT doc_id + 1000000 AS doc_id,
                   (string_split(text, ' '))[1:40] AS t
            FROM documents WHERE doc_id % 50 = 0
        ),
        g AS (
            SELECT doc_id,
                   UNNEST(list_distinct(
                       CASE WHEN len(t) >= 8
                            THEN list_transform(range(1, len(t) - 6),
                                                i -> array_to_string(t[i:i+7], ' '))
                            ELSE [array_to_string(t, ' ')]
                       END)) AS gram
            FROM corpus
        ),
        bg AS (
            SELECT doc_id AS bench_id,
                   UNNEST(list_distinct(
                       CASE WHEN len(t) >= 8
                            THEN list_transform(range(1, len(t) - 6),
                                                i -> array_to_string(t[i:i+7], ' '))
                            ELSE [array_to_string(t, ' ')]
                       END)) AS gram
            FROM bench
        )
        SELECT c.doc_id, CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_hits
        FROM g c JOIN (SELECT DISTINCT gram FROM bg) b ON c.gram = b.gram
        GROUP BY c.doc_id
    """,
)
def dc01_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every corpus doc sharing an 8-word
    gram with the benchmark suite. Fixture: the benchmark is built from
    40-token EXCERPTS of every 50th doc (re-keyed outside the corpus id
    range) — benchmark items excerpted from crawled text is exactly how
    test-set leakage happens, so the excerpted sources (and any of their
    duplicates) must come back flagged with n_hits = their shared-gram
    count. Benchmark grams broadcast; the corpus side never shuffles
    (operators/curation.decontaminate)."""
    from cnics_to_fhir_spark.operators import curation

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 40), " ").alias("text"),
    )
    return curation.decontaminate(docs, bench, k=8)


@query(
    "dc02_pii_redaction",
    tags="DC F14 F22",
    oracle="""
        WITH marked AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com'
                        WHEN doc_id % 3 = 1
                        THEN text || ' call 206-555-'
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        ELSE text END AS text
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS redacted,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(text,
                   '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b')) AS BIGINT) AS n_phones
        FROM marked
    """,
)
def dc02_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a corpus with synthesized PII (emails / NANP
    phones planted by doc_id residue, since the testdata corpus carries
    none): emails → <EMAIL>, phones → <PHONE>, plus pre-redaction match
    counts. Pure codegen'd regexp_replace/regexp_count — no shuffle; the
    patterns are RE2-and-Java-compatible so DuckDB replays them verbatim."""
    from cnics_to_fhir_spark.operators import curation

    did = F.col("doc_id")
    marked = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            did % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" call 206-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return curation.pii_redact(marked)


@query(
    "tx06_repetition_signals",
    tags="TX A5 F22",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bg AS (
            SELECT doc_id,
                   UNNEST(CASE WHEN len(t) >= 2
                               THEN list_transform(range(1, len(t)),
                                                   i -> array_to_string(t[i:i+1], ' '))
                               ELSE [array_to_string(t, ' ')]
                          END) AS gram
            FROM toks
        ),
        cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY doc_id, gram),
        agg AS (SELECT doc_id, MAX(c) AS top, SUM(c) AS m FROM cnt GROUP BY doc_id),
        d AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd FROM toks)
        SELECT d.doc_id,
               CAST(d.n AS BIGINT) AS n_tokens,
               FLOOR((CAST(top AS DOUBLE)/m)*1e6 + 0.5)/1e6 AS top_bigram_frac,
               FLOOR((1.0 - CAST(nd AS DOUBLE)/n)*1e6 + 0.5)/1e6 AS dup_token_ratio,
               FLOOR((CAST(top AS DOUBLE)/m)*1e6 + 0.5)/1e6 > 0.2 AS repetitive
        FROM d JOIN agg USING (doc_id)
    """,
)
def tx06_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition filters: top-bigram fraction + duplicate
    token ratio per doc, with the >0.2 rejection flag computed on the
    rounded grid so both engines take the same branch at the boundary."""
    return textanalysis.repetition_signals(table(spark, sf_dir, "documents"))


@query(
    "ds07_hash_split",
    tags="DS O3",
    oracle="""
        WITH b AS (
            SELECT doc_id,
                   CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS UBIGINT) % 100 AS BIGINT) AS bucket
            FROM documents
        )
        SELECT doc_id, bucket,
               CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    """,
)
def ds07_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split on the engine-portable
    md5 hash — per-row arithmetic, zero shuffle, rerun/engine/partition
    stable, new docs keep landing in the same split (leakage-safe eval)."""
    from cnics_to_fhir_spark.operators.dataset import hash_split

    return hash_split(table(spark, sf_dir, "documents").select("doc_id"))


# ---------------------------------------------------------------------------
# dd08 — sub-document exact dedup (boilerplate chunk removal)
# ---------------------------------------------------------------------------
@query(
    "dd08_boilerplate_removal",
    tags="DD DC TX F22",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        ch AS (
            SELECT doc_id, i AS pos,
                   array_to_string(t[(i*8+1):(i*8+8)], ' ') AS chunk
            FROM toks, UNNEST(range(0, GREATEST(CAST(ceil(len(t)/8.0) AS BIGINT), 1))) AS u(i)
        ),
        hot AS (SELECT chunk FROM ch GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 3),
        marked AS (
            SELECT c.*, h.chunk IS NOT NULL AS is_b
            FROM ch c LEFT JOIN hot h USING (chunk)
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               COALESCE(string_agg(CASE WHEN NOT is_b THEN chunk END, ' ' ORDER BY pos), '')
                   AS clean_text
        FROM marked GROUP BY doc_id
    """,
)
def dd08_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style sub-document dedup: drop every 8-word chunk
    occurring in ≥3 distinct docs (the 'line' analog for a newline-free
    corpus), reassemble surviving chunks in position order.  Three keyed
    shuffles (chunk-count, chunk-join, doc-reassembly), map-side partial
    agg on each; the hot-chunk set is corpus-sized in the worst case so it
    is never broadcast/collected — AQE skew-split handles Zipf-hot chunks.
    Reassembly is array_sort WITHIN a row, never a corpus window."""
    from cnics_to_fhir_spark.operators.curation import remove_boilerplate_chunks

    return remove_boilerplate_chunks(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ds08 — source-weighted mixture epochs (up/down-sampling)
# ---------------------------------------------------------------------------
@query(
    "ds08_epoch_mixture",
    tags="DS O3",
    oracle="""
        WITH w AS (
            SELECT doc_id, source,
                   CASE WHEN source IN ('src0','src1','src2') THEN 250
                        WHEN source IN ('src3','src4') THEN 130
                        WHEN source = 'src5' THEN 40
                        ELSE 100 END AS wt,
                   CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS UBIGINT) % 100 AS BIGINT) AS h
            FROM documents
        ),
        n AS (
            SELECT doc_id, source,
                   CAST(wt // 100 + CASE WHEN h < wt % 100 THEN 1 ELSE 0 END AS BIGINT)
                       AS n_epochs
            FROM w
        )
        SELECT doc_id, source, n_epochs, CAST(e AS BIGINT) AS epoch
        FROM n, UNNEST(range(1, n_epochs + 1)) AS u(e)
        WHERE n_epochs > 0
    """,
)
def ds08_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture recipe as epochs: src0-2 at 2.5 epochs, src3-4 at 1.3,
    src5 downsampled to 0.4, rest 1.0 — fractional epochs decided per doc
    by the portable 60-bit hash so the operator is exact integer
    arithmetic end to end.  Pure scan expression + explode: NO shuffle,
    no state; the recipe is a literal CASE in the plan."""
    from cnics_to_fhir_spark.operators.dataset import epoch_upsample

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return epoch_upsample(
        docs,
        {"src0": 250, "src1": 250, "src2": 250, "src3": 130, "src4": 130, "src5": 40},
    )


# ---------------------------------------------------------------------------
# dd09 — semantic dedup (SemDeDup): trained clusters -> within-cluster cosine
# ---------------------------------------------------------------------------
@query(
    "dd09_semantic_dedup",
    tags="DD-cosine CL-iterative J1 W",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                   list_transform(v, x -> FLOOR(x*1e6 + 0.5)/1e6) AS cv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
        ),
        a0 AS (
            SELECT vec_id, v, cid FROM (
                SELECT e.vec_id, e.v, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e CROSS JOIN c0 c
            ) WHERE rn = 1
        ),
        c1 AS (
            SELECT cid, list(m ORDER BY idx) AS cv FROM (
                SELECT a.cid, t.idx, FLOOR(AVG(a.v[CAST(t.idx AS INT) + 1])*1e6 + 0.5)/1e6 AS m
                FROM a0 a, range(64) t(idx)
                GROUP BY a.cid, t.idx
            ) GROUP BY cid
        ),
        cells AS (
            SELECT vec_id, v, cid FROM (
                SELECT e.vec_id, e.v, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e CROSS JOIN c1 c
            ) WHERE rn = 1
        ),
        params AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT cid) AS BIGINT) AS c
            FROM cells
        ),
        p2 AS (
            -- integer replica of dedup.choose_refine_bits(n, c, 256, 8)
            SELECT CASE
                WHEN n <= 256 * c THEN 0
                WHEN n <= 256 * c * 2 THEN 1
                WHEN n <= 256 * c * 4 THEN 2
                WHEN n <= 256 * c * 8 THEN 3
                WHEN n <= 256 * c * 16 THEN 4
                WHEN n <= 256 * c * 32 THEN 5
                WHEN n <= 256 * c * 64 THEN 6
                WHEN n <= 256 * c * 128 THEN 7
                ELSE 8 END AS bits
            FROM params
        ),
        er AS (
            SELECT vec_id, v, cid,
                   CASE WHEN (SELECT bits FROM p2) = 0
                        THEN CAST(cid AS BIGINT)
                        ELSE CAST(cid AS BIGINT) * 256
                             + (CASE WHEN 0 < (SELECT bits FROM p2) AND v[1] > 0 THEN 1 ELSE 0 END)
                             + (CASE WHEN 1 < (SELECT bits FROM p2) AND v[2] > 0 THEN 2 ELSE 0 END)
                             + (CASE WHEN 2 < (SELECT bits FROM p2) AND v[3] > 0 THEN 4 ELSE 0 END)
                             + (CASE WHEN 3 < (SELECT bits FROM p2) AND v[4] > 0 THEN 8 ELSE 0 END)
                             + (CASE WHEN 4 < (SELECT bits FROM p2) AND v[5] > 0 THEN 16 ELSE 0 END)
                             + (CASE WHEN 5 < (SELECT bits FROM p2) AND v[6] > 0 THEN 32 ELSE 0 END)
                             + (CASE WHEN 6 < (SELECT bits FROM p2) AND v[7] > 0 THEN 64 ELSE 0 END)
                             + (CASE WHEN 7 < (SELECT bits FROM p2) AND v[8] > 0 THEN 128 ELSE 0 END)
                        END AS cell
            FROM cells
        ),
        dups AS (
            SELECT DISTINCT b.vec_id
            FROM er a JOIN er b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE FLOOR((list_dot_product(a.v, b.v)
                  / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))))*1e6 + 0.5)/1e6
                  >= 0.35
        )
        SELECT c.vec_id, CAST(c.cid AS INT) AS cluster,
               d.vec_id IS NOT NULL AS is_dup
        FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
    """,
)
def dd09_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: train the quantizer (cl01's
    2-iteration k-means, deterministic init), then mark within-cluster
    cosine near-dups against the lowest-id representative.  The pair
    stage delegates to embedding_near_dup_pairs with the TRAINED cell as
    blocking key, inheriting the sign-bit auto-refine guard (the oracle
    replays the integer bit selection — at sf0.1 the 2000 vectors over 4
    trained cells land on bits=1, at sf1 bits=5).  Threshold 0.35
    exercises the op on the weakly-clustered synthetic gaussians (same
    rationale as dd05); a real corpus uses ≈ 0.95 and raises
    k ∝ corpus_size / target_cell.  The oracle replays training,
    refinement, and marking end to end."""
    from cnics_to_fhir_spark.operators.dedup import semantic_dedup

    return semantic_dedup(spark, table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# aj02 — nearest as-of join with tolerance (backward + forward composed)
# ---------------------------------------------------------------------------
@query(
    "aj02_asof_nearest",
    tags="AJ J1 W",
    oracle="""
        WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
             -- one row per (user_id, ts): matches the Spark operator's
             -- struct-min tiebreak under duplicate right timestamps
             v AS (SELECT user_id, ts, MIN(value) AS value
                   FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        b AS (
            SELECT c.event_id, c.user_id, c.ts, v.ts AS b_ts, v.value AS b_value
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        ),
        f AS (
            SELECT c.event_id, v.ts AS f_ts, v.value AS f_value
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts <= v.ts
        ),
        j AS (
            SELECT b.*, f.f_ts, f.f_value,
                   CASE WHEN b.b_ts IS NULL THEN NULL
                        ELSE epoch_us(b.ts) - epoch_us(b.b_ts) END AS db,
                   CASE WHEN f.f_ts IS NULL THEN NULL
                        ELSE epoch_us(f.f_ts) - epoch_us(b.ts) END AS df
            FROM b JOIN f USING (event_id)
        ),
        pick AS (
            SELECT *,
                   CASE WHEN db IS NOT NULL AND db <= 3600000000
                             AND (df IS NULL OR df > 3600000000 OR db <= df)
                        THEN 'backward'
                        WHEN df IS NOT NULL AND df <= 3600000000
                        THEN 'forward'
                        END AS direction
            FROM j
        )
        SELECT event_id, user_id,
               STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               direction,
               STRFTIME(CASE direction WHEN 'backward' THEN b_ts
                                       WHEN 'forward' THEN f_ts END,
                        '%Y-%m-%d %H:%M:%S') AS view_ts,
               ROUND(CASE direction WHEN 'backward' THEN b_value
                                    WHEN 'forward' THEN f_value END, 2) AS view_value,
               CASE direction WHEN 'backward' THEN db
                              WHEN 'forward' THEN df END AS delta_us
        FROM pick
    """,
)
def aj02_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join with a 1-hour tolerance: attach the closest
    'view' (before OR after, ties → backward) to every 'click' per user,
    with the chosen direction and signed-to-positive microsecond delta.
    Composes the backward LOCF as-of with its forward mirror
    (operators/asof.py) — two keyed shuffles total, no range explosion;
    the delta compare is exact integer microseconds on both engines
    (unix_micros ≡ epoch_us).  The oracle uses DuckDB's native ASOF JOIN
    in both directions, so the union+window plan is checked against an
    independent implementation of the same semantics."""
    from cnics_to_fhir_spark.operators.asof import asof_join, asof_join_forward

    TOL = 3_600_000_000  # 1 hour in microseconds
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    b = asof_join(clicks, views, on="user_id", ts_col="ts", payload_cols=["value"], prefix="b_")
    bf = asof_join_forward(b, views, on="user_id", ts_col="ts", payload_cols=["value"], prefix="f_")
    db = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("b_ts"))
    df_ = F.unix_micros(F.col("f_ts")) - F.unix_micros(F.col("ts"))
    direction = (
        F.when(
            F.col("b_ts").isNotNull()
            & (db <= TOL)
            & (F.col("f_ts").isNull() | (df_ > TOL) | (db <= df_)),
            F.lit("backward"),
        )
        .when(F.col("f_ts").isNotNull() & (df_ <= TOL), F.lit("forward"))
    )
    chosen_ts = (
        F.when(direction == "backward", F.col("b_ts"))
        .when(direction == "forward", F.col("f_ts"))
    )
    chosen_val = (
        F.when(direction == "backward", F.col("b_value"))
        .when(direction == "forward", F.col("f_value"))
    )
    delta = F.when(direction == "backward", db).when(direction == "forward", df_)
    return bf.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        direction.alias("direction"),
        F.date_format(chosen_ts, "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.round(chosen_val, 2).alias("view_value"),
        delta.cast("long").alias("delta_us"),
    )


# ---------------------------------------------------------------------------
# j12 — bucketed co-located join (write-once, join-shuffle-free thereafter)
# ---------------------------------------------------------------------------
@query(
    "j12_bucketed_colocated_join",
    tags="J1 BUCKET STORAGE",
    oracle="""
        SELECT o.o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n,
               -- exact integer cents (l_extendedprice is a 2dp decimal):
               -- ROUND(SUM(double)) diverges between engines at sf10 —
               -- see j09's docstring
               SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
                   AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
    """,
)
def j12_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB repeated-join strategy made driver-visible: write
    lineitem and orders bucketed (8 buckets) and sorted on the join key,
    then join the bucketed tables with auto-broadcast disabled — the plan
    MUST contain no Exchange on either join side (asserted in-code: the
    entry fails rather than silently shuffling), because bucketed storage
    pre-partitions both tables identically, moving the shuffle into the
    one-time write.  The oracle is the plain declarative join, so the
    hash compare proves co-located execution changes nothing about the
    result.  Result rows are materialized before the scratch database is
    dropped (st01's pattern for entries that own side state)."""
    from cnics_to_fhir_spark.session import scratch_name, session_conf

    # applicationId-suffixed scratch database: two concurrent catalog runs
    # on one machine must not collide on catalog names or warehouse paths.
    db = scratch_name(spark, "j12_scratch")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
        # the two bucketed CTAS writes are independent tables — overlap
        # them on two driver threads so the smaller write back-fills the
        # bigger one's task tail (guide §2.6)
        def _write_orders():
            (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
              .mode("overwrite").saveAsTable(f"{db}.orders_b"))

        def _write_lineitem():
            (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
              .mode("overwrite").saveAsTable(f"{db}.lineitem_b"))

        overlap(spark, _write_orders, _write_lineitem)
        ob, lb = spark.table(f"{db}.orders_b"), spark.table(f"{db}.lineitem_b")
        with session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = (
                lb.join(ob, lb["l_orderkey"] == ob["o_orderkey"])
                .groupBy(F.col("o_orderstatus").alias("status"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    (
                        F.sum(
                            F.floor(
                                F.col("l_extendedprice") * 100 + F.lit(0.5)
                            ).cast("long")
                        )
                        / F.lit(100.0)
                    ).alias("revenue"),
                )
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            for side in ("l_orderkey", "o_orderkey"):
                if f"Exchange hashpartitioning({side}" in plan:
                    raise AssertionError(f"bucketed join shuffled on {side}")
            out = detach_result(joined)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return out


# ---------------------------------------------------------------------------
# tx07 — corpus-trained unigram-LM surprise (CCNet-style quality score)
# ---------------------------------------------------------------------------
@query(
    "tx07_unigram_surprise",
    tags="TX A5 J1",
    oracle="""
        WITH toks AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
        ),
        t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        vocab AS (SELECT tok, COUNT(*) AS cnt FROM t2 GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total FROM vocab),
        scored AS (
            SELECT tok,
                   CAST(FLOOR((ln(n_total) - ln(CAST(cnt AS DOUBLE))) * 1e6) AS BIGINT) AS llq
            FROM vocab, tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(llq) AS BIGINT) AS sum_nll_q,
               CAST(SUM(llq) // COUNT(*) AS BIGINT) AS avg_nll_q
        FROM t2 JOIN scored USING (tok)
        GROUP BY doc_id
    """,
)
def tx07_unigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring with a unigram LM trained on the corpus itself:
    per-doc average negative log-likelihood in integer micro-nats (low =
    common-token boilerplate, high = rare-token gibberish — CCNet keeps
    the middle). Per-token surprise quantizes once; all per-doc math is
    order-independent integer arithmetic (operators/textanalysis.py)."""
    return textanalysis.unigram_surprise(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tx13 — bigram-LM surprise (conditional quality score; catches repetition)
# ---------------------------------------------------------------------------
@query(
    "tx13_bigram_surprise",
    tags="TX A5 J1 F18",
    oracle="""
        WITH f AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS ts
            FROM documents
        ),
        big AS (
            SELECT doc_id, ts[i] AS prev, ts[i+1] AS w
            FROM f, UNNEST(range(1, len(ts))) AS u(i)
            WHERE len(ts) >= 2
        ),
        vocab AS (
            SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
            FROM (SELECT UNNEST(ts) AS tok FROM f)
        ),
        bg AS (
            SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM big GROUP BY 1, 2
        ),
        ctx AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cp FROM bg GROUP BY 1),
        scored AS (
            SELECT bg.prev, bg.w,
                   CAST(FLOOR((ln(CAST(cp AS DOUBLE) + v)
                               - ln(CAST(c AS DOUBLE) + 1.0)) * 1e6) AS BIGINT)
                       AS llq
            FROM bg JOIN ctx USING (prev), vocab
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(llq) AS BIGINT) AS sum_nll2_q,
               CAST(SUM(llq) // COUNT(*) AS BIGINT) AS avg_nll2_q
        FROM big JOIN scored USING (prev, w)
        GROUP BY doc_id
    """,
)
def tx13_bigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx07 upgraded to a CONDITIONAL model: per-doc average −ln P(w|prev)
    under the corpus's own add-one-smoothed bigram LM, in integer
    micro-nats — the step toward CCNet's KenLM perplexity filter a
    unigram model can't take ("the the the the" is all common TOKENS but
    rare TRANSITIONS; repetitive boilerplate only lights up
    conditionally).  Empty tokens filtered before pairing so double
    spaces don't break adjacency; sub-2-token docs have no transitions
    and honestly no row.  Counts bounded by distinct bigrams (Zipf-tiny
    vs corpus), single quantization point, everything downstream exact
    integer arithmetic (operators/textanalysis.py bigram_surprise)."""
    return textanalysis.bigram_surprise(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# j13 — dynamic partition pruning (runtime scan pruning from the dim filter)
# ---------------------------------------------------------------------------
@query(
    "j13_dynamic_partition_pruning",
    tags="J1 DPP STORAGE P",
    oracle="""
        WITH dim AS (
            SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
        )
        SELECT l.ship_month,
               CAST(COUNT(*) AS BIGINT) AS n,
               -- exact integer cents; ROUND(SUM(double)) diverges between
               -- engines at sf10 — see j09's docstring
               SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
                   AS revenue
        FROM (SELECT *, strftime(l_shipdate, '%Y-%m') AS ship_month FROM lineitem) l
        JOIN dim USING (ship_month)
        GROUP BY l.ship_month
    """,
)
def j13_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other big storage-layout lever made driver-visible: the fact
    table is written PARTITIONED by ship month (83 partitions at sf0.01),
    then joined to a dim holding only 1996's months — dynamic partition
    pruning turns the dim-side filter into a runtime partition filter on
    the fact scan, so ~12/83 partitions are read instead of all.  The
    entry ASSERTS the scan carries a dynamicpruning expression (it fails
    rather than silently scanning everything) and hash-matches the plain
    declarative join.  Scratch-table lifecycle follows j12/st01: results
    materialize before the database drops."""
    from cnics_to_fhir_spark.session import scratch_name

    db = scratch_name(spark, "j13_scratch")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        li = table(spark, sf_dir, "lineitem").select(
            "l_extendedprice",
            F.col("l_shipdate"),
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        )
        # repartition BY THE PARTITION COLUMN before the partitioned write:
        # the raw scan has as many tasks as input splits (3 at sf0.1), so
        # the write was 3 near-serial tasks each emitting a file into all
        # ~83 month dirs.  Keyed repartition spreads the write across the
        # cluster AND gives one file per partition dir instead of
        # tasks x partitions small files (guide §6 output sizing).
        (
            li.repartition(F.col("ship_month"))
            .write.partitionBy("ship_month")
            .mode("overwrite")
            .saveAsTable(f"{db}.li_p")
        )
        fact = spark.table(f"{db}.li_p")
        dim = (
            table(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            )
            .select(F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"))
            .distinct()
        )
        joined = (
            fact.join(dim, "ship_month")
            .groupBy("ship_month")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (
                    F.sum(
                        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                            "long"
                        )
                    )
                    / F.lit(100.0)
                ).alias("revenue"),
            )
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "dynamicpruning" not in plan.lower():
            raise AssertionError("fact scan carries no dynamic partition pruning filter")
        out = detach_result(joined)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return out


# ---------------------------------------------------------------------------
# ds09 — temperature-balanced mixture (weights derived from source counts)
# ---------------------------------------------------------------------------
@query(
    "ds09_temperature_mixture",
    tags="DS A5 O3",
    oracle="""
        WITH skewed AS (
            SELECT doc_id, source FROM documents
            WHERE NOT regexp_matches(source, '^src1[0-9]$') OR doc_id % 3 = 0
        ),
        counts AS (SELECT source, COUNT(*) AS n FROM skewed GROUP BY source),
        mx AS (SELECT MAX(n) AS n_max FROM counts),
        w AS (
            SELECT source,
                   CAST(FLOOR(100 * sqrt(CAST(n_max AS DOUBLE) / n)) AS BIGINT) AS wt
            FROM counts, mx
        ),
        nn AS (
            SELECT s.doc_id, s.source,
                   CAST(w.wt // 100
                        + CASE WHEN CAST(CAST(('0x' || substring(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))
                                         AS UBIGINT) % 100 AS BIGINT) < w.wt % 100
                               THEN 1 ELSE 0 END AS BIGINT) AS n_epochs
            FROM skewed s JOIN w USING (source)
        )
        SELECT doc_id, source, n_epochs, CAST(e AS BIGINT) AS epoch
        FROM nn, UNNEST(range(1, n_epochs + 1)) AS u(e)
        WHERE n_epochs > 0
    """,
)
def ds09_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ=2 temperature sampling with DATA-DERIVED weights (mT5/XLM-R):
    the corpus is deterministically skewed (tail sources cut to ⅓), then
    w_s = floor(100·sqrt(n_max/n_s)) upsamples the tail toward balance
    (the largest source stays at 1.0 epoch, the cut tail lands at ~1.7) —
    sqrt is IEEE correctly-rounded in both engines, so the quantized
    weights are bit-identical and the whole mixture replays under the
    oracle.  The weights stay in the plan (a source-keyed join), and the
    replication itself is the zero-shuffle integer epoch arithmetic
    ds08 uses (operators/dataset.py temperature_mixture)."""
    from cnics_to_fhir_spark.operators.dataset import temperature_mixture

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    tail = F.col("source").rlike("^src1[0-9]$")
    skewed = docs.filter(~tail | (F.col("doc_id") % 3 == 0))
    return temperature_mixture(skewed)


# ---------------------------------------------------------------------------
# ds14 — temperature mixture, join-based (unbounded source cardinality)
# ---------------------------------------------------------------------------
@query(
    "ds14_temperature_mixture_join",
    tags="DS A5 J1 O3",
    oracle="""
        WITH skewed AS (
            SELECT doc_id, source FROM documents
            WHERE NOT regexp_matches(source, '^src1[0-9]$') OR doc_id % 3 = 0
        ),
        counts AS (SELECT source, COUNT(*) AS n FROM skewed GROUP BY source),
        mx AS (SELECT MAX(n) AS n_max FROM counts),
        w AS (
            SELECT source,
                   CAST(FLOOR(100 * sqrt(CAST(n_max AS DOUBLE) / n)) AS BIGINT) AS wt
            FROM counts, mx
        ),
        nn AS (
            SELECT s.doc_id, s.source,
                   CAST(w.wt // 100
                        + CASE WHEN CAST(CAST(('0x' || substring(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))
                                         AS UBIGINT) % 100 AS BIGINT) < w.wt % 100
                               THEN 1 ELSE 0 END AS BIGINT) AS n_epochs
            FROM skewed s JOIN w USING (source)
        )
        SELECT doc_id, source, n_epochs, CAST(e AS BIGINT) AS epoch
        FROM nn, UNNEST(range(1, n_epochs + 1)) AS u(e)
        WHERE n_epochs > 0
    """,
)
def ds14_temperature_mixture_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ds09's mixture under the join-shape tag (J1): the weight table
    (counts → scalar n_max broadcast → w_s = floor(100·sqrt(n_max/n_s)))
    stays DataFrame-side and reaches each doc through a (source)-keyed
    join, so source cardinality is unbounded — per-domain or per-URL-
    prefix mixing with millions of 'sources'.  Same operator, same oracle
    as ds09 (operators/dataset.py temperature_mixture)."""
    from cnics_to_fhir_spark.operators.dataset import temperature_mixture

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    tail = F.col("source").rlike("^src1[0-9]$")
    skewed = docs.filter(~tail | (F.col("doc_id") % 3 == 0))
    return temperature_mixture(skewed)


# ---------------------------------------------------------------------------
# mm06 — perceptual image dedup over REAL decoded pixels (average-hash)
# ---------------------------------------------------------------------------
@query(
    "mm06_image_phash_dedup",
    tags="MM DD UDF",
    oracle="""
        WITH px AS (
            SELECT d.doc_id,
                   x, y, c,
                   ((x*17 + y*29 + c*41 + d.doc_id % 50) % 256
                    + CASE WHEN (y*16 + x)*3 + c = d.doc_id % 576
                           THEN (d.doc_id // 50) % 3 ELSE 0 END) % 256 AS v
            FROM documents d,
                 UNNEST(range(0, 16)) AS tx(x),
                 UNNEST(range(0, 12)) AS ty(y),
                 UNNEST(range(0, 3)) AS tc(c)
        ),
        blocks AS (
            SELECT doc_id, (y//4)*4 + (x//4) AS blk, c, SUM(v) AS bs
            FROM px GROUP BY doc_id, (y//4)*4 + (x//4), c
        ),
        tot AS (SELECT doc_id, SUM(v) AS ts FROM px GROUP BY doc_id),
        ph AS (
            SELECT b.doc_id,
                   CAST(SUM(CASE WHEN b.bs*36 > t.ts
                            THEN CAST(1 AS BIGINT) << CAST(b.blk*3 + b.c AS INT)
                            ELSE 0 END) AS BIGINT) AS phash
            FROM blocks b JOIN tot t USING (doc_id)
            GROUP BY b.doc_id
        )
        SELECT phash,
               MIN(doc_id) AS keeper_id,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM ph GROUP BY phash
    """,
)
def mm06_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal curation closed loop: synthesize per-doc images where
    docs sharing doc_id%50 differ by ONE perturbed pixel, PNG-encode,
    decode with the REAL codec (mediacodec), average-hash the DECODED
    bytes (36 bits: per-block sum vs global mean as exact integer
    cross-multiplication — no float anywhere), and exact-dedup on the
    hash: near-identical images collide into one group, keeper = lowest
    id.  The oracle replays pixel synthesis, block sums, bit assembly,
    and grouping relationally — a codec defect OR a hash defect breaks
    the value hash.

    Scale: payload bytes are born and die inside one narrow mapInPandas
    pass (only (doc_id, phash) ever shuffles — 16 bytes/row); the dedup
    is the dd01 hash-groupBy shape."""
    ph = _phash_frame(spark, sf_dir)
    return ph.groupBy("phash").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )


def _phash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, phash) via the REAL encode→decode→average-hash loop of
    mm06 (synthesized 16×12×3 images, one perturbed pixel per doc, PNG
    round-trip through functions/mediacodec, 36-bit block-mean hash in
    exact integer arithmetic). Shared by mm06 (exact dedup) and mm07
    (banded hamming near-dup)."""
    from collections.abc import Iterator

    W, H, C = 16, 12, 3

    def gen_phash(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from cnics_to_fhir_spark.functions.mediacodec import decode_image, encode_png

        x = np.arange(W) * 17
        y = np.arange(H) * 29
        c = np.arange(C) * 41
        base = y[:, None, None] + x[None, :, None] + c[None, None, :]
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                pixels = ((base + did % 50) % 256).astype(np.int64)
                flat = pixels.reshape(-1)
                i = did % (W * H * C)
                flat[i] = (flat[i] + (did // 50) % 3) % 256
                png = encode_png(pixels.astype(np.uint8).tobytes(), W, H, C)
                w, h, ch, decoded = decode_image(png)
                a = np.frombuffer(decoded, dtype=np.uint8).astype(np.int64).reshape(h, w, ch)
                total = int(a.sum())
                phash = 0
                for by in range(3):
                    for bx in range(4):
                        blk = a[by * 4:(by + 1) * 4, bx * 4:(bx + 1) * 4, :]
                        for cc in range(ch):
                            if int(blk[:, :, cc].sum()) * 36 > total:
                                phash |= 1 << ((by * 4 + bx) * 3 + cc)
                rows.append((did, phash))
            yield pd.DataFrame(rows, columns=["doc_id", "phash"])

    d = table(spark, sf_dir, "documents").select("doc_id")
    # The codec loop is ~0.4 ms/doc of pure Python; a single-row-group
    # documents file would hand the whole corpus to ONE task (mm07
    # profiled 1.85 s in a 1-task mapInPandas stage at sf0.1). Only
    # 8-byte ids are shuffled; no-op once the scan splits ≥ cores.
    from cnics_to_fhir_spark.functions.partitioning import ensure_min_parallelism

    d = ensure_min_parallelism(d, "doc_id")
    return d.mapInPandas(gen_phash, schema="doc_id long, phash long")


# ---------------------------------------------------------------------------
# gr01 — integer PageRank (join-agg-per-iteration propagation class)
# ---------------------------------------------------------------------------
@query(
    "gr01_pagerank_2iter",
    tags="GR CL-iterative J1 A5",
    oracle="""
        -- Helper CTEs MATERIALIZED (gr02's lesson): unmaterialized, DuckDB
        -- re-derives the multi-million-row DISTINCT edge join inside BOTH
        -- iteration CTEs — at sf10 that spilled past the disk.
        WITH raw AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        edges AS MATERIALIZED (
            SELECT ck*2 AS src, sk*2+1 AS dst FROM raw
            UNION ALL
            SELECT sk*2+1 AS src, ck*2 AS dst FROM raw
        ),
        nodes AS MATERIALIZED (
            SELECT DISTINCT src AS node FROM edges
            UNION
            SELECT DISTINCT dst AS node FROM edges
        ),
        deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_q FROM nodes),
        c1 AS (
            SELECT e.dst AS node, SUM(r.rank_q // d.deg) AS s
            FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
            GROUP BY e.dst
        ),
        r1 AS (
            SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank_q
            FROM nodes n LEFT JOIN c1 c USING (node)
        ),
        c2 AS (
            SELECT e.dst AS node, SUM(r.rank_q // d.deg) AS s
            FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
            GROUP BY e.dst
        ),
        r2 AS (
            SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank_q
            FROM nodes n LEFT JOIN c2 c USING (node)
        )
        SELECT node, rank_q FROM r2
    """,
)
def gr01_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 synchronous iterations, damping 0.85) over the
    customer↔supplier bipartite graph derived from orders⋈lineitem —
    the join-agg-per-iteration propagation class done Spark-style: edge
    list distributed, one keyed shuffle per iteration, rank table always
    the small join side.  Ranks are integer micro-units with integer-div
    contributions, so per-node sums are order-independent and the oracle
    unrolls the identical fixed-point trajectory (float PageRank would
    diverge between engines through summation order alone)."""
    from cnics_to_fhir_spark.operators.graph import pagerank_int

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    fwd = raw.select(
        (F.col("o_custkey") * 2).alias("src"), (F.col("l_suppkey") * 2 + 1).alias("dst")
    )
    bwd = raw.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"), (F.col("o_custkey") * 2).alias("dst")
    )
    return pagerank_int(fwd.unionAll(bwd), iters=2)


# ---------------------------------------------------------------------------
# gr02 — PageRank run to an integer fixpoint (convergence itself oracle-pinned)
# ---------------------------------------------------------------------------
@query(
    "gr02_pagerank_converged",
    tags="GR CL-iterative J1 A5",
    oracle="""
        -- Helper CTEs are MATERIALIZED: DuckDB otherwise re-derives the
        -- multi-million-row edge join inside every recursion step (>10 min
        -- at sf1; 3.5 min materialized). The stop rule lives in a QUALIFY
        -- over the step's own window, so the contribution join runs ONCE
        -- per iteration instead of twice.
        WITH RECURSIVE
        raw AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE CAST(('0x' || substring(md5(CAST(o.o_custkey AS VARCHAR)),
                        1, 15)) AS UBIGINT) % 8 = 0
        ),
        edges AS MATERIALIZED (
            SELECT node_pair.src, node_pair.dst FROM (
                SELECT ck*2 AS src, sk*2+1 AS dst FROM raw
                UNION ALL
                SELECT sk*2+1 AS src, ck*2 AS dst FROM raw
            ) node_pair
        ),
        -- NOTE: under WITH RECURSIVE a helper CTE whose body is a bare
        -- UNION is parsed as (anchor UNION step) recursion and emits
        -- duplicates; DISTINCT over a UNION ALL subquery avoids that.
        nodes AS MATERIALIZED (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
            ) u
        ),
        deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        pr AS (
            SELECT 0 AS iter, node, CAST(1000000 AS BIGINT) AS rank_q FROM nodes
          UNION ALL
            SELECT iter, node, new_rank FROM (
                SELECT p.iter + 1 AS iter, n.node,
                       CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS new_rank,
                       p.rank_q AS old_rank
                FROM nodes n
                JOIN pr p ON p.node = n.node
                LEFT JOIN (
                    SELECT e.dst AS node, SUM(p2.rank_q // d.deg) AS s
                    FROM edges e JOIN pr p2 ON e.src = p2.node JOIN deg d ON e.src = d.src
                    GROUP BY e.dst
                ) c ON c.node = n.node
                WHERE p.iter < 100
            ) s
            QUALIFY MAX(ABS(new_rank - old_rank)) OVER () > 1000
        )
        SELECT node, rank_q,
               CAST((SELECT MAX(iter) FROM pr) AS INT) AS iters
        FROM pr WHERE iter = (SELECT MAX(iter) FROM pr)
    """,
)
def gr02_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gr01's propagation class completed: PageRank iterated to an
    explicit integer fixpoint (first step moving no node by more than
    1000 micro-units, i.e. 1e-3) instead of a fixed 2 iterations, with
    the CONVERGED ITERATION COUNT itself part of the hash-compared
    result.  The exact-integer trajectory makes until-convergence
    replayable across engines: the oracle's recursive CTE emits
    iteration k+1 only while delta(k→k+1) exceeds the tolerance, landing
    on the same final iteration and identical ranks (dd06's fixpoint
    shape, applied to value propagation instead of label propagation).
    Per-iteration cost is one keyed shuffle + an O(nodes) delta join +
    a 1-row driver round-trip (operators/graph.py).

    The graph is the deterministic md5 customer sample
    ``portable_hash(o_custkey) % 8 == 0`` with ALL of those customers'
    supplier edges (VERDICT r11 #4): convergence semantics — the
    until-fixpoint loop, the integer trajectory, the iteration count in
    the hash — are untouched, but the oracle's recursive-CTE replay cost
    (per-iteration edge join × ~50 iterations, the reason the full-graph
    oracle was hour-scale at sf10) drops ~8×, making the convergence
    oracle replayable at every SF in the ledger.  gr01 keeps the
    full-graph data path (its fixed-2-iteration oracle is cheap)."""
    from cnics_to_fhir_spark.operators.graph import pagerank_int_converged
    from cnics_to_fhir_spark.operators.dedup import portable_hash

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    o = o.filter(portable_hash(F.col("o_custkey").cast("string")) % 8 == 0)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    fwd = raw.select(
        (F.col("o_custkey") * 2).alias("src"), (F.col("l_suppkey") * 2 + 1).alias("dst")
    )
    bwd = raw.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"), (F.col("o_custkey") * 2).alias("dst")
    )
    # max_iters is a runaway guard, not a semantic bound: hub (supplier)
    # nodes carry a large multiple of the initial mass (customer/supplier
    # degree ratio), so the absolute 1e-3 tolerance takes ~42 iterations
    # to damp on the mod-8 customer sample (the ratio is ~8x smaller than
    # the full graph's, which took ~59) — 100 keeps headroom over the
    # measured points while still failing fast on a genuine
    # non-convergence bug.
    return pagerank_int_converged(fwd.unionAll(bwd), tol_q=1_000, max_iters=100)


# ---------------------------------------------------------------------------
# dd10 — connected components by star contraction (the O(log²)-round CC)
# ---------------------------------------------------------------------------
@query(
    "dd10_dup_clusters_star",
    tags="DD-clusters GR CL-iterative J1",
    oracle="""
        WITH RECURSIVE base AS (
            SELECT doc_id AS id,
                   array_to_string((string_split(text, ' '))[1:4], ' ') AS block,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN list_transform(
                                   range(1, len(string_split(text, ' ')) - 1),
                                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                            ELSE [text]
                       END) AS shingles
            FROM documents
        ),
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
            WHERE FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6 >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS id, src AS r FROM edges
            UNION
            SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
        )
        SELECT id AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY id
    """,
)
def dd10_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd06's transitive closure recomputed by a DIFFERENT algorithm:
    alternating large-star / small-star contraction (Kiveris et al.,
    SoCC'14 — operators/graph.py), which converges in O(log² n) rounds
    regardless of component diameter, vs min-label propagation's
    O(diameter).  Same near-dup pair graph, same recursive-CTE
    reachability oracle: because connected components are
    path-independent, the oracle checks the RESULT without assuming the
    algorithm — two independent Spark implementations (dd06, dd10) and
    one independent SQL closure all land on the identical hash.  The
    scale case for this variant: near-dup thresholds produce similarity
    CHAINS (doc drift series) whose diameter grows with corpus size;
    star contraction's round count doesn't."""
    pairs = dedup.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), k=3, block_words=4, threshold=0.5
    )
    from cnics_to_fhir_spark.operators.graph import connected_components_star

    return connected_components_star(pairs)


# ---------------------------------------------------------------------------
# ann06 — multi-probe IVF (nprobe=2, the production recall knob)
# ---------------------------------------------------------------------------
@query(
    "ann06_ivf_multiprobe_topk",
    tags="ANN-ivf CL-iterative J1 W",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                   list_transform(v, x -> FLOOR(x*1e6 + 0.5)/1e6) AS cv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
        ),
        a0 AS (
            SELECT vec_id, v, cid FROM (
                SELECT e.vec_id, e.v, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e CROSS JOIN c0 c
            ) WHERE rn = 1
        ),
        c1 AS (
            SELECT cid, list(m ORDER BY idx) AS cv FROM (
                SELECT a.cid, t.idx, FLOOR(AVG(a.v[CAST(t.idx AS INT) + 1])*1e6 + 0.5)/1e6 AS m
                FROM a0 a, range(64) t(idx)
                GROUP BY a.cid, t.idx
            ) GROUP BY cid
        ),
        cells AS (
            SELECT vec_id, v, cid FROM (
                SELECT e.vec_id, e.v, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e CROSS JOIN c1 c
            ) WHERE rn = 1
        ),
        probes AS (
            -- probe distance rounded to the 1e-6 grid before ranking,
            -- mirroring the Spark side: the rank-2 boundary otherwise
            -- flips on float-summation order between engines
            SELECT vec_id AS query_id, v AS qv, cid FROM (
                SELECT e.vec_id, e.v, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           FLOOR((list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.cv)
                             + list_dot_product(c.cv, c.cv))*1e6 + 0.5)/1e6, c.cid) AS rn
                FROM (SELECT * FROM e WHERE vec_id < 8) e CROSS JOIN c1 c
            ) WHERE rn <= 2
        ),
        scored AS (
            SELECT p.query_id, c.vec_id AS neighbor_id,
                   FLOOR((list_dot_product(p.qv, c.v)
                         / (SQRT(list_dot_product(p.qv, p.qv)) * SQRT(list_dot_product(c.v, c.v))))*1e6 + 0.5)/1e6 AS cosine_sim
            FROM probes p
            JOIN cells c ON p.cid = c.cid AND c.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def ann06_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann04 with nprobe=2: every query searches its TWO nearest trained
    cells instead of one — the standard IVF recall knob (recall rises
    because true neighbors straddling a cell boundary become reachable;
    cost rises by exactly nprobe× on the query side while the corpus side
    still never replicates or shuffles).  The oracle extends ann04's
    unrolled k-means training with an rn <= 2 probe set, so training,
    probe selection, and search are all hash-checked end to end
    (operators/similarity.py ivf_topk_multiprobe)."""
    from cnics_to_fhir_spark.operators import clustering, similarity

    emb = table(spark, sf_dir, "embeddings")
    assigned, centroids = clustering.kmeans_train(spark, emb, k=4, iters=2)
    indexed = emb.join(assigned.select("vec_id", F.col("cluster").alias("cell")), "vec_id")
    return similarity.ivf_topk_multiprobe(
        indexed, indexed.filter(F.col("vec_id") < 8), centroids, nprobe=2, k=5
    )


# ---------------------------------------------------------------------------
# tx08 — BPE merge training (tokenizer learning as a corpus computation)
# ---------------------------------------------------------------------------
@query(
    "tx08_bpe_merge_training",
    tags="TX A5 CL-iterative",
    oracle="""
        -- Unrolled 3-round BPE merge training; the sentinel-wrapped symbol
        -- string makes greedy merge application a literal replace() with
        -- identical semantics in both engines (see operators/textanalysis.py
        -- _bpe_wrap).
        WITH words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
                SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
            ) WHERE w <> '' AND NOT contains(w, chr(31))
            GROUP BY w
        ),
        s0 AS (
            SELECT n, chr(31) || array_to_string(string_split(w, ''),
                   chr(31)||chr(31)) || chr(31) AS s
            FROM words
        ),
        p1 AS (
            SELECT pr.lhs AS lhs, pr.rhs AS rhs,
                   CAST(SUM(n) AS BIGINT) AS pair_count FROM (
                SELECT n, UNNEST(list_transform(range(1, len(arr)),
                       i -> {'lhs': arr[i], 'rhs': arr[i+1]})) AS pr
                FROM (SELECT n, string_split(s[2:len(s)-1],
                             chr(31)||chr(31)) AS arr FROM s0)
            ) GROUP BY pr.lhs, pr.rhs
        ),
        m1 AS (SELECT lhs, rhs, pair_count FROM p1
                 ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        s1 AS (
            SELECT n, replace(s, chr(31)||m.lhs||chr(31)||chr(31)||m.rhs||chr(31),
                                 chr(31)||m.lhs||m.rhs||chr(31)) AS s
            FROM s0, m1 m),
        p2 AS (
            SELECT pr.lhs AS lhs, pr.rhs AS rhs,
                   CAST(SUM(n) AS BIGINT) AS pair_count FROM (
                SELECT n, UNNEST(list_transform(range(1, len(arr)),
                       i -> {'lhs': arr[i], 'rhs': arr[i+1]})) AS pr
                FROM (SELECT n, string_split(s[2:len(s)-1],
                             chr(31)||chr(31)) AS arr FROM s1)
            ) GROUP BY pr.lhs, pr.rhs
        ),
        m2 AS (SELECT lhs, rhs, pair_count FROM p2
                 ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        s2 AS (
            SELECT n, replace(s, chr(31)||m.lhs||chr(31)||chr(31)||m.rhs||chr(31),
                                 chr(31)||m.lhs||m.rhs||chr(31)) AS s
            FROM s1, m2 m),
        p3 AS (
            SELECT pr.lhs AS lhs, pr.rhs AS rhs,
                   CAST(SUM(n) AS BIGINT) AS pair_count FROM (
                SELECT n, UNNEST(list_transform(range(1, len(arr)),
                       i -> {'lhs': arr[i], 'rhs': arr[i+1]})) AS pr
                FROM (SELECT n, string_split(s[2:len(s)-1],
                             chr(31)||chr(31)) AS arr FROM s2)
            ) GROUP BY pr.lhs, pr.rhs
        ),
        m3 AS (SELECT lhs, rhs, pair_count FROM p3
                 ORDER BY pair_count DESC, lhs, rhs LIMIT 1)
        SELECT 1 AS merge_round, lhs, rhs, pair_count FROM m1
        UNION ALL SELECT 2, lhs, rhs, pair_count FROM m2
        UNION ALL SELECT 3, lhs, rhs, pair_count FROM m3
    """,
)
def tx08_bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 3 BPE merges over the document corpus — REAL
    tokenizer training (pair statistics -> argmax merge -> greedy apply ->
    repeat), not the fixed regex tokenization of tx02.  Distributed shape:
    pair counts aggregate over the word VOCABULARY weighted by frequency
    (vocabulary-bounded shuffle; the corpus is touched once for the word
    count), each round's winning merge is a 1-row driver round-trip, and
    merge application is a codegen'd literal replace on a sentinel-wrapped
    symbol string whose left-to-right non-overlap reproduces greedy BPE
    exactly on both engines.  Ties break (count DESC, lhs, rhs) so the
    whole trajectory — including the learned merges themselves — is
    hash-compared against the oracle's unrolled rounds."""
    from cnics_to_fhir_spark.operators.textanalysis import bpe_learn_merges

    return bpe_learn_merges(table(spark, sf_dir, "documents"), n_merges=3)


# ---------------------------------------------------------------------------
# dd11 — incremental dedup (new batch vs already-deduped corpus)
# ---------------------------------------------------------------------------
@query(
    "dd11_incremental_dedup",
    tags="DD J1",
    oracle="""
        WITH base AS (
            SELECT doc_id AS id,
                   doc_id % 10 = 0 AS in_batch,
                   array_to_string((string_split(text, ' '))[1:4], ' ') AS block,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN list_transform(
                                   range(1, len(string_split(text, ' ')) - 1),
                                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                            ELSE [text]
                       END) AS shingles
            FROM documents
        )
        SELECT a.id AS id_a, b.id AS id_b,
               FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6
                   AS jaccard_sim,
               (a.in_batch <> b.in_batch) AS cross_pair
        FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
        WHERE (a.in_batch OR b.in_batch)
          AND FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                    / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6 >= 0.5
    """,
)
def dd11_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state ingest dedup: a new batch (10% of docs by id bucket)
    near-dup-checked against the already-deduplicated corpus plus itself,
    with corpus x corpus pairs STRUCTURALLY never generated — re-verifying
    the corpus against itself on every ingest is the cost the incremental
    shape exists to avoid.  The operator's corpus-side candidate join
    touches only the (id, block) projection (pre-bucketed by block in
    production, so an ingest shuffles only the batch); the oracle filters
    the symmetric pair space to batch-involving pairs, which must equal
    the structurally-incremental result exactly (operators/dedup.py
    incremental_jaccard_pairs)."""
    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    out = dedup.incremental_jaccard_pairs(
        corpus, batch, k=3, block_words=4, threshold=0.5
    )
    return out.select("id_a", "id_b", "jaccard_sim", F.col("cross").alias("cross_pair"))


# ---------------------------------------------------------------------------
# mn01 — contrastive hard-negative mining (training-pair generation)
# ---------------------------------------------------------------------------
@query(
    "mn01_hard_negative_mining",
    tags="ANN MN W",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   FLOOR((list_dot_product(q.v, c.v)
                         / (SQRT(list_dot_product(q.v, q.v))
                            * SQRT(list_dot_product(c.v, c.v))))*1e6 + 0.5)/1e6
                       AS cosine_sim
            FROM (SELECT * FROM e WHERE vec_id < 8) q
            JOIN e c ON c.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored WHERE cosine_sim >= 0.2 AND cosine_sim < 0.9
        ) WHERE rank <= 5
    """,
)
def mn01_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard negative mining for contrastive training: per query the
    top-5 neighbors with cosine in [0.2, 0.9) — informative negatives
    above the easy-negative floor, below the near-duplicate ceiling that
    would poison the loss with false negatives.  Broadcast-query brute
    scan (corpus never shuffles; see operators/similarity.py for the IVF
    swap at full-corpus mining scale), band filter scan-side, per-query
    top-k window."""
    from cnics_to_fhir_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    return similarity.hard_negative_mining(
        emb, emb.filter(F.col("vec_id") < 8), k=5, lo=0.2, hi=0.9
    )


# ---------------------------------------------------------------------------
# dd12 — cross-document duplicated spans (ExactSubstr at shingle resolution)
# ---------------------------------------------------------------------------
@query(
    "dd12_duplicated_spans",
    tags="DD W A5 J1",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS a FROM documents
        ),
        grams AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   md5(array_to_string(list_slice(a, i, i + 7), ' ')) AS g
            FROM toks, UNNEST(range(1, len(a) - 8 + 2)) AS u(i)
            WHERE len(a) >= 8
        ),
        dup AS (
            SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        marked AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
        isl AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM marked
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_dup_grams
        FROM isl GROUP BY doc_id, grp
    """,
)
def dd12_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document EXACT duplication at span granularity (the ExactSubstr
    half of the Lee et al. dedup pair; dd08 is its line-frequency
    boilerplate cousin): positions whose 8-gram recurs in >=2 distinct
    docs, merged into maximal spans per doc via gaps-and-islands.  One
    gram-keyed count agg (shingle-volume, map-side partials) + one
    doc-keyed islands window — linear in corpus shingles, no doc pairs
    (operators/dedup.py duplicated_spans)."""
    from cnics_to_fhir_spark.operators.dedup import duplicated_spans

    return duplicated_spans(table(spark, sf_dir, "documents"), k=8, min_docs=2)


# ---------------------------------------------------------------------------
# rj02 — interval×interval overlap join (no equi key, bucketized both sides)
# ---------------------------------------------------------------------------
@query(
    "rj02_interval_overlap_join",
    tags="RJ J1 A5 EV",
    oracle="""
        WITH spans AS (
            SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                   CAST(MIN(FLOOR(EPOCH(ts))) AS BIGINT) AS a_start,
                   CAST(MAX(FLOOR(EPOCH(ts))) + 1 AS BIGINT) AS a_end
            FROM events GROUP BY 1, 2
        ),
        inc AS (
            SELECT CAST(FLOOR(EPOCH(date_trunc('hour', ts))) AS BIGINT) AS i_start,
                   CAST(FLOOR(EPOCH(date_trunc('hour', ts))) + 3600 AS BIGINT) AS i_end,
                   CAST(COUNT(*) AS BIGINT) AS n_errors
            FROM events WHERE event_type = 'error'
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        )
        SELECT a.user_id, a.day, b.i_start, b.n_errors,
               CAST(LEAST(a.a_end, b.i_end) - GREATEST(a.a_start, b.i_start)
                    AS BIGINT) AS overlap_seconds
        FROM spans a JOIN inc b
          ON a.a_start < b.i_end AND b.i_start < a.a_end
    """,
)
def rj02_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap join between two interval sets with NO equi key — per-user
    daily activity spans × high-error incident hours, yielding who was
    active during each incident and for how long.  Both sides bucketize to
    W = 1 day (≤2 copies each: spans are ≤ a day, incidents an hour) and
    hash-join on the bucket; each pair is emitted exactly once by
    anchoring to the bucket of greatest(a_start, b_start)
    (operators/intervals.py interval_overlap_join — the naive plan is a
    nested-loop over spans×incidents)."""
    from cnics_to_fhir_spark.operators.intervals import interval_overlap_join

    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts"),
        F.col("ts").cast("long").alias("es"),
        "event_type",
    )
    spans = e.groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.min("es").alias("a_start"), (F.max("es") + 1).alias("a_end")
    )
    inc = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).cast("long").alias("i_start"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .filter(F.col("n_errors") >= 2)
        .select("i_start", (F.col("i_start") + 3600).alias("i_end"), "n_errors")
    )
    return interval_overlap_join(
        spans,
        inc,
        a_start="a_start",
        a_end="a_end",
        b_start="i_start",
        b_end="i_end",
        bucket_seconds=86400,
    ).select(
        "user_id",
        "day",
        "i_start",
        "n_errors",
        (F.least(F.col("a_end"), F.col("i_end")) - F.greatest(F.col("a_start"), F.col("i_start")))
        .cast("long")
        .alias("overlap_seconds"),
    )


# ---------------------------------------------------------------------------
# ds10 — CCNet head/middle/tail quality buckets via scale-safe exact NTILE
# ---------------------------------------------------------------------------
@query(
    "ds10_quality_buckets",
    tags="DS TX W A5",
    oracle="""
        WITH toks AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
        ),
        t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        vocab AS (SELECT tok, COUNT(*) AS cnt FROM t2 GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total FROM vocab),
        scored AS (
            SELECT tok,
                   CAST(FLOOR((ln(n_total) - ln(CAST(cnt AS DOUBLE))) * 1e6) AS BIGINT) AS llq
            FROM vocab, tot
        ),
        docs AS (
            SELECT doc_id, CAST(SUM(llq) // COUNT(*) AS BIGINT) AS avg_nll_q
            FROM t2 JOIN scored USING (tok) GROUP BY doc_id
        ),
        tiled AS (
            SELECT doc_id, avg_nll_q,
                   CAST(NTILE(3) OVER (ORDER BY avg_nll_q, doc_id) AS BIGINT) AS bucket
            FROM docs
        )
        SELECT doc_id, avg_nll_q, bucket,
               CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                           ELSE 'tail' END AS band
        FROM tiled
    """,
)
def ds10_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's corpus split: score every doc with the corpus-trained
    unigram LM (tx07's integer micro-nat surprise), then cut the corpus
    into exact NTILE(3) head/middle/tail bands by perplexity.  The
    point of the entry is operators/dataset.py global_ntile — the naive
    ``NTILE() OVER (ORDER BY ...)`` plans an all-corpus sort on ONE task;
    here a range repartition + per-partition counts (driver-bounded) +
    per-partition row_number produce the value-identical bucketing with
    every stage parallel, verified against the engine-native NTILE in the
    oracle."""
    from cnics_to_fhir_spark.operators.dataset import global_ntile
    from cnics_to_fhir_spark.operators.textanalysis import unigram_surprise

    docs = unigram_surprise(table(spark, sf_dir, "documents")).select(
        "doc_id", "avg_nll_q"
    )
    tiled = global_ntile(docs, ["avg_nll_q", "doc_id"], 3)
    return tiled.select(
        "doc_id",
        "avg_nll_q",
        "bucket",
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == 2, "middle")
        .otherwise("tail")
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# tx09 — trained Naive-Bayes language ID (vocabulary-bounded model state)
# ---------------------------------------------------------------------------
@query(
    "tx09_nb_langid",
    tags="TX A5 J1 W",
    oracle="""
        WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
        tr AS (
            SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM train
        ),
        tr2 AS (SELECT lang, tok FROM tr WHERE tok <> ''),
        counts AS (SELECT lang, tok, COUNT(*) AS c FROM tr2 GROUP BY 1, 2),
        lt AS (SELECT lang, COUNT(*) AS t_l FROM tr2 GROUP BY 1),
        vs AS (SELECT COUNT(DISTINCT tok) AS v FROM tr2),
        cost_tbl AS (
            SELECT c.lang, c.tok,
                   CAST(FLOOR((ln(lt.t_l + vs.v) - ln(c.c + 1)) * 1e6) AS BIGINT) AS cost
            FROM counts c JOIN lt USING (lang), vs
        ),
        defaults AS (
            SELECT lang, CAST(FLOOR(ln(t_l + v) * 1e6) AS BIGINT) AS cost0
            FROM lt, vs
        ),
        dl AS (SELECT lang, COUNT(*) AS d_l FROM train GROUP BY 1),
        pri AS (
            SELECT lang,
                   CAST(FLOOR((ln((SELECT SUM(d_l) FROM dl)) - ln(d_l)) * 1e6) AS BIGINT)
                       AS prior_cost
            FROM dl
        ),
        te AS (
            SELECT doc_id AS id, UNNEST(string_split(text, ' ')) AS tok FROM test
        ),
        te2 AS (SELECT id, tok FROM te WHERE tok <> ''),
        scored AS (
            SELECT te2.id, l.lang, COALESCE(ct.cost, d.cost0) AS cost
            FROM te2
            CROSS JOIN (SELECT lang FROM lt) l
            LEFT JOIN cost_tbl ct ON ct.lang = l.lang AND ct.tok = te2.tok
            JOIN defaults d ON d.lang = l.lang
        ),
        totals AS (
            SELECT id, lang, SUM(cost) AS tok_cost FROM scored GROUP BY 1, 2
        ),
        tot2 AS (
            SELECT t.id, t.lang, CAST(t.tok_cost + p.prior_cost AS BIGINT) AS total_cost
            FROM totals t JOIN pri p USING (lang)
        ),
        pred AS (
            SELECT id, lang AS pred_lang, total_cost,
                   ROW_NUMBER() OVER (PARTITION BY id ORDER BY total_cost, lang) AS rn
            FROM tot2
        )
        SELECT p.id AS doc_id, p.pred_lang, p.total_cost, t.lang,
               p.pred_lang = t.lang AS correct
        FROM pred p JOIN test t ON t.doc_id = p.id
        WHERE p.rn = 1
    """,
)
def tx09_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-TRAINED language classifier (the lightweight stand-in for a
    fasttext quality/langid model in a curation stack): add-one-smoothed
    multinomial NB learned from the 80% train split's (lang, token)
    counts, argmin-scored over the held-out 20% in integer micro-nats.
    Model state is vocabulary-bounded (never corpus-bounded); scoring is
    one token-keyed join plus a doc-keyed sum
    (operators/textanalysis.py nb_langid).  The synthetic corpus draws
    text independently of its lang label, so accuracy here sits near the
    majority-class prior by construction — the oracle pins the training
    and scoring arithmetic, and the separable-fixture pytest pins that
    the classifier learns when signal exists."""
    from cnics_to_fhir_spark.operators.textanalysis import nb_langid

    return nb_langid(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dd13 — containment near-dup (inverted-index blocking, df-capped)
# ---------------------------------------------------------------------------
@query(
    "dd13_containment_pairs",
    tags="DD J1 A5",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(a) - 4 + 2),
                                 i -> array_to_string(list_slice(a, i, i + 3), ' '))) AS s
            FROM toks WHERE len(a) >= 4
        ),
        inv AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
        rare AS (SELECT g FROM inv GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 10),
        idx AS (SELECT i.doc_id, i.g FROM inv i JOIN rare USING (g)),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id
        ),
        capped AS (
            SELECT CAST(SUM(CASE WHEN df_ > 10 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_capped_shingles
            FROM (SELECT g, COUNT(*) AS df_ FROM inv GROUP BY g)
        )
        SELECT id_a, id_b, c_a_in_b, c_b_in_a, n_capped_shingles FROM (
            SELECT c.id_a, c.id_b,
                   FLOOR(len(list_intersect(sa.s, sb.s)) * 1.0 / len(sa.s) * 1e6 + 0.5)/1e6
                       AS c_a_in_b,
                   FLOOR(len(list_intersect(sa.s, sb.s)) * 1.0 / len(sb.s) * 1e6 + 0.5)/1e6
                       AS c_b_in_a
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b
        ) CROSS JOIN capped WHERE GREATEST(c_a_in_b, c_b_in_a) >= 0.5
    """,
)
def dd13_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup over 4-word shingle sets —
    inverted-index candidate generation capped at doc-freq 10 (candidate
    volume Σ df², hot shingles excluded), exact containment on the
    survivors (operators/dedup.py containment_pairs).  The measure real
    decontamination uses: a small doc fully quoted inside a big one
    scores 1.0 here while its Jaccard vanishes.  No-silent-caps: every
    row carries ``n_capped_shingles`` — how many distinct shingles the
    df-cap excluded on this run (oracle-verified constant column)."""
    from cnics_to_fhir_spark.operators.dedup import containment_pairs

    return containment_pairs(table(spark, sf_dir, "documents"), with_cap_count=True)


# ---------------------------------------------------------------------------
# j14 — AQE runtime skew-join split, self-asserting (the j09 alternative)
# ---------------------------------------------------------------------------
@query(
    "j14_aqe_skew_split",
    tags="J1 SKEW AQE A5",
    oracle="""
        WITH f AS (
            SELECT CAST(CASE WHEN l_orderkey % 5 < 3 THEN 0
                             ELSE l_orderkey % 97 END AS BIGINT) AS k,
                   l_quantity
            FROM lineitem
        ),
        d AS (
            SELECT CAST(r AS BIGINT) AS k, CAST(r % 7 AS BIGINT) AS grp
            FROM range(0, 97) t(r)
        )
        SELECT d.grp, CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(SUM(f.l_quantity)*1e2 + 0.5)/1e2 AS total_qty
        FROM f JOIN d USING (k) GROUP BY d.grp
    """,
)
def j14_aqe_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE's RUNTIME answer to the hot-key problem j09 solves with a
    manual salt: 60% of the fact rows share one join key, broadcast is
    disabled, and the sort-merge join's skewed partition must be SPLIT at
    runtime (OptimizeSkewedJoin) instead of serializing onto one reducer.
    The entry executes the join, then ASSERTS the adaptive final plan
    carries a ``skew=true`` sort-merge join — it fails rather than let a
    regression quietly reintroduce the straggler — and hash-matches the
    declarative oracle (a skew split is a physical rewrite; results are
    row-identical).  Thresholds are scaled down to make toy-SF shuffle
    partitions cross the skew detector exactly as 100-TB partitions
    would cross the 256 MB default.

    Two shapes this entry had to get right (both discovered by the
    assert failing, which is the point of self-asserting entries):
    OptimizeSkewedJoin splits a skewed REDUCE partition at map-output
    granularity, so the fact side must come from >1 mapper (the toy
    single-file scan is one map task — repartition(16) stands in for the
    thousands of input splits a real corpus has); and the rule only
    matches join children that are bare shuffle stages, so the dim must
    reach the join as a plain exchange (a ``distinct`` leaves its final
    aggregate between shuffle and sort and the rule passes the join by).
    """
    from cnics_to_fhir_spark.functions.numeric import stable_round
    from cnics_to_fhir_spark.session import session_conf

    li = table(spark, sf_dir, "lineitem")
    with session_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        f = li.repartition(16).select(
            F.when(F.col("l_orderkey") % 5 < 3, F.lit(0))
            .otherwise(F.col("l_orderkey") % 97)
            .cast("long")
            .alias("k"),
            "l_quantity",
        )
        d = spark.range(0, 97).select(
            F.col("id").alias("k"), (F.col("id") % 7).cast("long").alias("grp")
        )
        joined = (
            f.join(d, "k")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                stable_round(F.sum("l_quantity"), 2).alias("total_qty"),
            )
        )
        # detach_result executes joined's own query execution (the eager
        # localCheckpoint materializes queryExecution.toRdd), so the
        # adaptive plan inspected below is the executed, final one —
        # exactly as with the collect it replaces.
        out = detach_result(joined)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "skew=true" not in plan:
            raise AssertionError("adaptive plan did not split the skewed join partition")
    return out


# ---------------------------------------------------------------------------
# dq01 — dataset drift between versions (PSI per feature group)
# ---------------------------------------------------------------------------
@query(
    "dq01_drift_psi",
    tags="DQ A5 J1 TX",
    oracle="""
        WITH e AS (
            SELECT event_type AS grp, value AS v,
                   ts < TIMESTAMP '2024-01-16 00:00:00' AS is_base
            FROM events
        ),
        stats AS (SELECT grp, MIN(v) AS mn, MAX(v) AS mx FROM e WHERE is_base GROUP BY grp),
        binned AS (
            SELECT e.grp, e.is_base,
                   CASE WHEN s.mx = s.mn THEN 0
                        ELSE GREATEST(0, LEAST(9,
                             CAST(FLOOR((e.v - s.mn) / ((s.mx - s.mn)/10)) AS INT))) END AS b,
                   COUNT(*) AS c
            FROM e JOIN stats s USING (grp) GROUP BY 1, 2, 3
        ),
        spine AS (SELECT s.grp, CAST(r AS INT) AS b FROM stats s, range(0, 10) t(r)),
        cells AS (
            SELECT sp.grp, sp.b,
                   COALESCE(b1.c, 0) + 1 AS p1,
                   COALESCE(b2.c, 0) + 1 AS p2
            FROM spine sp
            LEFT JOIN (SELECT grp, b, c FROM binned WHERE is_base) b1
                   ON b1.grp = sp.grp AND b1.b = sp.b
            LEFT JOIN (SELECT grp, b, c FROM binned WHERE NOT is_base) b2
                   ON b2.grp = sp.grp AND b2.b = sp.b
        ),
        tot AS (SELECT grp, SUM(p1) AS n1, SUM(p2) AS n2 FROM cells GROUP BY grp)
        SELECT c.grp AS event_type,
               CAST(ANY_VALUE(t.n1) - 10 AS BIGINT) AS n_base,
               CAST(ANY_VALUE(t.n2) - 10 AS BIGINT) AS n_new,
               CAST(SUM(CAST(FLOOR((c.p1*1.0/t.n1 - c.p2*1.0/t.n2)
                         * (ln(c.p1*1.0*t.n2) - ln(c.p2*1.0*t.n1)) * 1e6) AS BIGINT))
                    AS BIGINT) AS psi_q
        FROM cells c JOIN tot t USING (grp)
        GROUP BY 1
    """,
)
def dq01_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring between two dataset versions: the Population
    Stability Index of the event-value distribution per event_type,
    first half of the month (the 'trained-on' crawl) vs the second (the
    'incoming' crawl).  Baseline-anchored equal-width bins, add-one
    smoothing over a groups×bins spine so empty bins are defined, PSI
    terms quantized to integer micro-units from integer counts
    (operators/drift.py psi_drift — state is O(groups × bins), nothing
    row-keyed)."""
    from cnics_to_fhir_spark.operators.drift import psi_drift

    e = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")).alias("is_base"),
    )
    return psi_drift(e, "value", "event_type", "is_base")


# ---------------------------------------------------------------------------
# tx10 — BPE encode with the learned merges (train → APPLY, per-doc budget)
# ---------------------------------------------------------------------------
@query(
    "tx10_bpe_encode",
    tags="TX A5 J1 CL-iterative",
    oracle="""
        -- tx08's unrolled training, then APPLY: the word column rides along
        -- the replace chain so the final symbol counts join back per doc.
        WITH words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
                SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
            ) WHERE w <> '' AND NOT contains(w, chr(31))
            GROUP BY w
        ),
        s0 AS (
            SELECT w, n, chr(31) || array_to_string(string_split(w, ''),
                   chr(31)||chr(31)) || chr(31) AS s
            FROM words
        ),
        p1 AS (
            SELECT pr.lhs AS lhs, pr.rhs AS rhs,
                   CAST(SUM(n) AS BIGINT) AS pair_count FROM (
                SELECT n, UNNEST(list_transform(range(1, len(arr)),
                       i -> {'lhs': arr[i], 'rhs': arr[i+1]})) AS pr
                FROM (SELECT n, string_split(s[2:len(s)-1],
                             chr(31)||chr(31)) AS arr FROM s0)
            ) GROUP BY pr.lhs, pr.rhs
        ),
        m1 AS (SELECT lhs, rhs FROM p1 ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        s1 AS (
            SELECT w, n, replace(s, chr(31)||m.lhs||chr(31)||chr(31)||m.rhs||chr(31),
                                    chr(31)||m.lhs||m.rhs||chr(31)) AS s
            FROM s0, m1 m),
        p2 AS (
            SELECT pr.lhs AS lhs, pr.rhs AS rhs,
                   CAST(SUM(n) AS BIGINT) AS pair_count FROM (
                SELECT n, UNNEST(list_transform(range(1, len(arr)),
                       i -> {'lhs': arr[i], 'rhs': arr[i+1]})) AS pr
                FROM (SELECT n, string_split(s[2:len(s)-1],
                             chr(31)||chr(31)) AS arr FROM s1)
            ) GROUP BY pr.lhs, pr.rhs
        ),
        m2 AS (SELECT lhs, rhs FROM p2 ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        s2 AS (
            SELECT w, n, replace(s, chr(31)||m.lhs||chr(31)||chr(31)||m.rhs||chr(31),
                                    chr(31)||m.lhs||m.rhs||chr(31)) AS s
            FROM s1, m2 m),
        p3 AS (
            SELECT pr.lhs AS lhs, pr.rhs AS rhs,
                   CAST(SUM(n) AS BIGINT) AS pair_count FROM (
                SELECT n, UNNEST(list_transform(range(1, len(arr)),
                       i -> {'lhs': arr[i], 'rhs': arr[i+1]})) AS pr
                FROM (SELECT n, string_split(s[2:len(s)-1],
                             chr(31)||chr(31)) AS arr FROM s2)
            ) GROUP BY pr.lhs, pr.rhs
        ),
        m3 AS (SELECT lhs, rhs FROM p3 ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        s3 AS (
            SELECT w, n, replace(s, chr(31)||m.lhs||chr(31)||chr(31)||m.rhs||chr(31),
                                    chr(31)||m.lhs||m.rhs||chr(31)) AS s
            FROM s2, m3 m),
        wsyms AS (
            SELECT w, CAST(len(string_split(s[2:len(s)-1], chr(31)||chr(31)))
                           AS BIGINT) AS n_syms
            FROM s3
        ),
        te AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
            ) WHERE w <> '' AND NOT contains(w, chr(31))
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(ws.n_syms) AS BIGINT) AS n_bpe_tokens
        FROM te t JOIN wsyms ws USING (w)
        GROUP BY t.doc_id
    """,
)
def tx10_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 3 BPE merges (tx08's loop) then ENCODE the corpus with them,
    reporting per-document word and post-merge token counts — the budget
    number a pretraining pipeline actually plans against.  Application is
    3 chained codegen'd literal replaces over the DISTINCT vocabulary
    (vocabulary-bounded like training), one token-keyed join, one
    doc-keyed sum (operators/textanalysis.py bpe_encode_counts)."""
    from cnics_to_fhir_spark.operators.textanalysis import bpe_encode_counts

    return bpe_encode_counts(table(spark, sf_dir, "documents"), n_merges=3)


# ---------------------------------------------------------------------------
# w06 — exact corpus-level percentiles without a single-partition sort
# ---------------------------------------------------------------------------
@query(
    "w06_exact_percentiles",
    tags="W A5 DS",
    oracle="""
        WITH o AS (
            SELECT value,
                   ROW_NUMBER() OVER (ORDER BY value, event_id) AS r,
                   COUNT(*) OVER () AS n
            FROM events
        )
        SELECT pct, value FROM (
            SELECT CAST(50 AS BIGINT) AS pct, value FROM o WHERE r = (50*n + 99)//100
            UNION ALL
            SELECT 95, value FROM o WHERE r = (95*n + 99)//100
            UNION ALL
            SELECT 99, value FROM o WHERE r = (99*n + 99)//100
        )
    """,
)
def w06_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT discrete corpus percentiles (p50/p95/p99 of event value) —
    the ground-truth twin of the a11 approx-percentile sketch, computed
    withOUT the single-task global sort a naive ``row_number() OVER
    (ORDER BY ...)`` would plan: ds10's ``global_rank`` (range
    repartition + driver-bounded partition-count offsets) gives every row
    its exact rank in parallel, and the percentile targets are integer
    ranks ``ceil(p·n/100)`` computed in exact integer arithmetic (a
    float ``0.95·n`` crosses ceil() the wrong way at many n).  Scale:
    one range shuffle + one npartitions-row driver round-trip; the rank
    filter prunes to 3 rows."""
    from cnics_to_fhir_spark.operators.dataset import global_rank

    e = table(spark, sf_dir, "events").select("value", "event_id")
    ranked, total = global_rank(e, ["value", "event_id"])
    targets = {p: (p * total + 99) // 100 for p in (50, 95, 99)}
    by_rank = {}
    for p, r in targets.items():
        by_rank.setdefault(r, []).append(p)
    out = ranked.filter(F.col("__rank").isin(list(by_rank)))
    rows = []
    for r, ps in by_rank.items():
        for p in ps:
            rows.append((p, r))
    # one output row per requested percentile even when targets collide
    pcts = spark.createDataFrame(rows, "pct long, __rank long")
    return out.join(pcts, "__rank").select("pct", "value")


# ---------------------------------------------------------------------------
# ann07 — product quantization + ADC top-k (the IVF-PQ memory half)
# ---------------------------------------------------------------------------
# Shared by ann07 (PQ over the whole corpus) and ann09 (full IVF-PQ: same
# codes + LUTs, candidates constrained to the query's coarse cell):
# cl01's unrolled 2-iteration k-means, once per PQ subspace (dims 1-32 and
# 33-64), then per-query ADC lookup tables against the trained codebooks.
_PQ_ORACLE_CTES = """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        e0 AS (SELECT vec_id, list_slice(v, 1, 32) AS sv FROM e),
        e1 AS (SELECT vec_id, list_slice(v, 33, 64) AS sv FROM e),
        c00 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                   list_transform(sv, x -> FLOOR(x*1e6 + 0.5)/1e6) AS cv
            FROM (SELECT vec_id, sv FROM e0 ORDER BY vec_id LIMIT 4)
        ),
        a00 AS (
            SELECT vec_id, sv, cid FROM (
                SELECT e0.vec_id, e0.sv, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e0.vec_id ORDER BY
                           list_dot_product(e0.sv, e0.sv)
                             - 2*list_dot_product(e0.sv, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e0 CROSS JOIN c00 c
            ) WHERE rn = 1
        ),
        c01 AS (
            SELECT cid, list(m ORDER BY idx) AS cv FROM (
                SELECT a.cid, t.idx,
                       FLOOR(AVG(a.sv[CAST(t.idx AS INT) + 1])*1e6 + 0.5)/1e6 AS m
                FROM a00 a, range(32) t(idx)
                GROUP BY a.cid, t.idx
            ) GROUP BY cid
        ),
        a01 AS (
            SELECT vec_id, cid AS c0 FROM (
                SELECT e0.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e0.vec_id ORDER BY
                           list_dot_product(e0.sv, e0.sv)
                             - 2*list_dot_product(e0.sv, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e0 CROSS JOIN c01 c
            ) WHERE rn = 1
        ),
        c10 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                   list_transform(sv, x -> FLOOR(x*1e6 + 0.5)/1e6) AS cv
            FROM (SELECT vec_id, sv FROM e1 ORDER BY vec_id LIMIT 4)
        ),
        a10 AS (
            SELECT vec_id, sv, cid FROM (
                SELECT e1.vec_id, e1.sv, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e1.vec_id ORDER BY
                           list_dot_product(e1.sv, e1.sv)
                             - 2*list_dot_product(e1.sv, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e1 CROSS JOIN c10 c
            ) WHERE rn = 1
        ),
        c11 AS (
            SELECT cid, list(m ORDER BY idx) AS cv FROM (
                SELECT a.cid, t.idx,
                       FLOOR(AVG(a.sv[CAST(t.idx AS INT) + 1])*1e6 + 0.5)/1e6 AS m
                FROM a10 a, range(32) t(idx)
                GROUP BY a.cid, t.idx
            ) GROUP BY cid
        ),
        a11 AS (
            SELECT vec_id, cid AS c1 FROM (
                SELECT e1.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e1.vec_id ORDER BY
                           list_dot_product(e1.sv, e1.sv)
                             - 2*list_dot_product(e1.sv, c.cv)
                             + list_dot_product(c.cv, c.cv), c.cid) AS rn
                FROM e1 CROSS JOIN c11 c
            ) WHERE rn = 1
        ),
        codes AS (SELECT a01.vec_id, a01.c0, a11.c1 FROM a01 JOIN a11 USING (vec_id)),
        lut0 AS (
            SELECT qs.query_id, c.cid AS c0,
                   list_dot_product(qs.sv, qs.sv) - 2*list_dot_product(qs.sv, c.cv)
                     + list_dot_product(c.cv, c.cv) AS p0
            FROM (SELECT vec_id AS query_id, list_slice(v, 1, 32) AS sv
                  FROM e WHERE vec_id < 8) qs
            CROSS JOIN c01 c
        ),
        lut1 AS (
            SELECT qs.query_id, c.cid AS c1,
                   list_dot_product(qs.sv, qs.sv) - 2*list_dot_product(qs.sv, c.cv)
                     + list_dot_product(c.cv, c.cv) AS p1
            FROM (SELECT vec_id AS query_id, list_slice(v, 33, 64) AS sv
                  FROM e WHERE vec_id < 8) qs
            CROSS JOIN c11 c
        )
"""

@query(
    "ann07_pq_adc_topk",
    tags="ANN-pq CL-iterative J8 W",
    oracle=_PQ_ORACLE_CTES
    + """
        SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank FROM (
            SELECT l0.query_id, cd.vec_id AS neighbor_id,
                   FLOOR((l0.p0 + l1.p1)*1e6 + 0.5)/1e6 AS adc_dist,
                   ROW_NUMBER() OVER (PARTITION BY l0.query_id
                       ORDER BY FLOOR((l0.p0 + l1.p1)*1e6 + 0.5)/1e6,
                                cd.vec_id) AS rank
            FROM codes cd
            JOIN lut0 l0 ON l0.c0 = cd.c0
            JOIN lut1 l1 ON l1.query_id = l0.query_id AND l1.c1 = cd.c1
            WHERE cd.vec_id <> l0.query_id
        ) WHERE rank <= 5
    """,
)
def ann07_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric distance top-k — the memory half
    of IVF-PQ, the structure that makes billion-vector ANN fit in RAM:
    corpus state shrinks to one small int per subspace per vector and
    query scoring never touches raw embeddings (per-query LUT of
    n_sub×k_codes partial distances, broadcast; ids+codes-only joins).
    Codebooks train with cl01's Lloyd loop per subspace
    (operators/similarity.py pq_adc_topk)."""
    from cnics_to_fhir_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        spark, emb, emb.filter(F.col("vec_id") < 8), topk=5
    )


@query(
    "ann09_ivfpq_topk",
    tags="ANN-ivfpq CL-iterative J1 J8 W",
    oracle=_PQ_ORACLE_CTES
    + """
        , labs AS (SELECT vec_id, label FROM embeddings),
        qlabs AS (SELECT vec_id AS query_id, label FROM embeddings WHERE vec_id < 8)
        SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank FROM (
            SELECT l0.query_id, cd.vec_id AS neighbor_id,
                   FLOOR((l0.p0 + l1.p1)*1e6 + 0.5)/1e6 AS adc_dist,
                   ROW_NUMBER() OVER (PARTITION BY l0.query_id
                       ORDER BY FLOOR((l0.p0 + l1.p1)*1e6 + 0.5)/1e6,
                                cd.vec_id) AS rank
            FROM codes cd
            JOIN labs cl ON cl.vec_id = cd.vec_id
            JOIN lut0 l0 ON l0.c0 = cd.c0
            JOIN lut1 l1 ON l1.query_id = l0.query_id AND l1.c1 = cd.c1
            JOIN qlabs ql ON ql.query_id = l0.query_id AND ql.label = cl.label
            WHERE cd.vec_id <> l0.query_id
        ) WHERE rank <= 5
    """,
)
def ann09_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL IVF-PQ (nprobe=1, global codebooks): ann03's inverted-list
    cell prune composed with ann07's compressed ADC scoring — the two
    halves of every billion-vector ANN index in one plan.  Candidates
    are restricted to the query's coarse cell BEFORE any LUT join (the
    (vec_id, cell) join rides the id key the codes already carry; the
    query's cell rides the broadcast), then scored purely from PQ codes
    — raw embeddings are never touched at query time.  Codebooks are
    global (IVFADC without residual encoding), so the oracle is ann07's
    unrolled per-subspace Lloyd replay plus one label equality.  At
    100 TB: corpus state = n_sub small ints + one cell id per vector,
    scored candidates per query shrink from |corpus| to |cell|."""
    from cnics_to_fhir_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        spark, emb, emb.filter(F.col("vec_id") < 8), topk=5, cell_col="label"
    )


# ---------------------------------------------------------------------------
# gr03 — triangle counting over the near-dup graph (degree orientation)
# ---------------------------------------------------------------------------
@query(
    "gr03_triangle_count",
    tags="GR J1 A5 DD",
    oracle="""
        WITH base AS (
            SELECT doc_id AS id,
                   array_to_string((string_split(text, ' '))[1:4], ' ') AS block,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN list_transform(
                                   range(1, len(string_split(text, ' ')) - 1),
                                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                            ELSE [text]
                       END) AS shingles
            FROM documents
        ),
        edges AS (
            SELECT a.id AS u, b.id AS v
            FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
            WHERE FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6 >= 0.5
        ),
        und AS (SELECT u AS n, v AS m FROM edges UNION ALL SELECT v, u FROM edges),
        deg AS (SELECT n, COUNT(*) AS d FROM und GROUP BY n),
        o AS (
            SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
                   CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
            FROM edges e
            JOIN deg du ON du.n = e.u
            JOIN deg dv ON dv.n = e.v
        ),
        tri AS (
            SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
            FROM o w1
            JOIN o w2 ON w2.src = w1.dst
            JOIN o w3 ON w3.src = w1.src AND w3.dst = w2.dst
        )
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
            SELECT UNNEST([x, y, z]) AS node FROM tri
        ) GROUP BY node
    """,
)
def gr03_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over dd02's near-dup pair graph — the QA measure
    behind dd06's clustering assumption (near-dup groups should be
    triangle-rich near-cliques; a triangle-poor pair graph means chained
    false merges).  Degree-ordered orientation bounds the wedge self-join
    at Σ outdeg² = O(m^1.5) regardless of hub degrees
    (operators/graph.py triangle_counts)."""
    from cnics_to_fhir_spark.operators.graph import triangle_counts

    pairs = dedup.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), k=3, block_words=4, threshold=0.5
    ).select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    return triangle_counts(pairs)


# ---------------------------------------------------------------------------
# ds11 — length-bucketed batching stats (padding-efficiency planning)
# ---------------------------------------------------------------------------
@query(
    "ds11_length_buckets",
    tags="DS A5 TX",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                        AS BIGINT) AS n
            FROM documents
        ),
        b AS (
            SELECT doc_id, n,
                   CAST(CASE WHEN n = 1 THEN 1
                             ELSE 1 << length(bin(n - 1)) END AS BIGINT) AS capacity
            FROM t WHERE n > 0
        )
        SELECT capacity,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS total_tokens,
               FLOOR((CAST(SUM(n) AS DOUBLE) / (COUNT(*) * capacity))*1e6 + 0.5)/1e6
                   AS utilization
        FROM b GROUP BY capacity
    """,
)
def ds11_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching plan: docs binned to power-of-two token
    capacities (the bucketed-batching trick that cuts padding waste when
    fixed-shape batches are required), with per-bucket utilization = how
    full the padded batch actually is.  The bucket boundary is computed
    in INTEGER arithmetic (bit-length of n−1) — a float log2 crosses the
    boundary the wrong way exactly at powers of two, where all the mass
    sits.  One scan-fused projection + one bucket-keyed agg; zero
    intermediate state."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    t = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).cast("long").alias("n"),
    ).filter(F.col("n") > 0)
    b = t.select(
        "n",
        F.expr(
            "CAST(CASE WHEN n = 1 THEN 1L"
            " ELSE shiftleft(1L, length(bin(n - 1))) END AS BIGINT)"
        ).alias("capacity"),
    )
    return b.groupBy("capacity").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        stable_round(
            F.sum("n").cast("double") / (F.count(F.lit(1)) * F.col("capacity")), 6
        ).alias("utilization"),
    )


# ---------------------------------------------------------------------------
# ev09 — per-user z-score anomaly days (integer-moment determinism)
# ---------------------------------------------------------------------------
@query(
    "ev09_zscore_anomaly_days",
    tags="EV A5 J1 DQ",
    oracle="""
        WITH daily AS (
            SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        mom AS (
            SELECT user_id, CAST(SUM(n) AS BIGINT) AS s1,
                   CAST(SUM(n*n) AS BIGINT) AS s2,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM daily GROUP BY user_id HAVING COUNT(*) > 1
        )
        SELECT user_id, day, n AS n_events, z FROM (
            SELECT d.user_id, d.day, d.n,
                   FLOOR(((d.n - s1*1.0/cnt)
                          / sqrt((s2 - s1*1.0*s1/cnt)/(cnt - 1)))*1e4 + 0.5)/1e4 AS z
            FROM daily d JOIN mom m USING (user_id)
            WHERE (s2 - s1*1.0*s1/cnt)/(cnt - 1) > 0
        ) WHERE ABS(z) >= 2.0
    """,
)
def ev09_zscore_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed outlier detection: each (user, day) event count z-scored
    against that user's own daily distribution, |z| ≥ 2 flags the day.
    Per-user moments are exact integer sums (S1, S2, cnt) so the float
    chain evaluates identically on both engines
    (operators/events_windows.py zscore_anomaly_days)."""
    from cnics_to_fhir_spark.operators.events_windows import zscore_anomaly_days

    return zscore_anomaly_days(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# a19 — explicit GROUPING SETS with grouping ids (completes rollup/cube)
# ---------------------------------------------------------------------------
@query(
    "a19_grouping_sets",
    tags="A5 GS",
    oracle="""
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(GROUPING(event_type) AS BIGINT) AS g_type,
               CAST(GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS BIGINT) AS g_day,
               CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(SUM(value)*1e2 + 0.5)/1e2 AS total_value
        FROM events
        GROUP BY GROUPING SETS ((event_type), (strftime(date_trunc('day', ts), '%Y-%m-%d')),
                                (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d')))
    """,
)
def a19_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third member of the multi-granularity
    aggregation family next to a07's ROLLUP and a16's CUBE: per-type,
    per-day, and per-(type, day) totals in ONE pass with GROUPING() ids
    disambiguating genuine NULL keys from subtotal rows.  Same scale
    shape as any hash agg — Spark expands the sets map-side and partial-
    aggregates before the one keyed shuffle."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "value",
    )
    return (
        e.groupingSets(
            [["event_type"], ["day"], ["event_type", "day"]],
            F.col("event_type"),
            F.col("day"),
        )
        .agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("day").cast("long").alias("g_day"),
            F.count(F.lit(1)).alias("n"),
            stable_round(F.sum("value"), 2).alias("total_value"),
        )
        .select("event_type", "day", "g_type", "g_day", "n", "total_value")
    )


# ---------------------------------------------------------------------------
# dq02 — exact two-sample Kolmogorov–Smirnov drift (PSI's bin-free twin)
# ---------------------------------------------------------------------------
@query(
    "dq02_ks_drift",
    tags="DQ A5 W J1",
    oracle="""
        WITH e AS (
            SELECT event_type AS grp, value AS v,
                   ts < TIMESTAMP '2024-01-16 00:00:00' AS is_base
            FROM events
            WHERE value IS NOT NULL
        ),
        counts AS (
            SELECT grp, v,
                   SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS c1,
                   SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS c2
            FROM e GROUP BY grp, v
        ),
        cum AS (
            SELECT grp,
                   SUM(c1) OVER (PARTITION BY grp ORDER BY v
                                 ROWS UNBOUNDED PRECEDING) AS a1,
                   SUM(c2) OVER (PARTITION BY grp ORDER BY v
                                 ROWS UNBOUNDED PRECEDING) AS a2
            FROM counts
        ),
        tot AS (
            SELECT grp,
                   SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS n1,
                   SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS n2
            FROM e GROUP BY grp
        )
        SELECT c.grp AS event_type,
               CAST(ANY_VALUE(t.n1) AS BIGINT) AS n_base,
               CAST(ANY_VALUE(t.n2) AS BIGINT) AS n_new,
               CAST(FLOOR(CAST(MAX(ABS(c.a1*t.n2 - c.a2*t.n1)) AS DOUBLE)
                          / CAST(ANY_VALUE(t.n1)*ANY_VALUE(t.n2) AS DOUBLE)
                          * 1e6) AS BIGINT) AS ks_q
        FROM cum c JOIN tot t USING (grp)
        GROUP BY c.grp
        HAVING ANY_VALUE(t.n1) > 0 AND ANY_VALUE(t.n2) > 0
    """,
)
def dq02_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance of the event-value distribution per
    event_type, first half-month (trained-on) vs second (incoming) —
    dq01's PSI catches mass moving BETWEEN its 10 bins; KS is bin-free
    (sup-norm ECDF gap over every observed value) and catches narrow
    shifts PSI's binning averages away.  The per-value gap is the exact
    integer cross-multiplication |c1·n2 − c2·n1|; one float division per
    group after the integer max, floored once to micro-units
    (operators/drift.py ks_drift; scale notes there — the widest shuffle
    is O(distinct values), never O(rows))."""
    from cnics_to_fhir_spark.operators.drift import ks_drift

    e = table(spark, sf_dir, "events").select(
        F.col("event_type"),
        F.col("value"),
        (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")).alias("is_base"),
    )
    return ks_drift(e, value_col="value", group_col="event_type", baseline_col="is_base")


# ---------------------------------------------------------------------------
# ev10 — funnel transition latency percentiles (exact, integer microseconds)
# ---------------------------------------------------------------------------
@query(
    "ev10_funnel_latency",
    tags="EV W A5 J1",
    oracle="""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        ),
        d AS (
            SELECT '1_signup_to_click' AS transition, s1.user_id,
                   epoch_us(s2.t2) - epoch_us(s1.t1) AS delta_us
            FROM s1 JOIN s2 USING (user_id)
            UNION ALL
            SELECT '2_click_to_purchase', s2.user_id,
                   epoch_us(s3.t3) - epoch_us(s2.t2)
            FROM s2 JOIN s3 USING (user_id)
        ),
        r AS (
            SELECT transition, delta_us,
                   ROW_NUMBER() OVER (PARTITION BY transition
                                      ORDER BY delta_us, user_id) AS rn,
                   COUNT(*) OVER (PARTITION BY transition) AS n
            FROM d
        )
        SELECT transition,
               CAST(ANY_VALUE(n) AS BIGINT) AS n_users,
               CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5*n) AS BIGINT)
                        THEN delta_us END) AS BIGINT) AS p50_us,
               CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9*n) AS BIGINT)
                        THEN delta_us END) AS BIGINT) AS p90_us,
               CAST(MAX(delta_us) AS BIGINT) AS max_us
        FROM r GROUP BY transition
    """,
)
def ev10_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev07's funnel extended with the question a product team actually
    asks: HOW LONG between stages — exact p50/p90/max of the
    step-to-step latency per transition.  Deltas are integer
    microseconds (unix_micros both sides — an epoch-seconds diff would
    truncate before subtracting and disagree across engines); the
    percentile is exact rank selection (value at row ceil(p·n) of the
    (delta, user_id)-ordered transition — w06's discipline, so no
    interpolation mode can diverge).  Every join/agg keys on user_id
    until the final O(transitions) rollup; the percentile window is
    O(funnel survivors), never O(events)."""
    e = table(spark, sf_dir, "events")
    s1 = e.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    d = (
        s1.join(s2, "user_id")
        .select(
            F.lit("1_signup_to_click").alias("transition"),
            "user_id",
            (F.unix_micros(F.col("t2")) - F.unix_micros(F.col("t1"))).alias("delta_us"),
        )
        .unionByName(
            s2.join(s3, "user_id").select(
                F.lit("2_click_to_purchase").alias("transition"),
                "user_id",
                (F.unix_micros(F.col("t3")) - F.unix_micros(F.col("t2"))).alias("delta_us"),
            )
        )
    )
    w = Window.partitionBy("transition").orderBy("delta_us", "user_id")
    wn = Window.partitionBy("transition")
    r = d.select(
        "transition",
        "delta_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    rank = lambda p: F.ceil(F.lit(p) * F.col("n")).cast("long")  # noqa: E731
    return r.groupBy("transition").agg(
        F.first("n").cast("long").alias("n_users"),
        F.max(F.when(F.col("rn") == rank(0.5), F.col("delta_us"))).cast("long").alias("p50_us"),
        F.max(F.when(F.col("rn") == rank(0.9), F.col("delta_us"))).cast("long").alias("p90_us"),
        F.max("delta_us").cast("long").alias("max_us"),
    )


# ---------------------------------------------------------------------------
# mm07 — perceptual NEAR-dup across image groups (banded hamming, exact
# recall by pigeonhole)
# ---------------------------------------------------------------------------
@query(
    "mm07_phash_neardup",
    tags="MM DD J1 A5",
    oracle="""
        WITH px AS (
            SELECT d.doc_id,
                   x, y, c,
                   ((x*17 + y*29 + c*41 + d.doc_id % 50) % 256
                    + CASE WHEN (y*16 + x)*3 + c = d.doc_id % 576
                           THEN (d.doc_id // 50) % 3 ELSE 0 END) % 256 AS v
            FROM documents d,
                 UNNEST(range(0, 16)) AS tx(x),
                 UNNEST(range(0, 12)) AS ty(y),
                 UNNEST(range(0, 3)) AS tc(c)
        ),
        blocks AS (
            SELECT doc_id, (y//4)*4 + (x//4) AS blk, c, SUM(v) AS bs
            FROM px GROUP BY doc_id, (y//4)*4 + (x//4), c
        ),
        tot AS (SELECT doc_id, SUM(v) AS ts FROM px GROUP BY doc_id),
        ph AS (
            SELECT b.doc_id,
                   CAST(SUM(CASE WHEN b.bs*36 > t.ts
                            THEN CAST(1 AS BIGINT) << CAST(b.blk*3 + b.c AS INT)
                            ELSE 0 END) AS BIGINT) AS phash
            FROM blocks b JOIN tot t USING (doc_id)
            GROUP BY b.doc_id
        ),
        reps AS (
            SELECT phash, MIN(doc_id) AS keeper_id,
                   CAST(COUNT(*) AS BIGINT) AS n_members
            FROM ph GROUP BY phash
        )
        SELECT a.keeper_id AS keeper_a, b.keeper_id AS keeper_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming,
               a.n_members AS n_a, b.n_members AS n_b
        FROM reps a JOIN reps b ON a.keeper_id < b.keeper_id
        WHERE bit_count(xor(a.phash, b.phash)) BETWEEN 1 AND 2
    """,
)
def mm07_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual NEAR-dup across exact-dup groups: mm06 collapses
    byte-identical hashes; this finds hash pairs within hamming ≤ 2 —
    the 'same image, tiny edit' class exact grouping misses.

    Scale shape — dedup-first then banded join, both load-bearing:
    (1) the O(n²) trap is collapsed away BEFORE any pairing: docs group
    to distinct (phash, keeper, count) rows first (corpus → O(distinct
    hashes), the dd01 shape), so the pair join runs on signatures,
    never documents; (2) the signature join is banded — the 36-bit hash
    splits into 3 bands of 12 bits, pairs must share one band's value —
    and by pigeonhole 3 bands with threshold 2 is EXACT: two hashes
    within hamming ≤ 2 differ in at most 2 bands, so at least one band
    matches (recall 1.0 — a guarantee, unlike MinHash-LSH's S-curve).
    The oracle does the recall-free all-pairs join over distinct
    signatures instead, proving the banded plan loses nothing.  The
    exact hamming runs as a residual bit_count(xor) predicate."""
    ph = _phash_frame(spark, sf_dir)
    # Pin the signature table: it is O(distinct hashes) — tiny — and both
    # sides of the band self-join consume it; unpinned, the self-join
    # re-runs the whole encode→decode codec pass (the expensive half of
    # the entry) once per side (plan audit showed arrow_py=2).
    reps = (
        ph.groupBy("phash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .localCheckpoint(eager=True)
    )
    bands = reps.select(
        "phash",
        "keeper_id",
        "n_members",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("phash"), 12 * i).bitwiseAND(F.lit(0xFFF)).alias("bv"),
                )
                for i in range(3)
            ])
        ).alias("bk"),
    ).select("phash", "keeper_id", "n_members", "bk.band", "bk.bv")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.keeper_id") < F.col("b.keeper_id")),
        )
        .filter(ham.between(1, 2))
        .select(
            F.col("a.keeper_id").alias("keeper_a"),
            F.col("b.keeper_id").alias("keeper_b"),
            ham.cast("long").alias("hamming"),
            F.col("a.n_members").alias("n_a"),
            F.col("b.n_members").alias("n_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Round-6 additions: domain cap, filtered ANN, dataset version diff
# ---------------------------------------------------------------------------
@query(
    "dc03_domain_cap",
    tags="DC A5 W O3",
    oracle="""
        WITH h AS (
            SELECT doc_id, source,
                   CAST(('0x' || substring(
                       md5('73:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS hh
            FROM documents
        ),
        r AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS n_domain
            FROM h
        )
        SELECT doc_id, source, CAST(n_domain AS BIGINT) AS n_domain
        FROM r WHERE rn <= 15
    """,
)
def dc03_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-domain suppression: keep at most 15 docs per source, chosen by
    a portable hash of the id (reproducible systematic sample).  The
    engine runs the exact TWO-PHASE form — top-10-bit range-prefix bucket
    histogram, per-domain cutoff bucket, row_number only inside the
    cutoff bucket (~1/1024 of the domain) — so no hot domain ever
    serializes onto one window task; the oracle is the naive per-domain
    ROW_NUMBER the two-phase plan is provably value-identical to
    (bucket order is a monotone prefix of the hash order).
    n_domain is the pre-cap domain size (no silent caps)."""
    from cnics_to_fhir_spark.operators.curation import domain_cap

    return domain_cap(
        table(spark, sf_dir, "documents"), cap=15, domain_col="source", id_col="doc_id"
    )


@query(
    "ann08_filtered_topk",
    tags="ANN-filtered J1 J7 W",
    oracle="""
        WITH allowed AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        q AS (
            SELECT vec_id AS query_id, label, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 8
        ),
        c AS (
            SELECT e.vec_id AS neighbor_id, e.label, CAST(e.embedding AS DOUBLE[]) AS cv
            FROM embeddings e JOIN allowed a ON e.vec_id = a.doc_id
        ),
        scored AS (
            SELECT q.query_id, c.neighbor_id,
                   FLOOR((list_dot_product(q.qv, c.cv)
                         / (SQRT(list_dot_product(q.qv, q.qv)) * SQRT(list_dot_product(c.cv, c.cv))))*1e6 + 0.5)/1e6 AS cosine_sim
            FROM q JOIN c ON q.label = c.label AND c.neighbor_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def ann08_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (RAG shape): IVF top-5 restricted to vectors
    whose document passes lang='en' — the predicate is an ids-only
    semi-join applied BEFORE the cell probe (pre-filtering), never a
    post-filter of an unfiltered top-k (the classic recall bug).
    Queries themselves are unfiltered."""
    emb = table(spark, sf_dir, "embeddings")
    allowed = (
        table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    return similarity.filtered_ivf_topk(
        emb, emb.filter(F.col("vec_id") < 8), allowed, k=5
    )


@query(
    "dq03_version_diff",
    tags="DQ J6 A5",
    oracle="""
        WITH v1 AS (
            SELECT doc_id, source,
                   md5(CASE WHEN doc_id % 7 = 0 THEN reverse(text) ELSE text END) AS fp
            FROM documents WHERE doc_id % 13 <> 0
        ),
        v2 AS (
            SELECT doc_id, source, md5(text) AS fp
            FROM documents WHERE doc_id % 10 <> 0
        ),
        d AS (
            SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
                   COALESCE(v1.source, v2.source) AS source,
                   CASE WHEN v1.doc_id IS NULL THEN 'added'
                        WHEN v2.doc_id IS NULL THEN 'removed'
                        WHEN v1.fp <> v2.fp THEN 'changed'
                        ELSE 'unchanged' END AS action
            FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        )
        SELECT source, action,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM d GROUP BY source, action
    """,
)
def dq03_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus version audit: v1 (docs with id%13≠0, ids%7=0 carrying an
    edited text) vs v2 (docs with id%10≠0), classified added / removed /
    changed / unchanged by an id-keyed full-outer join over (id,
    md5-fingerprint) pairs — the shuffle carries two narrow columns, never
    the text — then rolled up per (source, action) with an id-sum
    checksum.  Same classify-by-join shape as the FHIR MERGE (j06),
    applied to dataset versioning (operators/drift.py::version_diff)."""
    from cnics_to_fhir_spark.operators.drift import version_diff

    docs = table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        "source",
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.reverse(F.col("text"))).otherwise(
                F.col("text")
            )
        ).alias("fp"),
    )
    v2 = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "source", F.md5(F.col("text")).alias("fp")
    )
    actions = version_diff(v1, v2, id_col="doc_id", fingerprint_col="fp")
    src = (
        v1.select("doc_id", "source")
        .unionByName(v2.select("doc_id", "source"))
        .groupBy("doc_id")
        .agg(F.first("source").alias("source"))
    )
    return (
        actions.join(src, on="doc_id")
        .groupBy("source", "action")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# ev11 — exact truncated EWMA of per-user daily activity (dyadic weights)
# ---------------------------------------------------------------------------
@query(
    "ev11_ewma_smoothing",
    tags="EV W A5",
    oracle="""
        WITH daily AS (
            SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        taps AS (
            SELECT user_id, day, n,
                   COALESCE(LAG(n, 0) OVER w, 0)*128 + COALESCE(LAG(n, 1) OVER w, 0)*64
                 + COALESCE(LAG(n, 2) OVER w, 0)*32  + COALESCE(LAG(n, 3) OVER w, 0)*16
                 + COALESCE(LAG(n, 4) OVER w, 0)*8   + COALESCE(LAG(n, 5) OVER w, 0)*4
                 + COALESCE(LAG(n, 6) OVER w, 0)*2   + COALESCE(LAG(n, 7) OVER w, 0)*1
                   AS num,
                   CASE WHEN LAG(n, 0) OVER w IS NULL THEN 0 ELSE 128 END
                 + CASE WHEN LAG(n, 1) OVER w IS NULL THEN 0 ELSE 64 END
                 + CASE WHEN LAG(n, 2) OVER w IS NULL THEN 0 ELSE 32 END
                 + CASE WHEN LAG(n, 3) OVER w IS NULL THEN 0 ELSE 16 END
                 + CASE WHEN LAG(n, 4) OVER w IS NULL THEN 0 ELSE 8 END
                 + CASE WHEN LAG(n, 5) OVER w IS NULL THEN 0 ELSE 4 END
                 + CASE WHEN LAG(n, 6) OVER w IS NULL THEN 0 ELSE 2 END
                 + CASE WHEN LAG(n, 7) OVER w IS NULL THEN 0 ELSE 1 END
                   AS den
            FROM daily
            WINDOW w AS (PARTITION BY user_id ORDER BY day)
        )
        SELECT user_id, day, n AS n_events,
               FLOOR((CAST(num AS DOUBLE)/CAST(den AS DOUBLE))*1e6 + 0.5)/1e6 AS ewma
        FROM taps
    """,
)
def ev11_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA (α = 1/2, 8 taps) of each user's daily event count.
    The α = 1/2 geometric weights are dyadic, so scaling by 2⁸ makes the
    weighted numerator and the renormalizing denominator exact INTEGER
    window sums; the single float division is correctly rounded and
    therefore engine-identical.  One (user, day) count agg + ONE
    user-keyed window with a constant number of lag taps — O(1) state per
    row, no range frame, no self-join
    (operators/events_windows.py ewma_daily_counts)."""
    from cnics_to_fhir_spark.operators.events_windows import ewma_daily_counts

    return ewma_daily_counts(table(spark, sf_dir, "events"), n_lags=8)


# ---------------------------------------------------------------------------
# w07 — exact median + MAD robust outlier screen from the value histogram
# ---------------------------------------------------------------------------
@query(
    "w07_mad_outliers",
    tags="W A5 DQ",
    oracle="""
        WITH hist AS (
            SELECT event_type AS grp, value AS v, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        tot AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY grp),
        cum AS (
            SELECT grp, v,
                   SUM(c) OVER (PARTITION BY grp ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum
            FROM hist
        ),
        med AS (
            SELECT c.grp, MIN(c.v) AS med
            FROM cum c JOIN tot t USING (grp)
            WHERE c.cum >= (t.n + 1) // 2 GROUP BY c.grp
        ),
        dhist AS (
            SELECT h.grp, ABS(h.v - m.med) AS d, CAST(SUM(h.c) AS BIGINT) AS c
            FROM hist h JOIN med m USING (grp) GROUP BY 1, 2
        ),
        dcum AS (
            SELECT grp, d,
                   SUM(c) OVER (PARTITION BY grp ORDER BY d
                                ROWS UNBOUNDED PRECEDING) AS cum
            FROM dhist
        ),
        mad AS (
            SELECT dc.grp, MIN(dc.d) AS mad
            FROM dcum dc JOIN tot t USING (grp)
            WHERE dc.cum >= (t.n + 1) // 2 GROUP BY dc.grp
        )
        SELECT h.grp, t.n AS n_values,
               FLOOR(m.med*1e6 + 0.5)/1e6 AS median,
               FLOOR(a.mad*1e6 + 0.5)/1e6 AS mad,
               CAST(SUM(CASE WHEN ABS(h.v - m.med) > 3.0*a.mad
                             THEN h.c ELSE 0 END) AS BIGINT) AS n_outliers
        FROM hist h
        JOIN med m USING (grp)
        JOIN mad a USING (grp)
        JOIN tot t USING (grp)
        GROUP BY 1, 2, 3, 4
    """,
)
def w07_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median + MAD robust outlier screen per event_type (|v − median| >
    3·MAD).  Exact lower medians selected by rank from the (group, value)
    FREQUENCY HISTOGRAM — the corpus is scanned once and collapsed to
    O(groups × distinct values) rows; both cumulative windows run over
    that small table, never a row-level sort
    (operators/drift.py mad_outliers)."""
    from cnics_to_fhir_spark.operators.drift import mad_outliers

    return mad_outliers(
        table(spark, sf_dir, "events"), value_col="value", group_col="event_type", k=3.0
    )


# ---------------------------------------------------------------------------
# a20 — exact weighted percentiles (range-partitioned prefix-sum, no global
# window)
# ---------------------------------------------------------------------------
@query(
    "a20_weighted_percentiles",
    tags="A5 W DS O1",
    oracle="""
        WITH hist AS (
            SELECT l_extendedprice AS v,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
            FROM lineitem GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM hist),
        cum AS (
            SELECT v, w,
                   SUM(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c
            FROM hist
        ),
        t AS (SELECT CAST(UNNEST([25, 50, 75, 90, 99]) AS BIGINT) AS pct)
        SELECT t.pct, cum.v AS value
        FROM t, tot, cum
        WHERE (t.pct*tot.tw + 99)//100 <= cum.c
          AND (t.pct*tot.tw + 99)//100 > cum.c - cum.w
    """,
)
def a20_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted percentiles of l_extendedprice under l_quantity
    weights — the quantile a quality-weighted mixing policy needs (rows
    count ``weight`` times: sampling temperature, dedup multiplicity,
    token counts).  w06's unweighted trick does not transfer — a weighted
    rank needs a cumulative WEIGHT, not a row number — so this is the
    two-pass range-partitioned PREFIX-SUM: value→weight histogram (one
    map-side-combinable corpus scan), then per-partition cumulative
    windows plus driver-round-tripped per-partition totals as offsets; no
    single-task global window anywhere.  Percentile targets are integer
    ceil((p·W)/100); weights sum as longs (l_quantity is integral, so the
    pre-sum long cast is exact in both engines)
    (operators/dataset.py weighted_percentiles)."""
    from cnics_to_fhir_spark.operators.dataset import weighted_percentiles

    li = table(spark, sf_dir, "lineitem").select("l_extendedprice", "l_quantity")
    return weighted_percentiles(
        li, value_col="l_extendedprice", weight_col="l_quantity",
        pcts=[25, 50, 75, 90, 99],
    ).select("pct", "value")


# ---------------------------------------------------------------------------
# dq04 — embedding-space drift between corpus snapshots (integer-exact)
# ---------------------------------------------------------------------------
@query(
    "dq04_embedding_drift",
    tags="DQ ANN A5 F18",
    oracle="""
        WITH comp AS (
            SELECT e.label AS grp, e.vec_id % 2 = 0 AS is_a, t.pos,
                   CAST(FLOOR(CAST(e.embedding[t.pos] AS DOUBLE)*1e6 + 0.5)
                        AS BIGINT) AS xq
            FROM embeddings e,
                 UNNEST(range(1, len(e.embedding) + 1)) AS t(pos)
        ),
        per_dim AS (
            SELECT grp, pos,
                   SUM(CASE WHEN is_a THEN xq ELSE 0 END) AS sa,
                   SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                   SUM(CASE WHEN NOT is_a THEN xq ELSE 0 END) AS sb,
                   SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
            FROM comp GROUP BY 1, 2
        )
        SELECT grp AS label,
               CAST(ANY_VALUE(ca) AS BIGINT) AS n_a,
               CAST(ANY_VALUE(cb) AS BIGINT) AS n_b,
               CAST(MAX(FLOOR(CAST(ABS(sa*cb - sb*ca) AS DOUBLE)
                              / CAST(ca*cb AS DOUBLE))) AS BIGINT)
                   AS linf_shift_q,
               CAST(SUM(FLOOR(CAST(ABS(sa*cb - sb*ca) AS DOUBLE)
                              / CAST(ca*cb AS DOUBLE))) AS BIGINT)
                   AS l1_shift_q
        FROM per_dim
        WHERE ca > 0 AND cb > 0
        GROUP BY 1
    """,
)
def dq04_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per label between two corpus snapshots (even
    vs odd vec_id — the deterministic stand-in for crawl N vs crawl N+1):
    component-wise centroid shift in integer micro-units, L∞ and L1
    reduced per label.  A moved centroid is the retraining trigger for
    every consumer of the embedding column (the IVF cells of ann03-09,
    dd05's blocking, cl01's quantizer).  Components quantize to integers
    BEFORE any aggregation and the mean shift is the cross-multiplication
    |sa·cb − sb·ca| with one correctly-rounded float division per dim, so
    both engines agree bit-for-bit regardless of partition order; the
    only shuffle is O(labels × dims) (operators/drift.py
    embedding_mean_shift)."""
    from cnics_to_fhir_spark.operators.drift import embedding_mean_shift

    return embedding_mean_shift(
        table(spark, sf_dir, "embeddings"),
        id_col="vec_id", vec_col="embedding", group_col="label",
    )


# ---------------------------------------------------------------------------
# ann10 — recall@k of the IVF index against exact ground truth
# ---------------------------------------------------------------------------
@query(
    "ann10_recall_eval",
    tags="ANN-eval J1 W A5",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, label, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 8
        ),
        c AS (
            SELECT vec_id AS neighbor_id, label, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, c.neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                           FLOOR((list_dot_product(q.qv, c.cv)
                                 / (SQRT(list_dot_product(q.qv, q.qv))
                                    * SQRT(list_dot_product(c.cv, c.cv))))*1e6 + 0.5)/1e6
                               DESC,
                           c.neighbor_id) AS r
                FROM q JOIN c ON c.neighbor_id <> q.query_id
            ) WHERE r <= 5
        ),
        approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, c.neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                           FLOOR((list_dot_product(q.qv, c.cv)
                                 / (SQRT(list_dot_product(q.qv, q.qv))
                                    * SQRT(list_dot_product(c.cv, c.cv))))*1e6 + 0.5)/1e6
                               DESC,
                           c.neighbor_id) AS r
                FROM q JOIN c ON q.label = c.label AND c.neighbor_id <> q.query_id
            ) WHERE r <= 5
        ),
        hits AS (
            SELECT e.query_id, CAST(COUNT(*) AS INTEGER) AS n_hits
            FROM approx a JOIN exact e USING (query_id, neighbor_id)
            GROUP BY 1
        )
        SELECT g.query_id,
               CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
               CAST(COALESCE(h.n_hits, 0) AS DOUBLE)/5 AS recall
        FROM (SELECT DISTINCT query_id FROM exact) g
        LEFT JOIN hits h USING (query_id)
    """,
)
def ann10_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF cell-probe index (ann03's search) against the
    exact brute-force top-5 (ann01's), per query — the acceptance gate an
    index rebuild ships with; run it after every quantizer retrain
    (cl01/dq04 tell you WHEN, this tells you HOW MUCH recall the new
    cells cost).  Both top-k frames are O(queries × k), so the evaluation
    is free next to the searches; 0-recall queries stay visible via the
    left join (operators/similarity.py recall_at_k)."""
    from cnics_to_fhir_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5)
    return similarity.recall_at_k(approx, exact, k=5)


# ---------------------------------------------------------------------------
# dc04 — k-anonymity generalization over a quasi-identifier tuple
# ---------------------------------------------------------------------------
@query(
    "dc04_k_anonymity",
    tags="DC A5 J8",
    oracle="""
        WITH g AS (
            SELECT lang, source, COUNT(*) AS n_group
            FROM documents GROUP BY 1, 2
        )
        SELECT d.doc_id,
               CASE WHEN g.n_group >= 5 THEN d.lang ELSE '*' END AS lang_k,
               CASE WHEN g.n_group >= 5 THEN d.source ELSE '*' END AS source_k,
               CAST(g.n_group AS BIGINT) AS n_group,
               g.n_group >= 5 AS is_anonymous
        FROM documents d
        JOIN g ON d.lang IS NOT DISTINCT FROM g.lang
              AND d.source IS NOT DISTINCT FROM g.source
    """,
)
def dc04_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity (k=5) over the (lang, source) quasi-identifier tuple:
    docs in tuples rarer than 5 get BOTH attributes generalized to '*' —
    rare combinations re-identify even when each value alone is common, so
    the suppression unit is the tuple.  The corpus-release privacy gate
    that runs alongside dc02's PII regexes; n_group keeps the audit
    honest (the output states every group size the gate saw).  One
    map-side-combined tuple count + one broadcast lookup join back — the
    corpus never shuffles at this tuple cardinality
    (operators/curation.k_anonymize)."""
    from cnics_to_fhir_spark.operators import curation

    return curation.k_anonymize(
        table(spark, sf_dir, "documents"), quasi_cols=["lang", "source"], k=5
    )


# ---------------------------------------------------------------------------
# dc06 — l-diversity (homogeneity-attack gate on a sensitive attribute)
# ---------------------------------------------------------------------------
@query(
    "dc06_l_diversity",
    tags="DC A5 J8",
    oracle="""
        WITH s AS (
            SELECT doc_id, lang, source,
                   CAST(n_chars % 5 AS VARCHAR) AS length_class
            FROM documents
        ),
        g AS (
            SELECT lang, source,
                   CAST(COUNT(*) AS BIGINT) AS n_group,
                   CAST(COUNT(DISTINCT length_class) AS BIGINT) AS n_sensitive
            FROM s GROUP BY 1, 2
        )
        SELECT s.doc_id, s.lang, s.source,
               CASE WHEN g.n_sensitive >= 4 THEN s.length_class
                    ELSE '*' END AS length_class_l,
               g.n_group, g.n_sensitive,
               g.n_sensitive >= 4 AS is_diverse
        FROM s JOIN g ON s.lang IS NOT DISTINCT FROM g.lang
                     AND s.source IS NOT DISTINCT FROM g.source
    """,
)
def dc06_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dc04's blind spot closed: a (lang, source) group can be k-anonymous
    and still disclose a sensitive attribute when (almost) every member
    shares it — membership alone reveals the value (the homogeneity
    attack).  l-diversity (l=4) requires ≥ 4 distinct sensitive values
    per quasi group; failing groups have the SENSITIVE column suppressed
    for all members (the quasi columns stay — dc04 governs those), and
    the output carries n_group/n_sensitive so the audit states exactly
    what the gate saw.  Same scale shape as dc04: one map-side tuple
    aggregation + one broadcast lookup join, the corpus never shuffles
    (operators/curation.l_diversify)."""
    from cnics_to_fhir_spark.operators import curation

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") % 5).cast("string").alias("length_class"),
    )
    return curation.l_diversify(
        docs, quasi_cols=["lang", "source"], sensitive_col="length_class", l=4
    )


# ---------------------------------------------------------------------------
# tx11 — Zipf rank-frequency fit per language (integer-exact regression)
# ---------------------------------------------------------------------------
@query(
    "tx11_zipf_fit",
    tags="TX A5 W F18",
    oracle="""
        WITH toks AS (
            SELECT lang AS grp, UNNEST(string_split(text, ' ')) AS tok
            FROM documents
        ),
        freq AS (
            SELECT grp, tok, COUNT(*) AS cnt
            FROM toks WHERE tok <> '' GROUP BY 1, 2
        ),
        ranked AS (
            SELECT grp, cnt,
                   ROW_NUMBER() OVER (PARTITION BY grp
                                      ORDER BY cnt DESC, tok ASC) AS r
            FROM freq
        ),
        pts AS (
            SELECT grp,
                   CAST(FLOOR(ln(CAST(r AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS xq,
                   CAST(FLOOR(ln(CAST(cnt AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS yq
            FROM ranked WHERE r <= 100
        ),
        agg AS (
            SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xq) AS BIGINT) AS sx,
                   CAST(SUM(yq) AS BIGINT) AS sy,
                   CAST(SUM(xq*yq) AS BIGINT) AS sxy,
                   CAST(SUM(xq*xq) AS BIGINT) AS sxx
            FROM pts GROUP BY 1
        )
        SELECT grp AS lang, n AS n_ranks,
               FLOOR((CAST(n*sxy - sx*sy AS DOUBLE)
                      / CAST(n*sxx - sx*sx AS DOUBLE))*1e6 + 0.5)/1e6 AS slope,
               FLOOR(((CAST(sy AS DOUBLE)
                       - (CAST(n*sxy - sx*sy AS DOUBLE)
                          / CAST(n*sxx - sx*sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) / 1e6)*1e6 + 0.5)/1e6 AS intercept
        FROM agg
        WHERE n*sxx - sx*sx <> 0
    """,
)
def tx11_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope per language: least-squares fit of ln(freq) vs
    ln(rank) over the top-100 token ranks — natural text sits near −1;
    template spam and broken encodings bend the line, so a slope drifting
    between crawls is a curation alarm next to dq01's PSI.  tx07's
    micro-nat quantization applied to REGRESSION: both logs quantize to
    integer micro-nats before the five regression sums accumulate as
    exact BIGINTs, and slope/intercept are each one float expression over
    those exact sums — bit-identical on both engines.  Vocab-bounded
    count agg, top-100 cut, O(languages) regression rows
    (operators/textanalysis.zipf_fit)."""
    return textanalysis.zipf_fit(
        table(spark, sf_dir, "documents"), text_col="text", group_col="lang", top_n=100
    )


# ---------------------------------------------------------------------------
# o06 — footer-stats file skipping (Delta/Iceberg-style data skipping on
# plain parquet)
# ---------------------------------------------------------------------------
@query(
    "o06_stats_file_skipping",
    tags="O-layout S1 A5",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT))/100.0 AS revenue
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-12-31 00:00:00'
        GROUP BY 1
    """,
)
def o06_stats_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage-layout lever j13 (partition pruning) and o05 (z-order)
    don't cover: FILE-level min/max skipping on plain parquet, the thing a
    Delta log / Iceberg manifest does.  Setup writes orders range-
    partitioned on o_orderdate into 8 files (tight disjoint envelopes —
    the layout ingest should produce); the read builds the footer-stats
    manifest DISTRIBUTED (executors read only footers, no data pages),
    prunes the file list to the ~2 files intersecting the 1996 range, and
    ASSERTS the prune actually pruned (fails loudly rather than silently
    full-scanning).  The residual BETWEEN still applies — stats are an
    envelope, not a guarantee — and revenue sums in exact integer cents.
    Scratch lifecycle follows j13: results materialize before the scratch
    dir is removed (sources/file_stats.py)."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.session import scratch_name
    from cnics_to_fhir_spark.sources.file_stats import read_with_file_skipping

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "o06_files"))
    try:
        (
            table(spark, sf_dir, "orders")
            .select("o_orderdate", "o_totalprice")
            .repartitionByRange(8, "o_orderdate")
            .write.mode("overwrite")
            .parquet(path)
        )
        pruned, n_total, n_kept = read_with_file_skipping(
            spark, path, "o_orderdate", "1996-01-01T00:00:00", "1996-12-31T00:00:00"
        )
        if not 0 < n_kept < n_total:
            raise AssertionError(
                f"file skipping pruned nothing: kept {n_kept}/{n_total}"
            )
        agg = pruned.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
                / F.lit(100.0)
            ).alias("revenue"),
        )
        out = detach_result(agg)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# ann11 — MMR-diversified top-k (relevant-but-diverse retrieval)
# ---------------------------------------------------------------------------
@query("ann11_mmr_diversified", tags="ANN-mmr J1 W UDF", oracle=None)
def ann11_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-5 from each query's
    exact top-20 pool (λ=0.7): plain top-k returns k near-copies when the
    corpus has dup clusters; MMR trades relevance against similarity to
    the already-selected set — the retrieval-augmented-data-selection
    recipe.  Candidate generation is ann01's distributed scan; the
    inherently-sequential greedy runs per query in applyInPandas over
    20-row groups (numpy pool×pool sims; no driver collect).  Rows-only:
    greedy selection is not SQL-expressible; pinned by pytest against an
    independent pure-numpy reference (operators/similarity.mmr_rerank)."""
    from cnics_to_fhir_spark.operators import similarity as sim

    emb = table(spark, sf_dir, "embeddings")
    return sim.mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 8), k=5, pool=20, lam=0.7
    )


# ---------------------------------------------------------------------------
# u03 — schema-evolution scan (mergeSchema over mixed-generation files)
# ---------------------------------------------------------------------------
@query(
    "u03_schema_evolution_scan",
    tags="SET S1 F18 A5",
    oracle="""
        WITH merged AS (
            SELECT o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 1
        )
        SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT))/100.0 AS revenue
        FROM merged GROUP BY 1
    """,
)
def u03_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution the way it actually lands in a lake: generation-1
    files were written before a column existed, generation-2 files carry
    it, and BOTH live in one directory.  Setup writes the even-key half of
    orders without o_orderpriority and the odd-key half with it; the read
    is one ``mergeSchema`` scan that reconciles the footers and fills the
    missing column with NULL for old files — no rewrite of historical
    data, which at 100 TB is the entire point (backfill = optional, lazy,
    incremental).  The aggregation groups over the evolved column with the
    NULL generation kept visible as '<pre-evolution>'; revenue sums in
    exact integer cents.  Scratch lifecycle follows o06/j13
    (docstring refs: spark.read.option("mergeSchema") — the scan must
    reconcile footers, not trust the first file's schema)."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.session import scratch_name

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "u03_files"))
    try:
        orders = table(spark, sf_dir, "orders")
        # independent generation writes — overlap on two driver threads
        # (guide §2.6; each is a 1-task coalesced write by design)
        def _gen1():
            (
                orders.filter(F.col("o_orderkey") % 2 == 0)
                .select("o_orderkey", "o_totalprice")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, "gen=1"))
            )

        def _gen2():
            (
                orders.filter(F.col("o_orderkey") % 2 == 1)
                .select("o_orderkey", "o_totalprice", "o_orderpriority")
                .coalesce(1)
                .write.mode("append")
                .parquet(os.path.join(path, "gen=2"))
            )

        overlap(spark, _gen1, _gen2)
        merged = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(path, "gen=1"), os.path.join(path, "gen=2")
        )
        agg = merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias(
                "priority"
            )
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
                / F.lit(100.0)
            ).alias("revenue"),
        )
        out = detach_result(agg)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# j15 — MERGE INTO a partitioned parquet table (copy-on-write sink,
# end-to-end: plan → apply → read back)
# ---------------------------------------------------------------------------
@query(
    "j15_merge_table_sink",
    tags="J6 S-sink A5 O-layout",
    oracle="""
        WITH existing AS (
            SELECT o_orderkey AS key, o_totalprice AS val,
                   CAST(year(o_orderdate) AS INTEGER) AS y
            FROM orders
        ),
        cur AS (
            -- 1996's refreshed snapshot: keys %3=0 vanish, %3=1 get +1.5,
            -- and a re-keyed insert wave arrives
            SELECT key, val + 1.5 AS val, y FROM existing
            WHERE y = 1996 AND key % 3 = 1
            UNION ALL
            SELECT key, val, y FROM existing WHERE y = 1996 AND key % 3 = 2
            UNION ALL
            SELECT key + 1000000000 AS key, val, y FROM existing
            WHERE y = 1996 AND key % 100 = 0
        ),
        final AS (
            SELECT key, val, y FROM existing WHERE y <> 1996
            UNION ALL
            SELECT key, val, y FROM cur
        )
        SELECT y, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(val*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM final GROUP BY 1
    """,
)
def j15_merge_table_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The copy-on-write MERGE sink driven end-to-end and ORACLE-verified:
    orders lands as a year-partitioned parquet table; a refreshed 1996
    snapshot (a third of the keys gone, a third repriced, an insert wave
    re-keyed above the id range) goes through merge_plan → merge_into_table;
    the table is read BACK and aggregated.  Only the 1996 partition is
    rewritten — the entry ASSERTS partitions_rewritten == 1 and that the
    merge's own accounting matches the fixture construction — while the
    other years' bytes are never touched (pinned physically in
    tests/test_table_merge.py).  The oracle computes the converged state
    declaratively: (existing ∖ 1996) ∪ refreshed-1996
    (load/table_merge.merge_into_table; SURVEY §7.3's 'MERGE INTO as an
    alternative reconciliation sink')."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.load.table_merge import merge_into_table
    from cnics_to_fhir_spark.operators.merge import merge_plan
    from cnics_to_fhir_spark.session import scratch_name

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "j15_table"))
    try:
        base = table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("key"),
            F.col("o_totalprice").alias("val"),
            F.year("o_orderdate").cast("int").alias("y"),
        )
        # repartition on the partition column first: without it every one
        # of the 32 tasks emits a file into every year dir (224 tiny files);
        # with it each year is one file — the write is faster AND the merge
        # reads back a sane layout
        base.repartition("y").write.mode("overwrite").partitionBy("y").parquet(path)

        y96 = base.filter(F.col("y") == 1996)
        current = (
            y96.filter(F.col("key") % 3 == 1)
            .select("key", (F.col("val") + 1.5).alias("val"), "y")
            .unionByName(y96.filter(F.col("key") % 3 == 2).select("key", "val", "y"))
            .unionByName(
                y96.filter(F.col("key") % 100 == 0).select(
                    (F.col("key") + 1_000_000_000).alias("key"), "val", "y"
                )
            )
        )
        existing = y96.select("key", F.col("key").cast("string").alias("id"))
        plan = merge_plan(
            current, existing, keys=["key"], payload_cols=["val"]
        ).withColumn("y", F.lit(1996))
        counts = merge_into_table(
            spark, path, plan, key_col="key", partition_col="y",
            files_per_partition=1,
        )
        if counts["partitions_rewritten"] != 1:
            raise AssertionError(
                f"copy-on-write violated: rewrote {counts['partitions_rewritten']} "
                "partitions, expected exactly the 1996 one"
            )
        if counts["noop_missing_key"] != 0 or counts["inserted"] == 0:
            raise AssertionError(f"merge accounting off: {counts}")
        agg = (
            spark.read.parquet(path)
            .groupBy("y")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")).alias(
                    "cents"
                ),
            )
        )
        out = detach_result(agg)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


# ===========================================================================
# Round 8 additions
# ===========================================================================

# ---------------------------------------------------------------------------
# s05 — FHIR snapshot replay from canned bundles (oracle parity for S5/S6)
# ---------------------------------------------------------------------------
@query(
    "s05_fhir_snapshot_replay",
    tags="S5 S6 F20 F21",
    oracle="""
        SELECT CASE WHEN c_custkey % 2 = 0 THEN 'Patient'
                    ELSE 'Condition' END AS resource_type,
               'r' || c_custkey AS id,
               CASE WHEN c_custkey % 2 = 0 THEN NULL
                    ELSE 'Patient/p' || c_custkey END AS subject_ref,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 'urn:cnics' END AS identifier_0_system,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 'v' || c_custkey END AS identifier_0_value,
               c_custkey % 7 <> 0 AS has_identifier
        FROM customer
    """,
)
def s05_fhir_snapshot_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S5/S6 bundle-parse path under the ORACLE gate (it was pytest-only
    — necessarily, for HTTP — until now): deterministic FHIR search-set
    Bundles are built FROM the customer table (50 resources per bundle;
    every 7th resource omits ``identifier`` entirely, every 3rd carries
    TWO identifiers, odd keys are Conditions with a subject reference),
    serialized to real Bundle JSON with to_json, then replayed through
    ``sources/fhir.snapshot_from_bundles`` — the same from_json/explode
    parse a bundle-export ingest runs.  The oracle computes the expected
    snapshot directly from customer, so a parse that drops entries,
    surfaces the wrong identifier element, or mis-states
    ``has_identifier`` (the identifier[0] quirk, cnics_to_fhir.py:556/:652)
    hash-mismatches.  Scale shape: pure columnar JSON construct+parse, no
    UDFs; bundles group map-side (50-entry lists, bounded state)."""
    from cnics_to_fhir_spark.sources.fhir import snapshot_from_bundles

    k = F.col("c_custkey")
    one_ident = F.array(
        F.struct(
            F.lit("urn:cnics").alias("system"),
            F.concat(F.lit("v"), k).alias("value"),
        )
    )
    two_ident = F.array(
        F.struct(
            F.lit("urn:cnics").alias("system"),
            F.concat(F.lit("v"), k).alias("value"),
        ),
        F.struct(
            F.lit("urn:other").alias("system"),
            F.concat(F.lit("x"), k).alias("value"),
        ),
    )
    ent = table(spark, sf_dir, "customer").select(
        F.floor(k / 50).alias("g"),
        F.struct(
            F.struct(
                F.when(k % 2 == 0, F.lit("Patient"))
                .otherwise(F.lit("Condition"))
                .alias("resourceType"),
                F.concat(F.lit("r"), k).alias("id"),
                F.when(
                    k % 2 != 0,
                    F.struct(
                        F.concat(F.lit("Patient/p"), k).alias("reference")
                    ),
                ).alias("subject"),
                F.when(
                    k % 7 != 0,
                    F.when(k % 3 == 0, two_ident).otherwise(one_ident),
                ).alias("identifier"),
            ).alias("resource")
        ).alias("e"),
    )
    bundles = ent.groupBy("g").agg(
        F.count(F.lit(1)).alias("total"),
        F.collect_list("e").alias("entry"),
    )
    json_df = bundles.select(
        F.to_json(F.struct(F.col("total"), F.col("entry"))).alias("bundle_json")
    )
    return snapshot_from_bundles(json_df)


# ---------------------------------------------------------------------------
# o06b — persisted multi-column manifest skipping (the million-file tier)
# ---------------------------------------------------------------------------
@query(
    "o06b_manifest_file_skipping",
    tags="O-layout S3 J8",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               FLOOR(SUM(FLOOR(o_totalprice*100 + 0.5))) / 100.0 AS revenue
        FROM orders
        WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
          AND o_custkey BETWEEN 100 AND 100000
        GROUP BY o_orderpriority
    """,
)
def o06b_manifest_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """o06's file skipping graduated to the persisted-manifest tier: the
    footer sweep runs ONCE at write time (``write_stats_manifest``, all
    stat columns in one distributed pass) and lands as its own parquet
    table; the query prunes by filtering THAT table — no footer I/O at
    query time, and the driver collects only the surviving paths (O(kept),
    not O(total) — o06's ``collect()`` of the full manifest is fine at
    thousands of files, not at millions).  Predicates are conjunctive
    multi-column envelopes (date range × numeric custkey range — the
    numeric side exercises typed Decimal comparison, where lexicographic
    '9' > '10' pruning would silently drop files).  Asserts the prune
    actually pruned; residual filters still apply (envelopes are not
    guarantees).  Mirrors Iceberg's manifest + inclusive-metrics-evaluator
    design on plain parquet."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.session import scratch_name
    from cnics_to_fhir_spark.sources.file_stats import (
        read_with_manifest_skipping,
        write_stats_manifest,
    )

    root = os.path.join(tempfile.gettempdir(), scratch_name(spark, "o06b"))
    path, man_path = os.path.join(root, "data"), os.path.join(root, "manifest")
    try:
        (
            table(spark, sf_dir, "orders")
            .select("o_orderdate", "o_custkey", "o_orderpriority", "o_totalprice")
            .repartitionByRange(8, "o_orderdate")
            .write.mode("overwrite")
            .parquet(path)
        )
        write_stats_manifest(spark, path, ["o_orderdate", "o_custkey"], man_path)
        pruned, n_total, n_kept = read_with_manifest_skipping(
            spark,
            man_path,
            {
                "o_orderdate": ("1996-01-01", "1996-12-31"),
                "o_custkey": (100, 100000),
            },
        )
        if not 0 < n_kept < n_total:
            raise AssertionError(
                f"manifest skipping pruned nothing: kept {n_kept}/{n_total}"
            )
        agg = pruned.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
                / F.lit(100.0)
            ).alias("revenue"),
        )
        out = detach_result(agg)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# lb01 — annotation majority vote + agreement (RLHF-label aggregation)
# ---------------------------------------------------------------------------
@query(
    "lb01_majority_vote",
    tags="LB A3 A4 A5",
    oracle="""
        WITH votes AS (
            SELECT event_id % 199 AS item_id, user_id, event_type, ts, event_id
            FROM events
        ),
        latest AS (
            SELECT item_id, user_id, event_type FROM (
                SELECT item_id, user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM votes
            ) WHERE rn = 1
        ),
        hist AS (
            SELECT item_id, event_type AS label, CAST(COUNT(*) AS BIGINT) AS c
            FROM latest GROUP BY 1, 2
        ),
        agg AS (
            SELECT item_id,
                   CAST(SUM(c) AS BIGINT) AS n_votes,
                   CAST(COUNT(*) AS BIGINT) AS n_labels,
                   CAST(SUM(c*(c-1)) AS BIGINT) AS ap
            FROM hist GROUP BY 1
        ),
        win AS (
            SELECT item_id, label, c FROM (
                SELECT item_id, label, c,
                       ROW_NUMBER() OVER (PARTITION BY item_id
                                          ORDER BY c DESC, label ASC) AS rn
                FROM hist
            ) WHERE rn = 1
        )
        SELECT a.item_id, w.label AS winner_label,
               CAST(w.c AS BIGINT) AS winner_votes,
               a.n_votes, a.n_labels,
               CAST(w.c * 1000000 // a.n_votes AS BIGINT) AS winner_share_q,
               CASE WHEN a.n_votes > 1
                    THEN CAST(a.ap * 1000000 // (a.n_votes*(a.n_votes-1)) AS BIGINT)
               END AS pairwise_agree_q
        FROM agg a JOIN win w USING (item_id)
    """,
)
def lb01_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-campaign aggregation: events replayed as annotation votes
    (item = event_id mod 199, annotator = user_id, label = event_type) —
    each annotator collapses to their LATEST vote per item, the item takes
    the most-voted label (ties → lexicographically smallest), and per-item
    agreement ships alongside: winner share plus Fleiss-style pairwise
    observed agreement, both in exact integer micro-units.  The front door
    of every preference/label dataset build — low-agreement items get
    re-queued, not trained on.  Two map-side-combinable keyed aggregations,
    no windows, no driver state (operators/labels.py majority_label)."""
    from cnics_to_fhir_spark.operators.labels import majority_label

    e = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 199).alias("item_id"),
        F.col("user_id").alias("annotator_id"),
        F.col("event_type").alias("label"),
        "ts",
        "event_id",
    )
    return majority_label(
        e, item_col="item_id", annotator_col="annotator_id", label_col="label",
        ts_col="ts", vote_id_col="event_id",
    )


# ---------------------------------------------------------------------------
# ev12 — as-of join with a staleness tolerance
# ---------------------------------------------------------------------------
@query(
    "ev12_asof_tolerance",
    tags="AJ J1 W E1",
    oracle="""
        WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
             v AS (SELECT user_id, ts, MIN(value) AS value
                   FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
        SELECT c.event_id, c.user_id,
               STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               CASE WHEN v.ts IS NOT NULL
                         AND CAST(FLOOR(epoch(c.ts)) AS BIGINT)
                             - CAST(FLOOR(epoch(v.ts)) AS BIGINT) <= 600
                    THEN STRFTIME(v.ts, '%Y-%m-%d %H:%M:%S') END AS view_ts,
               CASE WHEN v.ts IS NOT NULL
                         AND CAST(FLOOR(epoch(c.ts)) AS BIGINT)
                             - CAST(FLOOR(epoch(v.ts)) AS BIGINT) <= 600
                    THEN ROUND(v.value, 2) END AS view_value
        FROM c ASOF LEFT JOIN v
          ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def ev12_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aj01's point-in-time lookup with a 10-minute staleness bound — a
    'view' older than the tolerance must NOT enrich the click (training on
    stale features leaks a world state the model won't have at serving
    time), so it becomes NULL instead.  Because the as-of match is always
    the LATEST prior row, the bound is a pure post-projection: same single
    keyed shuffle as aj01, no second pass (operators/asof.py
    asof_join_tolerance; tolerance compares whole epoch seconds on both
    engines)."""
    from cnics_to_fhir_spark.operators.asof import asof_join_tolerance

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join_tolerance(
        clicks, views, on="user_id", ts_col="ts", payload_cols=["value"],
        tolerance_seconds=600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("matched_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.round("matched_value", 2).alias("view_value"),
    )


# ---------------------------------------------------------------------------
# dc05 — cross-document consistent pseudonymization
# ---------------------------------------------------------------------------
@query(
    "dc05_pii_pseudonymize",
    tags="DC F14 F22 J1 O1",
    oracle="""
        WITH marked AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN text || ' contact user' || CAST(doc_id % 53 AS VARCHAR)
                             || '@example.com'
                        ELSE text END AS text
            FROM documents
        ),
        ents AS (
            SELECT doc_id,
                   UNNEST(list_distinct(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS entity
            FROM marked
        ),
        dict AS (
            SELECT entity, ROW_NUMBER() OVER (ORDER BY entity) AS rank
            FROM (SELECT DISTINCT entity FROM ents)
        ),
        pairs AS (SELECT doc_id, entity, rank FROM ents JOIN dict USING (entity))
        SELECT m.doc_id,
               CASE WHEN p.entity IS NULL THEN m.text
                    ELSE replace(m.text, p.entity,
                                 '<EMAIL_' || CAST(p.rank AS VARCHAR) || '>')
               END AS redacted,
               CAST(CASE WHEN p.entity IS NULL THEN 0 ELSE 1 END AS BIGINT)
                   AS n_entities
        FROM marked m LEFT JOIN pairs p USING (doc_id)
    """,
)
def dc05_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent pseudonymization of planted emails (doc_id-residue
    planting, dc02's convention — ~53 distinct addresses repeated across
    half the corpus): every occurrence of the same address becomes the
    same stable <EMAIL_k> token corpus-wide, k = the address's dense rank
    in the global entity dictionary.  Linkage survives ("these documents
    share an author contact"), the value doesn't — redaction that keeps
    joins alive.  The dictionary is built with global_rank (no single-task
    window) and joins back on the entity key; it is never collected or
    broadcast, because in a real crawl it is unbounded
    (operators/curation.py pseudonymize_entities)."""
    from cnics_to_fhir_spark.operators.curation import pseudonymize_entities

    did = F.col("doc_id")
    marked = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            did % 2 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                (did % 53).cast("string"),
                F.lit("@example.com"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pseudonymize_entities(
        marked,
        pattern=r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        tag="EMAIL",
    )


# ---------------------------------------------------------------------------
# dd14 — embedding-space benchmark decontamination
# ---------------------------------------------------------------------------
@query(
    "dd14_semantic_decontaminate",
    tags="DC DD-cosine J8 A5",
    oracle="""
        WITH b AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS bv
            FROM embeddings WHERE vec_id % 97 = 0
        ),
        c AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id % 97 <> 0
        ),
        scored AS (
            SELECT c.vec_id,
                   FLOOR((list_dot_product(c.cv, b.bv)
                         / (SQRT(list_dot_product(c.cv, c.cv))
                            * SQRT(list_dot_product(b.bv, b.bv))))*1e6 + 0.5)/1e6
                       AS cos
            FROM c JOIN b ON c.label = b.label
        ),
        hits AS (
            SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_benchmark_hits,
                   MAX(cos) AS max_cosine_q
            FROM scored WHERE cos >= 0.35 GROUP BY 1
        )
        SELECT c.vec_id,
               CAST(COALESCE(h.n_benchmark_hits, 0) AS BIGINT) AS n_benchmark_hits,
               h.max_cosine_q,
               COALESCE(h.n_benchmark_hits, 0) > 0 AS is_contaminated
        FROM c LEFT JOIN hits h USING (vec_id)
    """,
)
def dd14_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination: ~1% of the vectors (vec_id
    divisible by 97) play the eval suite; every remaining corpus vector is
    checked for cosine ≥ 0.35 against any benchmark vector IN ITS COARSE
    CELL.  dc01 catches verbatim n-gram leakage; paraphrased eval items
    surface here, in embedding space — the second gate before a benchmark
    score means anything.  The benchmark side broadcasts (eval suites are
    small by definition), the corpus never shuffles, and clean rows stay
    visible as 0-hit rows so gate coverage is auditable
    (operators/curation.py semantic_decontaminate)."""
    from cnics_to_fhir_spark.operators.curation import semantic_decontaminate

    emb = table(spark, sf_dir, "embeddings")
    benchmark = emb.filter(F.col("vec_id") % 97 == 0)
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    return semantic_decontaminate(corpus, benchmark, threshold=0.35)


# ---------------------------------------------------------------------------
# tx12 — feature-hashed TF-IDF document vectors (sparse, integer-exact)
# ---------------------------------------------------------------------------
@query(
    "tx12_tfidf_hashed",
    tags="TX A5 J1 F18",
    oracle="""
        WITH toks AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE tok <> '' GROUP BY 1, 2
        ),
        dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        idf AS (
            SELECT tok,
                   CAST(FLOOR(ln(CAST(n_docs + 1 AS DOUBLE)/(df + 1))*1e6 + 0.5)
                        AS BIGINT) AS idf_q
            FROM dfreq, n
        )
        SELECT tf.doc_id,
               CAST(CAST(('0x' || substring(md5(tf.tok), 1, 15)) AS UBIGINT) % 64
                    AS INTEGER) AS dim,
               CAST(SUM(tf.tf * idf.idf_q) AS BIGINT) AS weight_q
        FROM tf JOIN idf USING (tok)
        GROUP BY 1, 2
    """,
)
def tx12_tfidf_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed TF-IDF doc vectors, sparse (doc, dim, weight_q) rows
    — the classical no-model document embedding, feeding the same
    consumers as the neural ``embeddings`` table (near-dup, clustering,
    drift).  idf quantizes to integer micro-nats BEFORE the weighted sum
    (tx07's convention), tf is an exact count, the hash is the portable
    md5 prefix — every weight is a BIGINT sum of BIGINT products, no
    float accumulation.  Three map-side-combinable aggregations + one
    vocabulary-keyed join; N rides in as a one-row broadcast
    (operators/textanalysis.py tfidf_hashed)."""
    from cnics_to_fhir_spark.operators.textanalysis import tfidf_hashed

    return tfidf_hashed(table(spark, sf_dir, "documents"), dims=64)


# ---------------------------------------------------------------------------
# a21 — mergeable quantile summary sketch (exact-arithmetic, oracle-checked)
# ---------------------------------------------------------------------------
@query(
    "a21_quantile_sketch",
    tags="A5 APPROX W DS",
    oracle="""
        WITH s AS (
            SELECT event_type AS grp, value AS v, event_id AS k,
                   CAST(CAST(('0x' || substring(
                       md5(CAST(event_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 32
                       AS INTEGER) AS salt
            FROM events
        ),
        ranked AS (
            SELECT grp, salt, v,
                   ROW_NUMBER() OVER (PARTITION BY grp, salt ORDER BY v, k) AS r,
                   COUNT(*) OVER (PARTITION BY grp, salt) AS m
            FROM s
        ),
        centroids AS (
            SELECT grp, salt, ((r - 1) * 64) // m AS chunk,
                   MAX(v) AS cv, CAST(COUNT(*) AS BIGINT) AS cw
            FROM ranked GROUP BY 1, 2, 3
        ),
        merged AS (
            SELECT grp, cv, CAST(SUM(cw) AS BIGINT) AS w
            FROM centroids GROUP BY 1, 2
        ),
        cum AS (
            SELECT grp, cv, w,
                   SUM(w) OVER (PARTITION BY grp ORDER BY cv
                                ROWS UNBOUNDED PRECEDING) AS c
            FROM merged
        ),
        tot AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tw FROM merged GROUP BY 1),
        t AS (SELECT CAST(UNNEST([50, 90, 99]) AS INTEGER) AS pct)
        SELECT cum.grp AS event_type, t.pct, cum.cv AS value, tot.tw AS n_rows
        FROM cum JOIN tot USING (grp), t
        WHERE (t.pct*tot.tw + 99)//100 <= cum.c
          AND (t.pct*tot.tw + 99)//100 > cum.c - cum.w
    """,
)
def a21_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable two-level quantile summary over event values per type —
    the t-digest SHAPE (shard-local weighted centroids, weight-merge,
    cumulative-weight query) in exact rank arithmetic, so unlike
    percentile_approx (a11, rows-only) this sketch is partition- and
    engine-independent and sits fully under the oracle.  32 md5 shards ×
    64 centroids: the corpus shuffles once on (group, shard), each shard
    sorts locally, and everything downstream is centroid-sized; rank
    error ≤ n/64 is pinned by pytest against the exact percentile
    (operators/sketches.py quantile_summary_sketch)."""
    from cnics_to_fhir_spark.operators.sketches import quantile_summary_sketch

    return quantile_summary_sketch(
        table(spark, sf_dir, "events"),
        value_col="value", group_col="event_type", key_col="event_id",
        pcts=(50, 90, 99), n_salts=32, delta=64,
    )


# ---------------------------------------------------------------------------
# lb02 — Bradley-Terry preference ratings (integer-exact MM iterations)
# ---------------------------------------------------------------------------
def _lb02_oracle(iters: int = 4) -> str:
    """Unrolled-iteration oracle for lb02: each MM step is one CTE pair
    (denominator join-agg, rating update) replaying the engine's integer
    arithmetic verbatim — DuckDB's `//` and Spark's DIV agree on
    positive BIGINTs."""
    steps = []
    for k in range(iters):
        steps.append(f"""
        d{k + 1} AS MATERIALIZED (
            SELECT p.i,
                   CAST(SUM(p.n * 1000000000000 // (ri.s + rj.s)) AS BIGINT) AS d
            FROM pairs p
            JOIN r{k} ri ON ri.i = p.i
            JOIN r{k} rj ON rj.i = p.j
            GROUP BY 1
        ),
        r{k + 1} AS MATERIALIZED (
            SELECT r.i,
                   CASE WHEN COALESCE(d.d, 0) > 0
                        THEN GREATEST(CAST(w.w * 1000000000000 // d.d AS BIGINT), 1)
                        ELSE r.s END AS s
            FROM r{k} r
            LEFT JOIN d{k + 1} d ON d.i = r.i
            JOIN winsg w ON w.i = r.i
        )""")
    return f"""
        WITH ranked AS (
            SELECT l.l_orderkey, p.p_brand,
                   ROW_NUMBER() OVER (PARTITION BY l.l_orderkey
                                      ORDER BY l.l_extendedprice DESC,
                                               l.l_linenumber ASC) AS rn
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        top2 AS (
            SELECT l_orderkey,
                   MAX(CASE WHEN rn = 1 THEN p_brand END) AS wb,
                   MAX(CASE WHEN rn = 2 THEN p_brand END) AS lb
            FROM ranked WHERE rn <= 2 GROUP BY 1
        ),
        m AS (SELECT wb AS a, lb AS b FROM top2
              WHERE lb IS NOT NULL AND wb <> lb),
        sym AS (SELECT a, b FROM m UNION ALL SELECT b AS a, a AS b FROM m),
        pairs AS MATERIALIZED (
            SELECT a AS i, b AS j, CAST(COUNT(*) AS BIGINT) AS n
            FROM sym GROUP BY 1, 2
        ),
        winraw AS (SELECT a AS i, CAST(COUNT(*) AS BIGINT) AS w FROM m GROUP BY 1),
        ents AS (SELECT DISTINCT i FROM pairs),
        winsg AS MATERIALIZED (
            SELECT e.i, CAST(COALESCE(wr.w, 0) AS BIGINT) AS w, g.g
            FROM ents e
            LEFT JOIN winraw wr ON wr.i = e.i
            JOIN (SELECT i, CAST(SUM(n) AS BIGINT) AS g
                  FROM pairs GROUP BY 1) g ON g.i = e.i
        ),
        r0 AS MATERIALIZED (SELECT i, CAST(1000000 AS BIGINT) AS s FROM ents),{",".join(steps)}
        SELECT w.i AS entity, r{iters}.s AS rating, w.w AS wins, w.g AS games
        FROM winsg w JOIN r{iters} ON r{iters}.i = w.i
    """


@query(
    "lb02_bradley_terry",
    tags="LB GR A5 W J8",
    oracle=_lb02_oracle(4),
)
def lb02_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength ratings over pairwise preferences — the
    reward-model-data staple (Chatbot-Arena-style ranking) run on a
    deterministic stand-in match log: within each order, the
    highest-extendedprice lineitem's brand 'beats' the runner-up's
    (rank ties broken by linenumber), cross-brand matches only.  Four MM
    iterations in exact integer micro-units (operators/labels.py
    bradley_terry): every pair term is one integer division, every
    denominator an exact BIGINT sum, so the oracle replays the unrolled
    iterations bit-for-bit — a float BT would diverge across engines on
    summation order alone.  The match derivation is one window over the
    order key; the iteration loop never touches the match log again,
    only the O(brands²) pair table."""
    from cnics_to_fhir_spark.operators.labels import bradley_terry
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_linenumber"
    )
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()
    )
    top2 = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("l_orderkey")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("p_brand"))).alias("wb"),
            F.max(F.when(F.col("rn") == 2, F.col("p_brand"))).alias("lb"),
        )
    )
    matches = top2.filter(
        F.col("lb").isNotNull() & (F.col("wb") != F.col("lb"))
    ).select(F.col("wb").alias("winner"), F.col("lb").alias("loser"))
    return bradley_terry(matches, iters=4)


# ---------------------------------------------------------------------------
# dq05 — declarative data-quality expectation suite
# ---------------------------------------------------------------------------
@query(
    "dq05_expectation_suite",
    tags="DQ A5 J5 E3",
    oracle="""
        SELECT 'quantity_in_1_50' AS check, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN COALESCE(NOT (l_quantity BETWEEN 1 AND 50),
                                           TRUE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
               SUM(CASE WHEN COALESCE(NOT (l_quantity BETWEEN 1 AND 50), TRUE)
                        THEN 1 ELSE 0 END) = 0 AS passed
        FROM lineitem
        UNION ALL
        SELECT 'extendedprice_positive', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN COALESCE(NOT (l_extendedprice > 0), TRUE)
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN COALESCE(NOT (l_extendedprice > 0), TRUE)
                        THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'shipdate_not_null', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'unique(o_orderkey)', CAST(SUM(c) AS BIGINT),
               CAST(SUM(c - 1) AS BIGINT), SUM(c - 1) = 0
        FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
        UNION ALL
        SELECT 'fk(o_custkey->c_custkey)',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)),
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)) = 0
    """,
)
def dq05_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-Expectations-shaped ingest gate as one suite table: three
    row-predicate checks over lineitem (all FUSED into a single scan —
    one aggregation, one conditional-sum per check, NULL predicate
    results counted as violations, never silently passed), o_orderkey
    uniqueness (one keyed count), and orders→customer referential
    integrity (distinct parent keys broadcast into a left-anti probe;
    NULL child keys are orphans).  The report is the artifact — a table
    CI diffs, not an assertion that dies on the first failure
    (operators/quality.py)."""
    from cnics_to_fhir_spark.operators import quality

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rows = quality.expect_rows(
        li,
        {
            "quantity_in_1_50": ~F.col("l_quantity").between(1, 50),
            "extendedprice_positive": ~(F.col("l_extendedprice") > 0),
            "shipdate_not_null": F.col("l_shipdate").isNull(),
        },
    )
    return quality.expectation_suite(
        rows,
        quality.expect_unique(o, ["o_orderkey"]),
        quality.expect_foreign_key(o, c, "o_custkey", "c_custkey"),
    )


# ---------------------------------------------------------------------------
# u04 — column-RENAME evolution via sidecar name mapping
# ---------------------------------------------------------------------------
@query(
    "u04_rename_evolution_scan",
    tags="SET S1 F18 A5",
    oracle="""
        WITH merged AS (
            SELECT o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 1
        )
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT))/100.0 AS revenue
        FROM merged GROUP BY 1
    """,
)
def u04_rename_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u03's missing half: a column was RENAMED between file generations
    (priority_code → o_orderpriority).  mergeSchema cannot express a
    rename — to a footer-merging scan the two names are two columns and
    the old generation's VALUES silently become NULLs under the new name
    (rows survive, data doesn't).  The table-format answer is metadata:
    a per-generation physical→logical name mapping (Iceberg name mapping)
    in a JSON sidecar, applied as a pure alias projection at scan time —
    historical files are never rewritten, and a mapping that names an
    absent column raises instead of silently resurrecting the shadowing
    bug.  The entry proves the point end-to-end: both generations'
    priorities aggregate under ONE logical column and revenue sums in
    exact integer cents across the rename boundary
    (sources/evolution.py read_with_name_mapping)."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.session import scratch_name
    from cnics_to_fhir_spark.sources.evolution import (
        read_with_name_mapping,
        write_name_mapping,
    )

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "u04_files"))
    try:
        orders = table(spark, sf_dir, "orders")
        # independent generation writes — overlap on two driver threads
        # (guide §2.6)
        def _gen1():
            (
                orders.filter(F.col("o_orderkey") % 2 == 0)
                .select(
                    "o_orderkey",
                    "o_totalprice",
                    F.col("o_orderpriority").alias("priority_code"),
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, "gen=1"))
            )

        def _gen2():
            (
                orders.filter(F.col("o_orderkey") % 2 == 1)
                .select("o_orderkey", "o_totalprice", "o_orderpriority")
                .coalesce(1)
                .write.mode("append")
                .parquet(os.path.join(path, "gen=2"))
            )

        overlap(spark, _gen1, _gen2)
        write_name_mapping(path, {"gen=1": {"priority_code": "o_orderpriority"}})
        merged = read_with_name_mapping(spark, path)
        if [f for f in merged.columns if f == "priority_code"]:
            raise AssertionError("physical name leaked through the mapping")
        agg = merged.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
                / F.lit(100.0)
            ).alias("revenue"),
        )
        out = detach_result(agg)
        # the rename boundary must be invisible: no NULL priority may exist
        # (probed on the checkpointed result — reads pinned blocks, not
        # the already-deleted fixture)
        if out.filter(F.col("priority").isNull()).limit(1).count():
            raise AssertionError(
                "rename shadowing: generation-1 values fell out of the logical column"
            )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# u05 — partition-SPEC evolution scan (layout changes between generations)
# ---------------------------------------------------------------------------
@query(
    "u05_partition_evolution_scan",
    tags="SET S1 P3 A5 O5",
    oracle="""
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT))/100.0 AS revenue
        FROM orders
        WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
        GROUP BY 1
    """,
)
def u05_partition_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third evolution axis after u03 (added columns) and u04
    (renames): the PARTITION SPEC itself changed between generations —
    gen 1 is laid out by ``o_orderstatus``, gen 2 by ``(o_orderstatus,
    o_orderpriority)`` — and a predicate on both columns must prune each
    generation as deeply as ITS directory tree allows: two levels in
    gen 2, one level + row filtering in gen 1.  Iceberg's partition
    evolution without the format: history keeps its layout forever (no
    100-TB rewrite to change a scheme), new data adopts the new spec, the
    sidecar declares each generation's layout and a declared/physical
    mismatch raises loudly — wrong pruning is silent data loss at read
    time.  The entry asserts the PHYSICAL pruning per generation (every
    surviving input file sits under the expected directory chain) and
    hash-checks the unioned aggregate against the raw table
    (sources/evolution.py read_with_partition_specs)."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.session import scratch_name
    from cnics_to_fhir_spark.sources.evolution import (
        read_with_partition_specs,
        write_partition_specs,
    )

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "u05_files"))
    try:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
        # the two generation writes are independent — overlap them on two
        # driver threads (guide §2.6)
        def _gen1():
            (
                orders.filter(F.col("o_orderkey") % 2 == 0)
                .repartition(F.col("o_orderstatus"))
                .write.mode("overwrite")
                .partitionBy("o_orderstatus")
                .parquet(os.path.join(path, "gen=1"))
            )

        def _gen2():
            (
                orders.filter(F.col("o_orderkey") % 2 == 1)
                .repartition(F.col("o_orderstatus"), F.col("o_orderpriority"))
                .write.mode("overwrite")
                .partitionBy("o_orderstatus", "o_orderpriority")
                .parquet(os.path.join(path, "gen=2"))
            )

        overlap(spark, _gen1, _gen2)
        write_partition_specs(
            path,
            {
                "gen=1": ["o_orderstatus"],
                "gen=2": ["o_orderstatus", "o_orderpriority"],
            },
        )
        merged = read_with_partition_specs(spark, path)
        hot = merged.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT")
        )
        # Physical pruning proof, per generation: every file the filtered
        # scan actually touches sits under the deepest directory chain its
        # generation's spec allows. O(kept files) — the pruned residue.
        touched = [
            r["f"]
            for r in hot.select(F.input_file_name().alias("f")).distinct().collect()
        ]
        for f in touched:
            if "/gen=1/" in f and "/o_orderstatus=F/" not in f:
                raise AssertionError(f"gen-1 scan escaped its status dir: {f}")
            if "/gen=2/" in f and (
                "/o_orderstatus=F/" not in f or "/o_orderpriority=1-URGENT/" not in f
            ):
                raise AssertionError(f"gen-2 scan escaped its pruned dirs: {f}")
        if not any("/gen=1/" in f for f in touched) or not any(
            "/gen=2/" in f for f in touched
        ):
            raise AssertionError("one generation vanished from the filtered scan")
        rows = hot.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
                / F.lit(100.0)
            ).alias("revenue"),
        ).collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, "status string, n_orders bigint, revenue double")


# ---------------------------------------------------------------------------
# ds13 — leakage-safe train/val/test split (near-dups never straddle)
# ---------------------------------------------------------------------------
@query(
    "ds13_leakage_safe_split",
    tags="DS DD-clusters GR A5",
    oracle="""
        WITH RECURSIVE base AS (
            SELECT doc_id AS id,
                   array_to_string((string_split(text, ' '))[1:4], ' ') AS block,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN list_transform(
                                   range(1, len(string_split(text, ' ')) - 1),
                                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                            ELSE [text]
                       END) AS shingles
            FROM documents
        ),
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
            WHERE FLOOR((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(a.shingles || b.shingles)))*1e6 + 0.5)/1e6 >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS id, src AS r FROM edges
            UNION
            SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
        ),
        comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
        assign AS (
            SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        )
        SELECT doc_id, rep,
               CASE WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 2) < 'c0'
                         THEN 'train'
                    WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 2) < 'e0'
                         THEN 'val'
                    ELSE 'test' END AS split
        FROM assign
    """,
)
def ds13_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split leakage is the quiet benchmark-inflation bug: a plain hash
    split (ds07) happily puts two near-duplicate documents in train and
    test, and the eval then grades memorization.  This entry splits by
    the near-dup CLUSTER instead — dd02's Jaccard pairs → star-contraction
    components (dd10's algorithm, O(log² n) rounds on the PAIR graph,
    never the corpus) → every member inherits its representative's md5
    bucket (75/12.5/12.5) — so no pair can straddle, BY CONSTRUCTION, and
    the entry ASSERTS it anyway (a zero-straddler count over the pair
    join; a silent guarantee is just a comment).  Corpus-side cost: one
    ids-keyed left join + a projection (operators/dataset.py
    leakage_safe_split)."""
    from cnics_to_fhir_spark.operators.dataset import leakage_safe_split

    docs = table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, block_words=4, threshold=0.5)
    pairs = pairs.localCheckpoint(eager=True)  # feeds the split AND the guard
    out = leakage_safe_split(docs, pairs).localCheckpoint(eager=True)
    a = out.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    b = out.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    straddlers = (
        pairs.join(a, "id_a").join(b, "id_b").filter(F.col("sa") != F.col("sb")).count()
    )
    if straddlers:
        raise AssertionError(
            f"leakage guard violated: {straddlers} near-dup pairs straddle splits"
        )
    return out


# ---------------------------------------------------------------------------
# lb03 — Fleiss' kappa: dataset-level chance-corrected agreement
# ---------------------------------------------------------------------------
@query(
    "lb03_fleiss_kappa",
    tags="LB A5 F18",
    oracle="""
        WITH votes AS (
            SELECT event_id % 199 AS item_id, user_id, event_type, ts, event_id
            FROM events
        ),
        latest AS (
            SELECT item_id, user_id, event_type FROM (
                SELECT item_id, user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM votes
            ) WHERE rn = 1
        ),
        hist AS (
            SELECT item_id, event_type AS label, CAST(COUNT(*) AS BIGINT) AS c
            FROM latest GROUP BY 1, 2
        ),
        per_item AS (
            SELECT item_id, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c*(c-1)) AS BIGINT) AS ap
            FROM hist GROUP BY 1
        ),
        rated AS (SELECT * FROM per_item WHERE n >= 2),
        po AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rated_items,
                   CAST(SUM(ap * 1000000 // (n*(n-1))) // COUNT(*) AS BIGINT)
                       AS po_q,
                   CAST(SUM(n) AS BIGINT) AS n_votes
            FROM rated
        ),
        pe AS (
            SELECT CAST(SUM(cl*cl) * 1000000 // (SUM(cl)*SUM(cl)) AS BIGINT)
                       AS pe_q
            FROM (SELECT h.label, CAST(SUM(h.c) AS BIGINT) AS cl
                  FROM hist h JOIN rated r USING (item_id) GROUP BY 1)
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM per_item)
        SELECT tot.n_items, po.n_rated_items, po.n_votes, po.po_q, pe.pe_q,
               CASE WHEN pe.pe_q < 1000000
                    THEN CAST((po.po_q - pe.pe_q) * 1000000
                              // (1000000 - pe.pe_q) AS BIGINT)
               END AS kappa_q
        FROM tot, po, pe
    """,
)
def lb03_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The label campaign's single health number: Fleiss' kappa
    (chance-corrected agreement) over the same vote log as lb01 — per-item
    shares can look respectable while kappa exposes that base-rate chance
    explains them (here the synthetic 'labels' are uniform event types, so
    kappa should sit near 0: the campaign-health gate would REJECT this
    corpus, which is exactly the point of running it).  Every step is
    integer-exact — per-item agreements quantize exactly like lb01's,
    their integer mean is P̄_o, P̄_e computes in DECIMAL(38,0) because
    Σc_l²·10⁶ wraps BIGINT past ~10⁷ votes, and κ is one integer division
    over exact micro-units (operators/labels.py fleiss_kappa)."""
    from cnics_to_fhir_spark.operators.labels import fleiss_kappa

    e = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 199).alias("item_id"),
        F.col("user_id").alias("annotator_id"),
        F.col("event_type").alias("label"),
        "ts",
        "event_id",
    )
    return fleiss_kappa(
        e, item_col="item_id", annotator_col="annotator_id", label_col="label",
        ts_col="ts", vote_id_col="event_id",
    )


# ---------------------------------------------------------------------------
# lb04 — per-annotator reliability vs the leave-one-out majority
# ---------------------------------------------------------------------------
@query(
    "lb04_annotator_reliability",
    tags="LB A3 A5 J1",
    oracle="""
        WITH votes AS (
            SELECT event_id % 199 AS item_id, user_id, event_type, ts, event_id
            FROM events
        ),
        latest AS (
            SELECT item_id, user_id, event_type FROM (
                SELECT item_id, user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM votes
            ) WHERE rn = 1
        ),
        hist AS (
            SELECT item_id, event_type AS label, CAST(COUNT(*) AS BIGINT) AS c
            FROM latest GROUP BY 1, 2
        ),
        n_item AS (SELECT item_id, SUM(c) AS n FROM hist GROUP BY 1),
        elig AS (
            SELECT l.item_id, l.user_id, l.event_type AS my_label
            FROM latest l JOIN n_item ni USING (item_id) WHERE ni.n >= 2
        ),
        fan AS (
            SELECT e.item_id, e.user_id, e.my_label, h.label AS hl,
                   h.c - CASE WHEN h.label = e.my_label THEN 1 ELSE 0 END AS adj
            FROM elig e JOIN hist h USING (item_id)
        ),
        loo AS (
            SELECT item_id, user_id, my_label, hl AS loo_winner FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                             ORDER BY adj DESC, hl ASC) AS rn
                FROM fan
            ) WHERE rn = 1
        )
        SELECT user_id AS annotator_id,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CASE WHEN my_label = loo_winner THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_agree,
               CAST(SUM(CASE WHEN my_label = loo_winner THEN 1 ELSE 0 END)
                    * 1000000 // COUNT(*) AS BIGINT) AS agree_share_q
        FROM loo GROUP BY 1
    """,
)
def lb04_annotator_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotator-quality scoring over the same campaign as lb01/lb03:
    each annotator graded against the LEAVE-ONE-OUT majority of every
    item they voted on (own vote removed — grading against the plain
    majority lets annotators prop up the very consensus they're scored
    by, and single-voter items become guaranteed hits).  The labeling-ops
    routing signal: low scorers get re-trained or down-weighted before
    their labels train anything.  Histogram fan-out is vocabulary-bounded,
    everything else is keyed aggregation — no windows past (item,
    annotator), no driver state (operators/labels.py
    annotator_reliability)."""
    from cnics_to_fhir_spark.operators.labels import annotator_reliability

    e = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 199).alias("item_id"),
        F.col("user_id").alias("annotator_id"),
        F.col("event_type").alias("label"),
        "ts",
        "event_id",
    )
    return annotator_reliability(
        e, item_col="item_id", annotator_col="annotator_id", label_col="label",
        ts_col="ts", vote_id_col="event_id",
    )


# ---------------------------------------------------------------------------
# ev13 — cohort retention matrix (integer period indexing, no calendar traps)
# ---------------------------------------------------------------------------
@query(
    "ev13_cohort_retention",
    tags="EV A1 A5 J8 F18",
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id,
                   date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS w
            FROM events
        ),
        first AS (SELECT user_id, MIN(w) AS cw FROM act GROUP BY 1),
        ret AS (
            SELECT f.cw AS cohort_period, a.w - f.cw AS offset_periods,
                   CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
            FROM act a JOIN first f USING (user_id) GROUP BY 1, 2
        ),
        sizes AS (
            SELECT cw AS cohort_period, CAST(COUNT(*) AS BIGINT) AS cohort_size
            FROM first GROUP BY 1
        )
        SELECT r.cohort_period, r.offset_periods, r.n_active, s.cohort_size,
               CAST(r.n_active * 1000000 // s.cohort_size AS BIGINT)
                   AS retention_rate_q
        FROM ret r JOIN sizes s USING (cohort_period)
    """,
)
def ev13_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events family's missing classic: weekly cohort retention —
    users bucketed by first-active week, every later week counting who
    returned.  Period index = days-since-epoch DIV 7, pure integer
    arithmetic: ISO-week-start and timezone-truncation conventions differ
    between engines and calendar-truncating implementations silently
    shear cohorts at those boundaries, so none are used.  Retention rate
    is exact micro-units; the offset-0 diagonal IS the cohort (rate 10⁶
    by construction).  One corpus-sized user-keyed join, everything else
    map-side aggregation; the size table broadcasts at O(cohorts)
    (operators/events_windows.py cohort_retention)."""
    from cnics_to_fhir_spark.operators.events_windows import cohort_retention

    return cohort_retention(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# lb05 — Dawid-Skene relabeling step (confusion-matrix annotator model)
# ---------------------------------------------------------------------------
@query(
    "lb05_dawid_skene_relabel",
    tags="LB A3 A5 J1 J8 F18",
    oracle="""
        WITH votes AS (
            SELECT event_id % 199 AS item_id, user_id, event_type, ts, event_id
            FROM events
        ),
        latest AS (
            SELECT item_id, user_id, event_type FROM (
                SELECT item_id, user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM votes
            ) WHERE rn = 1
        ),
        hist AS (
            SELECT item_id, event_type AS label, CAST(COUNT(*) AS BIGINT) AS c
            FROM latest GROUP BY 1, 2
        ),
        maj AS (
            SELECT item_id, label AS t0, n_votes FROM (
                SELECT h.item_id, h.label, h.c,
                       SUM(h.c) OVER (PARTITION BY h.item_id) AS n_votes,
                       ROW_NUMBER() OVER (PARTITION BY h.item_id
                                          ORDER BY h.c DESC, h.label ASC) AS rn
                FROM hist h
            ) WHERE rn = 1
        ),
        labs AS (SELECT DISTINCT event_type AS t FROM latest),
        nl AS (SELECT CAST(COUNT(*) AS DOUBLE) AS L FROM labs),
        tagged AS (
            SELECT l.item_id, l.user_id, l.event_type AS lab, m.t0
            FROM latest l JOIN maj m USING (item_id)
        ),
        conf AS (
            SELECT user_id, t0 AS t, lab AS l, CAST(COUNT(*) AS BIGINT) AS natl
            FROM tagged GROUP BY 1, 2, 3
        ),
        ctx AS (
            SELECT user_id, t, CAST(SUM(natl) AS BIGINT) AS nat
            FROM conf GROUP BY 1, 2
        ),
        prior AS (
            SELECT t0 AS t, CAST(COUNT(*) AS BIGINT) AS items_t
            FROM maj GROUP BY 1
        ),
        ni AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_items FROM maj),
        cand AS (
            SELECT v.item_id, v.user_id, v.event_type AS l, labs.t
            FROM latest v, labs
        ),
        scored AS (
            SELECT c.item_id, c.t,
                   CAST(FLOOR((ln(CAST(COALESCE(x.nat, 0) AS DOUBLE) + nl.L)
                               - ln(CAST(COALESCE(f.natl, 0) AS DOUBLE) + 1.0))
                              * 1e6) AS BIGINT) AS vcost
            FROM cand c
            LEFT JOIN conf f ON f.user_id = c.user_id AND f.t = c.t AND f.l = c.l
            LEFT JOIN ctx x ON x.user_id = c.user_id AND x.t = c.t, nl
        ),
        per_item AS (
            SELECT item_id, t, CAST(SUM(vcost) AS BIGINT) AS vsum
            FROM scored GROUP BY 1, 2
        ),
        pcost AS (
            SELECT labs.t,
                   CAST(FLOOR((ln(ni.n_items + nl.L)
                               - ln(CAST(COALESCE(p.items_t, 0) AS DOUBLE) + 1.0))
                              * 1e6) AS BIGINT) AS pc
            FROM labs LEFT JOIN prior p ON p.t = labs.t, nl, ni
        ),
        total AS (
            SELECT per_item.item_id, per_item.t, per_item.vsum + pcost.pc AS cost
            FROM per_item JOIN pcost USING (t)
        ),
        win AS (
            SELECT item_id, t AS ds_label, cost AS ds_cost_q FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY item_id
                                             ORDER BY cost ASC, t ASC) AS rn
                FROM total
            ) WHERE rn = 1
        )
        SELECT w.item_id, w.ds_label, CAST(w.ds_cost_q AS BIGINT) AS ds_cost_q,
               m.t0 AS majority_label, CAST(m.n_votes AS BIGINT) AS n_votes,
               (w.ds_label <> m.t0) AS changed
        FROM win w JOIN maj m USING (item_id)
    """,
)
def lb05_dawid_skene_relabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Dawid-Skene EM step over the lb01 campaign: per-annotator
    CONFUSION MATRICES conditioned on the majority estimate, then every
    item re-labeled by posterior argmax — the classic annotator model a
    step above lb04's flat reliability (a voter who systematically
    mistakes one label for another stops dragging items that way while
    still counting elsewhere).  tx09's integer micro-nat scheme makes the
    whole posterior exact BIGINT sums (Laplace-smoothed costs; absent
    confusion cells coalesce to the exact smoothed value, never NULL);
    ties break lexicographically.  Confusion tables are bounded by
    annotators × label-vocab²; the candidate fan-out is votes × L — the
    lb04 shape with one more keyed join
    (operators/labels.py dawid_skene_relabel)."""
    from cnics_to_fhir_spark.operators.labels import dawid_skene_relabel

    e = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 199).alias("item_id"),
        F.col("user_id").alias("annotator_id"),
        F.col("event_type").alias("label"),
        "ts",
        "event_id",
    )
    return dawid_skene_relabel(
        e, item_col="item_id", annotator_col="annotator_id", label_col="label",
        ts_col="ts", vote_id_col="event_id",
    )


# ---------------------------------------------------------------------------
# o07 — time travel: versioned COW merge, every snapshot stays readable
# ---------------------------------------------------------------------------
@query(
    "o07_time_travel_merge",
    tags="O-layout J6 S-sink SET A5",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS key, o_totalprice AS val,
                   CAST(o_orderkey % 2 AS INTEGER) AS b
            FROM orders WHERE year(o_orderdate) = 1996
        ),
        v1 AS (
            SELECT key, CASE WHEN key % 2 = 1 THEN val + 2.0 ELSE val END AS val, b
            FROM base
        ),
        v2 AS (SELECT * FROM v1 WHERE key % 5 <> 0),
        allv AS (
            SELECT CAST(0 AS BIGINT) AS version, * FROM base
            UNION ALL SELECT CAST(1 AS BIGINT), * FROM v1
            UNION ALL SELECT CAST(2 AS BIGINT), * FROM v2
        )
        SELECT version, b,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(val*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM allv GROUP BY 1, 2
    """,
)
def o07_time_travel_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel on plain parquet — the
    Iceberg/Delta core the in-place COW sink (j15) destroys at swap time:
    immutable data files per commit, a JSON manifest per version
    (rename = the atomic commit point), untouched partitions carried
    forward by reference.  Two merge waves over the seeded 1996 orders
    (odd-key repricing, then %5 deletes); ALL THREE versions are then
    read back and aggregated under one oracle hash — so a merge that
    edited history in place, dropped a carried-forward file, or tore a
    commit breaks the hash, not just an assertion.  In-entry asserts:
    the seed commit's files are byte-identical after both merges
    (mtime pin), the odd-keys wave rewrote exactly ONE of the two bucket
    partitions, and zero noop_missing_key
    (load/versioned_table.py)."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.load import versioned_table as vt
    from cnics_to_fhir_spark.session import scratch_name

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "o07_table"))
    try:
        base = (
            table(spark, sf_dir, "orders")
            .filter(F.year("o_orderdate") == 1996)
            .select(
                F.col("o_orderkey").alias("key"),
                F.col("o_totalprice").alias("val"),
                (F.col("o_orderkey") % 2).cast("int").alias("b"),
            )
        )
        vt.create_table(spark, path, base, partition_col="b")
        seed_commit = os.path.join(path, "data", "commit-00000000")
        seed_files = {
            f: os.stat(f).st_mtime_ns
            for f in _glob.glob(os.path.join(seed_commit, "**", "*.parquet"),
                                recursive=True)
        }

        wave1 = base.filter(F.col("key") % 2 == 1).select(
            "key", F.lit("update").alias("action"),
            F.col("key").cast("string").alias("id"),
            (F.col("val") + 2.0).alias("val"), "b",
        )
        c1 = vt.merge_versioned(spark, path, wave1, key_col="key", partition_col="b")
        wave2 = base.filter(F.col("key") % 5 == 0).select(
            "key", F.lit("delete").alias("action"),
            F.col("key").cast("string").alias("id"),
            F.lit(None).cast("double").alias("val"), "b",
        )
        c2 = vt.merge_versioned(spark, path, wave2, key_col="key", partition_col="b")
        if c1["partitions_rewritten"] != 1 or c1["noop_missing_key"]:
            raise AssertionError(f"odd-keys wave broke COW scope: {c1}")
        if c2["noop_missing_key"]:
            raise AssertionError(f"delete wave missed keys: {c2}")
        now = {
            f: os.stat(f).st_mtime_ns
            for f in _glob.glob(os.path.join(seed_commit, "**", "*.parquet"),
                                recursive=True)
        }
        if now != seed_files:
            raise AssertionError("history edited in place: seed files changed")

        out = None
        for v in (0, 1, 2):
            agg = (
                vt.read_version(spark, path, v)
                .groupBy(F.lit(v).cast("long").alias("version"),
                         F.col("b").cast("int").alias("b"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum(
                        F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")
                    ).alias("cents"),
                )
            )
            out = agg if out is None else out.unionByName(agg)
        out = detach_result(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# o08 — change data feed between snapshots (manifest-diff CDF)
# ---------------------------------------------------------------------------
@query(
    "o08_change_data_feed",
    tags="O-layout J6 SET F18",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS key, o_totalprice AS val,
                   CAST(o_orderkey % 2 AS INTEGER) AS b
            FROM orders WHERE year(o_orderdate) = 1996
        ),
        span01 AS (
            SELECT CAST('0->1' AS VARCHAR) AS span, key, b,
                   CAST('update' AS VARCHAR) AS change,
                   CAST(FLOOR(val*100 + 0.5) AS BIGINT) AS cents_pre,
                   CAST(FLOOR((val + 2.0)*100 + 0.5) AS BIGINT) AS cents_post
            FROM base WHERE key % 2 = 1
        ),
        span12 AS (
            SELECT CAST('1->2' AS VARCHAR) AS span, key, b,
                   CAST('delete' AS VARCHAR) AS change,
                   CAST(FLOOR((CASE WHEN key % 2 = 1 THEN val + 2.0 ELSE val END)
                              *100 + 0.5) AS BIGINT) AS cents_pre,
                   CAST(NULL AS BIGINT) AS cents_post
            FROM base WHERE key % 5 = 0
        )
        SELECT * FROM span01 UNION ALL SELECT * FROM span12
    """,
)
def o08_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-CDF's read side over the versioned table (o07's fixture):
    the feed derives from the MANIFEST file diff alone — files shared by
    both snapshots are immutable and never read, so a trickle of changes
    reads a trickle; rewritten partitions diff row-level and their
    unchanged rows drop out.  Row-level pre/post images for both spans
    under one oracle hash: a carried-forward file wrongly treated as
    changed, a lost pre-image, or a same-payload row surfacing as an
    update all break it (load/versioned_table.py read_changes)."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.load import versioned_table as vt
    from cnics_to_fhir_spark.session import scratch_name

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "o08_table"))
    try:
        base = (
            table(spark, sf_dir, "orders")
            .filter(F.year("o_orderdate") == 1996)
            .select(
                F.col("o_orderkey").alias("key"),
                F.col("o_totalprice").alias("val"),
                (F.col("o_orderkey") % 2).cast("int").alias("b"),
            )
        )
        vt.create_table(spark, path, base, partition_col="b")
        wave1 = base.filter(F.col("key") % 2 == 1).select(
            "key", F.lit("update").alias("action"),
            F.col("key").cast("string").alias("id"),
            (F.col("val") + 2.0).alias("val"), "b",
        )
        vt.merge_versioned(spark, path, wave1, key_col="key", partition_col="b")
        wave2 = base.filter(F.col("key") % 5 == 0).select(
            "key", F.lit("delete").alias("action"),
            F.col("key").cast("string").alias("id"),
            F.lit(None).cast("double").alias("val"), "b",
        )
        vt.merge_versioned(spark, path, wave2, key_col="key", partition_col="b")

        def cents(col: str):
            return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")

        out = None
        for frm, to, span in ((0, 1, "0->1"), (1, 2, "1->2")):
            c = vt.read_changes(spark, path, frm, to, key_col="key").select(
                F.lit(span).alias("span"),
                "key",
                F.col("b").cast("int").alias("b"),
                "change",
                cents("val_pre").alias("cents_pre"),
                cents("val_post").alias("cents_post"),
            )
            out = c if out is None else out.unionByName(c)
        out = detach_result(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# u06 — type-WIDENING evolution scan (int → bigint across generations)
# ---------------------------------------------------------------------------
@query(
    "u06_type_widening_scan",
    tags="SET S1 F18 A5",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o_custkey) AS BIGINT) AS custkey_sum
        FROM orders GROUP BY 1
    """,
)
def u06_type_widening_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth evolution axis (after u03 adds, u04 renames, u05
    partition specs): a column's TYPE widened between generations —
    gen 1 wrote o_custkey as INT, gen 2 as BIGINT — and ``mergeSchema``
    REFUSES mixed int/long footers outright, so without scan-time
    promotion the old generation needs a physical rewrite.  The sidecar
    declares the per-generation widening; only value-preserving
    promotions (Iceberg's int→bigint, float→double set) are applied, and
    a non-widening mapping raises — a silent scan-time narrowing is data
    corruption at read time.  Both generations aggregate under one
    logical BIGINT column in exact integer arithmetic
    (sources/evolution.py read_with_type_widening)."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.session import scratch_name
    from cnics_to_fhir_spark.sources.evolution import (
        read_with_type_widening,
        write_type_widening,
    )

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "u06_files"))
    try:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority"
        )
        # independent generation writes — overlap on two driver threads
        # (guide §2.6)
        def _gen1():
            (
                orders.filter(F.col("o_orderkey") % 2 == 0)
                .withColumn("o_custkey", F.col("o_custkey").cast("int"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, "gen=1"))
            )

        def _gen2():
            (
                orders.filter(F.col("o_orderkey") % 2 == 1)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, "gen=2"))
            )

        overlap(spark, _gen1, _gen2)
        write_type_widening(path, {"gen=1": {"o_custkey": "bigint"}})
        merged = read_with_type_widening(spark, path)
        if dict(merged.dtypes)["o_custkey"] != "bigint":
            raise AssertionError("widening did not produce the logical type")
        rows = (
            merged.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("o_custkey").cast("long").alias("custkey_sum"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows, "priority string, n_orders bigint, custkey_sum bigint"
    )


# ---------------------------------------------------------------------------
# ds15 — sharded corpus export with a verified manifest (the deliverable)
# ---------------------------------------------------------------------------
@query(
    "ds15_export_manifest",
    tags="DS S-sink A5 F18",
    oracle="""
        WITH h AS (
            SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS UBIGINT) % 16 AS shard,
                   CAST(('0x' || substring(md5(
                            CAST(doc_id AS VARCHAR) || chr(31)
                            || COALESCE(text, chr(0)) || chr(31)
                            || COALESCE(source, chr(0))), 1, 15))
                        AS UBIGINT) AS rh
            FROM documents
        )
        SELECT CAST(shard AS INTEGER) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(rh AS DECIMAL(38,0))) AS VARCHAR) AS checksum
        FROM h GROUP BY 1
    """,
)
def ds15_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's DELIVERABLE: the corpus exported as 16 deterministic
    shards plus a verification manifest (per-shard row counts +
    order-independent DECIMAL(38,0) content checksums over the portable
    row hash), then RE-VERIFIED from disk before the manifest is
    returned — so the oracle is checking the artifact a training job
    would actually load, not an in-memory aggregate.  Shard membership
    and checksums are engine-portable md5 arithmetic: a re-export of
    unchanged data is bit-identical, and the consumer can recompute the
    manifest declaratively on any stack (load/corpus_export.py;
    verification groups by the PHYSICAL shard dirs, so a misfiled row
    surfaces as two mismatched shards)."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.load.corpus_export import export_shards, verify_export
    from cnics_to_fhir_spark.session import scratch_name

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "ds15_export"))
    try:
        docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
        export_shards(docs, path, n_shards=16, key_col="doc_id")
        manifest = verify_export(spark, path)
        rows = [
            (int(k), v["n_rows"], v["checksum"])
            for k, v in manifest["shards"].items()
        ]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, "shard int, n_rows bigint, checksum string")


# ---------------------------------------------------------------------------
# lb06 — Dawid-Skene EM iterated to the label fixpoint (convergence pinned)
# ---------------------------------------------------------------------------
@query(
    "lb06_dawid_skene_converged",
    tags="LB CL-iterative A3 A5 J1 J8 F18",
    oracle="""
        -- Helper CTEs MATERIALIZED (gr02's lesson): unmaterialized, DuckDB
        -- re-derives the vote collapse and the votes x L candidate fan-out
        -- inside EVERY recursion step.  The working table is O(items); the
        -- stop rule lives in a QUALIFY over the step's own window.
        WITH RECURSIVE
        votes AS MATERIALIZED (
            SELECT event_id % 199 AS item_id, user_id, event_type, ts, event_id
            FROM events
        ),
        latest AS MATERIALIZED (
            SELECT item_id, user_id, event_type FROM (
                SELECT item_id, user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY item_id, user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM votes
            ) WHERE rn = 1
        ),
        hist AS MATERIALIZED (
            SELECT item_id, event_type AS label, CAST(COUNT(*) AS BIGINT) AS c
            FROM latest GROUP BY 1, 2
        ),
        maj AS MATERIALIZED (
            SELECT item_id, label AS t0, n_votes FROM (
                SELECT h.item_id, h.label, h.c,
                       SUM(h.c) OVER (PARTITION BY h.item_id) AS n_votes,
                       ROW_NUMBER() OVER (PARTITION BY h.item_id
                                          ORDER BY h.c DESC, h.label ASC) AS rn
                FROM hist h
            ) WHERE rn = 1
        ),
        labs AS MATERIALIZED (SELECT DISTINCT event_type AS t FROM latest),
        nl AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS L FROM labs),
        ni AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n_items FROM maj),
        cand AS MATERIALIZED (
            SELECT v.item_id, v.user_id, v.event_type AS l, labs.t
            FROM latest v, labs
        ),
        ds AS (
            -- anchor = step 1: EM conditioned on the majority estimate (lb05)
            SELECT 1 AS iter, w.item_id, w.t, w.cost FROM (
                SELECT item_id, t, cost,
                       ROW_NUMBER() OVER (PARTITION BY item_id
                                          ORDER BY cost ASC, t ASC) AS rn
                FROM (
                    SELECT p.item_id, p.t, p.vsum + q.pc AS cost
                    FROM (
                        SELECT c.item_id, c.t,
                               CAST(SUM(CAST(FLOOR((ln(CAST(COALESCE(x.nat, 0) AS DOUBLE) + nl.L)
                                           - ln(CAST(COALESCE(f.natl, 0) AS DOUBLE) + 1.0))
                                          * 1e6) AS BIGINT)) AS BIGINT) AS vsum
                        FROM cand c
                        LEFT JOIN (
                            SELECT v.user_id, m.t0 AS t, v.event_type AS l,
                                   CAST(COUNT(*) AS BIGINT) AS natl
                            FROM latest v JOIN maj m USING (item_id)
                            GROUP BY 1, 2, 3
                        ) f ON f.user_id = c.user_id AND f.t = c.t AND f.l = c.l
                        LEFT JOIN (
                            SELECT v.user_id, m.t0 AS t, CAST(COUNT(*) AS BIGINT) AS nat
                            FROM latest v JOIN maj m USING (item_id)
                            GROUP BY 1, 2
                        ) x ON x.user_id = c.user_id AND x.t = c.t, nl
                        GROUP BY 1, 2
                    ) p
                    JOIN (
                        SELECT labs.t,
                               CAST(FLOOR((ln(ni.n_items + nl.L)
                                           - ln(CAST(COALESCE(pr.items_t, 0) AS DOUBLE) + 1.0))
                                          * 1e6) AS BIGINT) AS pc
                        FROM labs LEFT JOIN (
                            SELECT t0 AS t, CAST(COUNT(*) AS BIGINT) AS items_t
                            FROM maj GROUP BY 1
                        ) pr ON pr.t = labs.t, nl, ni
                    ) q USING (t)
                )
            ) w WHERE w.rn = 1
          UNION ALL
            -- step k+1 re-conditions on step k's assignment; adopted only
            -- while at least one item's label flips (gr02's QUALIFY rule)
            SELECT iter, item_id, t, cost FROM (
                SELECT o.iter + 1 AS iter, n.item_id, n.t, n.cost, o.t AS old_t
                FROM (
                    SELECT item_id, t, cost,
                           ROW_NUMBER() OVER (PARTITION BY item_id
                                              ORDER BY cost ASC, t ASC) AS rn
                    FROM (
                        SELECT p.item_id, p.t, p.vsum + q.pc AS cost
                        FROM (
                            SELECT c.item_id, c.t,
                                   CAST(SUM(CAST(FLOOR((ln(CAST(COALESCE(x.nat, 0) AS DOUBLE) + nl.L)
                                               - ln(CAST(COALESCE(f.natl, 0) AS DOUBLE) + 1.0))
                                              * 1e6) AS BIGINT)) AS BIGINT) AS vsum
                            FROM cand c
                            LEFT JOIN (
                                SELECT v.user_id, d.t AS t, v.event_type AS l,
                                       CAST(COUNT(*) AS BIGINT) AS natl
                                FROM latest v JOIN ds d USING (item_id)
                                GROUP BY 1, 2, 3
                            ) f ON f.user_id = c.user_id AND f.t = c.t AND f.l = c.l
                            LEFT JOIN (
                                SELECT v.user_id, d.t AS t, CAST(COUNT(*) AS BIGINT) AS nat
                                FROM latest v JOIN ds d USING (item_id)
                                GROUP BY 1, 2
                            ) x ON x.user_id = c.user_id AND x.t = c.t, nl
                            GROUP BY 1, 2
                        ) p
                        JOIN (
                            SELECT labs.t,
                                   CAST(FLOOR((ln(ni.n_items + nl.L)
                                               - ln(CAST(COALESCE(pr.items_t, 0) AS DOUBLE) + 1.0))
                                              * 1e6) AS BIGINT) AS pc
                            FROM labs LEFT JOIN (
                                SELECT d.t, CAST(COUNT(*) AS BIGINT) AS items_t
                                FROM ds d GROUP BY 1
                            ) pr ON pr.t = labs.t, nl, ni
                        ) q USING (t)
                    )
                ) n JOIN ds o USING (item_id)
                WHERE n.rn = 1 AND o.iter < 50
            ) s
            QUALIFY SUM(CASE WHEN s.t <> s.old_t THEN 1 ELSE 0 END) OVER () > 0
        )
        SELECT d.item_id, d.t AS ds_label, CAST(d.cost AS BIGINT) AS ds_cost_q,
               m.t0 AS majority_label, CAST(m.n_votes AS BIGINT) AS n_votes,
               (d.t <> m.t0) AS changed,
               CAST((SELECT MAX(iter) FROM ds) AS INT) AS iters
        FROM ds d JOIN maj m USING (item_id)
        WHERE d.iter = (SELECT MAX(iter) FROM ds)
    """,
)
def lb06_dawid_skene_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lb05's EM step completed to the LABEL FIXPOINT under gr02's
    stop-rule pattern: step 1 conditions on the majority, each later step
    re-conditions on the previous posterior argmax, and a step is adopted
    only while it flips at least one item — the converged iteration count
    rides in the hash (every row), so an engine that converges on a
    different round or to different labels breaks it.  The exact-integer
    micro-nat trajectory is what makes until-convergence replayable; the
    oracle's recursive CTE replays the identical stop rule with the
    helper CTEs MATERIALIZED (lb02's lesson: inlined, DuckDB re-derives
    the collapse and the votes x L fan-out inside every step)
    (operators/labels.py dawid_skene_converged)."""
    from cnics_to_fhir_spark.operators.labels import dawid_skene_converged

    e = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 199).alias("item_id"),
        F.col("user_id").alias("annotator_id"),
        F.col("event_type").alias("label"),
        "ts",
        "event_id",
    )
    return dawid_skene_converged(
        e, item_col="item_id", annotator_col="annotator_id", label_col="label",
        ts_col="ts", vote_id_col="event_id", max_iters=50,
    )


# ---------------------------------------------------------------------------
# ds16 — incremental shard-level re-export: CDF -> update_export (the
#         production loop o08 + ds15 point at)
# ---------------------------------------------------------------------------
@query(
    "ds16_incremental_reexport",
    tags="DS S-sink O-layout J6 SET F18",
    oracle="""
        WITH post AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 211 = 5
                        THEN COALESCE(text, '') || ' [rev2]'
                        ELSE text END AS text,
                   source
            FROM documents
            WHERE doc_id % 211 <> 7
            UNION ALL
            SELECT -doc_id - 1 AS doc_id,
                   'synthetic ' || CAST(doc_id AS VARCHAR) AS text,
                   'synth' AS source
            FROM documents WHERE doc_id % 211 = 11
        ),
        h AS (
            SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS UBIGINT) % 16 AS shard,
                   CAST(('0x' || substring(md5(
                            CAST(doc_id AS VARCHAR) || chr(31)
                            || COALESCE(text, chr(0)) || chr(31)
                            || COALESCE(source, chr(0))), 1, 15))
                        AS UBIGINT) AS rh
            FROM post
        )
        SELECT CAST(shard AS INTEGER) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(rh AS DECIMAL(38,0))) AS VARCHAR) AS checksum
        FROM h GROUP BY 1
    """,
)
def ds16_incremental_reexport(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production incremental loop CLOSED: the corpus lives in a
    versioned table (o07's storage), one merge wave lands a sparse delta
    (~3/211 of keys: revisions, deletes, fresh docs), the CHANGE DATA FEED
    between the two snapshots (o08's manifest-diff read) drives
    ``update_export`` — which rewrites ONLY the shards the changed keys
    hash into and patches the manifest atomically.  The oracle computes
    the full post-delta export stats from scratch, so the hash proves the
    INCREMENTAL path lands byte-for-byte on what a full re-export would
    produce; in-entry asserts pin that untouched shard files are
    mtime-identical and that exactly ``shards_rewritten`` directories
    moved.  Scale shape: the delta's shuffles are O(changes) + O(touched
    shards' rows); the corpus is never re-read or re-shuffled
    (load/corpus_export.py update_export, load/versioned_table.py
    read_changes)."""
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.load import versioned_table as vt
    from cnics_to_fhir_spark.load.corpus_export import (
        export_shards,
        update_export,
        verify_export,
    )
    from cnics_to_fhir_spark.session import scratch_name

    export_path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "ds16_exp"))
    table_path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "ds16_tbl"))
    try:
        docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
        export_shards(docs, export_path, n_shards=16, key_col="doc_id")

        base = docs.withColumn("pb", F.pmod(F.col("doc_id"), F.lit(4)).cast("int"))
        vt.create_table(spark, table_path, base, partition_col="pb")
        upd = docs.filter(F.col("doc_id") % 211 == 5).select(
            "doc_id", F.lit("update").alias("action"),
            F.lit(None).cast("string").alias("id"),
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" [rev2]")).alias("text"),
            "source",
            F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("pb"),
        )
        dele = docs.filter(F.col("doc_id") % 211 == 7).select(
            "doc_id", F.lit("delete").alias("action"),
            F.lit(None).cast("string").alias("id"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("source"),
            F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("pb"),
        )
        ins = docs.filter(F.col("doc_id") % 211 == 11).select(
            (-F.col("doc_id") - 1).alias("doc_id"),
            F.lit("insert").alias("action"),
            F.lit(None).cast("string").alias("id"),
            F.concat(F.lit("synthetic "), F.col("doc_id").cast("string")).alias("text"),
            F.lit("synth").alias("source"),
            F.pmod(-F.col("doc_id") - 1, F.lit(4)).cast("int").alias("pb"),
        )
        plan = upd.unionByName(dele).unionByName(ins)
        vt.merge_versioned(spark, table_path, plan, key_col="doc_id", partition_col="pb")

        feed = vt.read_changes(spark, table_path, 0, 1, key_col="doc_id").select(
            "doc_id", "change",
            F.col("text_post").alias("text"),
            F.col("source_post").alias("source"),
        )
        before = {
            d: {f: os.stat(os.path.join(export_path, d, f)).st_mtime_ns
                for f in os.listdir(os.path.join(export_path, d))}
            for d in os.listdir(export_path) if d.startswith("shard=")
        }
        res = update_export(spark, export_path, feed)
        if res["noop_missing_key"]:
            raise AssertionError(f"CDF fed absent keys into the export: {res}")
        moved = set()
        for d, files in before.items():
            p = os.path.join(export_path, d)
            now = (
                {f: os.stat(os.path.join(p, f)).st_mtime_ns for f in os.listdir(p)}
                if os.path.isdir(p) else {}
            )
            if now != files:
                moved.add(d)
        # new shards (insert-only) count as rewritten too
        moved |= {d for d in os.listdir(export_path)
                  if d.startswith("shard=") and d not in before}
        if len(moved) != res["shards_rewritten"]:
            raise AssertionError(
                f"untouched shards moved: {sorted(moved)} vs "
                f"{res['shards_rewritten']} rewritten"
            )
        manifest = verify_export(spark, export_path)
        rows = [
            (int(k), v["n_rows"], v["checksum"])
            for k, v in manifest["shards"].items()
        ]
    finally:
        shutil.rmtree(export_path, ignore_errors=True)
        shutil.rmtree(table_path, ignore_errors=True)
    return spark.createDataFrame(rows, "shard int, n_rows bigint, checksum string")


# ---------------------------------------------------------------------------
# tx14 — BM25 retrieval scoring (doc-length-normalized relevance)
# ---------------------------------------------------------------------------
@query(
    "tx14_bm25_topk",
    tags="TX A5 W J8 F22",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.tok
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        ),
        tf AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok GROUP BY 1, 2
        ),
        dl AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
            FROM tok GROUP BY 1
        ),
        avgdl AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        dfreq AS (
            SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM tok GROUP BY 1
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        qterms AS (
            SELECT tok, df FROM (
                SELECT tok, df,
                       ROW_NUMBER() OVER (ORDER BY df DESC, tok ASC) AS r
                FROM dfreq
            ) WHERE r BETWEEN 10 AND 14
        ),
        scored AS (
            SELECT tf.doc_id, tf.tok,
                   FLOOR((ln((n.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
                          * (tf.tf * 2.2)
                          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))
                         )*1e6 + 0.5)/1e6 AS bm25
            FROM tf
            JOIN qterms q ON q.tok = tf.tok
            JOIN dl ON dl.doc_id = tf.doc_id, avgdl, n
        )
        SELECT tok, doc_id, bm25, rank FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY tok
                           ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= 20
    """,
)
def tx14_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents per query term — tx05's TF-IDF completed
    with the Robertson idf and doc-length normalization (k1=1.2, b=0.75):
    the scoring a pipeline uses to rank corpus docs against benchmark
    queries for decontamination or against seed queries for targeted
    curation.  The query side is derived deterministically from the
    corpus itself (df ranks 10-14 with a lexicographic tiebreak) so the
    entry replays bit-for-bit.  Scale shape: the two corpus shuffles
    every bag-of-words op pays (doc-keyed TF+length, token-keyed DF);
    the query-term table is O(|query|) broadcast, so scoring touches
    only matching postings — never the full tf table; avgdl and N ride
    as one-row broadcasts keeping the whole query one job."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    avgdl = dl.agg(F.avg(F.col("dl").cast("double")).alias("avgdl"))
    dfreq = tok.groupBy("tok").agg(F.count_distinct("doc_id").cast("long").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # global rank over the vocabulary table: TakeOrderedAndProject collapses
    # the corpus-wide sort to a distributed top-14, so the single-partition
    # row_number window runs over 14 rows, never the vocabulary
    top14 = dfreq.orderBy(F.col("df").desc(), F.col("tok").asc()).limit(14)
    qterms = (
        top14.withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("df").desc(), F.col("tok").asc())
            ),
        )
        .filter(F.col("r") >= 10)
        .select("tok", "df")
    )
    raw = (
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        * (F.col("tf") * F.lit(2.2))
        / (
            F.col("tf")
            + F.lit(1.2)
            * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), on="tok")
        .join(dl, on="doc_id")
        .join(F.broadcast(avgdl))
        .join(F.broadcast(n_docs))
        .select("tok", "doc_id", stable_round(raw, 6).alias("bm25"))
    )
    w = Window.partitionBy("tok").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 20
    )


# ---------------------------------------------------------------------------
# o09 — compaction as a VERSION on the log-structured table
# ---------------------------------------------------------------------------
@query(
    "o09_versioned_compaction",
    tags="O-layout J6 S-sink SET A5",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS key, o_totalprice AS val,
                   CAST(o_orderkey % 2 AS INTEGER) AS b
            FROM orders WHERE year(o_orderdate) = 1996
        ),
        v1 AS (
            SELECT key, CASE WHEN key % 2 = 1 THEN val + 2.0 ELSE val END AS val, b
            FROM base
        ),
        allv AS (
            SELECT CAST(0 AS BIGINT) AS version, * FROM base
            UNION ALL SELECT CAST(1 AS BIGINT), * FROM v1
            UNION ALL SELECT CAST(2 AS BIGINT), * FROM v1
        )
        SELECT version, b,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(val*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM allv GROUP BY 1, 2
    """,
)
def o09_versioned_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction as just another VERSION on the versioned table — the
    maintenance op that closes the storage family (merge / time travel /
    CDF / vacuum / evolution / now compaction): an 8-file merge wave
    fragments the odd-keys partition, compaction rewrites ONLY that
    partition into one file in a fresh commit while the even partition's
    seed entries carry forward verbatim, and all three versions aggregate
    under one oracle hash — version 2 must equal version 1 exactly
    (compaction moves bytes, never data).  In-entry asserts: exactly one
    partition compacted, the pre/post-compaction change feed is EMPTY,
    the seed commit's files are mtime-identical throughout, and the
    fragmented wave really produced >1 file
    (load/versioned_table.py compact_versioned)."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from cnics_to_fhir_spark.load import versioned_table as vt
    from cnics_to_fhir_spark.session import scratch_name

    path = os.path.join(tempfile.gettempdir(), scratch_name(spark, "o09_table"))
    try:
        base = (
            table(spark, sf_dir, "orders")
            .filter(F.year("o_orderdate") == 1996)
            .select(
                F.col("o_orderkey").alias("key"),
                F.col("o_totalprice").alias("val"),
                (F.col("o_orderkey") % 2).cast("int").alias("b"),
            )
        )
        vt.create_table(spark, path, base, partition_col="b")
        seed_commit = os.path.join(path, "data", "commit-00000000")
        seed_files = {
            f: os.stat(f).st_mtime_ns
            for f in _glob.glob(os.path.join(seed_commit, "**", "*.parquet"),
                                recursive=True)
        }
        wave = base.filter(F.col("key") % 2 == 1).select(
            "key", F.lit("update").alias("action"),
            F.col("key").cast("string").alias("id"),
            (F.col("val") + 2.0).alias("val"), "b",
        )
        vt.merge_versioned(spark, path, wave, key_col="key", partition_col="b",
                           files_per_partition=8)
        m1 = vt.read_manifest(path, 1)
        frag = [e for e in m1["entries"] if e["partition"] == "1"]
        if len(frag) <= 1:
            raise AssertionError(f"fixture failed to fragment: {len(frag)} file(s)")

        rep = vt.compact_versioned(spark, path)
        if rep["partitions_compacted"] != 1 or rep["files_after"] != 1:
            raise AssertionError(f"compaction scope wrong: {rep}")
        if vt.read_changes(spark, path, 1, 2, key_col="key").count() != 0:
            raise AssertionError("compaction changed row content")
        now = {
            f: os.stat(f).st_mtime_ns
            for f in _glob.glob(os.path.join(seed_commit, "**", "*.parquet"),
                                recursive=True)
        }
        if now != seed_files:
            raise AssertionError("compaction touched the seed commit")

        out = None
        for v in (0, 1, 2):
            agg = (
                vt.read_version(spark, path, v)
                .groupBy(F.lit(v).cast("long").alias("version"),
                         F.col("b").cast("int").alias("b"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum(
                        F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")
                    ).alias("cents"),
                )
            )
            out = agg if out is None else out.unionByName(agg)
        out = detach_result(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# dd15 — precision/recall eval of the LSH banding (the dedup-QA harness)
# ---------------------------------------------------------------------------
@query(
    "dd15_lsh_pr_eval",
    tags="DD-minhash DD-jaccard A5 J1 F18",
    oracle="""
        WITH sh AS (
            SELECT doc_id AS id,
                   list_distinct(
                       CASE WHEN len(string_split(text, ' ')) >= 3
                            THEN [array_to_string(
                                      list_slice(string_split(text, ' '), i, i + 2),
                                      ' ')
                                  FOR i IN range(1, len(string_split(text, ' ')) - 1)]
                            ELSE [array_to_string(string_split(text, ' '), ' ')]
                       END
                   ) AS shingles
            FROM documents
            WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS UBIGINT) % 4 = 0
        ),
        hashes AS (
            SELECT id, j,
                   MIN(CAST(CAST(('0x' || substring(
                       md5(CAST(j AS VARCHAR) || ':' || s), 1, 15)) AS UBIGINT)
                       AS BIGINT)) AS m
            FROM sh, UNNEST(shingles) AS t(s), UNNEST(range(0, 8)) AS r(j)
            GROUP BY id, j
        ),
        sig AS (
            SELECT id, list(m ORDER BY j) AS sig FROM hashes GROUP BY id
        ),
        banded AS (
            SELECT id, b,
                   CAST(CAST(('0x' || substring(
                       md5(CAST(sig[b*2+1] AS VARCHAR) || '|'
                           || CAST(sig[b*2+2] AS VARCHAR)), 1, 15)) AS UBIGINT)
                       AS BIGINT) AS band_hash
            FROM sig, UNNEST(range(0, 4)) AS rb(b)
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b2.id AS id_b
            FROM banded a
            JOIN banded b2 ON a.b = b2.b AND a.band_hash = b2.band_hash
            WHERE a.id < b2.id
        ),
        inv AS (SELECT id, t.s FROM sh, UNNEST(shingles) AS t(s)),
        dfreq AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM inv GROUP BY s),
        kept AS (SELECT s FROM dfreq WHERE c <= 10),
        capped AS (
            SELECT CAST(COALESCE(SUM(CASE WHEN c > 10 THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_capped_shingles
            FROM dfreq
        ),
        invk AS (SELECT inv.id, inv.s FROM inv JOIN kept USING (s)),
        pinv AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM invk a JOIN invk b ON a.s = b.s AND a.id < b.id
        ),
        allp AS (
            SELECT id_a, id_b FROM pinv UNION SELECT id_a, id_b FROM cand
        ),
        truth AS (
            SELECT p.id_a, p.id_b
            FROM allp p
            JOIN sh sa ON sa.id = p.id_a
            JOIN sh sb ON sb.id = p.id_b
            WHERE (CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.shingles, sb.shingles)))) >= 0.5
        ),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
        nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
        nh AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM cand c JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b
        )
        SELECT n_truth, n_cand, n_hit, n_capped_shingles,
               CASE WHEN n_cand > 0
                    THEN CAST(n_hit * 1000000 // n_cand AS BIGINT) END AS precision_q,
               CASE WHEN n_truth > 0
                    THEN CAST(n_hit * 1000000 // n_truth AS BIGINT) END AS recall_q
        FROM nt, nc, nh, capped
    """,
)
def dd15_lsh_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH BANDING (8 hashes × 4 bands,
    dd03b's portable parameters) against exact-Jaccard ground truth — the
    dedup twin of ann10's recall harness: the number a pipeline owner
    reads before trusting an LSH parameter choice at corpus scale.
    Ground truth = exact Jaccard ≥ 0.5 over the UNION of a df-capped
    shingle inverted index and the LSH candidates themselves, so index
    capping can't deflate precision; hot shingles are excluded and
    COUNTED (n_capped_shingles), never silently dropped.  Evaluated on
    the deterministic md5 sample ``portable_hash(doc_id) % 4 == 0``
    (VERDICT r11 #4): the P/R statistic is an estimate and doesn't need
    every pair — the 1/4 doc sample cuts the quadratic ground-truth
    join ~16×, which is what makes the exact-Jaccard oracle replayable
    at sf10 instead of hour-scale.  One output row, shares in exact
    integer micro-units (operators/dedup.py lsh_pr_eval)."""
    from cnics_to_fhir_spark.operators.dedup import lsh_pr_eval

    return lsh_pr_eval(
        table(spark, sf_dir, "documents"),
        num_hashes=8, bands=4, k=3, threshold=0.5, df_cap=10,
        sample_mod=4,
    )


# ---------------------------------------------------------------------------
# ds17 — weighted fair-interleave training schedule (data ORDER, not mix)
# ---------------------------------------------------------------------------
@query(
    "ds17_interleave_schedule",
    tags="DS A3 O1 O2 J8 F18",
    oracle="""
        WITH w AS (
            SELECT doc_id, source,
                   (CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 5)
                       + 1 AS weight,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS UBIGINT) AS h
            FROM documents
        ),
        r AS (
            SELECT doc_id, source, weight,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY h, doc_id) AS rk
            FROM w
        ),
        cand AS (
            SELECT doc_id, source,
                   CAST(rk * 1000000 // weight AS BIGINT) AS position
            FROM r WHERE rk <= 500
        )
        SELECT * FROM (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY position, source, doc_id)
                        AS BIGINT) AS slot,
                   source, doc_id, position
            FROM cand
        ) WHERE slot <= 500
    """,
)
def ds17_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 500 slots of the deterministic weighted-fair-queuing
    training schedule over the document sources: ds08/ds09 decide how
    much of each source to train on, THIS decides when each doc arrives —
    doc r of a weight-w source is scheduled at virtual time r/w (exact
    integer micro-units), so every PREFIX of the schedule carries each
    source in proportion to its weight (no source floods a training
    window).  Per-source order is the md5 deterministic shuffle (ds04),
    weights derive from the source id (1..5) and ride as a broadcast dim.
    Scale shape: per-source rank window, then rank<=k bounds the
    candidate set to k×n_sources rows regardless of corpus size — the
    only global sort and the slot numbering run on that bounded set
    (operators/dataset.py interleave_schedule)."""
    from cnics_to_fhir_spark.operators.dataset import interleave_schedule

    docs = table(spark, sf_dir, "documents")
    weights = docs.select("source").distinct().select(
        "source",
        (
            F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast("long") % 5
            + F.lit(1)
        ).alias("weight"),
    )
    return interleave_schedule(docs, weights, k=500)


# ---------------------------------------------------------------------------
# ds18 — the FULL weighted-fair training order (every doc slotted)
# ---------------------------------------------------------------------------
@query(
    "ds18_interleave_full_order",
    tags="DS A3 O1 W J8 F18",
    oracle="""
        WITH w AS (
            SELECT doc_id, source,
                   (CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 5)
                       + 1 AS weight,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS UBIGINT) AS h
            FROM documents
        ),
        r AS (
            SELECT doc_id, source, weight,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY h, doc_id) AS rk
            FROM w
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY position, source, doc_id)
                    AS BIGINT) AS slot,
               source, doc_id, position
        FROM (
            SELECT doc_id, source,
                   CAST(rk * 1000000 // weight AS BIGINT) AS position
            FROM r
        )
    """,
)
def ds18_interleave_full_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ds17 audits the schedule HEAD; this is what the production loader
    consumes — the TOTAL weighted-fair training order, every document
    slotted (VERDICT r11 #3).  Same exact-integer WFQ position (doc r of
    a weight-w source at virtual time r·10⁶ DIV w, weights 1..5 derived
    from the source id as in ds17), so ds17 is bit-for-bit the first 500
    slots of this order.  Scale shape: NO unpartitioned window over
    corpus rows and no hot-source single task — the per-source rank is
    the two-pass range-partitioned grouped rank (per-(partition, source)
    counts round-trip the driver once as prefix offsets, so a source
    spanning many ranges is ranked by many parallel tasks), and the slot
    numbering is ds10/dc05's global_rank (range-repartitioned sort +
    bounded driver offsets) over (position, source, key)
    (operators/dataset.py interleave_schedule_full)."""
    from cnics_to_fhir_spark.operators.dataset import interleave_schedule_full

    docs = table(spark, sf_dir, "documents")
    weights = docs.select("source").distinct().select(
        "source",
        (
            F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast("long") % 5
            + F.lit(1)
        ).alias("weight"),
    )
    return interleave_schedule_full(docs, weights)
