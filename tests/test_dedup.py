"""Dedup / similarity operator semantics on hand-checkable fixtures — pins
the xxhash64-based operators the DuckDB oracle can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cnics_to_fhir_spark.operators import dedup, similarity


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different text about spark engines here"),
        (5, "unrelated short doc"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    plan = dedup.exact_dedup_plan(_docs(spark))
    by_keeper = {r["keeper_id"]: r["n_copies"] for r in plan.collect()}
    assert by_keeper[1] == 2  # docs 1 and 2 collapse
    assert by_keeper[3] == 1 and by_keeper[4] == 1 and by_keeper[5] == 1
    kept = dedup.drop_exact_dups(_docs(spark))
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4, 5]


def test_ngram_jaccard_pairs(spark):
    pairs = dedup.ngram_jaccard_pairs(_docs(spark), k=3, block_words=4, threshold=0.4)
    got = {(r["id_a"], r["id_b"]): r["jaccard_sim"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    # 1 vs 3: 7 shingles each, only the last differs → 6 shared / 8 union
    assert abs(got[(1, 3)] - 0.75) < 1e-6
    assert (1, 4) not in got and (4, 5) not in got


def test_minhash_lsh_finds_near_dups(spark):
    pairs = dedup.minhash_lsh_pairs(_docs(spark), num_hashes=32, bands=8, threshold=0.4)
    got = {(r["id_a"], r["id_b"]): r["jaccard_sim"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0  # identical docs always collide
    assert (1, 3) in got  # 5/9 similarity survives 8×4 banding w.h.p.
    assert all(a < b for a, b in got)


def test_simhash_near_dups(spark):
    sh = {r["id"]: r["simhash"] for r in dedup.simhash(_docs(spark)).collect()}
    assert sh[1] == sh[2]  # identical text → identical simhash
    pairs = dedup.simhash_near_dup_pairs(_docs(spark), max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0


def test_embedding_near_dup_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 7),
        (1, [0.99, 0.05, 0.0], 7),   # near-dup of 0, same block
        (2, [0.0, 1.0, 0.0], 7),     # same block, orthogonal
        (3, [1.0, 0.0, 0.0], 8),     # identical to 0 but other block → missed (IVF recall cost)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = dedup.embedding_near_dup_pairs(df, threshold=0.9)
    got = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in out.collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.99
    assert (0, 2) not in got
    assert (0, 3) not in got  # blocked away — documents the IVF trade


def test_choose_refine_bits_integer_selection():
    # smallest b with n <= target * cells * 2^b, clamped to max_bits
    assert dedup.choose_refine_bits(2000, 10, 256, 8) == 0
    assert dedup.choose_refine_bits(20000, 10, 256, 8) == 3
    assert dedup.choose_refine_bits(10**12, 10, 256, 8) == 8  # clamp
    assert dedup.choose_refine_bits(0, 0, 256, 8) == 0
    # exact boundary is inclusive (n == target*cells → no refinement)
    assert dedup.choose_refine_bits(2560, 10, 256, 8) == 0
    assert dedup.choose_refine_bits(2561, 10, 256, 8) == 1


def test_embedding_near_dup_auto_refine(spark):
    # One coarse block of 6 vectors; target_cell_rows=2 forces a sign-bit
    # split (bits>=2), so opposite-sign leading components land in
    # different sub-cells and their pairs drop out — the documented trade.
    rows = [
        (0, [1.0, 1.0, 0.5], 1),
        (1, [1.0, 1.0, 0.4], 1),     # same signs as 0 → same sub-cell
        (2, [-1.0, 1.0, 0.5], 1),    # sign differs in component 1
        (3, [-1.0, 1.0, 0.4], 1),
        (4, [1.0, -1.0, 0.5], 1),
        (5, [1.0, -1.0, 0.4], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    unguarded = dedup.embedding_near_dup_pairs(df, threshold=-1.0, target_cell_rows=None)
    assert unguarded.count() == 15  # all within-label pairs survive
    guarded = dedup.embedding_near_dup_pairs(df, threshold=-1.0, target_cell_rows=2)
    got = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    assert got == {(0, 1), (2, 3), (4, 5)}  # only same-sign-pattern pairs


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.9, 0.5, 0.1]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=4)
    ranked = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert ranked[0] == 1 and ranked[-1] == 3
    sims = {r["neighbor_id"]: r["cosine_sim"] for r in out.collect()}
    assert sims[3] == -1.0 and sims[2] == 0.0


def test_ivf_topk_probes_own_cell_only(spark):
    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 1),
        (2, [1.0, 0.01], 2),  # closest overall but in another cell
        (3, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.ivf_topk(df, df.filter(F.col("vec_id") == 0), k=2)
    neighbors = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert neighbors == [1, 3]  # 2 is pruned by the cell filter


def test_lsh_topk_recall_on_testdata(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, q, k=5)
    approx = similarity.lsh_topk(emb, q, k=5, n_planes=16, bands=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"sign-LSH recall collapsed: {recall}"


def test_duplicate_clusters_transitive_chain(spark):
    """a~b and b~c (but no a~c pair) must still land in ONE cluster with
    the minimum id as rep — transitivity the pair list alone doesn't give."""
    from cnics_to_fhir_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 30)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 5: 1, 9: 1, 20: 20, 30: 20}


def test_quantized_rerank_recall_on_testdata(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, q, k=5)
    approx = similarity.quantized_topk(emb, q, k=5, shortlist_factor=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # int8 coarse + 4x shortlist: near-lossless on gaussian data
    assert recall >= 0.9, f"quantized rerank recall collapsed: {recall}"


def test_int8_quantize_bounds_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(0, [0.5, -1.0, 0.25]), (1, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r["q"] for r in df.select(
        "vec_id", similarity.int8_quantize(F.col("embedding")).alias("q")
    ).collect()}
    assert rows[0] == [64, -127, 32]   # floor(x*127/max|v| + 0.5)
    assert rows[1] == [0, 0, 0]        # all-zero vector stays zeros, not NULL


def test_refine_blocks_formula_and_neardup_retention(spark):
    from cnics_to_fhir_spark.operators.dedup import embedding_near_dup_pairs, refine_blocks

    rows = [
        (1, 0, [0.5, -0.2, 0.1, 0.9]),
        (2, 0, [0.5, -0.2, 0.1, 0.89]),   # near-identical to 1: same signs
        (3, 0, [-0.5, 0.2, -0.1, 0.9]),   # opposite signs, same coarse label
        (4, 1, [0.5, -0.2, 0.1, 0.9]),    # same signs, different label
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = {r["vec_id"]: r["block_fine"] for r in refine_blocks(df, bits=3).collect()}
    # cell = label*8 + 4*(v1>0) + 2*(v2>0) + 1*(v3>0)
    assert out[1] == 0 * 8 + 4 + 0 + 1 == 5
    assert out[2] == 5
    assert out[3] == 0 * 8 + 0 + 2 + 0 == 2
    assert out[4] == 1 * 8 + 5 == 13
    # true near-dups (cosine ~1) share signs, so refinement keeps the pair
    refined = refine_blocks(df, bits=3, out_col="cell")
    pairs = embedding_near_dup_pairs(refined, block_col="cell", threshold=0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_minhash_hash_functions_are_independent_and_portable(spark):
    """Regression: `lambda s, j=j:` in F.transform is the (element, index)
    two-arg form — pyspark rebinds j to the array index, collapsing all
    num_hashes 'independent' permutations into one (and making the
    portable variant hash a plan-dependent string). Pin (a) the portable
    hash against an out-of-band md5 ground truth and (b) that sig
    positions actually differ."""
    import hashlib

    from pyspark.sql import functions as F

    from cnics_to_fhir_spark.operators.dedup import minhash_from_shingles

    sh = ["alpha beta gamma", "beta gamma delta", "gamma delta epsilon"]
    df = spark.createDataFrame([(sh,)], "sh array<string>")
    sig_p = df.select(
        minhash_from_shingles(F.col("sh"), 4, portable=True).alias("s")
    ).collect()[0]["s"]
    expect = [
        min(int(hashlib.md5(f"{j}:{s}".encode()).hexdigest()[:15], 16) for s in sh)
        for j in range(4)
    ]
    assert sig_p == expect

    sig_x = df.select(minhash_from_shingles(F.col("sh"), 8).alias("s")).collect()[0]["s"]
    assert len(set(sig_x)) > 1  # a single collapsed hash would repeat


def test_semantic_dedup_marks_lowest_id_as_keeper(spark):
    # two tight pairs + two isolates in one embedding space; k=2 clusters
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [-1.0, 0.0, 0.0, 0.0]),
        (4, [-0.999, -0.01, 0.0, 0.0]), # near-dup of 3
        (5, [0.0, 1.0, 0.0, 0.0]),      # isolate
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in dedup.semantic_dedup(spark, df, threshold=0.95, k=2).collect()}
    assert len(out) == 5
    # lowest id of each near-dup group is kept; the higher one is marked
    assert out[1]["is_dup"] is False and out[2]["is_dup"] is True
    assert out[3]["is_dup"] is False and out[4]["is_dup"] is True
    assert out[5]["is_dup"] is False


def test_semantic_dedup_honors_custom_column_names(spark):
    """id_col/vec_col must be forwarded to the quantizer (they previously
    defaulted silently, so any non-default call raised AnalysisException)."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.01]),
        (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "doc_key long, emb array<double>")
    out = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(
            spark, df, threshold=0.95, k=2, vec_col="emb", id_col="doc_key"
        ).collect()
    }
    assert sorted(out) == [1, 2, 3]
    assert out[1]["is_dup"] is False and out[2]["is_dup"] is True
    assert out[3]["is_dup"] is False


def test_multiprobe_recall_dominates_single_probe(spark):
    """nprobe=2 must recover at least the recall of nprobe=1 against the
    brute-force answer — the whole point of the knob — and each query's
    candidate pool must span two cells' worth of neighbors."""
    from cnics_to_fhir_spark.operators import clustering

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    assigned, cents = clustering.kmeans_train(spark, emb, k=4, iters=2)
    indexed = emb.join(assigned.select("vec_id", F.col("cluster").alias("cell")), "vec_id")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(emb, q, k=5).collect()}
    one = {(r["query_id"], r["neighbor_id"])
           for r in similarity.ivf_topk(indexed, indexed.filter(F.col("vec_id") < 8),
                                        k=5, cell_col="cell").collect()}
    two = {(r["query_id"], r["neighbor_id"])
           for r in similarity.ivf_topk_multiprobe(
               indexed, indexed.filter(F.col("vec_id") < 8), cents, nprobe=2, k=5
           ).collect()}
    r1 = len(exact & one) / len(exact)
    r2 = len(exact & two) / len(exact)
    assert r2 >= r1, f"nprobe=2 recall {r2} below nprobe=1 {r1}"
    assert len(two) == len(one) == len(exact)  # both return full top-5 sets


def test_incremental_dedup_excludes_corpus_pairs(spark):
    """Batch-vs-corpus and within-batch pairs are found; corpus-vs-corpus
    pairs are structurally absent even when those docs are near-dups."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (5, "completely different text about spark engines here"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),   # dup of 1 & 3
            (12, "the quick brown fox jumps over the lazy dog"),   # dup of 10
            (14, "unrelated new document entirely"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["id_a"], r["id_b"]): r["cross"]
        for r in dedup.incremental_jaccard_pairs(corpus, batch, threshold=0.5).collect()
    }
    assert out[(1, 10)] is True and out[(1, 12)] is True    # batch vs corpus
    assert out[(3, 10)] is True and out[(3, 12)] is True
    assert out[(10, 12)] is False                            # within batch
    assert (1, 3) not in out  # corpus-internal near-dup NOT re-verified
    assert not any(a == 14 or b == 14 for a, b in out)


def test_hard_negative_mining_band_semantics(spark):
    """Negatives come only from the [lo, hi) band: near-dups (>= hi) and
    easy negatives (< lo) are both excluded, top-k ranked within band."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.999, 0.04]),   # cosine ~0.999 → near-dup, excluded
        (2, [0.8, 0.6]),      # cosine 0.8 → semi-hard, kept
        (3, [0.6, 0.8]),      # cosine 0.6 → semi-hard, kept
        (4, [0.0, 1.0]),      # cosine 0.0 → easy negative, excluded
        (5, [-1.0, 0.0]),     # cosine -1 → excluded
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.hard_negative_mining(
        df, df.filter(F.col("vec_id") == 0), k=5, lo=0.2, hi=0.9
    ).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]
    assert all(0.2 <= r["cosine_sim"] < 0.9 for r in out)


def test_duplicated_spans_islands(spark):
    # Docs 1 and 2 share tokens 1-9 (two overlapping duplicated 8-gram
    # positions -> one maximal span); doc 3 shares nothing 8 tokens long.
    shared = "a b c d e f g h i"
    rows = [
        (1, shared + " x1 y1 z1"),
        (2, shared + " x2 y2 z2"),
        (3, "p q r s t u v w x y z unique tail here now ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = dedup.duplicated_spans(df, k=8, min_docs=2).collect()
    got = {(r["doc_id"], r["span_start"], r["span_len_tokens"], r["n_dup_grams"]) for r in spans}
    assert got == {(1, 1, 9, 2), (2, 1, 9, 2)}


def test_duplicated_spans_gap_splits_islands(spark):
    # Shared 8-gram prefix AND suffix with a differing middle -> two spans.
    a = "a b c d e f g h MID1 MID1b q r s t u v w x"
    b = "a b c d e f g h MID2 MID2b q r s t u v w x"
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    spans = dedup.duplicated_spans(df, k=8, min_docs=2).collect()
    per_doc = {}
    for r in spans:
        per_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_len_tokens"]))
    assert sorted(per_doc[1]) == [(1, 8), (11, 8)]
    assert sorted(per_doc[2]) == [(1, 8), (11, 8)]


def test_containment_catches_what_jaccard_misses(spark):
    big = ("w%d " % 0) + " ".join(f"w{i}" for i in range(1, 40))
    small = " ".join(f"w{i}" for i in range(10, 18))  # fully inside big
    rows = [(1, big), (2, small), (3, "x y z entirely different words here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["id_a"], r["id_b"]): r for r in dedup.containment_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    # small's shingles all appear in big: containment 1.0 one way, dilute the other
    assert r["c_b_in_a"] == 1.0 and r["c_a_in_b"] < 0.2
    assert not any(3 in k for k in out)
    # and plain Jaccard on the same pair sits far below the 0.5 threshold
    jac = {(r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_pairs(df, k=4, threshold=0.5).collect()}
    assert (1, 2) not in jac


@pytest.mark.filterwarnings("error:Spark session is not provided")
def test_pq_adc_ranks_identical_vectors_first(spark):
    from cnics_to_fhir_spark.operators.similarity import pq_adc_topk

    # Three tight clusters of identical 8-dim vectors; the query's own
    # cluster-mates share its codes, so ADC must rank them first.
    base = {0: [1.0] * 8, 1: [-1.0] * 8, 2: [0.5, -0.5] * 4}
    rows = [(c * 10 + i, base[c]) for c in base for i in range(4)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = pq_adc_topk(
        spark, emb, emb.filter("vec_id = 1"), n_sub=2, dim=8, k_codes=3, topk=3
    ).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert [n for n, _ in got] == [0, 2, 3]  # the other cluster-0 members


def test_containment_cap_count_exposed(spark):
    """No-silent-caps: with_cap_count surfaces how many distinct shingles
    the df-cap dropped. Fixture: one shingle shared by 12 docs (> max_df
    10) is capped out; a rarer pair still pairs up."""
    hot = "a b c d"  # the single hot 4-shingle
    rows = [(i, hot) for i in range(100, 112)]  # df(hot)=12 > 10
    near_a = "p q r s t u"
    near_b = "p q r s t v"
    rows += [(1, near_a), (2, near_b)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.containment_pairs(df, threshold=0.5, with_cap_count=True).collect()
    assert out, "rare-shingle pair must survive"
    assert all(r["n_capped_shingles"] == 1 for r in out)
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 2)}
    # hot-only docs pair with nobody: their only shingle was capped out
    assert not any(r["id_a"] >= 100 or r["id_b"] >= 100 for r in out)
    # default path keeps the original 4-column schema
    cols = dedup.containment_pairs(df, threshold=0.5).columns
    assert cols == ["id_a", "id_b", "c_a_in_b", "c_b_in_a"]


def test_pq_adc_top1_recall_pinned(spark):
    """Adversarial pin (ann05's discipline applied to ann07): the EXACT
    top-1 neighbor must appear in the ADC top-5 shortlist for >= 0.9 of
    queries — PQ's actual contract (shortlist-then-rerank; within one
    cell every member shares codes, so ADC provably cannot order
    cluster-mates and a strict top-1==top-1 pin would test the id
    tiebreak, not the quantizer). 16 well-separated clusters (one-hot
    4-dim prototypes per subspace half), ids 0-3 a diagonal so the
    lowest-id k-means init starts one centroid in each prototype per
    subspace."""
    import random

    from cnics_to_fhir_spark.operators.similarity import cosine_topk, pq_adc_topk

    rng = random.Random(7)
    protos = [[0.0] * 4 for _ in range(4)]
    for i in range(4):
        protos[i][i] = 1.0
    rows = []
    vid = 0
    combos = [(i, i) for i in range(4)] + [
        (i, j) for i in range(4) for j in range(4) if i != j
    ]
    # INTERLEAVED: one point per combo per pass, diagonal combos first —
    # ids 0-3 then see prototypes 0,1,2,3 in BOTH halves, so the
    # lowest-id k-means init is non-degenerate per subspace (generating
    # 5 points per combo consecutively puts ids 0-3 all in combo (0,0)
    # and Lloyd collapses two codewords onto prototype 0).
    for _ in range(5):
        for (a, b) in combos:
            vec = [x + rng.uniform(-0.05, 0.05) for x in protos[a] + protos[b]]
            rows.append((vid, vec))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 8 == 0)
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk(emb, q, k=1).collect()
    }
    shortlist: dict[int, set] = {}
    for r in pq_adc_topk(spark, emb, q, n_sub=2, dim=8, k_codes=4, topk=5).collect():
        shortlist.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for qid, nid in exact.items() if nid in shortlist.get(qid, set()))
    recall = hits / len(exact)
    assert recall >= 0.9, f"exact top-1 in ADC top-5 for only {recall} of queries"


def test_filtered_ivf_topk_prefilters_not_postfilters(spark):
    # Cell 1 holds the query plus 3 candidates; only 2 pass the metadata
    # predicate. Pre-filtering must return BOTH allowed candidates — a
    # post-filter of the unfiltered top-2 would keep only one (the
    # classic filtered-search recall bug this operator exists to avoid).
    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.99, 0.1], 1),   # nearest, NOT allowed
        (2, [0.9, 0.2], 1),    # allowed
        (3, [0.0, 1.0], 1),    # allowed, far
        (4, [1.0, 0.05], 2),   # allowed but wrong cell → pruned by IVF
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    allowed = spark.createDataFrame([(2,), (3,), (4,)], ["doc_id"])
    out = similarity.filtered_ivf_topk(
        df, df.filter(F.col("vec_id") == 0), allowed, k=2
    )
    neighbors = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert neighbors == [2, 3]  # 1 excluded by filter, 4 by the cell probe


def test_ivfpq_cell_prune_excludes_other_cells(spark):
    # vec 1 is ADC-nearest to query 0 but lives in cell 2 — full IVF-PQ
    # (cell_col set) must exclude it; plain PQ (cell_col=None) ranks it
    # first. Same codes/codebooks in both calls, only the prune differs.
    rows = [
        (0, [1.0, 0.0], 1),
        (1, [1.0, 0.0], 2),   # identical vector, wrong cell
        (2, [0.8, 0.3], 1),
        (3, [0.0, 1.0], 1),
        (4, [0.1, 0.9], 2),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = df.filter(F.col("vec_id") == 0)
    ivfpq = similarity.pq_adc_topk(
        spark, df, q, n_sub=2, dim=2, k_codes=2, topk=3, cell_col="label"
    ).collect()
    assert [r["neighbor_id"] for r in ivfpq] == [2, 3]  # cell-1 only
    plain = similarity.pq_adc_topk(
        spark, df, q, n_sub=2, dim=2, k_codes=2, topk=3
    ).collect()
    assert plain[0]["neighbor_id"] == 1  # unpruned PQ would have kept it


def test_recall_at_k_counts_and_keeps_zero_recall_queries(spark):
    from cnics_to_fhir_spark.operators import similarity

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, neighbor_id long"
    )
    # query 1: one of two right; query 2: none right -> must still appear
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 98), (2, 99)], "query_id long, neighbor_id long"
    )
    got = {
        r["query_id"]: (r["n_hits"], r["recall"])
        for r in similarity.recall_at_k(approx, exact, k=2).collect()
    }
    assert got == {1: (1, 0.5), 2: (0, 0.0)}


def _mmr_reference(vecs, query_ids, k, pool, lam):
    """Independent pure-python MMR: brute-force pool, greedy rerank.
    Mirrors the operator's declared quantization contract (6-dp sims and
    scores, ties to the smaller neighbor id) without sharing any code."""
    import math

    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    out = {}
    for qid in query_ids:
        cands = sorted(
            ((q6(cos(vecs[qid], v)), nid) for nid, v in vecs.items() if nid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:pool]
        selected, avail = [], list(cands)
        for _ in range(min(k, len(cands))):
            best = None
            for rel, nid in avail:
                div = max(
                    (q6(cos(vecs[nid], vecs[s])) for _, s in selected), default=0.0
                )
                score = q6(lam * rel - (1 - lam) * div)
                if best is None or score > best[0] or (score == best[0] and nid < best[1]):
                    best = (score, nid, rel)
            selected.append((best[2], best[1]))
            out.setdefault(qid, []).append((best[1], best[2], best[0]))
            avail = [c for c in avail if c[1] != best[1]]
    return out


def test_mmr_matches_independent_reference(spark):
    import random

    rnd = random.Random(17)
    vecs = {
        i: [rnd.uniform(-1, 1) for _ in range(8)] for i in range(30)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {}
    out = similarity.mmr_rerank(
        df, df.filter(F.col("vec_id") < 3), k=4, pool=10, lam=0.7
    ).collect()
    for r in out:
        got.setdefault(r["query_id"], []).append(
            (r["mmr_rank"], r["neighbor_id"], r["cosine_sim"], r["mmr_score"])
        )
    ref = _mmr_reference(vecs, [0, 1, 2], k=4, pool=10, lam=0.7)
    assert set(got) == set(ref)
    for qid, rows in got.items():
        rows.sort()
        assert [nid for _, nid, _, _ in rows] == [nid for nid, _, _ in ref[qid]]
        for (_, _, sim, score), (_, ref_sim, ref_score) in zip(rows, ref[qid]):
            assert abs(sim - ref_sim) < 1e-9
            assert abs(score - ref_score) < 1e-9


def test_mmr_diversifies_where_topk_does_not(spark):
    # cluster A: three near-copies of the query direction; cluster B:
    # orthogonal-ish. Plain top-3 returns only A; MMR at lam=0.5 must
    # reach into B after the first A pick, and pick 1 = top-1 relevance.
    rows = [
        (0, [1.0, 0.0, 0.01]),
        (1, [1.0, 0.0, 0.02]),   # A
        (2, [0.99, 0.0, 0.03]),  # A
        (3, [0.98, 0.0, 0.01]),  # A
        (4, [0.0, 1.0, 0.0]),    # B
        (5, [0.01, 0.99, 0.0]),  # B
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    ranked = sorted(
        (r["rank"], r["neighbor_id"])
        for r in similarity.cosine_topk(df, q, k=3).collect()
    )
    assert {nid for _, nid in ranked} == {1, 2, 3}  # plain top-k: all near-copies
    mmr = sorted(
        (r["mmr_rank"], r["neighbor_id"])
        for r in similarity.mmr_rerank(df, q, k=3, pool=5, lam=0.5).collect()
    )
    assert mmr[0][1] == ranked[0][1]  # first pick is the relevance top-1
    assert any(nid in (4, 5) for _, nid in mmr)  # diversity reached cluster B


def test_mmr_rejects_bad_lambda(spark):
    import pytest

    df = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        similarity.mmr_rerank(df, df, lam=1.5)


def test_ngram_jaccard_scan_filters_stay_cheap(spark):
    """Regression guard for the r12 InferFiltersFromConstraints pathology
    (ADVICE r12): a null-intolerant jaccard expression lets Catalyst derive
    isnotnull(<whole shingle tree>) and push the per-doc shingle transform
    into the parquet SCAN filter, where it evaluates twice below the
    min-parallelism exchange.  The scan's data filters must never mention
    the shingle expression; a Spark upgrade that re-derives it should fail
    here, not in a bench regression."""
    from cnics_to_fhir_spark.sources.tables import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "source"
    )
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, block_words=4, threshold=0.5)
    plan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # pull each "Scan parquet" node's detail block and check its filters
    blocks = plan.split("\n\n")
    scan_blocks = [b for b in blocks if b.lstrip().startswith("(") and "Scan parquet" in b.splitlines()[0]]
    assert scan_blocks, "plan format changed: no Scan parquet node details found"
    for b in scan_blocks:
        for line in b.splitlines():
            ls = line.strip()
            if ls.startswith(("DataFilters:", "PushedFilters:")):
                assert "array_join" not in ls and "transform(" not in ls, (
                    "shingle expression pushed into a scan filter:\n" + b
                )
