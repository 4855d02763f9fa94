"""Annotation / preference-label aggregation — the RLHF-data side of a
training pipeline.

A labeling campaign produces many (item, annotator, label) votes; before
anything trains on them the pipeline must collapse them to one label per
item and measure how much the annotators agreed (low-agreement items get
re-queued or down-weighted).  The reference engine has no analogue — this
family exists because a 100-TB training-data platform ingests human (and
LLM-judge) labels at the same scale as documents.

Scale shape: two keyed aggregations — (item, annotator) to collapse each
annotator to their latest vote, then (item) to count votes per label and
pick the winner — both map-side combinable, no windows, no driver state.
The per-item label histogram is bounded by the label vocabulary (tens),
so the second aggregate's rows are O(items × labels) before the final
per-item reduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def majority_label(
    df: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    ts_col: str | None = None,
    vote_id_col: str | None = None,
) -> DataFrame:
    """Collapse raw annotation votes to one winning label per item, with
    agreement statistics.

    Semantics (each step deterministic, so engines agree bit-for-bit):

    1. **One vote per (item, annotator)** — an annotator who re-labeled an
       item counts once, with their LATEST vote: max over the
       (``ts_col``, ``vote_id_col``, label) struct.  ``vote_id_col`` must
       be unique per vote so the tiebreak is total; pass ``ts_col=None``
       to skip recency and treat (item, annotator) votes as already unique.
    2. **Winner** — the label with the most votes; ties break to the
       lexicographically SMALLEST label (min over the (-count, label)
       struct), never to arrival order.
    3. **Agreement** — ``winner_share_q`` = winner votes / total votes and
       ``pairwise_agree_q`` = Σ_l c_l(c_l−1) / n(n−1) (the probability two
       random annotators of this item agree — Fleiss' per-item observed
       agreement), both in integer micro-units so no float-sum ordering
       can diverge.  Items with one vote report pairwise_agree_q = NULL
       (0/0), not fake certainty.

    Output: (item, winner_label, winner_votes, n_votes, n_labels,
    winner_share_q, pairwise_agree_q).
    """
    votes = df
    if ts_col is not None:
        order = [F.col(ts_col)]
        if vote_id_col is not None:
            order.append(F.col(vote_id_col))
        latest = votes.groupBy(item_col, annotator_col).agg(
            F.max(F.struct(*order, F.col(label_col).alias("label"))).alias("_v")
        )
        votes = latest.select(item_col, F.col("_v.label").alias(label_col))
    else:
        # Caller asserts one row per (item, annotator) already — each row is
        # one vote; collapsing same-label rows here would silently shrink
        # majorities, so no distinct.
        votes = votes.select(item_col, label_col)

    hist = votes.groupBy(item_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = F.sum("c").cast("long")
    win = F.min(F.struct((-F.col("c")).alias("neg"), F.col(label_col).alias("label")))
    agree_pairs = F.sum(F.col("c") * (F.col("c") - F.lit(1))).cast("long")
    out = hist.groupBy(item_col).agg(
        win.alias("_w"),
        n.alias("n_votes"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        agree_pairs.alias("_ap"),
    )
    # Shares in integer micro-units via exact integer division (DIV) — a
    # float divide + floor can land one off when the true quotient sits an
    # ulp below an integer; DuckDB's `//` is integer-exact, so ours is too.
    return out.select(
        item_col,
        F.col("_w.label").alias("winner_label"),
        (-F.col("_w.neg")).cast("long").alias("winner_votes"),
        "n_votes",
        "n_labels",
        F.expr("CAST((-_w.neg) * 1000000 DIV n_votes AS BIGINT)").alias(
            "winner_share_q"
        ),
        F.when(
            F.col("n_votes") > 1,
            F.expr(
                "CAST(_ap * 1000000 DIV (n_votes * (n_votes - 1)) AS BIGINT)"
            ),
        ).alias("pairwise_agree_q"),
    )


def bradley_terry(
    matches: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iters: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise preference outcomes —
    the model behind reward-model data curation and Chatbot-Arena-style
    rankings.  Runs ``iters`` steps of the standard MM update
    s_i ← W_i / Σ_j n_ij/(s_i+s_j) in EXACT integer arithmetic: ratings
    live in micro-units, each pair term is one integer division
    n_ij·scale² DIV (s_i+s_j), and the per-entity denominator is an exact
    BIGINT sum — so iteration k is bit-identical on every engine and
    partitioning, and the oracle replays the unrolled iterations verbatim.
    (Float BT diverges across engines through summation order alone.)

    Overflow bound (ANSI off would wrap SILENTLY): W_i·scale² and
    n_ij·scale² must stay under 2⁶³ — at scale=1e6 that is 9.2e6 wins per
    entity / games per pair, comfortably above any toy SF and checked
    loudly here; corpora past it move the products to DECIMAL(38,0)
    (tx11's zipf lesson).

    Scale shape: the gr01/cl01 join-agg-per-iteration pattern — pair
    counts aggregate once up front (map-side combinable; pairs ≤
    entities², the model's own dimensionality), each iteration joins the
    O(entities) rating table to the pair table twice and re-aggregates,
    with localCheckpoint truncating lineage per step (reliable checkpoint
    on a real cluster).  The raw match log never re-enters the loop.

    Output: (entity, rating, wins, games); unbeaten-but-winless or
    isolated entities keep their prior rating (D_i = 0 guard) instead of
    collapsing to 0.
    """
    d = matches.select(
        F.col(winner_col).alias("a"), F.col(loser_col).alias("b")
    )
    sym = d.unionByName(d.select(F.col("b").alias("a"), F.col("a").alias("b")))
    pairs = sym.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    wins = d.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("w"))
    games = pairs.groupBy("a").agg(F.sum("n").cast("long").alias("g"))
    ents = pairs.select("a").distinct()

    pairs = pairs.localCheckpoint(eager=True)
    base = (
        ents.join(wins, "a", "left")
        .join(games, "a", "left")
        .select(
            "a",
            F.coalesce(F.col("w"), F.lit(0).cast("long")).alias("w"),
            F.coalesce(F.col("g"), F.lit(0).cast("long")).alias("g"),
        )
        .localCheckpoint(eager=True)
    )
    # Overflow guard reads the already-materialized tables — two bounded
    # scalar round-trips over O(entities²) rows, not extra corpus scans.
    # Three products must stay under 2⁶³ with ANSI off (silent wrap):
    #   n_ij·scale² (pair term numerator), W_i·scale² (update numerator),
    #   and the denominator SUM d_i = Σ_j n_ij·scale² DIV (si+sj) — each
    #   term is ≤ n_ij·scale²/2 (ratings floor at 1, so si+sj ≥ 2), so
    #   d_i ≤ g_i·scale²/2 and bounding max(g)·scale²/2 bounds the sum.
    guard = pairs.agg(F.max("n").alias("mx")).first()["mx"] or 0
    wg = base.agg(F.max("w").alias("mw"), F.max("g").alias("mg")).first()
    wguard, gguard = wg["mw"] or 0, wg["mg"] or 0
    sq = int(scale) * int(scale)
    if max(guard, wguard) * sq >= 2**63 or gguard * sq // 2 >= 2**63:
        raise ValueError(
            f"bradley_terry integer bound exceeded (max pair/wins count "
            f"{max(guard, wguard)}, max per-entity games {gguard} at scale "
            f"{scale}): move products to DECIMAL(38,0)"
        )
    r = base.select("a", F.lit(int(scale)).cast("long").alias("s"))
    for it in range(iters):
        # The rating table is O(entities) — the MODEL's dimensionality,
        # tiny next to the pair table — but post-localCheckpoint relations
        # carry no stats, so AQE never picks broadcast on its own and the
        # si/sj probes would sort-merge-shuffle the pair table twice per
        # iteration.  Broadcast the rating side explicitly.
        den = (
            pairs.join(
                F.broadcast(r.select(F.col("a").alias("a"), F.col("s").alias("si"))),
                "a",
            )
            .join(
                F.broadcast(r.select(F.col("a").alias("b"), F.col("s").alias("sj"))),
                "b",
            )
            .select("a", F.expr(f"CAST(n * {sq} DIV (si + sj) AS BIGINT)").alias("t"))
            .groupBy("a")
            .agg(F.sum("t").cast("long").alias("d"))
        )
        # den and the wins column are the same O(entities) size class as
        # the broadcast rating table — keep the update join shuffle-free.
        r = (
            r.join(F.broadcast(den), "a", "left")
            .join(F.broadcast(base.select("a", "w")), "a")
            .select(
                "a",
                # Rating FLOOR at 1 micro-unit: w·sq DIV d truncates to 0
                # once games exceed 2e6·wins (1 win in >2M games — real at
                # arena scale), and two zero-rated entities that played
                # each other would then divide by si+sj=0 next iteration
                # (NULL terms with ANSI off, a hard error with ANSI on).
                F.when(
                    F.coalesce(F.col("d"), F.lit(0)) > 0,
                    F.expr(f"CAST(GREATEST(w * {sq} DIV d, 1) AS BIGINT)"),
                )
                .otherwise(F.col("s"))
                .alias("s"),
            )
        )
        # Eager checkpoint per iteration is measured, not caution: ``r``
        # is consumed THREE times per step (si side, sj side, update
        # join), so an untruncated plan recomputes the prior step 3× —
        # 3^k total (checkpointing every second step measured 31s vs 18s
        # at sf0.01).  The checkpoint is one tiny O(entities) job.
        if it + 1 < iters:
            r = r.localCheckpoint(eager=True)
    return base.join(F.broadcast(r), "a").select(
        F.col("a").alias("entity"),
        F.col("s").alias("rating"),
        F.col("w").alias("wins"),
        F.col("g").alias("games"),
    )


def annotator_reliability(
    df: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    ts_col: str | None = None,
    vote_id_col: str | None = None,
) -> DataFrame:
    """Per-annotator reliability: how often each annotator agrees with the
    LEAVE-ONE-OUT majority of every item they rated — the labeling-ops
    signal that routes bad annotators to re-training and weights good ones
    up.  Comparing against the plain majority (lb01's winner) inflates
    everyone: an annotator's own vote props up the very majority they're
    graded against (a single-voter item scores a guaranteed hit).  The
    LOO panel removes exactly their vote, and items where the panel would
    be empty (n_votes < 2) are excluded, not counted as trivial wins.

    Deterministic, integer-exact pipeline (lb01's collapse rules):

    1. collapse to the latest vote per (item, annotator);
    2. per-item label histogram; items keep only annotators whose LOO
       panel is non-empty (item has ≥ 2 voters);
    3. each vote fans out to the item's labels (vocabulary-bounded), the
       own-vote label's count is decremented by one, and the LOO winner is
       min over the (−adjusted_count, label) struct — a label only the
       annotator voted for (adjusted 0) can never beat a real panel label
       (adjusted ≥ 1), and ties break lexicographically like lb01;
    4. agreement aggregates per annotator in micro-units via exact DIV.

    Scale shape: three keyed aggregations plus one histogram join whose
    fan-out is the label vocabulary (tens) — all map-side combinable, no
    windows wider than (item, annotator), no driver state.

    Output: (annotator, n_items, n_agree, agree_share_q)."""
    votes = df
    if ts_col is not None:
        order = [F.col(ts_col)]
        if vote_id_col is not None:
            order.append(F.col(vote_id_col))
        latest = votes.groupBy(item_col, annotator_col).agg(
            F.max(F.struct(*order, F.col(label_col).alias("label"))).alias("_v")
        )
        votes = latest.select(item_col, annotator_col, F.col("_v.label").alias(label_col))
    else:
        votes = votes.select(item_col, annotator_col, label_col)

    hist = votes.groupBy(item_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    panel = hist.groupBy(item_col).agg(F.sum("c").cast("long").alias("__n"))
    elig = votes.join(
        panel.filter(F.col("__n") >= 2).select(item_col), item_col, "left_semi"
    )
    fan = elig.join(
        hist.select(item_col, F.col(label_col).alias("__hl"), "c"), item_col
    )
    adj = F.col("c") - (F.col("__hl") == F.col(label_col)).cast("long")
    loo = fan.groupBy(item_col, annotator_col, label_col).agg(
        F.min(F.struct((-adj).alias("neg"), F.col("__hl").alias("label"))).alias("_w")
    )
    agree = (F.col("_w.label") == F.col(label_col)).cast("long")
    return loo.groupBy(annotator_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(agree).cast("long").alias("n_agree"),
        F.expr(
            f"CAST(SUM(CASE WHEN _w.label = {label_col} THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("agree_share_q"),
    )


def reliability_weighted_labels(
    df: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    ts_col: str | None = None,
    vote_id_col: str | None = None,
) -> DataFrame:
    """Second-pass label aggregation: votes weighted by each annotator's
    measured reliability instead of one-annotator-one-vote — the standard
    escalation when lb01's plain majority and lb04's reliability scores
    disagree about who to trust.  Everything stays exact integer
    arithmetic so the relabeling replays bit-identically:

    - weight w_a = (n_agree_a + 1)·10⁶ DIV (n_items_a + 2) — the
      Beta(1,1)-smoothed LOO agreement rate, so an annotator with NO
      reliability evidence (all their items were single-voter) gets the
      prior 500000, not a discard and not full trust;
    - per item, each label scores Σ w_a over its voters; the winner is
      the max score with lb01's lexicographic tiebreak;
    - ``changed`` flags items the weighting FLIPPED vs the plain
      majority — the re-adjudication queue is the deliverable.

    Scale shape: lb04's aggregations + one broadcast join of the
    O(annotators) weight table onto the collapsed votes + two keyed
    aggregations — no windows, no driver state.

    Output: (item, weighted_label, weighted_score, n_votes, plain_label,
    changed)."""
    votes = df
    if ts_col is not None:
        order = [F.col(ts_col)]
        if vote_id_col is not None:
            order.append(F.col(vote_id_col))
        latest = votes.groupBy(item_col, annotator_col).agg(
            F.max(F.struct(*order, F.col(label_col).alias("label"))).alias("_v")
        )
        votes = latest.select(
            item_col, annotator_col, F.col("_v.label").alias(label_col)
        )
    else:
        votes = votes.select(item_col, annotator_col, label_col)

    rel = annotator_reliability(
        votes, item_col=item_col, annotator_col=annotator_col, label_col=label_col
    )
    weights = rel.select(
        annotator_col,
        F.expr("CAST((n_agree + 1) * 1000000 DIV (n_items + 2) AS BIGINT)").alias(
            "__wt"
        ),
    )
    wv = votes.join(F.broadcast(weights), annotator_col, "left").withColumn(
        "__wt", F.coalesce(F.col("__wt"), F.lit(500_000).cast("long"))
    )
    score = wv.groupBy(item_col, label_col).agg(
        F.sum("__wt").cast("long").alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__c"),
    )
    per_item = score.groupBy(item_col).agg(
        F.min(
            F.struct((-F.col("__s")).alias("neg"), F.col(label_col).alias("label"))
        ).alias("_ww"),
        F.min(
            F.struct((-F.col("__c")).alias("neg"), F.col(label_col).alias("label"))
        ).alias("_pw"),
        F.sum("__c").cast("long").alias("n_votes"),
    )
    return per_item.select(
        item_col,
        F.col("_ww.label").alias("weighted_label"),
        (-F.col("_ww.neg")).cast("long").alias("weighted_score"),
        "n_votes",
        F.col("_pw.label").alias("plain_label"),
        (F.col("_ww.label") != F.col("_pw.label")).alias("changed"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    ts_col: str | None = None,
    vote_id_col: str | None = None,
) -> DataFrame:
    """Dataset-level chance-corrected inter-annotator reliability —
    Fleiss' kappa generalized to unequal raters per item: the one number
    that says whether a labeling campaign produced signal ("substantial
    agreement") or noise dressed as labels ("barely above chance" — lb01's
    per-item shares can look fine while kappa exposes that the base-rate
    chance agreement explains them).

    Every step is exact integer arithmetic, so the result is engine- and
    partitioning-identical:

    - P̄_o: each rated item's pairwise agreement quantizes to micro-units
      EXACTLY as lb01 does (ap_i·10⁶ DIV n_i(n_i−1)), then the integer
      mean over rated items (n_i ≥ 2; singleton items carry no agreement
      evidence and are excluded but reported).
    - P̄_e: Σ_l c_l²·10⁶ DIV N² over the rated items' votes, computed in
      DECIMAL(38,0) — N² at 10⁷ votes is 10¹⁴ and the ·10⁶ product would
      silently wrap BIGINT with ANSI off (tx11's zipf lesson).
    - κ = (P̄_o − P̄_e)·10⁶ DIV (10⁶ − P̄_e), NULL when P̄_e = 10⁶ (a
      single-label campaign has no chance-corrected signal, not κ=0).

    One extra (label)-keyed aggregation on top of lb01's two — the label
    histogram is vocabulary-bounded, so the whole computation after the
    vote collapse is O(items × labels) rows.

    Output: one row (n_items, n_rated_items, n_votes, po_q, pe_q,
    kappa_q)."""
    votes = df
    if ts_col is not None:
        order = [F.col(ts_col)]
        if vote_id_col is not None:
            order.append(F.col(vote_id_col))
        latest = votes.groupBy(item_col, annotator_col).agg(
            F.max(F.struct(*order, F.col(label_col).alias("label"))).alias("_v")
        )
        votes = latest.select(item_col, F.col("_v.label").alias(label_col))
    else:
        votes = votes.select(item_col, label_col)

    hist = votes.groupBy(item_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_item = hist.groupBy(item_col).agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("ap"),
    )
    rated = per_item.filter(F.col("n") >= 2)
    po = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n_rated_items"),
        F.coalesce(
            F.expr("CAST(SUM(ap * 1000000 DIV (n * (n - 1))) DIV COUNT(1) AS BIGINT)"),
            F.lit(None).cast("long"),
        ).alias("po_q"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_votes"),
    )
    # label totals over the RATED items' votes only (the same population
    # P̄_o averages over)
    rated_votes = hist.join(
        rated.select(item_col), item_col, "left_semi"
    )
    pe = (
        rated_votes.groupBy(label_col)
        .agg(F.sum("c").cast("long").alias("cl"))
        .agg(
            F.expr(
                "CAST(CAST(SUM(cl * cl) AS DECIMAL(38,0)) * 1000000"
                " DIV (CAST(SUM(cl) AS DECIMAL(38,0)) * SUM(cl)) AS BIGINT)"
            ).alias("pe_q")
        )
    )
    totals = per_item.agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    out = totals.crossJoin(po).crossJoin(pe)
    return out.select(
        "n_items",
        "n_rated_items",
        "n_votes",
        "po_q",
        "pe_q",
        # κ is the one quantity here that can go NEGATIVE.  Integer
        # division semantics measured, not assumed: Spark's DIV and
        # DuckDB's // on integers BOTH truncate toward zero (C-style);
        # python's // floors — so the pytest mirror must truncate
        # (int(a/b) shape), not floor.  κ quantizes toward zero on
        # below-chance campaigns, a documented, engine-agreed choice.
        F.when(
            F.col("pe_q") < 1000000,
            F.expr("CAST((po_q - pe_q) * 1000000 DIV (1000000 - pe_q) AS BIGINT)"),
        ).alias("kappa_q"),
    )


def dawid_skene_relabel(
    df: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    ts_col: str | None = None,
    vote_id_col: str | None = None,
) -> DataFrame:
    """One Dawid-Skene EM step — the classic annotator model above lb04's
    flat reliability score: each annotator gets a CONFUSION MATRIX
    (which labels they emit per true label), so a voter who reliably
    mistakes 'error' for 'click' stops dragging items toward 'click'
    while still counting everywhere else.  M-step conditions on lb01's
    majority as the current truth estimate; E-step re-labels every item
    by posterior argmax.  Iterating to convergence is gr02's
    join-agg-per-iteration pattern; ONE step is already the useful
    product (the re-adjudication diff vs the majority) and keeps the
    whole computation under a single oracle statement.

    Determinism design (tx09's integer micro-nat scheme): probabilities
    become quantized NEGATIVE-LOG costs, products become exact BIGINT
    sums, argmax becomes min over the (cost, label) struct with
    lexicographic ties.  Laplace smoothing keeps every cost finite —
    P(a emits l | true t) = (n[a,t,l]+1)/(n[a,t]+L) and
    P(t) = (items_t+1)/(n_items+L), L = label-vocabulary size — and the
    LEFT joins below coalesce absent confusion cells to exactly those
    smoothed values, so unseen (annotator, truth, label) combinations
    cost floor(ln(n[a,t]+L)·10⁶), never NULL.

    Scale shape: vote collapse + two keyed confusion aggregations
    (bounded by annotators × L²), a votes × L candidate fan-out
    (vocabulary-bounded multiplier, the lb04 shape), two LEFT lookup
    joins against the confusion tables, one (item, candidate) sum and
    one (item) argmin.  No windows wider than a key, no driver state
    beyond two broadcast scalars.

    Output: (item, ds_label, ds_cost_q, majority_label, n_votes,
    changed)."""
    votes = df
    if ts_col is not None:
        order = [F.col(ts_col)]
        if vote_id_col is not None:
            order.append(F.col(vote_id_col))
        latest = votes.groupBy(item_col, annotator_col).agg(
            F.max(F.struct(*order, F.col(label_col).alias("label"))).alias("_v")
        )
        votes = latest.select(
            item_col, annotator_col, F.col("_v.label").alias(label_col)
        )
    else:
        votes = votes.select(item_col, annotator_col, label_col)

    hist = votes.groupBy(item_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    maj = hist.groupBy(item_col).agg(
        F.min(
            F.struct((-F.col("c")).alias("neg"), F.col(label_col).alias("label"))
        ).alias("_w"),
        F.sum("c").cast("long").alias("n_votes"),
    )
    t0 = maj.select(item_col, F.col("_w.label").alias("t0"))

    labels = votes.select(F.col(label_col).alias("t")).distinct()
    nl = labels.agg(F.count(F.lit(1)).cast("double").alias("L"))

    tagged = votes.join(t0, item_col)
    conf = tagged.groupBy(
        annotator_col, F.col("t0").alias("t"), F.col(label_col).alias("l")
    ).agg(F.count(F.lit(1)).cast("long").alias("natl"))
    ctx = conf.groupBy(annotator_col, "t").agg(
        F.sum("natl").cast("long").alias("nat")
    )
    prior = t0.groupBy(F.col("t0").alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("items_t")
    )
    n_items = t0.agg(F.count(F.lit(1)).cast("double").alias("n_items"))

    cand = votes.select(
        item_col, annotator_col, F.col(label_col).alias("l")
    ).crossJoin(F.broadcast(labels))
    scored = (
        cand.join(conf, on=[annotator_col, "t", "l"], how="left")
        .join(ctx, on=[annotator_col, "t"], how="left")
        .crossJoin(F.broadcast(nl.select(F.col("L").alias("__L1"))))
        .select(
            item_col,
            "t",
            F.floor(
                (
                    F.log(
                        F.coalesce(F.col("nat"), F.lit(0)).cast("double")
                        + F.col("__L1")
                    )
                    - F.log(
                        F.coalesce(F.col("natl"), F.lit(0)).cast("double") + F.lit(1.0)
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("vcost"),
        )
    )
    per_item_t = scored.groupBy(item_col, "t").agg(
        F.sum("vcost").cast("long").alias("vsum")
    )
    pcost = (
        labels.join(prior, "t", "left")
        .crossJoin(F.broadcast(nl.select(F.col("L").alias("__L2"))))
        .crossJoin(F.broadcast(n_items))
        .select(
            "t",
            F.floor(
                (
                    F.log(F.col("n_items") + F.col("__L2"))
                    - F.log(
                        F.coalesce(F.col("items_t"), F.lit(0)).cast("double")
                        + F.lit(1.0)
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("pc"),
        )
    )
    total = per_item_t.join(F.broadcast(pcost), "t").select(
        item_col, "t", (F.col("vsum") + F.col("pc")).alias("cost")
    )
    win = total.groupBy(item_col).agg(
        F.min(F.struct(F.col("cost"), F.col("t").alias("label"))).alias("_d")
    )
    return win.join(maj, item_col).select(
        item_col,
        F.col("_d.label").alias("ds_label"),
        F.col("_d.cost").cast("long").alias("ds_cost_q"),
        F.col("_w.label").alias("majority_label"),
        "n_votes",
        (F.col("_d.label") != F.col("_w.label")).alias("changed"),
    )


def dawid_skene_converged(
    df: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    ts_col: str | None = None,
    vote_id_col: str | None = None,
    max_iters: int = 50,
) -> DataFrame:
    """Dawid-Skene EM iterated to the LABEL FIXPOINT — lb05's single step
    completed under gr02's stop-rule pattern: step 1 conditions the
    confusion matrices on the majority estimate (exactly
    ``dawid_skene_relabel``), every later step re-conditions on the
    previous step's posterior argmax, and iteration k+1 is adopted only
    while it flips at least one item's label.  The converged ITERATION
    COUNT is part of the result (identical on every row), so an oracle
    replaying "emit step k+1 only while it changed something" must land
    on the same final step AND the same labels/costs — which is how the
    recursive-CTE oracle checks this.

    Replayability rests on the same exact-integer trajectory as lb05
    (tx09's micro-nat scheme): every per-step cost is a BIGINT sum of
    floor(ln·10⁶) terms, argmax is min over the (cost, label) struct with
    lexicographic ties, so step k is bit-identical on every engine and
    partitioning and the fixpoint is engine-agreed.  (A float EM diverges
    across engines through summation order alone and its "convergence"
    round differs per run.)

    Scale shape per iteration (the bradley_terry/gr02 loop discipline):
    the collapsed votes, label vocabulary, and the votes × L candidate
    fan-out are pinned ONCE with eager localCheckpoints (an unpinned
    candidate frame would re-run the collapse every step); each step is
    two bounded confusion aggregations (annotators × L²), two broadcast
    lookup joins onto the pinned candidates, one (item, candidate) sum,
    one (item) argmin, and an O(items) change-count join + 1-row driver
    round-trip for the stop rule; the new assignment is checkpointed
    eagerly because step k+1 consumes it three times (M-step tag, prior,
    change test) — unpinned, the whole prior step would re-run 3× per
    consumer (lb02's measured 3^k lesson).

    Output: (item, ds_label, ds_cost_q, majority_label, n_votes, changed,
    iters); raises RuntimeError past ``max_iters`` (a genuine
    non-convergence bug, not a tolerance knob)."""
    votes = df
    if ts_col is not None:
        order = [F.col(ts_col)]
        if vote_id_col is not None:
            order.append(F.col(vote_id_col))
        latest = votes.groupBy(item_col, annotator_col).agg(
            F.max(F.struct(*order, F.col(label_col).alias("label"))).alias("_v")
        )
        votes = latest.select(
            item_col, annotator_col, F.col("_v.label").alias(label_col)
        )
    else:
        votes = votes.select(item_col, annotator_col, label_col)
    votes = votes.localCheckpoint(eager=True)

    from pyspark.sql import Observation

    hist = votes.groupBy(item_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # iteration-invariant scalars (the oracle's nl/ni helper CTEs): the
    # label vocabulary size and the item count never change across steps —
    # both ride their frame's own checkpoint job as Observations instead
    # of two standalone count jobs (guide §5)
    obs_m, obs_l = Observation(), Observation()
    maj = (
        hist.groupBy(item_col)
        .agg(
            F.min(
                F.struct((-F.col("c")).alias("neg"), F.col(label_col).alias("label"))
            ).alias("_w"),
            F.sum("c").cast("long").alias("n_votes"),
        )
        .observe(obs_m, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    labels = (
        votes.select(F.col(label_col).alias("t"))
        .distinct()
        .observe(obs_l, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    L = float(obs_l.get["n"])
    n_items = float(obs_m.get["n"])
    cand = (
        votes.select(item_col, annotator_col, F.col(label_col).alias("l"))
        .crossJoin(F.broadcast(labels))
        .localCheckpoint(eager=True)
    )

    def em_step(assign: DataFrame) -> DataFrame:
        # assign: (item, cur) — the previous step's posterior argmax
        tagged = votes.join(assign, item_col)
        conf = tagged.groupBy(
            annotator_col, F.col("cur").alias("t"), F.col(label_col).alias("l")
        ).agg(F.count(F.lit(1)).cast("long").alias("natl"))
        ctx = conf.groupBy(annotator_col, "t").agg(
            F.sum("natl").cast("long").alias("nat")
        )
        prior = assign.groupBy(F.col("cur").alias("t")).agg(
            F.count(F.lit(1)).cast("long").alias("items_t")
        )
        scored = (
            cand.join(F.broadcast(conf), on=[annotator_col, "t", "l"], how="left")
            .join(F.broadcast(ctx), on=[annotator_col, "t"], how="left")
            .select(
                item_col,
                "t",
                F.floor(
                    (
                        F.log(
                            F.coalesce(F.col("nat"), F.lit(0)).cast("double")
                            + F.lit(L)
                        )
                        - F.log(
                            F.coalesce(F.col("natl"), F.lit(0)).cast("double")
                            + F.lit(1.0)
                        )
                    )
                    * 1e6
                )
                .cast("long")
                .alias("vcost"),
            )
        )
        per_item_t = scored.groupBy(item_col, "t").agg(
            F.sum("vcost").cast("long").alias("vsum")
        )
        pcost = labels.join(F.broadcast(prior), "t", "left").select(
            "t",
            F.floor(
                (
                    F.log(F.lit(n_items + L))
                    - F.log(
                        F.coalesce(F.col("items_t"), F.lit(0)).cast("double")
                        + F.lit(1.0)
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("pc"),
        )
        total = per_item_t.join(F.broadcast(pcost), "t").select(
            item_col, "t", (F.col("vsum") + F.col("pc")).alias("cost")
        )
        return total.groupBy(item_col).agg(
            F.min(F.struct(F.col("cost"), F.col("t").alias("label"))).alias("_d")
        ).select(
            item_col,
            F.col("_d.label").alias("cur"),
            F.col("_d.cost").cast("long").alias("cost"),
        )

    # step 1 is unconditional (lb05's product — the relabel diff vs the
    # majority); steps 2.. are adopted only while they change a label
    state = em_step(
        maj.select(item_col, F.col("_w.label").alias("cur"))
    ).localCheckpoint(eager=True)
    iters = 1
    for k in range(2, max_iters + 1):
        # the changed-label count rides the step's own checkpoint as an
        # Observation over the (new, old) label pair — the old label joins
        # back from the (checkpointed, O(items)) previous state INSIDE the
        # step job, so the separate probe-join job per EM round is gone
        # (guide §5; VERDICT r12 next-round #2).  The join is 1:1 — every
        # step emits exactly one row per distinct voted item — so the
        # adopted frame is row-identical to the bare em_step output.
        obs = Observation()
        new = (
            em_step(state.select(item_col, "cur"))
            .join(state.select(item_col, F.col("cur").alias("__old")), item_col)
            .observe(
                obs,
                F.sum(
                    (F.col("cur") != F.col("__old")).cast("long")
                ).alias("nchanged"),
            )
            .select(item_col, "cur", "cost")
            .localCheckpoint(eager=True)
        )
        nchanged = obs.get["nchanged"]  # rode the checkpoint job
        if not nchanged:
            break
        state = new
        iters = k
    else:
        raise RuntimeError(
            f"dawid_skene_converged did not converge within {max_iters} steps"
        )
    return state.join(maj, item_col).select(
        item_col,
        F.col("cur").alias("ds_label"),
        F.col("cost").alias("ds_cost_q"),
        F.col("_w.label").alias("majority_label"),
        "n_votes",
        (F.col("cur") != F.col("_w.label")).alias("changed"),
        F.lit(iters).cast("int").alias("iters"),
    )
