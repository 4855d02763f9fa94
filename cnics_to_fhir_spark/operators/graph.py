"""Graph operators — the join-agg-per-iteration algorithm class:
PageRank, connected components by star contraction
(``connected_components_star``; operators/dedup.py keeps the min-label
propagation variant, ``duplicate_clusters``) and triangle counts.

Spark-idiomatic shape: the edge list stays distributed; one iteration is
``ranks ⋈ edges → groupBy(dst) → sum`` — a single keyed shuffle.  No
vertex-centric framework needed for fixed-iteration analytics.

Determinism design (for the DuckDB oracle): ranks live in integer
micro-units (1e6 = 1.0).  Each iteration computes ``contribution =
rank div out_degree`` (integer division) and ``rank' = 150000 +
(85 · Σ contributions) div 100`` — exact integer arithmetic end to end,
so per-node sums are order-independent and both engines land on the
identical fixed-point trajectory.  (Float PageRank would diverge between
engines through summation order alone.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000
BASE_Q = 150_000  # (1 - d) in micro-units, d = 0.85


def pagerank_int(edges: DataFrame, iters: int = 2) -> DataFrame:
    """Integer PageRank over a directed edge list (src, dst): ``iters``
    synchronous iterations from a uniform start, damping 0.85, dangling
    mass dropped (the standard simplification for fixed-iteration
    analytics).  → (node, rank_q) for every node appearing as src or dst.

    Per iteration: one broadcast-or-shuffle join of the rank table onto
    edges + one (dst)-keyed sum — the rank table is O(nodes), always the
    small side against an O(edges) edge list.  Lineage stays short for
    small fixed ``iters``; for long loops add localCheckpoint like
    dd06's label propagation."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select("node", F.lit(SCALE).cast("long").alias("rank_q"))
    for _ in range(iters):
        ranks = _pagerank_step(edges, nodes, deg, ranks)
    return ranks


def _pagerank_step(
    edges: DataFrame,
    nodes: DataFrame,
    deg: DataFrame,
    ranks: DataFrame,
    carry_old: bool = False,
) -> DataFrame:
    """One synchronous step.  ``carry_old=True`` additionally projects the
    pre-step rank as ``__old`` (joining ``ranks`` instead of ``nodes`` —
    the same node universe: every step emits a row per node), so a
    convergence loop can compute the ∞-norm delta as an Observation on
    the step's own checkpoint instead of a separate join job."""
    contrib = (
        edges.join(ranks, edges["src"] == ranks["node"])
        .join(deg, on="src")
        .select(
            F.col("dst").alias("node"),
            F.expr("rank_q div deg").alias("c"),
        )
        .groupBy("node")
        .agg(F.sum("c").alias("s"))
    )
    base = ranks if carry_old else nodes
    cols = [
        F.col("node"),
        (F.lit(BASE_Q) + F.expr("85 * coalesce(s, 0) div 100")).cast("long").alias("rank_q"),
    ]
    if carry_old:
        cols.append(F.col("rank_q").alias("__old"))
    return base.join(contrib, on="node", how="left").select(*cols)


def pagerank_int_converged(
    edges: DataFrame, tol_q: int = 1_000, max_iters: int = 60
) -> DataFrame:
    """Integer PageRank run to an EXPLICIT fixpoint: iterate until the
    first step whose ∞-norm rank change is ≤ ``tol_q`` micro-units, and
    return the PRE-step ranks of that step plus the iteration index —
    → (node, rank_q, iters), ``iters`` identical on every row.

    The convergence test is part of the replayable semantics: because the
    whole trajectory is exact integer arithmetic (see ``pagerank_int``),
    an independent engine replaying "emit iteration k+1 only while
    delta(k→k+1) > tol" lands on the same final iteration AND the same
    ranks — which is how the gr02 oracle checks this with a recursive CTE.

    Scale shape per iteration: the same single keyed shuffle as
    ``pagerank_int``, plus one O(nodes) join for the delta and a 1-row
    driver round-trip (the max-delta check — dd06's fixpoint pattern);
    ``localCheckpoint`` truncates lineage so long runs don't accumulate a
    60-deep plan."""
    # Pin the EDGE LIST too, not just nodes/deg: callers typically derive
    # edges from a join (gr02: orders⋈lineitem→distinct→union) and an
    # unpinned edge frame re-runs that derivation EVERY iteration — at
    # sf1 that was ~60 replays of a 6M-row join (244 s), vs one keyed
    # shuffle per iteration pinned (the r6 sf1-selfcheck hotspot).
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(eager=True)
    ranks = nodes.select("node", F.lit(SCALE).cast("long").alias("rank_q"))
    from pyspark.sql import Observation

    for i in range(max_iters):
        # the ∞-norm delta rides the step checkpoint as an Observation
        # over the step's own (new, __old) pair — the separate
        # new⋈ranks delta job per iteration is gone (guide §5; same
        # values: the carried __old IS the joined old rank per node)
        obs = Observation()
        new = (
            _pagerank_step(edges, nodes, deg, ranks, carry_old=True)
            .observe(
                obs,
                F.max(F.abs(F.col("rank_q") - F.col("__old"))).alias("d"),
            )
            .select("node", "rank_q")
            .localCheckpoint(eager=True)
        )
        delta = obs.get["d"]
        if delta is None or delta <= tol_q:
            # delta is None ⇔ the node set is empty (max over zero rows):
            # an empty graph is trivially converged — return the (empty)
            # ranks frame rather than exhausting max_iters.
            return ranks.withColumn("iters", F.lit(i).cast("int"))
        ranks = new
    raise RuntimeError(f"pagerank did not converge within {max_iters} iterations")


# ---------------------------------------------------------------------------
# Connected components by alternating star contraction
# ---------------------------------------------------------------------------

def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a, b) with a < b, distinct."""
    return (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _sym(e: DataFrame) -> DataFrame:
    return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def _nbr_min(sym: DataFrame) -> DataFrame:
    """m(u) = min(u, min of u's neighborhood) — one keyed shuffle."""
    return sym.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))


_STAR_MAX_ROUNDS = 25


def connected_components_star(pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (the MapReduce-native CC algorithm: Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) —
    → (doc_id, cluster_rep) for every id appearing in ``pairs``, identical
    output contract to ``operators.dedup.duplicate_clusters``.

    Why a second CC algorithm: min-label propagation converges in
    O(component diameter) rounds — fine for near-clique duplicate groups,
    a scale hazard for high-diameter graphs (similarity CHAINS: a~b~c~…
    where only adjacent pairs match — exactly what near-dup thresholds
    produce on document drift series). Star contraction halves component
    height per round, converging in O(log² n) rounds regardless of
    diameter, each round two keyed shuffles (neighborhood-min + regroup).

    Per round: large-star hangs every node's LARGER neighbors onto its
    neighborhood minimum; small-star then hangs the smaller-or-equal side.
    The edge set monotonically contracts toward depth-1 stars rooted at
    component minima; the fixpoint test (edge set unchanged) is an
    Observation-carried row count on each round's checkpoint (two equal-
    count consecutive rounds trigger the one exceptAll probe that
    confirms set equality — unequal counts prove change with zero extra
    jobs).  The fixpoint is path-independent — same components whatever
    the round interleaving — so a recursive-CTE reachability oracle
    (dd06's) checks it independently of the algorithm."""
    from pyspark.sql import Observation

    # ONE materialization of the caller's (possibly expensive) pair DAG:
    # the canonicalized projection KEEPS degenerate self-pairs (x, x) so
    # the node universe can be derived lazily from this same checkpoint —
    # the old separate all_nodes checkpoint re-executed the pair DAG a
    # second time and serialized a second blocking job for a frame that
    # is consumed exactly once, at the final join.
    obs0 = Observation()
    canon = (
        pairs.select(
            F.least("id_a", "id_b").alias("a"),
            F.greatest("id_a", "id_b").alias("b"),
        )
        .distinct()
        # the initial proper-edge count rides the same materialization —
        # the separate edges.count() job per CC invocation is gone
        # (guide §5; sum is None over an empty/self-only pair set)
        .observe(obs0, F.sum((F.col("a") != F.col("b")).cast("long")).alias("n"))
        .localCheckpoint(eager=True)
    )
    edges = canon.filter(F.col("a") != F.col("b"))
    all_nodes = (
        canon.select(F.col("a").alias("doc_id"))
        .unionByName(canon.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    n_edges = obs0.get["n"] or 0
    for _ in range(_STAR_MAX_ROUNDS):
        # large-star: emit (v, m(u)) for every neighbor v > u
        s = _sym(edges)
        m = _nbr_min(s)
        ls = _canon(
            s.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # small-star: emit (v, m(u)) for v <= u, plus (u, m(u))
        s2 = _sym(ls)
        m2 = _nbr_min(s2)
        obs = Observation()
        ss = (
            _canon(
                s2.join(m2, "u")
                .filter(F.col("v") < F.col("u"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .unionByName(m2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_ss = obs.get["n"]  # rode the checkpoint job — no extra action
        unchanged = (
            n_ss == n_edges
            and ss.exceptAll(edges).limit(1).count() == 0
        )
        edges, n_edges = ss, n_ss
        if unchanged:
            rep = edges.select(F.col("b").alias("doc_id"), F.col("a").alias("cluster_rep"))
            return all_nodes.join(rep, "doc_id", "left").select(
                "doc_id", F.coalesce("cluster_rep", "doc_id").alias("cluster_rep")
            )
    raise RuntimeError(f"star contraction did not converge in {_STAR_MAX_ROUNDS} rounds")


# ---------------------------------------------------------------------------
# Triangle counting via degree-ordered edge orientation
# ---------------------------------------------------------------------------

def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as (u, v)
    pairs with u < v — the third distributed-graph primitive next to
    propagation (gr01/gr02) and components (dd06/dd10).

    The scale lever is the classic degree orientation: direct every edge
    from its (degree, id)-smaller endpoint to the larger, which makes the
    edge set a DAG where every out-neighbor has degree ≥ the node's own —
    so out-degrees are bounded by O(√m) and the wedge self-join generates
    Σ outdeg² = O(m^1.5) candidate paths instead of the naive Σ deg²
    (quadratic in the hottest hub's degree).  Each triangle then appears
    EXACTLY once as src→a, src→b, a→b.  Three hash joins, one explode,
    one count — no iteration.  → (node, n_triangles), nodes in ≥1
    triangle.

    The edge list and its oriented form are pinned eagerly (ids-only
    frames — 16 B/row): edges feed degree + orientation and the oriented
    set feeds all three wedge-join sides, so an unpinned lineage would
    re-derive the caller's (possibly expensive) edge computation ~6×
    (plan audit counted 60 scans over dd02's pair pipeline unpinned, 10
    pinned).  Swap localCheckpoint for reliable checkpoint on a real
    cluster, as with dd06."""
    edges = edges.localCheckpoint(eager=True)
    und = edges.select(F.col("u").alias("n"), F.col("v").alias("m")).unionByName(
        edges.select(F.col("v").alias("n"), F.col("u").alias("m"))
    )
    deg = und.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    e = (
        edges.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(
                F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v")),
                F.col("u"),
            ).otherwise(F.col("v")).alias("src"),
            F.when(
                F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v")),
                F.col("v"),
            ).otherwise(F.col("u")).alias("dst"),
        )
    ).localCheckpoint(eager=True)
    w1 = e.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    w2 = e.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    w3 = e.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tri = w1.join(w2, "y").join(w3, ["x", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
