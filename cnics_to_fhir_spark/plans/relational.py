"""Relational operator queries (SURVEY.md §2.2-§2.7) over the driver corpus.

Operator↔table mapping follows FIXTURES.md §5. Each query is the Spark-first
expression of a reference operator; comments cite the reference site it
re-expresses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cnics_to_fhir_spark.operators.merge import merge_plan
from cnics_to_fhir_spark.plans.registry import query, table


# --------------------------------------------------------------------------
# Flagship: filters + wide aggregation + sort (P3/P5, A5, O1) — the classic
# pricing-summary shape; exercises partial aggregation + AQE coalescing.
# --------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    tags="P3 A5 O1",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
               -- price sums in exact integer units (2dp / 4dp decimals):
               -- at sf10 a group is ~10M rows and ROUND(SUM(double)) sits
               -- inside the float-association error band — j09's docstring
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
                                                                            AS sum_base_price,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1e4 + 0.5)
                             AS BIGINT)) AS BIGINT) / 10000.0               AS sum_disc_price,
               ROUND(AVG(l_quantity), 4)                                    AS avg_qty,
               ROUND(AVG(l_discount), 4)                                    AS avg_disc,
               COUNT(*)                                                     AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated bulk aggregate — the shape the reference's per-patient
    loop (cnics_to_fhir.py:339-351) becomes after the J3 restructuring."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            (
                F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
                / F.lit(100.0)
            ).alias("sum_base_price"),
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4
                        + F.lit(0.5)
                    ).cast("long")
                )
                / F.lit(10000.0)
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Flagship multi-join shapes: the analytics the decorrelated engine enables.
# q03: selective dimension filter → fact join → top-k by computed measure.
# q05: 6-table snowflake join, dimensions broadcast, one fact shuffle.
# --------------------------------------------------------------------------
@query(
    "q03_shipping_priority",
    tags="J1 P3 A5 O1 O2",
    oracle="""
        SELECT l.l_orderkey,
               FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount)))*1e2 + 0.5)/1e2 AS revenue,
               STRFTIME(o.o_orderdate, '%Y-%m-%d') AS orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 open-revenue orders for one segment: filtered customer dim is
    broadcast; lineitem is filtered at the scan and shuffles once for the
    per-order aggregate; top-k is a TakeOrdered, never a full sort."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q05_local_supplier_volume",
    tags="J1 J8 P3 A5",
    oracle="""
        SELECT n.n_name AS nation,
               FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount)))*1e2 + 0.5)/1e2 AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
    """,
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-table snowflake join: supplier/nation/region broadcast; the only
    big-big join is lineitem⋈orders; customer⋈orders feeds it after its own
    broadcast-filtered reduction."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    from cnics_to_fhir_spark.functions.numeric import stable_round

    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# P6/P7 — IN-list + LIKE-prefix predicates (settings.ini ConditionsFilter
# semantics, spliced at cnics_to_fhir.py:123; LIKE prefixes settings.ini:44-48)
# --------------------------------------------------------------------------
@query(
    "p06_in_list_and_like",
    tags="P5 P6 P7 P1",
    oracle="""
        SELECT p_partkey, p_name, p_brand, p_type
        FROM part
        WHERE (p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
               OR p_type LIKE 'PRO%')
          AND length(p_name) > 9
    """,
)
def p06_in_list_and_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + LIKE-prefix + string-length predicates ANDed, the
    settings.ini filter-splice shape (the reference's length guard is > 0,
    cnics_to_fhir.py:122; > 9 here so the predicate bites while still
    matching real rows — p_name lengths span 7-12 in the corpus, so the
    result is non-empty at every SF and the oracle hash is load-bearing)."""
    part = table(spark, sf_dir, "part")
    return part.filter(
        (
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            | F.col("p_type").like("PRO%")
        )
        & (F.length("p_name") > 9)
    ).select("p_partkey", "p_name", "p_brand", "p_type")


# --------------------------------------------------------------------------
# P4 — null-safe inequality, 3-valued logic:
# (Historical <> 'Yes' OR Historical IS NULL)  (cnics_to_fhir.py:121)
# The corpus has no NULLs, so NULLIF synthesizes them first.
# --------------------------------------------------------------------------
@query(
    "p04_nullsafe_inequality",
    tags="P4 P3",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, o_orderstatus,
                   NULLIF(o_orderpriority, '3-MEDIUM') AS priority
            FROM orders
        )
        SELECT o_orderkey, o_orderstatus, priority
        FROM o
        WHERE priority <> '1-URGENT' OR priority IS NULL
    """,
)
def p04_nullsafe_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row output (≈80% of orders — 12k rows at sf0.01), not a 3-row
    # group summary: the hash compare then pins every row the 3VL filter
    # keeps, including each synthesized-NULL survivor.
    o = table(spark, sf_dir, "orders").withColumn(
        "priority", F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
    )
    return o.filter(
        (F.col("priority") != "1-URGENT") | F.col("priority").isNull()
    ).select("o_orderkey", "o_orderstatus", "priority")


# --------------------------------------------------------------------------
# J1 — inner equi-join (Patient ⋈ DemographicAltered, cnics_to_fhir.py:260-262)
# --------------------------------------------------------------------------
@query(
    "j01_inner_join_agg",
    tags="J1 A5",
    oracle="""
        SELECT c.c_mktsegment AS mktsegment,
               COUNT(*) AS n_orders,
               SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                   AS total_price
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        WHERE c.c_acctbal > 0
        GROUP BY c.c_mktsegment
    """,
)
def j01_inner_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money summed in exact integer cents (o_totalprice is a 2dp value,
    so per-row cents are exact): ROUND(SUM(double), 2) was this entry's
    sf10 hash mismatch — at 12M orders per segment the float partial-sum
    association diverges between engines across the 2dp boundary; integer
    sums are order-independent at any SF (same fix as q01/j09/j12/j13)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        o.join(c, c["c_custkey"] == o["o_custkey"], "inner")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents) / F.lit(100.0)).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# J2 — inner equi-join + distinct (Patients ⋈ Sessions → distinct
# (PatientID, MRN), cnics_to_fhir.py:48-56)
# --------------------------------------------------------------------------
@query(
    "j02_join_distinct",
    tags="J2 A1 P2",
    oracle="""
        SELECT DISTINCT c.c_nationkey AS nationkey, o.o_orderpriority AS priority
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        WHERE o.o_orderstatus = 'O'
    """,
)
def j02_join_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .select(F.col("c_nationkey").alias("nationkey"), F.col("o_orderpriority").alias("priority"))
        .distinct()
    )


# --------------------------------------------------------------------------
# J3 — the decorrelated N+1: the reference runs 6 correlated queries per
# patient (cnics_to_fhir.py:339-351); here the same result is ONE bulk join
# of the "page" (deterministic key-ordered LIMIT, :265) against the fact
# table, aggregated per key — broadcast the page, never loop.
# --------------------------------------------------------------------------
@query(
    "j03_decorrelated_page",
    tags="J3 O2 J1 A5",
    oracle="""
        WITH page AS (
            SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 500
        )
        SELECT p.c_custkey,
               COUNT(o.o_orderkey) AS n_orders,
               ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spend
        FROM page p LEFT JOIN orders o ON p.c_custkey = o.o_custkey
        GROUP BY p.c_custkey
    """,
)
def j03_decorrelated_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One broadcast join replaces 500 correlated lookups. An outer join
    can't broadcast its preserved side (BHJ builds only the non-preserved
    side), so the 100 TB shape is: inner BHJ fact⋈broadcast(page) →
    aggregate (shuffle carries ≤|page| grouped rows) → tiny page↔agg left
    join to restore empty groups. The fact table is never shuffled."""
    page = (
        table(spark, sf_dir, "customer").select("c_custkey").orderBy("c_custkey").limit(500)
    )
    o = table(spark, sf_dir, "orders")
    agg = (
        o.join(F.broadcast(page), page["c_custkey"] == o["o_custkey"], "inner")
        .groupBy("o_custkey")
        .agg(
            F.count("o_orderkey").alias("n"),
            F.sum("o_totalprice").alias("spend"),
        )
    )
    return (
        page.join(F.broadcast(agg), page["c_custkey"] == agg["o_custkey"], "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
            F.round(F.coalesce(F.col("spend"), F.lit(0)), 2).alias("total_spend"),
        )
    )


# --------------------------------------------------------------------------
# J5 — left-anti join (reconciliation delete, cnics_to_fhir.py:328-337)
# --------------------------------------------------------------------------
@query(
    "j05_anti_join",
    tags="J5",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
    """,
)
def j05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# J7 — semi-join (existence probe, cnics_to_fhir.py:577-583)
# --------------------------------------------------------------------------
@query(
    "j07_semi_join",
    tags="J7",
    oracle="""
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def j07_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select("c_custkey", "c_mktsegment")


# --------------------------------------------------------------------------
# J6 — the MERGE classify (full-outer diff), via the engine's merge_plan.
# current = keys seen in orders; existing = the customer dimension.
# --------------------------------------------------------------------------
@query(
    "j06_merge_actions",
    tags="J6 J5 J7 A5",
    oracle="""
        WITH cur AS (
            SELECT CAST(o_custkey AS VARCHAR) AS key,
                   ROUND(MAX(o_totalprice), 2) AS max_price
            FROM orders WHERE o_totalprice > 1000 GROUP BY o_custkey
        ),
        exi AS (
            SELECT CAST(c_custkey AS VARCHAR) AS key,
                   'srv-' || CAST(c_custkey AS VARCHAR) AS id
            FROM customer
        )
        SELECT COALESCE(cur.key, exi.key) AS key,
               CASE WHEN cur.key IS NOT NULL AND exi.key IS NOT NULL THEN 'update'
                    WHEN cur.key IS NOT NULL THEN 'insert'
                    ELSE 'delete' END AS action,
               exi.id AS id,
               cur.max_price AS max_price
        FROM cur FULL OUTER JOIN exi ON cur.key = exi.key
    """,
)
def j06_merge_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reconciliation engine itself (operators/merge.py) over star keys:
    update iff key on both sides, insert iff current-only, delete iff
    existing-only — the loop semantics of cnics_to_fhir.py:548-570."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    current = (
        o.filter(F.col("o_totalprice") > 1000)
        .groupBy(F.col("o_custkey").cast("string").alias("key"))
        .agg(F.round(F.max("o_totalprice"), 2).alias("max_price"))
    )
    existing = c.select(
        F.col("c_custkey").cast("string").alias("key"),
        F.concat(F.lit("srv-"), F.col("c_custkey").cast("string")).alias("id"),
    )
    return merge_plan(current, existing, keys=["key"], existing_id="id", payload_cols=["max_price"])


# --------------------------------------------------------------------------
# J6 variant — duplicate business keys on the current side. The reference's
# loop takes the FIRST key match in MySQL natural order then breaks
# (cnics_to_fhir.py:552-560) — nondeterministic; merge_plan pins the per-key
# minimum of the payload struct instead. Feeding raw orders rows (many per
# o_custkey) through merge_plan makes the oracle catch any regression back
# to partition-order-dependent first().
# --------------------------------------------------------------------------
@query(
    "j06b_merge_dup_keys",
    tags="J6 A3 A5",
    oracle="""
        WITH cur AS (
            SELECT key, ord_date, ord_key FROM (
                SELECT CAST(o_custkey AS VARCHAR) AS key,
                       STRFTIME(o_orderdate, '%Y-%m-%d') AS ord_date,
                       o_orderkey AS ord_key,
                       ROW_NUMBER() OVER (
                           PARTITION BY o_custkey
                           ORDER BY STRFTIME(o_orderdate, '%Y-%m-%d'), o_orderkey
                       ) AS rn
                FROM orders
            ) WHERE rn = 1
        ),
        exi AS (
            SELECT CAST(c_custkey AS VARCHAR) AS key,
                   'srv-' || CAST(c_custkey AS VARCHAR) AS id
            FROM customer WHERE c_custkey % 2 = 0
        )
        SELECT COALESCE(cur.key, exi.key) AS key,
               CASE WHEN cur.key IS NOT NULL AND exi.key IS NOT NULL THEN 'update'
                    WHEN cur.key IS NOT NULL THEN 'insert'
                    ELSE 'delete' END AS action,
               exi.id AS id,
               cur.ord_date AS ord_date,
               cur.ord_key AS ord_key
        FROM cur FULL OUTER JOIN exi ON cur.key = exi.key
    """,
)
def j06b_merge_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_plan over a current side with many rows per key: the collapse
    must be the deterministic struct-min (earliest ord_date, then smallest
    ord_key), never a partition-order first()."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    current = o.select(
        F.col("o_custkey").cast("string").alias("key"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ord_date"),
        F.col("o_orderkey").alias("ord_key"),
    )
    existing = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").cast("string").alias("key"),
        F.concat(F.lit("srv-"), F.col("c_custkey").cast("string")).alias("id"),
    )
    return merge_plan(current, existing, keys=["key"], existing_id="id", payload_cols=["ord_date", "ord_key"])


# --------------------------------------------------------------------------
# A3/O1 — first-row-per-group window (first demographic row wins,
# cnics_to_fhir.py:440-525 break at :525; ORDER BY DemographicId :130)
# --------------------------------------------------------------------------
@query(
    "a03_first_row_per_group",
    tags="A3 O1 W",
    oracle="""
        SELECT o_custkey, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS first_order_date
        FROM (
            SELECT o_custkey, o_orderkey, o_orderdate,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
            FROM orders
        )
        WHERE rn = 1
    """,
)
def a03_first_row_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_order_date"),
        )
    )


# --------------------------------------------------------------------------
# A4 — last-write-wins per key (crosswalk dict overwrite,
# cnics_to_fhir.py:299-303) over events ordered by ts.
# --------------------------------------------------------------------------
@query(
    "a04_last_write_wins",
    tags="A4 W O1",
    oracle="""
        SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
               ROUND(value, 2) AS last_value
        FROM (
            SELECT user_id, event_id, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
)
def a04_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 2).alias("last_value"),
        )
    )


# --------------------------------------------------------------------------
# A4b / S4 — the crosswalk's PER-FIELD last-write-wins quirk
# (cnics_to_fhir.py:296-303): for a duplicate SitePatientId, hmrn is
# overwritten unconditionally — including with the literal string 'NULL',
# which the reference then ships as an identifier value (:398-402) — while
# umrn is overwritten only when non-'NULL', so an earlier real umrn
# survives a trailing 'NULL' row.  The fixture derives a crosswalk-shaped
# table from `customer` with duplicate keys (custkey % 400) and planted
# 'NULL' literals in both fields, then resolves through the production
# `per_field_lww` — the same code path `load_crosswalk` uses.
# --------------------------------------------------------------------------
@query(
    "a04b_crosswalk_field_lww",
    tags="A4 S4 J4",
    oracle="""
        WITH raw AS (
            SELECT
                CASE WHEN c_custkey % 11 = 0 THEN 'NULL'
                     ELSE 'sp-' || CAST(c_custkey % 400 AS VARCHAR) END AS SitePatientId,
                CASE WHEN c_custkey % 7 = 0 THEN 'NULL'
                     ELSE 'H' || CAST(c_custkey AS VARCHAR) END AS hmrn,
                CASE WHEN c_custkey % 3 = 0 THEN 'NULL'
                     ELSE 'U' || CAST(c_custkey AS VARCHAR) END AS umrn,
                c_custkey AS ord
            FROM customer
        ),
        keep AS (SELECT * FROM raw WHERE SitePatientId <> 'NULL'),
        h AS (
            SELECT SitePatientId, hmrn FROM (
                SELECT SitePatientId, hmrn,
                       ROW_NUMBER() OVER (PARTITION BY SitePatientId ORDER BY ord DESC) AS rn
                FROM keep
            ) WHERE rn = 1
        ),
        u AS (
            SELECT SitePatientId, umrn FROM (
                SELECT SitePatientId, umrn,
                       ROW_NUMBER() OVER (PARTITION BY SitePatientId ORDER BY ord DESC) AS rn
                FROM keep WHERE umrn <> 'NULL'
            ) WHERE rn = 1
        )
        SELECT h.SitePatientId, h.hmrn, u.umrn
        FROM h LEFT JOIN u ON h.SitePatientId = u.SitePatientId
    """,
)
def a04b_crosswalk_field_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnics_to_fhir_spark.sources.crosswalk import per_field_lww

    c = F.col("c_custkey")
    raw = table(spark, sf_dir, "customer").select(
        F.when(c % 11 == 0, F.lit("NULL"))
        .otherwise(F.concat(F.lit("sp-"), (c % 400).cast("string")))
        .alias("SitePatientId"),
        F.when(c % 7 == 0, F.lit("NULL"))
        .otherwise(F.concat(F.lit("H"), c.cast("string")))
        .alias("hmrn"),
        F.when(c % 3 == 0, F.lit("NULL"))
        .otherwise(F.concat(F.lit("U"), c.cast("string")))
        .alias("umrn"),
        c.alias("__ord"),
    )
    kept = raw.filter(F.col("SitePatientId") != "NULL")
    return per_field_lww(
        kept,
        key="SitePatientId",
        ord_col="__ord",
        unconditional=["hmrn"],
        non_null_literal=["umrn"],
    ).select("SitePatientId", "hmrn", "umrn")


# --------------------------------------------------------------------------
# A1 — DISTINCT (select distinct SessionId, cnics_to_fhir.py:144-145)
# --------------------------------------------------------------------------
@query(
    "a01_distinct",
    tags="A1 P2",
    oracle="""
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def a01_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# --------------------------------------------------------------------------
# A2 — set-accumulate dedup (unique MRNs across sessions,
# cnics_to_fhir.py:410-420) → collect_set, serialized sorted for the oracle.
# --------------------------------------------------------------------------
@query(
    "a02_collect_set",
    tags="A2 A1",
    oracle="""
        SELECT l_orderkey,
               ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(l_suppkey))), ',') AS supp_set,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp
        FROM lineitem
        GROUP BY l_orderkey
    """,
)
def a02_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # n_supp is derived from the set (size == COUNT DISTINCT, both null-free)
    # instead of a separate countDistinct, which would add an Expand node and
    # a second aggregation path over the same shuffle.
    agged = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("supps"))
    return agged.select(
        "l_orderkey",
        F.array_join(F.sort_array("supps"), ",").alias("supp_set"),
        F.size("supps").cast("long").alias("n_supp"),
    )


# --------------------------------------------------------------------------
# A5 — counting aggregation (the 12 ins/upd/del counters,
# cnics_to_fhir.py:914-925)
# --------------------------------------------------------------------------
@query(
    "a05_group_counts",
    tags="A5",
    oracle="""
        SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM events GROUP BY event_type
    """,
)
def a05_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )


# --------------------------------------------------------------------------
# A6 — uniqueness assertion (duplicate-identifier abort,
# cnics_to_fhir.py:906-908): keys with >1 row.
# --------------------------------------------------------------------------
@query(
    "a06_uniqueness_guard",
    tags="A6",
    oracle="""
        SELECT o_custkey AS key, COUNT(*) AS n
        FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
    """,
)
def a06_uniqueness_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cnics_to_fhir_spark.operators.merge import assert_unique_keys

    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return assert_unique_keys(o, "key")


# --------------------------------------------------------------------------
# O2 — LIMIT with a total order (page extraction, cnics_to_fhir.py:265);
# deterministic because the sort key is unique.
# --------------------------------------------------------------------------
@query(
    "o02_order_limit",
    tags="O1 O2",
    oracle="""
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def o02_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


# --------------------------------------------------------------------------
# O3 — the reference's (disabled) ORDER BY rand() sample (cnics_to_fhir.py:264)
# re-expressed deterministically: hash-systematic sampling on md5 of the key,
# identical across engines and across runs — the reproducible form a training
# pipeline needs for held-out splits.
# --------------------------------------------------------------------------
@query(
    "o03_deterministic_sample",
    tags="O3 F22",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    """,
)
def o03_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
    ).select("o_orderkey", "o_custkey", "o_orderstatus")


# --------------------------------------------------------------------------
# P8/P9 — the reference's Python-side guard quirk (cnics_to_fhir.py:574):
# a row is SKIPPED iff (key mismatch AND name non-blank); i.e. processed when
# NOT(mismatch AND trim(name) <> ''). P9: literal-'NULL' strings dropped
# (cnics_to_fhir.py:298-303). Reproduced exactly, as documented divergence
# bait — the blank-name rows leak through the mismatch check.
# --------------------------------------------------------------------------
@query(
    "p08_guard_quirk",
    tags="P8 P9 F14",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderpriority
        FROM orders
        WHERE NOT (o_custkey % 7 <> 0 AND TRIM(o_orderpriority) <> '')
          AND o_orderpriority <> 'NULL'
    """,
)
def p08_guard_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mismatch = F.col("o_custkey") % 7 != 0
    nonblank = F.trim(F.col("o_orderpriority")) != ""
    return o.filter(~(mismatch & nonblank) & (F.col("o_orderpriority") != "NULL")).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )


# --------------------------------------------------------------------------
# F20/F21 — JSON serialize + path extraction (orjson.dumps at
# cnics_to_fhir.py:527; reply-path probes at :332, :556). to_json of a struct
# and get_json_object round-trip, byte-compatible with the SQL oracle.
# --------------------------------------------------------------------------
@query(
    "f20_json_roundtrip",
    tags="F20 F21 B1",
    oracle="""
        WITH j AS (
            SELECT o_orderkey,
                   to_json(struct_pack(
                       key := o_orderkey,
                       status := o_orderstatus,
                       priority := o_orderpriority))::VARCHAR AS body_json
            FROM orders
        )
        SELECT o_orderkey, body_json,
               json_extract_string(body_json, '$.status') AS status_back,
               CAST(json_extract(body_json, '$.key') AS BIGINT) AS key_back
        FROM j
    """,
)
def f20_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    body = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("key"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
    )
    return o.select("o_orderkey", body.alias("body_json")).select(
        "o_orderkey",
        "body_json",
        F.get_json_object("body_json", "$.status").alias("status_back"),
        F.get_json_object("body_json", "$.key").cast("long").alias("key_back"),
    )


# --------------------------------------------------------------------------
# B1-B4 — nested resource assembly (Patient/Condition/Observation templates,
# cnics_to_fhir.py:367-527, 586-625, 766-893): identifier arrays, nested
# code.coding, value struct — built with F.struct/F.array + to_json, hash-
# compared as the wire-format JSON string against the SQL oracle.
# --------------------------------------------------------------------------
@query(
    "b01_resource_assembly",
    tags="B1 B2 B4 F20 F19",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               to_json(struct_pack(
                   resourceType := 'Observation',
                   id := 'li-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR),
                   identifier := [struct_pack(
                       system := 'urn:cnics:lineitem',
                       value := CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))],
                   code := struct_pack(coding := [struct_pack(
                       system := 'urn:cnics:part',
                       code := CAST(l_partkey AS VARCHAR))]),
                   valueQuantity := struct_pack(
                       value := CAST(l_quantity AS BIGINT),
                       unit := 'ea')))::VARCHAR AS body_json
        FROM lineitem
        WHERE l_linenumber = 1
    """,
)
def b01_resource_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    ok = F.col("l_orderkey").cast("string")
    ln = F.col("l_linenumber").cast("string")
    body = F.to_json(
        F.struct(
            F.lit("Observation").alias("resourceType"),
            F.concat(F.lit("li-"), ok, F.lit("-"), ln).alias("id"),
            F.array(
                F.struct(
                    F.lit("urn:cnics:lineitem").alias("system"),
                    F.concat(ok, F.lit(":"), ln).alias("value"),
                )
            ).alias("identifier"),
            F.struct(
                F.array(
                    F.struct(
                        F.lit("urn:cnics:part").alias("system"),
                        F.col("l_partkey").cast("string").alias("code"),
                    )
                ).alias("coding")
            ).alias("code"),
            F.struct(
                F.col("l_quantity").cast("long").alias("value"),
                F.lit("ea").alias("unit"),
            ).alias("valueQuantity"),
        )
    )
    return li.select("l_orderkey", "l_linenumber", body.alias("body_json"))


# --------------------------------------------------------------------------
# §2.7 set ops — multi-site runs concatenate per-site extracts
# (cnics_to_fhir.py:257) → unionByName with a site lit column.
# --------------------------------------------------------------------------
@query(
    "u01_union_by_name",
    tags="U J1",
    oracle="""
        SELECT 'auto' AS segment_group, c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        UNION ALL
        SELECT 'bld' AS segment_group, c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def u01_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.lit("auto").alias("segment_group"), "c_custkey"
    )
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.lit("bld").alias("segment_group"), "c_custkey"
    )
    return a.unionByName(b)


# --------------------------------------------------------------------------
# J8/S3 — broadcast membership join (code-table probe, cnics_to_fhir.py:16)
# expressed as an explicit broadcast join, the 100 TB-safe form of isin.
# --------------------------------------------------------------------------
@query(
    "j08_broadcast_membership",
    tags="J8 S3 J4",
    oracle="""
        SELECT n.n_name AS nation, COUNT(*) AS n_customers
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name IN ('ASIA', 'EUROPE')
        GROUP BY n.n_name
    """,
)
def j08_broadcast_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --------------------------------------------------------------------------
# q06 — the canonical predicate-pushdown query: three range filters, no
# join, one scalar aggregate. Every filter must reach the parquet scan
# (PushedFilters); the scan reads 4 columns of 16 (ReadSchema pruning).
# --------------------------------------------------------------------------
@query(
    "q06_forecast_revenue",
    tags="P3 P5 A5 F18",
    oracle="""
        SELECT ROUND(CAST(SUM(l_extendedprice * l_discount) AS DOUBLE), 2) AS revenue,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Subquery shapes. The reference's only subquery pattern is the correlated
# N+1 loop (cnics_to_fhir.py:339-351); a real analytics surface also needs
# EXISTS and correlated-scalar subqueries, decorrelated the way Catalyst
# does: EXISTS -> left-semi join, scalar-per-key -> aggregate + equi-join.
# --------------------------------------------------------------------------
@query(
    "q04_order_priority",
    tags="J7 P3 A5 O1",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS as a left-semi join with a mixed equi + non-equi
    condition. The equi component (l_orderkey = o_orderkey) keeps the join
    hash-partitionable at scale; the range component rides along as a
    residual predicate — no nested-loop fallback."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q17_small_quantity_revenue",
    tags="J1 J3 A5 F18",
    oracle="""
        WITH brand_parts AS (
            SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'
        ),
        thresh AS (
            SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_thresh
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM brand_parts)
            GROUP BY l_partkey
        )
        SELECT FLOOR((SUM(l.l_extendedprice) / 7.0)*1e2 + 0.5)/1e2 AS avg_yearly,
               COUNT(*) AS n
        FROM lineitem l
        JOIN thresh t ON l.l_partkey = t.l_partkey
        WHERE l.l_quantity < t.qty_thresh
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (per-part avg quantity), decorrelated
    scale-first: the brand filter cuts part to ~1/25, that key set is
    BROADCAST into the lineitem scan as a semi-join BEFORE the per-part
    average, so the aggregate shuffles ~4% of the fact table instead of all
    of it. The threshold table (≤ |brand parts| rows) then broadcasts back
    into the probe — zero fact-table shuffles end to end."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    brand_parts = (
        table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    )
    brand_li = li.join(
        F.broadcast(brand_parts), li["l_partkey"] == F.col("p_partkey"), "left_semi"
    )
    thresh = brand_li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    probe = brand_li.join(
        F.broadcast(thresh.withColumnRenamed("l_partkey", "t_partkey")),
        (F.col("l_partkey") == F.col("t_partkey")) & (F.col("l_quantity") < F.col("qty_thresh")),
        "inner",
    )
    return probe.agg(
        stable_round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Window shapes beyond A3's row_number: ranked top-n per group and running
# frames (cumulative sum + lag). Both partition by a key, so at scale they
# shuffle once on that key and never sort globally.
# --------------------------------------------------------------------------
@query(
    "w01_topn_per_group",
    tags="A3 O1 J1",
    oracle="""
        SELECT nation, supplier, s_acctbal, rnk
        FROM (
            SELECT n.n_name AS nation, s.s_name AS supplier, s.s_acctbal,
                   CAST(ROW_NUMBER() OVER (
                        PARTITION BY n.n_name
                        ORDER BY s.s_acctbal DESC, s.s_suppkey) AS INTEGER) AS rnk
            FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        )
        WHERE rnk <= 2
    """,
)
def w01_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 suppliers by account balance per nation: broadcast dim join +
    one window shuffle on the group key; total order (acctbal DESC, suppkey)
    makes the cut deterministic."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    w = Window.partitionBy("nation").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(F.col("n_name").alias("nation"), F.col("s_name").alias("supplier"), "s_acctbal", "s_suppkey")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("nation", "supplier", "s_acctbal", "rnk")
    )


@query(
    "w02_running_spend",
    tags="A3 O1 F17 F18",
    oracle="""
        SELECT o_custkey, o_orderkey,
               STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
               FLOOR((SUM(o_totalprice) OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))*1e2 + 0.5)/1e2
                   AS running_spend,
               CAST(COALESCE(DATEDIFF('day',
                    CAST(LAG(o_orderdate) OVER (
                        PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS DATE),
                    CAST(o_orderdate AS DATE)), -1) AS INTEGER) AS days_since_prev
        FROM orders
    """,
)
def w02_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend + gap-since-previous-order: one shuffle on
    o_custkey feeds both window frames (cumulative ROWS frame and LAG share
    the same partitioning/ordering, so Spark evaluates them in one Window
    node)."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        stable_round(F.sum("o_totalprice").over(run), 2).alias("running_spend"),
        F.coalesce(
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)), F.lit(-1)
        ).cast("int").alias("days_since_prev"),
    )


@query(
    "j09_salted_skew_join",
    tags="J1 SKEW A5",
    oracle="""
        SELECT d.flag_desc,
               ((SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5)
                          AS BIGINT)) + 50) // 100) / 100.0 AS revenue,
               COUNT(*) AS n
        FROM lineitem l
        JOIN (VALUES ('A', 'returned'), ('N', 'in-flight'), ('R', 'refused'))
             AS d(l_returnflag, flag_desc)
          ON l.l_returnflag = d.l_returnflag
        GROUP BY d.flag_desc
        ORDER BY d.flag_desc
    """,
)
def j09_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-case join skew: the key has 3 distinct values over the whole
    fact table, so an unsalted shuffle join lands ~33% of 100 TB on three
    reducers. operators/skew.py salts the fact side 8 ways and replicates
    the 3-row dim — row-identical to the plain join (the oracle).

    Revenue is summed in exact integer 1e-4-dollar units (per-row product
    of two 2dp decimals → exact 4dp value, bit-identical across engines),
    half-up to cents in integer division, one final /100.0. ROUND(SUM(
    double)) was the one hash mismatch of the round-6 full-catalog sf10
    sweep: at 20M rows per group the float partial-sum association error
    (~0.3 absolute at sum≈6e11) crosses the 2dp boundary, and Spark and
    DuckDB associate differently — integer sums are order-independent at
    any SF."""
    from cnics_to_fhir_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    dim = spark.createDataFrame(
        [("A", "returned"), ("N", "in-flight"), ("R", "refused")],
        "l_returnflag string, flag_desc string",
    )
    joined = salted_join(
        li, dim, ["l_returnflag"], salt_from=["l_orderkey", "l_linenumber"], buckets=8
    )
    u4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4 + F.lit(0.5)
    ).cast("long")
    return (
        joined.groupBy("flag_desc")
        .agg(F.sum(u4).alias("__u4"), F.count(F.lit(1)).alias("n"))
        .select(
            "flag_desc",
            (F.expr("(__u4 + 50) div 100") / F.lit(100.0)).alias("revenue"),
            "n",
        )
        .orderBy("flag_desc")
    )


@query(
    "j10_bloom_semi_join",
    tags="J5 J7 P6 A5",
    oracle="""
        SELECT l.l_returnflag,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(*) AS n
        FROM lineitem l
        WHERE l.l_orderkey IN (
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag
    """,
)
def j10_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction with an explicit Bloom runtime filter
    (operators/bloom.py): the urgent-order key set is Bloom-compressed to a
    64 Kib bitmap that prunes lineitem rows at the scan, BEFORE the join
    shuffle; the exact semi join then removes false positives, so the
    result — and the oracle — is the plain semi join. At 100 TB this is the
    difference between shuffling the whole fact table and shuffling the ~⅕
    of it that can match."""
    from cnics_to_fhir_spark.operators.bloom import bloom_semi_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    urgent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    joined = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Reshaping: pivot (long→wide) and unpivot (wide→long). The pivot value
# list is DECLARED, not discovered — df.pivot(col) without values runs an
# extra distinct-collect job over the fact table at plan time, a hidden
# full scan at 100 TB. Unpivot is melt: k value columns → k× rows, no
# shuffle (scan-local explode).
# --------------------------------------------------------------------------
@query(
    "a12_pivot_revenue",
    tags="A5 RESHAPE",
    oracle="""
        SELECT l_returnflag,
               FLOOR((SUM(CASE WHEN l_linestatus = 'F'
                               THEN l_extendedprice * (1 - l_discount) END))*1e2 + 0.5)/1e2 AS rev_F,
               FLOOR((SUM(CASE WHEN l_linestatus = 'O'
                               THEN l_extendedprice * (1 - l_discount) END))*1e2 + 0.5)/1e2 AS rev_O,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def a12_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide: revenue per returnflag pivoted over linestatus. The
    explicit values list keeps it one aggregation pass; a pivot is just a
    grouped conditional aggregate, so it map-side combines like any
    groupBy."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            stable_round(F.sum(F.when(F.col("l_linestatus") == "F", rev)), 2).alias("rev_F"),
            stable_round(F.sum(F.when(F.col("l_linestatus") == "O", rev)), 2).alias("rev_O"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "a13_column_profile",
    tags="A5 RESHAPE DQ",
    oracle="""
        WITH long AS (
            SELECT 'l_quantity' AS col, l_quantity AS v FROM lineitem
            UNION ALL SELECT 'l_discount', l_discount FROM lineitem
            UNION ALL SELECT 'l_tax', l_tax FROM lineitem
            UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        )
        SELECT col,
               COUNT(v) AS n_filled,
               COUNT(*) - COUNT(v) AS n_null,
               FLOOR((MIN(v))*1e4 + 0.5)/1e4 AS min_v,
               FLOOR((MAX(v))*1e4 + 0.5)/1e4 AS max_v,
               FLOOR((AVG(v))*1e4 + 0.5)/1e4 AS avg_v
        FROM long GROUP BY col ORDER BY col
    """,
)
def a13_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long data-quality profile: unpivot (melt) four measure columns
    and aggregate per column — null counts, ranges, means in ONE pass over
    the table. The unpivot is scan-local (no shuffle); the aggregate
    shuffles 4 groups."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [],
        ["l_quantity", "l_discount", "l_tax", "l_extendedprice"],
        "col",
        "v",
    )
    return (
        long.groupBy("col")
        .agg(
            F.count("v").alias("n_filled"),
            (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
            stable_round(F.min("v"), 4).alias("min_v"),
            stable_round(F.max("v"), 4).alias("max_v"),
            stable_round(F.avg("v"), 4).alias("avg_v"),
        )
        .orderBy("col")
    )


@query(
    "j11_scd2_merge",
    tags="J6 U A5",
    oracle="""
        WITH cur AS (
            SELECT c_custkey, c_name, c_acctbal
            FROM customer WHERE c_custkey % 10 != 7
        ),
        old AS (
            SELECT c_custkey, c_name,
                   CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
                        ELSE c_acctbal END AS c_acctbal,
                   '2024-01-01' AS valid_from
            FROM customer WHERE c_custkey % 10 < 8
        ),
        j AS (
            SELECT COALESCE(o.c_custkey, c.c_custkey) AS k,
                   o.c_custkey IS NOT NULL AS in_old,
                   c.c_custkey IS NOT NULL AS in_cur,
                   o.c_name AS o_name, o.c_acctbal AS o_bal,
                   o.valid_from AS o_from,
                   c.c_name AS n_name, c.c_acctbal AS n_bal,
                   (o.c_name IS NOT DISTINCT FROM c.c_name)
                   AND (o.c_acctbal IS NOT DISTINCT FROM c.c_acctbal) AS same
            FROM old o FULL OUTER JOIN cur c ON o.c_custkey = c.c_custkey
        )
        SELECT c_custkey, c_name, c_acctbal - 50 AS c_acctbal,
               '2023-01-01' AS valid_from, '2024-01-01' AS valid_to
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT k, o_name, o_bal, o_from, NULL
        FROM j WHERE in_old AND in_cur AND same
        UNION ALL
        SELECT k, o_name, o_bal, o_from, '2025-06-01'
        FROM j WHERE in_old AND in_cur AND NOT same
        UNION ALL
        SELECT k, n_name, n_bal, '2025-06-01', NULL
        FROM j WHERE in_old AND in_cur AND NOT same
        UNION ALL
        SELECT k, o_name, o_bal, o_from, '2025-06-01'
        FROM j WHERE in_old AND NOT in_cur
        UNION ALL
        SELECT k, n_name, n_bal, '2025-06-01', NULL
        FROM j WHERE NOT in_old AND in_cur
    """,
)
def j11_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD merge (operators/merge.scd2_merge): the reconciliation
    engine's audit-keeping variant — changed keys close their open history
    row and open a new one instead of updating in place. Current/history
    snapshots are derived deterministically from ``customer`` so every
    branch fires: %10==7 → soft delete, %10∈{8,9} → insert, %3==0 → change
    (close+open), %10==0 also carries a closed passthrough row."""
    from cnics_to_fhir_spark.operators.merge import scd2_merge

    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    current = cu.filter(F.col("c_custkey") % 10 != 7)
    open_hist = cu.filter(F.col("c_custkey") % 10 < 8).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    closed_hist = cu.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") - 50).alias("c_acctbal"),
        F.lit("2023-01-01").alias("valid_from"),
        F.lit("2024-01-01").alias("valid_to"),
    )
    history = open_hist.unionByName(closed_hist)
    return scd2_merge(
        current, history, "c_custkey", ["c_name", "c_acctbal"], "2025-06-01"
    )


@query(
    "o05_zorder_key",
    tags="O1 F18",
    oracle=None,  # set programmatically below — the SQL is generated
)
def o05_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over two probe columns — the layout
    key write_zordered sorts by so row-group min/max stats serve filters on
    BOTH columns (load/parquet_sink.py; pruning effect measured in
    tests/test_parquet_sink.py). Here the key arithmetic itself is
    oracle-checked bit for bit."""
    from cnics_to_fhir_spark.load.parquet_sink import z_value

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        z_value(F.col("l_suppkey") % 256, F.col("l_partkey") % 256, bits=8).alias("zkey"),
    )


def _set_o05_oracle() -> None:
    from cnics_to_fhir_spark.load.parquet_sink import z_value_sql
    from cnics_to_fhir_spark.plans import registry

    e = registry._REGISTRY["o05_zorder_key"]
    sql = (
        "SELECT l_orderkey, l_linenumber, "
        + z_value_sql("(l_suppkey % 256)", "(l_partkey % 256)", bits=8)
        + " AS zkey FROM lineitem"
    )
    registry._REGISTRY["o05_zorder_key"] = registry.CatalogEntry(
        name=e.name, tags=e.tags, spark=e.spark, oracle=sql, doc=e.doc
    )


_set_o05_oracle()


@query(
    "cg01_positional_diff",
    tags="J6 UDF A3",
    oracle="""
        WITH a AS (
            SELECT o_custkey AS k, o_totalprice AS p,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
            FROM orders WHERE o_orderkey % 5 != 0
        ),
        b AS (
            SELECT o_custkey AS k,
                   CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
                        ELSE o_totalprice END AS p,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
            FROM orders WHERE o_orderkey % 3 != 0
        )
        SELECT COALESCE(a.k, b.k) AS key,
               COALESCE(a.rn, b.rn) AS pos,
               a.p AS value_a, b.p AS value_b,
               CASE WHEN b.rn IS NULL THEN 'only_a'
                    WHEN a.rn IS NULL THEN 'only_b'
                    WHEN a.p = b.p THEN 'match'
                    ELSE 'differ' END AS status
        FROM a FULL OUTER JOIN b ON a.k = b.k AND a.rn = b.rn
    """,
)
def cg01_positional_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided per-key Arrow processing (cogroup().applyInPandas): the
    i-th order of each customer in snapshot A positionally compared to the
    i-th in snapshot B — drift classified match/differ/only_a/only_b.
    Snapshots derive deterministically from ``orders`` (A drops %5 keys,
    B drops %3 keys and perturbs %7 prices) so all four statuses fire;
    the oracle replays the pairing as row_number + full-outer join."""
    from cnics_to_fhir_spark.operators.cogroup import positional_diff

    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 5 != 0)
    b = o.filter(F.col("o_orderkey") % 3 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10).otherwise(
            F.col("o_totalprice")
        ),
    )
    return positional_diff(a, b, "o_custkey", "o_orderkey", "o_totalprice")


# --------------------------------------------------------------------------
# Classic OLAP plan shapes the decorrelated engine must handle: returned-item
# reporting, conditional-aggregate ratios, HAVING-subquery semi joins,
# disjunctive join predicates, and EXISTS / NOT EXISTS decorrelation.
# Slimmed-schema adaptations of TPC-H Q10/Q14/Q18/Q19/Q21/Q22.
# --------------------------------------------------------------------------
@query(
    "q10_returned_items",
    tags="J1 P3 A5 O1 O2",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount)))*1e2 + 0.5)/1e2 AS revenue,
               FLOOR((c.c_acctbal)*1e2 + 0.5)/1e2 AS acctbal,
               n.n_name AS nation
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns in one quarter. Plan:
    date filter pushed to the orders scan, returnflag to the lineitem scan;
    nation broadcast; one shuffle keyed on custkey for the aggregate."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            stable_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            stable_round(F.col("c_acctbal"), 2).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_effect",
    tags="J1 A5 F18",
    oracle="""
        SELECT FLOOR((100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                        THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
                / SUM(l.l_extendedprice * (1 - l.l_discount)))*1e4 + 0.5)/1e4 AS promo_revenue_pct
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share for one month: conditional aggregate over a
    broadcast fact⋈dim join — part is the small side, lineitem never
    leaves its scan partitioning (no shuffle before the single-row agg)."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            stable_round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_volume_orders",
    tags="J7 A5 O1 O2",
    oracle="""
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               STRFTIME(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               FLOOR((o.o_totalprice)*1e2 + 0.5)/1e2 AS totalprice,
               SUM(l.l_quantity) AS sum_qty
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 250
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY totalprice DESC, o_orderkey LIMIT 50
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity tops 250: the HAVING-subquery becomes an
    aggregate → left-semi join (ids only cross the shuffle), then the
    surviving small order set joins customers and re-aggregates."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            stable_round(F.col("o_totalprice"), 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(50)
    )


@query(
    "q19_disjunctive_revenue",
    tags="J1 P6 P7 A5",
    oracle="""
        SELECT FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount)))*1e2 + 0.5)/1e2 AS revenue,
               COUNT(*) AS nrows
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive mixed-side predicate (OR of brand×size×quantity bands)
    over a broadcast join. Catalyst can push only the per-side residuals
    (quantity bands to lineitem, brand/size union to part); the cross-side
    disjunction stays a post-join filter — the classic Q19 stress shape."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            stable_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("nrows"),
        )
    )


@query(
    "q21_sole_return_supplier",
    tags="J5 J7 A5 O1 O2",
    oracle="""
        SELECT s.s_name, COUNT(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o    ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name LIMIT 25
    """,
)
def q21_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely responsible for returns on finished multi-supplier
    orders — correlated EXISTS / NOT EXISTS decorrelated into per-order
    aggregates joined once: supp_cnt>1 replays EXISTS(other supplier),
    ret_supp_cnt=1 replays NOT EXISTS(other supplier with a return).
    One extra shuffle keyed on orderkey instead of two correlated probes."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    # single-shuffle distinct counting: a double count_distinct compiles to
    # an Expand that doubles the fact rows, and a two-level groupBy costs a
    # second shuffle. collect_set is partially aggregated map-side and the
    # per-order set is bounded by suppliers-per-order (single digits), so
    # one narrow shuffle carries tiny sets, never raw lineitems. The inner
    # when() leaves non-return rows NULL, which collect_set drops.
    per_order = li.groupBy("l_orderkey").agg(
        F.size(F.collect_set("l_suppkey")).alias("supp_cnt"),
        F.size(
            F.collect_set(F.when(F.col("l_returnflag") == "R", F.col("l_suppkey")))
        ).alias("ret_supp_cnt"),
    )
    # lineitem granularity: a supplier with several returned lines on one
    # order is counted once per line, matching the correlated-SQL semantics
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    return (
        l1.join(o.select("o_orderkey"), l1.l_orderkey == F.col("o_orderkey"), "left_semi")
        .join(
            per_order.filter((F.col("supp_cnt") > 1) & (F.col("ret_supp_cnt") == 1)),
            "l_orderkey",
            "left_semi",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(25)
    )


@query(
    "q22_dormant_balances",
    tags="J5 A5 O1",
    oracle="""
        WITH cutoff AS (
            SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c.c_nationkey AS nationkey, COUNT(*) AS numcust,
               FLOOR((SUM(c.c_acctbal))*1e2 + 0.5)/1e2 AS totacctbal
        FROM customer c, cutoff
        WHERE c.c_acctbal > cutoff.avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        GROUP BY c.c_nationkey
        ORDER BY nationkey
    """,
)
def q22_dormant_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-balance customers with no recent orders, by nation: the scalar
    subquery (global positive-balance mean) is a one-row broadcast cross
    join, and NOT EXISTS(recent order) is a left-anti join against the
    date-pruned orders scan — no correlated per-customer probing."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            stable_round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# Extended OLAP shapes, round 3: outer-join aggregation, decorrelated scalar
# subqueries, count-distinct, rollup/grouping sets, percentiles, pivot.
# Same settings.ini-splice lineage as the q-series above — each shape maps
# to a reference query form (SURVEY.md §2.2-2.6) at 100 TB posture: dims
# broadcast, one shuffle per agg level, no correlated per-row probing.
# --------------------------------------------------------------------------
@query(
    "q07_volume_shipping",
    tags="J1 A5 F18",
    oracle="""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
               FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount)))*1e2 + 0.5)/1e2
                   AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume: the nation dim joins twice under different
    roles (supplier side / customer side) with a disjunctive cross-pair
    predicate — both broadcast, so the only shuffles are lineitem⋈orders
    and the final 3-key agg."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            stable_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q08_market_share",
    tags="J1 A5 F18",
    oracle="""
        WITH vol AS (
            SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
                   l.l_extendedprice * (1 - l.l_discount) AS volume,
                   n1.n_name AS supp_nation
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
            JOIN region r   ON n2.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
            WHERE r.r_name = 'ASIA'
        )
        SELECT o_year,
               FLOOR((SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                      / SUM(volume))*1e6 + 0.5)/1e6 AS mkt_share
        FROM vol GROUP BY o_year
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share inside one region: conditional-sum ratio over
    a 6-table snowflake; all dims broadcast, one agg shuffle on year."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            F.col("supp_nation"),
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
    ) / F.sum("volume")
    return vol.groupBy("o_year").agg(stable_round(share, 6).alias("mkt_share"))


@query(
    "q09_product_profit",
    tags="J1 A5 F18",
    oracle="""
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
               FLOOR((CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)
                                            - 0.4 * p.p_retailprice * l.l_quantity)
                                           *1e4 + 0.5)/1e4
                                    AS DECIMAL(30, 4))) AS DOUBLE))*1e2 + 0.5)/1e2
                   AS sum_profit
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        WHERE p.p_type = 'PROMO'
        GROUP BY nation, o_year
    """,
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation and year for one product line; the 40%
    retail-cost proxy replaces partsupp.ps_supplycost (table absent from
    the slimmed star). part/supplier/nation broadcast; lineitem⋈orders is
    the one big shuffle."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    # Profit differences cancel catastrophically, so a double SUM diverges
    # across engines once groups reach ~10^5 rows (caught by the sf1 oracle
    # run). The portable form: round the per-row term IN DOUBLE to 4
    # decimals (identical inputs → bit-identical on both engines), cast to
    # a scale-4 DECIMAL (the rounded double sits ~1e-12 from the decimal
    # grid, so the conversion is unambiguous — unlike scale-10, where
    # Spark's shortest-string and DuckDB's true-binary conversions
    # disagree), then SUM exactly and order-independently.
    from cnics_to_fhir_spark.functions.numeric import stable_round as _sr

    profit = _sr(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.4 * F.col("p_retailprice") * F.col("l_quantity"),
        4,
    ).cast("decimal(30,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(stable_round(F.sum(profit).cast("double"), 2).alias("sum_profit"))
    )


@query(
    "q12_late_shipments",
    tags="J1 A5 F17 F18",
    oracle="""
        SELECT l.l_returnflag,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        GROUP BY l.l_returnflag
    """,
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment priority split (shipmode column absent → returnflag
    carries the group): join-side date arithmetic + two conditional counts
    in one agg pass."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_distribution",
    tags="J1 A5 U",
    oracle="""
        WITH c_orders AS (
            SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                              AND o.o_orderpriority <> '5-LOW'
            GROUP BY c.c_custkey
        )
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM c_orders GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of orders-per-customer: LEFT OUTER join with an ON-clause
    filter (not a WHERE — zero-order customers must survive), then two
    stacked aggregations."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    tags="J1 A5 O1",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   FLOOR((SUM(l_extendedprice * (1 - l_discount)))*1e2 + 0.5)/1e2
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue: the scalar MAX subquery becomes a
    one-row broadcast cross join against the same aggregated view — the
    revenue agg computes once, never per-row."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        stable_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_rev"))
    s = table(spark, sf_dir, "supplier")
    return (
        s.join(revenue, s.s_suppkey == F.col("supplier_no"))
        .join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_count",
    tags="J5 A1 A5",
    oracle="""
        WITH partsupp AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        )
        SELECT p.p_brand, p.p_type, p.p_size,
               CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM partsupp ps
        JOIN part p ON p.p_partkey = ps.l_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_type NOT LIKE 'PRO%'
          AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
          AND ps.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier counts per part group: pseudo-partsupp derived as
    DISTINCT (l_partkey, l_suppkey) (partsupp absent from the slimmed
    star), negative-balance suppliers excluded by broadcast anti-join
    (the reference's complaint-supplier NOT IN)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PRO%")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    # No materialized DISTINCT pair set: that would shuffle ALL of lineitem
    # before the selective part predicate prunes it. Broadcast-join the
    # filtered part dim (and the anti list) against the narrow scan first,
    # then let count_distinct's partial aggregation dedup (group, suppkey)
    # map-side — one shuffle, carrying only surviving distinct pairs.
    ps = li.select("l_partkey", "l_suppkey")
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_part_promotion",
    tags="J7 J1 A5 P7",
    oracle="""
        WITH eligible AS (
            SELECT l.l_suppkey
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_type = 'ECONOMY'
              AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING SUM(l.l_quantity) > 50
        )
        SELECT s.s_name, s.s_acctbal
        FROM supplier s
        WHERE s.s_suppkey IN (SELECT l_suppkey FROM eligible)
        ORDER BY s.s_name
    """,
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers moving serious volume of one product line in one year:
    filter→agg→HAVING feeding a semi-join — the nested-IN chain
    decorrelated into one pass over the pruned lineitem scan."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    eligible = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    # post-HAVING eligible set is tiny (suppliers above threshold) —
    # broadcast it so the semi-join never shuffles the supplier side
    return (
        s.join(F.broadcast(eligible), s.s_suppkey == eligible.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@query(
    "a07_rollup_subtotals",
    tags="A5 W",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag, l_linestatus) AS gid,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a07_rollup_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals in ONE pass (ROLLUP): Spark expands grouping
    sets map-side — no second scan, no union of three aggs; gid
    disambiguates subtotal rows from genuine NULL groups."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("q", F.col("l_quantity").cast("long"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum("q").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")
    )


@query(
    "a08_percentiles",
    tags="A5 W O1",
    oracle="""
        SELECT l_returnflag,
               FLOOR((quantile_cont(l_extendedprice, 0.25))*1e6 + 0.5)/1e6 AS p25,
               FLOOR((quantile_cont(l_extendedprice, 0.50))*1e6 + 0.5)/1e6 AS p50,
               FLOOR((quantile_cont(l_extendedprice, 0.75))*1e6 + 0.5)/1e6 AS p75
        FROM lineitem GROUP BY l_returnflag
    """,
)
def a08_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (both engines use
    the same estimator). At 100 TB the exact sort-based form gives way to
    approx_percentile (t-digest, mergeable map-side) — same API shape,
    documented trade; the oracle pins the exact baseline."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        stable_round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25"),
        stable_round(F.expr("percentile(l_extendedprice, 0.50)"), 6).alias("p50"),
        stable_round(F.expr("percentile(l_extendedprice, 0.75)"), 6).alias("p75"),
    )


@query(
    "p09_pivot_priority",
    tags="A5 P6 U",
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT)
                   AS urgent,
               CAST(COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT)
                   AS high,
               CAST(COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT)
                   AS medium,
               CAST(COUNT(*) FILTER (o_orderpriority IN
                    ('4-NOT SPECIFIED', '5-LOW')) AS BIGINT) AS other
        FROM orders GROUP BY o_orderstatus
    """,
)
def p09_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an EXPLICIT value list — Spark skips the extra
    distinct-values job and plans a single agg (one shuffle); unlisted
    priorities fold into 'other' via pre-bucketing."""
    o = table(spark, sf_dir, "orders").withColumn(
        "prio",
        F.when(F.col("o_orderpriority") == "1-URGENT", "urgent")
        .when(F.col("o_orderpriority") == "2-HIGH", "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("other"),
    )
    return (
        o.groupBy("o_orderstatus")
        .pivot("prio", ["urgent", "high", "medium", "other"])
        .count()
        .na.fill(0, ["urgent", "high", "medium", "other"])
    )


@query(
    "u02_except_intersect",
    tags="U A1",
    oracle="""
        SELECT 'only_recent' AS side, c_custkey FROM (
            SELECT o_custkey AS c_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
            EXCEPT
            SELECT o_custkey FROM orders
            WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        )
        UNION ALL
        SELECT 'both_eras' AS side, c_custkey FROM (
            SELECT o_custkey AS c_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
            INTERSECT
            SELECT o_custkey FROM orders
            WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        )
    """,
)
def u02_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT set semantics (distinct forms): customers active
    only recently vs in both eras. Spark plans both as hash aggregations +
    joins — no sort needed; each side prunes on o_orderdate at the scan."""
    o = table(spark, sf_dir, "orders")
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    early = o.filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    # subtract = EXCEPT DISTINCT (exceptAll is the multiset form — a key
    # occurring oftener recently than early would wrongly survive it)
    only_recent = recent.subtract(early)
    both = recent.intersect(early)
    return only_recent.select(F.lit("only_recent").alias("side"), "c_custkey").unionByName(
        both.select(F.lit("both_eras").alias("side"), "c_custkey")
    )


@query(
    "p10_not_in_null_semantics",
    tags="P4 J5",
    oracle="""
        SELECT 'with_null' AS variant, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        WHERE o_custkey NOT IN (
            SELECT CASE WHEN c_acctbal < -950 THEN NULL ELSE c_custkey END
            FROM customer WHERE c_acctbal < -900
        )
        UNION ALL
        SELECT 'without_null' AS variant, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        WHERE o_custkey NOT IN (
            SELECT c_custkey FROM customer WHERE c_acctbal < -900
        )
    """,
)
def p10_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a nullable subquery — the classic 3VL trap: one NULL in
    the list makes NOT IN never-true for unmatched rows. Two variants
    counted side by side so the output is always non-empty: the nullable
    list (customers below -950 project NULL — 6 such rows at sf0.01, so
    with_null counts 0) vs the non-null list (plain anti-join count).
    A left-anti rewrite would wrongly equate them; Spark plans NOT IN as a
    null-aware anti join and the oracle proves the parity on live data.
    (NOT IN in a *projection* silently loses the UNKNOWN case in Spark —
    only the WHERE form carries these semantics.)"""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    o.createOrReplaceTempView("__p10_orders")
    c.createOrReplaceTempView("__p10_customer")
    return spark.sql(
        """
        SELECT 'with_null' AS variant, COUNT(*) AS n
        FROM __p10_orders
        WHERE o_custkey NOT IN (
            SELECT CASE WHEN c_acctbal < -950 THEN NULL ELSE c_custkey END
            FROM __p10_customer WHERE c_acctbal < -900
        )
        UNION ALL
        SELECT 'without_null' AS variant, COUNT(*) AS n
        FROM __p10_orders
        WHERE o_custkey NOT IN (
            SELECT c_custkey FROM __p10_customer WHERE c_acctbal < -900
        )
        """
    )


@query(
    "a15_string_agg",
    tags="A2 O1",
    oracle="""
        SELECT n_regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation GROUP BY n_regionkey
    """,
)
def a15_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is partition-order-
    nondeterministic, so the engine sorts the collected array before
    joining — the only deterministic (and oracle-replayable) form."""
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations")
    )


@query(
    "f23_higher_order_funcs",
    tags="F18 F22 UDF",
    oracle="""
        SELECT vec_id,
               CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0))
                    AS INTEGER) AS n_pos,
               FLOOR((list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x)))*1e6 + 0.5)/1e6
                   AS sq_norm,
               FLOOR((list_max(CAST(embedding AS DOUBLE[])))*1e6 + 0.5)/1e6
                   AS max_v
        FROM embeddings
    """,
)
def f23_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions stay JVM-side (no Python): filter /
    transform / aggregate over the embedding column — the idiom every
    vector op in operators/similarity.py builds on. DuckDB's list lambdas
    replay them exactly."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    e = table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        stable_round(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x), 6
        ).alias("sq_norm"),
        stable_round(F.array_max(v), 6).alias("max_v"),
    )


@query(
    "w03_time_range_window",
    tags="W EV F18",
    oracle="""
        SELECT user_id, event_id,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_events_1h,
               FLOOR((SUM(value) OVER w)*1e2 + 0.5)/1e2 AS value_1h
        FROM events
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
        )
    """,
)
def w03_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour RANGE frame per user — a VALUE-range frame, not a
    row count: every event aggregates all events within the preceding 3600
    seconds regardless of how many rows that is. One shuffle on user_id;
    Spark's rangeBetween needs a numeric ordering key, so ts drops to
    epoch seconds (ties aggregate together on both engines — the frame is
    value-based, which is exactly what makes it deterministic)."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    e = table(spark, sf_dir, "events").withColumn(
        "es", F.unix_timestamp("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        stable_round(F.sum("value").over(w), 2).alias("value_1h"),
    )


@query(
    "w04_rank_family",
    tags="W O1",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               CAST(RANK() OVER w AS INTEGER) AS rnk,
               CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
               CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
               FLOOR((PERCENT_RANK() OVER w)*1e6 + 0.5)/1e6 AS pct_rank,
               FLOOR((CUME_DIST() OVER w)*1e6 + 0.5)/1e6 AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def w04_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking family in one Window node (same partition/order →
    one sort): rank, dense_rank, ntile, percent_rank, cume_dist. Ordering
    includes the key so every function is total-order deterministic."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        stable_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        stable_round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q02_min_cost_supplier",
    tags="J1 A5 O1",
    oracle="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   MIN(l_extendedprice / l_quantity) AS supplycost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        regional AS (
            SELECT ps.l_partkey, ps.l_suppkey, ps.supplycost, s.s_name
            FROM ps
            JOIN supplier s ON ps.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        ),
        best AS (
            SELECT l_partkey, MIN(supplycost) AS min_cost
            FROM regional GROUP BY l_partkey
        )
        SELECT p.p_partkey, p.p_brand, g.s_name,
               FLOOR((g.supplycost)*1e6 + 0.5)/1e6 AS supplycost
        FROM regional g
        JOIN best b ON g.l_partkey = b.l_partkey AND g.supplycost = b.min_cost
        JOIN part p ON p.p_partkey = g.l_partkey
        WHERE p.p_size = 15
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-cost regional supplier per part: the correlated
    min-supplycost-per-part subquery decorrelated into one aggregate
    joined back on (part, cost) — the argmin pattern. partsupp is derived
    from lineitem (MIN unit price per pair); supplier/nation/region/part
    dims broadcast, so the only fact shuffle is the pair aggregation."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost")
    )
    regional = (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("l_partkey", "supplycost", "s_name")
    )
    # rename the group key: `best` derives from `regional`, so an unaliased
    # regional.l_partkey == best.l_partkey resolves trivially true and the
    # join would silently key on cost alone
    best = (
        regional.groupBy("l_partkey")
        .agg(F.min("supplycost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "best_partkey")
    )
    return (
        regional.join(
            best,
            (F.col("l_partkey") == F.col("best_partkey"))
            & (F.col("supplycost") == F.col("min_cost")),
        )
        .drop("best_partkey", "min_cost")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            stable_round(F.col("supplycost"), 6).alias("supplycost"),
        )
    )


@query(
    "q11_important_stock",
    tags="J1 A5 O1",
    oracle="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   MIN(l_extendedprice / l_quantity) AS supplycost,
                   SUM(l_quantity) AS qty
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        national AS (
            SELECT ps.l_partkey, ps.supplycost * ps.qty AS value
            FROM ps
            JOIN supplier s ON ps.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_18'
        ),
        byp AS (
            SELECT l_partkey, SUM(value) AS part_value FROM national GROUP BY l_partkey
        ),
        total AS (SELECT SUM(part_value) AS tv, COUNT(*) AS np FROM byp)
        SELECT b.l_partkey AS p_partkey,
               FLOOR((b.part_value)*1e2 + 0.5)/1e2 AS part_value
        FROM byp b, total t
        WHERE b.part_value > 1.5 * t.tv / t.np
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important stock: per-part inventory value within one nation,
    HAVING against the GLOBAL average share (scale-free: a fixed
    fraction of total is SF-dependent; 1.5x the mean share bites at every
    SF) — the scalar subquery is a one-row broadcast cross join against
    the same aggregate (no second scan of the facts). partsupp derived
    from lineitem as in q02."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_18")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost"),
        F.sum("l_quantity").alias("qty"),
    )
    national = (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", (F.col("supplycost") * F.col("qty")).alias("value"))
    )
    byp = national.groupBy("l_partkey").agg(F.sum("value").alias("part_value"))
    total = byp.agg(
        F.sum("part_value").alias("tv"), F.count(F.lit(1)).alias("np")
    )
    return (
        byp.join(F.broadcast(total))
        .filter(F.col("part_value") > 1.5 * F.col("tv") / F.col("np"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            stable_round(F.col("part_value"), 2).alias("part_value"),
        )
    )


@query(
    "a16_cube_subtotals",
    tags="A5 W",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag, l_linestatus) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a16_cube_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping sets in one pass (rollup's lattice superset);
    gid separates subtotal planes from real NULL groups."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("n"))
        .select("l_returnflag", "l_linestatus", "gid", "n")
    )


@query(
    "a17_histogram",
    tags="A5 F18",
    oracle="""
        SELECT CAST(FLOOR(o_totalprice / 50000) AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR((MIN(o_totalprice))*1e2 + 0.5)/1e2 AS lo,
               FLOOR((MAX(o_totalprice))*1e2 + 0.5)/1e2 AS hi
        FROM orders GROUP BY bucket
    """,
)
def a17_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a pure groupBy on the bucket expression —
    one shuffle of (bucket, partial agg), output O(buckets). The
    streaming-friendly form of distribution profiling (vs sort-based
    exact quantiles)."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_round(F.min("o_totalprice"), 2).alias("lo"),
            stable_round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "a18_stat_aggregates",
    tags="A5",
    oracle="""
        SELECT l_returnflag,
               FLOOR((corr(l_quantity, l_extendedprice))*1e6 + 0.5)/1e6 AS qty_price_corr,
               FLOOR((covar_pop(l_quantity, l_extendedprice))*1e4 + 0.5)/1e4 AS qty_price_covar,
               FLOOR((stddev_pop(l_discount))*1e6 + 0.5)/1e6 AS discount_sd
        FROM lineitem GROUP BY l_returnflag
    """,
)
def a18_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (corr / covar_pop / stddev_pop): both
    engines use numerically-stable one-pass accumulators that merge
    map-side, so the agg distributes like any sum — and agrees across
    engines to well past the 1e-6 comparison precision."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        stable_round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        stable_round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
        stable_round(F.stddev_pop("l_discount"), 6).alias("discount_sd"),
    )


@query(
    "w05_share_of_total",
    tags="W A5 J1",
    oracle="""
        WITH rev AS (
            SELECT n.n_name AS nation,
                   SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            GROUP BY n.n_name
        )
        SELECT nation,
               FLOOR((revenue)*1e2 + 0.5)/1e2 AS revenue,
               FLOOR((revenue / SUM(revenue) OVER ())*1e6 + 0.5)/1e6 AS share
        FROM rev
    """,
)
def w05_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (ratio_to_report): an unpartitioned window SUM over
    the ALREADY-AGGREGATED per-nation rows — the window runs on |nations|
    rows, so the single-partition window frame is safe at any corpus
    size; only the upstream agg touches the facts."""
    from cnics_to_fhir_spark.functions.numeric import stable_round

    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("raw_rev")
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "nation",
        stable_round(F.col("raw_rev"), 2).alias("revenue"),
        stable_round(F.col("raw_rev") / F.sum("raw_rev").over(w), 6).alias("share"),
    )
