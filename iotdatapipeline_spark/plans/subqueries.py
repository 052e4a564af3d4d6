"""Subquery / decorrelation query registry: correlated scalar
subqueries, EXISTS / NOT EXISTS, NOT IN, having-filters, outer-join
histograms, and disjunctive-predicate pushdown, each expressed as the
decorrelated DataFrame plan Spark actually executes.

The reference (Prensas.py) only ever issues point-lookup subqueries
(S5 :281-313 TOP(1) probe, S6 :367-377 key lookup, K2 :319-331
existence-guarded insert); this module widens those same shapes —
semi/anti guards, per-group argmax, existence tests — to the
set-oriented forms a warehouse engine needs, TPC-H-style, adapted to
the fixture schema (no partsupp table; lineitem carries no
commit/receipt dates).

Every query is decorrelated BY CONSTRUCTION: the correlated subquery
becomes a window, a groupBy+join, or a semi/anti join — the rewrite
Catalyst would have to discover is instead the written plan, so the
physical strategy is stable across Spark versions.  All float
aggregates are integer cents (floor(x*100) as BIGINT) so the DuckDB
oracle hash-matches exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iotdatapipeline_spark.plans._registry import register
from iotdatapipeline_spark.sources import load_table


@register(
    "q2_max_acctbal_supplier",
    """
    SELECT s_suppkey, s_name, n_name,
           CAST(floor(s_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                       WHERE s2.s_nationkey = supplier.s_nationkey)
    """,
)
def q2_max_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped correlated scalar subquery (max per group):
    decorrelated as a window max over the correlation key — one
    shuffle of supplier on s_nationkey, no self-join, no second scan.
    Same argmax family as the reference's TOP(1) probe (Prensas.py
    :300-302, SURVEY.md A4/W3), but keep-ties semantics."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("s_nationkey")
    best = s.withColumn("max_bal", F.max("s_acctbal").over(w)).filter(
        F.col("s_acctbal") == F.col("max_bal")
    )
    return best.join(F.broadcast(n), best["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey",
        "s_name",
        "n_name",
        F.floor(F.col("s_acctbal") * 100).cast("long").alias("acctbal_cents"),
    )


@register(
    "q4_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS: the correlated existence test is a
    left-semi join on the order key (the guard shape of the
    reference's K2 insert, Prensas.py :319-331).  The lineitem side
    is pre-filtered to qty>45 before the shuffle, so the semi join
    moves only qualifying keys; duplicates never multiply rows."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q7_nation_trade_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           count(*) AS n_items
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
        FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders   ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped bilateral volume: the two-nation disjunction is
    split so each side prunes early — suppliers of the nation pair
    become a broadcast dim (kills most lineitems before any wide
    shuffle), customers of the pair shrink the custkey join.  Only
    lineitem⋈orders (orderkey) and ⋈customer (custkey) shuffle."""
    nations = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"])
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100))
            .cast("long")
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q8_market_share",
    """
    SELECT l_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) AS BIGINT)
               AS nation_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS l_year, n1.n_name AS supp_nation,
               CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
        FROM lineitem
          JOIN orders   ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          JOIN region    ON n2.n_regionkey = r_regionkey
          JOIN supplier  ON s_suppkey = l_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
        WHERE r_name = 'AMERICA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY l_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped market share: numerator and denominator of the
    share come out of ONE pass via sum(CASE) — no second scan, no
    join of two aggregates.  Region→nation→customer restricts the
    custkey join; supplier nation rides in as a broadcast dim."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"], "left_semi")
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy(F.year("o_orderdate").cast("long").alias("l_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", cents).otherwise(F.lit(0)))
            .cast("long")
            .alias("nation_cents"),
            F.sum(cents).cast("long").alias("total_cents"),
        )
    )


@register(
    "q10_returned_customers",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped top-k ranking: returned-revenue per customer
    for one quarter, top 20.  Tie-break on the unique custkey makes
    the LIMIT deterministic (a bare LIMIT over ties is not a
    well-defined result set).  TakeOrderedAndProject keeps the top-k
    per partition — no global sort materializes."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100))
            .cast("long")
            .alias("revenue_cents")
        )
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q13_order_count_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped outer-join histogram: customers with zero
    qualifying orders must appear (c_count = 0), which only a LEFT
    OUTER join preserves — the join predicate carries the priority
    filter so unmatched customers count 0, not vanish.  Second
    aggregate is over ~distinct-count-many rows: trivially small."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_cents
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_cents = (SELECT max(total_cents) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped agg-on-agg: quarterly revenue per supplier,
    keep the max.  The scalar subquery is a 1-row broadcast joined
    back against the aggregated frame.  Spark does NOT reuse the
    aggregation exchange across the two consumers (measured — no
    ReusedExchange even under AQE), so lineitem is scanned twice;
    both scans carry the pushed-down quarter filter, so each reads
    ~1/24 of the fact via row-group skipping.  The alternatives are
    worse at scale: a global-window rank funnels every supplier row
    through ONE partition, and eager cache/localCheckpoint pins the
    per-supplier frame in cluster memory for a one-shot query.  A
    deployment that runs this repeatedly should materialize `rev` as
    a table (the TPC-H view) and join against that.  Integer cents
    make the max-equality exact — no FP ties."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100))
        .cast("long")
        .alias("total_cents")
    )
    mx = rev.agg(F.max("total_cents").alias("mx_cents"))
    top = rev.join(F.broadcast(mx), rev["total_cents"] == mx["mx_cents"]).drop("mx_cents")
    s = load_table(spark, sf_dir, "supplier")
    return s.join(F.broadcast(top), s["s_suppkey"] == top["l_suppkey"]).select(
        "s_suppkey", "s_name", "total_cents"
    )


@register(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_size IN (1, 14, 23, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped NOT IN: the subquery column (s_suppkey) is a
    non-null key, so NOT IN is exactly a left-anti join — the
    NULL-poisoning semantics that make general NOT IN treacherous
    don't arise, and the anti side broadcasts.  count(DISTINCT) runs
    as a two-phase expand+agg on (brand, type)."""
    neg = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").isin(1, 14, 23, 45))
        .select("p_partkey", "p_brand", "p_type")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(neg), li["l_suppkey"] == neg["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH li5 AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#5'
    ),
    per_part AS (
        SELECT l_partkey AS pk,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               count(*) AS n_items
        FROM li5 GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_small
    FROM li5 JOIN per_part ON pk = l_partkey
    WHERE 2 * CAST(l_quantity AS BIGINT) * n_items < sum_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated average: "lineitems under half the
    part's average quantity".  Decorrelated as a window over
    l_partkey — one shuffle, no self-join (the oracle's CTE join is
    the same relation).  The comparison qty < 0.5·avg is done in
    exact integers (2·qty·n < Σqty; quantities are integral in the
    fixture) so Spark and DuckDB agree on every boundary row."""
    p5 = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#5")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li5 = li.join(F.broadcast(p5), li["l_partkey"] == p5["p_partkey"]).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    qty = F.col("l_quantity").cast("long")
    enriched = li5.withColumn("sum_qty", F.sum(qty).over(w)).withColumn(
        "n_items", F.count(F.lit(1)).over(w)
    )
    return (
        enriched.filter(2 * qty * F.col("n_items") < F.col("sum_qty"))
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100)).cast("long").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@register(
    "q18_large_volume_customers",
    """
    WITH big AS (
        SELECT l_orderkey AS okey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c_custkey, c_name, o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents, sum_qty
    FROM big
      JOIN orders   ON o_orderkey = okey
      JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped HAVING + join-back: orders whose total
    quantity exceeds 250.  The aggregate runs FIRST and shrinks the
    key set ~100×, so the joins to orders and customer move only
    qualifying keys; the big→orders join reuses the groupBy's
    orderkey partitioning (no extra shuffle of the small side)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
            "sum_qty",
        )
    )


@register(
    "q19_disjunctive_bands",
    """
    SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped OR-of-conjunctions across both join sides.
    The disjunction itself can't sink below the join, so each side
    gets its IMPLIED single-table filter applied explicitly before
    joining: part pruned to the three brands (with per-brand size
    caps), lineitem to the quantity hull [1, 30].  At 100 TB that
    derived pushdown — not the join strategy — is the difference
    between scanning 3 brands' parts and scanning all of them."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
            | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
            | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30))
    qty = F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(
            ((F.col("p_brand") == "Brand#12") & qty.between(1, 11))
            | ((F.col("p_brand") == "Brand#23") & qty.between(10, 20))
            | ((F.col("p_brand") == "Brand#3") & qty.between(20, 30))
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100))
            .cast("long")
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q21_sole_blame_supplier",
    """
    WITH per_order AS (
        SELECT l_orderkey AS okey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_r_supp
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM lineitem
      JOIN orders    ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
      JOIN supplier  ON s_suppkey = l_suppkey
      JOIN per_order ON okey = l_orderkey
    WHERE l_returnflag = 'R' AND n_supp > 1 AND n_r_supp = 1
    GROUP BY s_name
    """,
)
def q21_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped EXISTS + NOT EXISTS over the same fact: the
    supplier who is the ONLY one with returned items on a
    multi-supplier finalized order.  Both correlated existence tests
    decorrelate into per-order distinct-supplier counts.

    Shape (r13, guide §2.4 — the funnel/cohort lever): the counts are
    WINDOW aggregates (``size(collect_set(..)) over (partition by
    l_orderkey)``) on the one orderkey partitioning, not a separate
    groupBy frame joined back — the join form re-executed the
    lineitem scan per side and shuffled BOTH sides by orderkey (the
    per-order frame is order-cardinality, far past any broadcast cap
    at scale). Measured (ABBA median-of-6, noop sink,
    tools/bench_q21_ab.py): 1.278 → 0.597 s sf0.1, 3.241 → 1.577 s
    x10 — 2.1× at both scales; exceptAll 0 both ways, oracle exact at
    3 SFs."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    lw = li.select("l_orderkey", "l_suppkey", "l_returnflag").withColumns(
        {
            "n_supp": F.size(F.collect_set("l_suppkey").over(w)),
            "n_r_supp": F.size(
                F.collect_set(
                    F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
                ).over(w)
            ),
        }
    )
    lr = lw.filter(
        (F.col("l_returnflag") == "R") & (F.col("n_supp") > 1) & (F.col("n_r_supp") == 1)
    ).select("l_orderkey", "l_suppkey")
    o_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lr.join(o_f, lr["l_orderkey"] == o_f["o_orderkey"])
        .join(F.broadcast(s), lr["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q22_idle_customers",
    """
    WITH thr AS (
        SELECT CAST(floor(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) * 1.0 / count(*)) AS BIGINT)
                   AS avg_cents
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment, count(*) AS n_cust,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer, thr
    WHERE CAST(floor(c_acctbal * 100) AS BIGINT) > avg_cents
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped scalar threshold + NOT EXISTS: above-average
    customers with no orders since 2000.  The average is an exact
    integer (floor of cents-sum over count, identical IEEE division
    both engines — no FP boundary drift); the NOT EXISTS is a
    left-anti join against the date-pruned order keys.  The
    threshold is a 1-row broadcast, not a driver round-trip."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "bal_cents", F.floor(F.col("c_acctbal") * 100).cast("long")
    )
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            F.floor(F.sum("bal_cents") / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_cents")
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    rich = c.crossJoin(F.broadcast(thr)).filter(F.col("bal_cents") > F.col("avg_cents"))
    idle = rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("bal_cents").cast("long").alias("bal_cents"),
    )


@register(
    "loyal_customers_division",
    """
    SELECT c_custkey, c_name, count(*) AS n_orders
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name
    HAVING count(DISTINCT date_trunc('quarter', o_orderdate)) = 4
    """,
)
def loyal_customers_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("for all"): customers with orders in
    EVERY quarter of 1996.  The division is decorrelated as
    count-distinct-equals-divisor-cardinality — no NOT EXISTS(EXCEPT)
    double negation, no per-divisor join.  The aggregate runs BEFORE
    the customer join, so only qualifying keys (here 14 of 1168) ever
    join the dimension — agg-below-join is the rewrite that matters
    when both sides are large."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct(F.date_trunc("quarter", F.col("o_orderdate"))).alias("_nq"),
        )
        .filter(F.col("_nq") == 4)
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return per.join(c, per["o_custkey"] == c["c_custkey"]).select(
        "c_custkey", "c_name", "n_orders"
    )


@register(
    "q20_concentrated_suppliers",
    """
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_nationkey < 5
      AND s_suppkey IN (
        SELECT l_suppkey FROM (
            SELECT l_suppkey, l_partkey,
                   sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                             AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                            THEN CAST(floor(l_quantity) AS BIGINT) ELSE 0 END) AS q96,
                   sum(CAST(floor(l_quantity) AS BIGINT)) AS qtot
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
            GROUP BY l_suppkey, l_partkey
        ) WHERE q96 * 2 > qtot
      )
    """,
)
def q20_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped doubly-nested IN with a correlated aggregate
    threshold: suppliers (in a nation subset) who shipped MORE THAN
    HALF of their all-time volume of some 'red%' part during 1996.
    The fixture has no partsupp, so the per-(supplier, part) lineitem
    aggregate stands in for availqty, and "1996 share > 1/2" replaces
    "availqty > half the year's shipments" — the plan shape (inner IN
    on a name-filtered part set, correlated per-(ps) aggregate, outer
    semi into supplier⋈nation) is Q20's verbatim.

    Decorrelation: the part-name IN is a broadcast semi join BELOW the
    aggregation (only 'red%' lineitems are ever grouped); both the
    conditional 1996 sum and the total are one partial-agg'd shuffle
    on (l_suppkey, l_partkey); the outer IN is distinct-then-semi into
    the supplier side. Integer quantities make the ×2 threshold exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    red = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5)
    s = load_table(spark, sf_dir, "supplier")
    qty = F.floor(F.col("l_quantity")).cast("long")
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )
    per = (
        li.join(F.broadcast(red), li["l_partkey"] == red["p_partkey"], "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in96, qty).otherwise(F.lit(0))).alias("q96"),
            F.sum(qty).alias("qtot"),
        )
        .filter(F.col("q96") * 2 > F.col("qtot"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(per, s["s_suppkey"] == per["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "q11_important_nation_balance",
    """
    SELECT n_name,
           CAST(sum(CAST(floor(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS balance_cents
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    HAVING sum(CAST(floor(s_acctbal * 100) AS BIGINT)) * 25
           > (SELECT sum(CAST(floor(s_acctbal * 100) AS BIGINT)) FROM supplier)
    """,
)
def q11_important_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped group-vs-global-scalar threshold: per-nation
    supplier balance kept only where it exceeds a fraction of the
    GLOBAL total (the fixture has no partsupp, so account balance
    stands in for stock value; the uncorrelated-scalar-HAVING shape is
    Q11's verbatim).

    Decorrelation: the global total is its own single-row aggregate,
    cross-joined (1-row broadcast — constant-folded, never a real
    cartesian) onto the per-nation aggregate; both aggregates read the
    SAME supplier scan but each is partial-agg'd before its exchange,
    and the scalar side reduces to one row on the map side. Integer
    cents × 4/100 comparison stays exact (no float threshold)."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.floor(F.col("s_acctbal") * 100).cast("long")
    per_nation = (
        supplier.join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(cents).alias("balance_cents"))
    )
    total = supplier.agg(F.sum(cents).alias("__total"))
    # threshold: balance > total * 0.04  ⇔  balance * 25 > total (exact ints)
    return (
        per_nation.crossJoin(F.broadcast(total))
        .filter(F.col("balance_cents") * 25 > F.col("__total"))
        .select("n_name", "balance_cents")
    )
