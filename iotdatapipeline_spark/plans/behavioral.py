"""Behavioral-analytics query registry: ordered-funnel attainment,
cohort retention, and deterministic stratified sampling.

The reference pipeline (Prensas.py) observes machines, not users, but
the shapes are the same state-progression questions its stream
answers one key at a time (T4 run tracking, W1 ordered-event
detection): "did stage B happen after stage A, within the window",
"when did this key first appear and how long does it stay active".
Here they are answered for the whole log at once, distributively.

Determinism: funnel stage times are min-reductions (order-free);
cohort math is date arithmetic; the sampler ranks by md5 so the
"random" 10% is a pure function of the key — re-running on the same
data yields the same sample (the property a training pipeline needs
for reproducible corpus draws).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iotdatapipeline_spark.operators.timeseries import ordered_funnel
from iotdatapipeline_spark.plans._registry import register
from iotdatapipeline_spark.sources import load_table


@register(
    "events_funnel_stages",
    """
    WITH a AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    b AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN a USING (user_id)
          WHERE e.event_type = 'click'
            AND e.ts >= a.t1 AND e.ts < a.t1 + INTERVAL 48 HOUR
          GROUP BY e.user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN b USING (user_id)
          WHERE e.event_type = 'purchase'
            AND e.ts >= b.t2 AND e.ts < b.t2 + INTERVAL 48 HOUR
          GROUP BY e.user_id)
    SELECT a.user_id, a.t1, b.t2, c.t3
    FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)
    """,
)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase with a 48 h conversion
    window per hop: t2 = first click in [t1, t1+48h), t3 = first
    purchase in [t2, t2+48h); NULL where the hop never converts.

    Each hop is a chained unordered window MIN over ONE user-keyed
    partitioning (hop *i*'s predicate reads hop *i−1*'s window
    output), so the whole funnel is a single fact shuffle with zero
    joins — see ``ordered_funnel``'s r13 docstring; the plan-pin test
    asserts 0 joins / 1 exchange / 3 windows.  Per-user output rows
    make the oracle hash sensitive to every stage timestamp, not just
    the three funnel counts.

    Thin binding of ``operators.timeseries.ordered_funnel`` onto the
    events fixture."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return ordered_funnel(
        ev,
        user_col="user_id",
        type_col="event_type",
        ts_col="ts",
        stages=("view", "click", "purchase"),
        window_expr="INTERVAL 48 HOURS",
    )


@register(
    "events_cohort_retention",
    """
    WITH first AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0
                   FROM events GROUP BY user_id)
    SELECT d0 AS cohort_day,
           CAST(datediff('day', d0, CAST(ts AS DATE)) AS BIGINT) AS day_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first USING (user_id)
    GROUP BY d0, day_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted distinct on each day-offset they come back.

    The first-seen day is an unordered window MIN over the user
    partition (r13, guide §2.4): the previous form aggregated
    first-seen into a separate frame and joined it back onto a second
    scan of the fact — 2 scans / 3 exchanges / 1 join, and at corpus
    scale the first-seen frame outgrows the broadcast cap so the join
    degrades to a sort-merge that shuffles the fact AGAIN. Now the
    fact is shuffled once by user, d0 rides every row out of that one
    window pass (1 scan / 2 exchanges / 0 joins); the distinct-count
    re-keys to (cohort, offset), whose cardinality is offsets² — tiny
    at any scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    d0 = F.min("d").over(Window.partitionBy("user_id"))
    return (
        ev.withColumn("d0", d0)
        .groupBy(
            F.col("d0").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("d0")).cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "docs_stratified_sample",
    """
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents)
    SELECT lang, doc_id FROM ranked
    WHERE rn <= CAST(ceil(0.1 * n) AS BIGINT)
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10 % stratified sample per language: rank docs
    within each stratum by md5(doc_id) — a fixed pseudo-random
    order — and keep the top ⌈10 %⌉.  Unlike sampleBy() this is
    exact-count per stratum AND reproducible across runs/partitions,
    which is what corpus draws need for auditability.  One shuffle on
    lang; both window functions (rank + stratum size) share it.
    Skew note: strata are few and large, so the per-stratum window
    sort is the cost — for heavy strata switch the rank to a
    threshold on the hash value itself (approximate count, no sort),
    the same trade sampleBy makes."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w_rank = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    w_n = Window.partitionBy("lang")
    ranked = d.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_n)
    )
    return ranked.filter(
        F.col("rn") <= F.ceil(0.1 * F.col("n")).cast("long")
    ).select("lang", "doc_id")


@register(
    "orders_part_cooccurrence",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS p1, b.l_partkey AS p2,
           CAST(count(*) AS BIGINT) AS support
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def orders_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (the counting pass of frequent-
    itemset mining): part pairs ordered together, with their support.
    Shape: one scan → per-order distinct part set (collect_set, the
    basket is the bucket) → in-array pair expansion → one count
    shuffle on the pair key. The pair fan-out is quadratic only in
    BASKET size (≤ 7 lineitems in TPC-H; capped naturally), never in
    the catalog or order count — the same bounded-bucket idiom as the
    LSH candidate expansion, where a naive formulation would self-join
    the fact table on l_orderkey and scan it twice."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    lefts = baskets.select(F.posexplode("parts").alias("i", "p1"), F.col("parts"))
    pairs = lefts.select(
        "p1", F.explode(F.slice(F.col("parts"), F.col("i") + 2, F.size("parts"))).alias("p2")
    )
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 2)
    )


@register(
    "events_type_transitions",
    """
    WITH s AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
        FROM s WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
           CAST(floor(1000.0 * n / sum(n) OVER (PARTITION BY from_type)) AS BIGINT)
               AS p_x1000
    FROM t
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next type | current type), the behavior-modeling
    primitive behind funnel diagnostics and next-action prediction.
    One lag window per user (the same ordered-sequence shuffle the
    funnel and sessionization queries use — at scale these share a
    partitioning), one count shuffle on the (from, to) pair (≤ types²
    rows), and the row-normalization runs on that tiny matrix.
    Integer-floored probabilities, tie-broken ordering — exact SQL
    twin."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = s.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wn = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.floor(F.lit(1000.0) * F.col("n") / F.sum("n").over(wn)).cast("long").alias("p_x1000"),
    )


_EDGES_SQL = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ed AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2)
"""


def _cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-≥2 co-occurrence edges (p1 < p2), the same basket
    expansion as `orders_part_cooccurrence`."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    lefts = baskets.select(F.posexplode("parts").alias("i", "p1"), F.col("parts"))
    pairs = lefts.select(
        "p1", F.explode(F.slice(F.col("parts"), F.col("i") + 2, F.size("parts"))).alias("p2")
    )
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("p1", "p2")
    )


@register(
    "parts_triangle_counts",
    f"""
    WITH {_EDGES_SQL},
    tri AS (
        SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        FROM ed e1
        JOIN ed e2 ON e1.p2 = e2.p1
        JOIN ed e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ),
    verts AS (
        SELECT a AS part FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT part AS l_partkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM verts GROUP BY part
    """,
)
def parts_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation over the co-purchase graph —
    the local-clustering signal that separates parts bought in
    cohesive kits (dense neighborhoods) from hub parts bought with
    everything. Edges are id-oriented (p1 < p2) so each triangle is
    enumerated exactly once as a < b < c: one wedge join (e1.p2 =
    e2.p1) closed by an edge-existence join.

    Scale shape: two hash joins on edge keys; wedge fan-out is
    Σ deg(b)² over the MIDDLE vertex — at 100 TB the standard
    refinement is degree orientation (point each edge at the
    higher-degree endpoint), which provably bounds wedges by
    O(m^1.5); the id orientation here keeps the oracle twin exact and
    the join shape identical."""
    # The edge list feeds three join legs: checkpoint it once so the
    # basket expansion isn't recomputed per leg (house idiom for
    # multi-use intermediates, operators/graph.py:107).
    ed = _cooccurrence_edges(spark, sf_dir).localCheckpoint(eager=True)
    e1 = ed.select(F.col("p1").alias("a"), F.col("p2").alias("b"))
    e2 = ed.select(F.col("p1").alias("b"), F.col("p2").alias("c"))
    e3 = ed.select(F.col("p1").alias("a"), F.col("p2").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # r14 (guide §2.4 duplicated subtrees): the 3-way unionAll of tri
    # projections re-ran the two wedge joins once per corner (6 BHJ in
    # the plan); one row-local explode of [a, b, c] emits the same
    # multiset from ONE tri reference (2 BHJ). ABBA 0.221→0.147 s
    # sf0.1, 8.40→4.05 s x10 (2.1×); exceptAll 0 (/tmp-era harness
    # promoted to tools/bench_triangle_ab.py).
    verts = tri.select(F.explode(F.array("a", "b", "c")).alias("part"))
    return verts.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    ).select(F.col("part").alias("l_partkey"), "n_triangles")


def _pagerank_sql(n_iters: int = 5) -> str:
    parts = [
        f"WITH {_EDGES_SQL},",
        """
    dirs AS (SELECT p1 AS src, p2 AS dst FROM ed
             UNION ALL SELECT p2, p1 FROM ed),
    deg AS (SELECT src, count(*) AS d FROM dirs GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM dirs),
    pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)
        """,
    ]
    for k in range(1, n_iters + 1):
        parts.append(
            f"""
    , c{k} AS (SELECT dirs.dst, sum(pr{k-1}.pr // deg.d) AS contrib
              FROM dirs JOIN pr{k-1} ON dirs.src = pr{k-1}.node
              JOIN deg ON deg.src = dirs.src
              GROUP BY dirs.dst)
    , pr{k} AS (SELECT nodes.node,
                      CAST(150000 + (850 * COALESCE(c{k}.contrib, 0)) // 1000
                           AS BIGINT) AS pr
               FROM nodes LEFT JOIN c{k} ON c{k}.dst = nodes.node)
            """
        )
    parts.append(f"SELECT node AS l_partkey, pr AS pr_x1e6 FROM pr{n_iters}")
    return "\n".join(parts)


@register("parts_cooccurrence_pagerank", _pagerank_sql(5))
def parts_cooccurrence_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five PageRank iterations over the undirected co-purchase graph
    (damping 0.85), in EXACT integer arithmetic: ranks ×1e6, each
    neighbor contribution pr div deg, each update 150000 +
    (850·Σcontrib) div 1000 — truncating integer division at every
    step, so the trajectory is bit-identical on any engine and any
    partitioning (float PageRank is summation-order-dependent; this
    is the reproducible variant a lineage-audited pipeline wants).

    Scale shape per iteration: one hash join of the edge list with
    the current rank vector (both partitioned by src — the exchange
    is reused across iterations) and one partial-aggregated groupBy
    on dst; 5 iterations = a fixed-depth DAG, no driver-side data
    movement. The iteration count is the convergence budget a real
    deployment would checkpoint between."""
    ed = _cooccurrence_edges(spark, sf_dir)
    dirs = ed.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).unionAll(
        ed.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    deg = dirs.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # Checkpoint the two loop-invariant inputs once: without this the
    # basket expansion re-executes in every iteration's join legs
    # (operators/graph.py:107 idiom; lineage also stays fixed-depth).
    dirs_deg = dirs.join(deg, "src").localCheckpoint(eager=True)
    nodes = dirs.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    pr = nodes.select("node", F.lit(1_000_000).cast("long").alias("pr"))
    for _ in range(5):
        c = (
            dirs_deg.join(pr, dirs_deg["src"] == pr["node"])
            .select("dst", F.expr("pr div d").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        pr = nodes.join(c, nodes["node"] == c["dst"], "left").select(
            "node",
            (
                F.lit(150_000)
                + F.expr("(850 * coalesce(contrib, 0L)) div 1000")
            ).cast("long").alias("pr"),
        )
    return pr.select(F.col("node").alias("l_partkey"), F.col("pr").alias("pr_x1e6"))


@register(
    "customers_rfm_scores",
    """
    WITH base AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order, frequency, monetary_cents,
           CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS BIGINT) AS m_score
    FROM base
    """,
)
def customers_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (last order date),
    frequency (order count), monetary (lifetime cents), each scored
    into quintiles — the classic behavioral-segmentation table a
    marketing/valuation pipeline derives from the order log. Ties
    broken by customer key so quintile boundaries are deterministic.

    Scale shape: one partial-aggregated groupBy on the customer key,
    then three ntile windows over the SAME unpartitioned sort-by-
    variable orderings. Global ntile is a range-partitioned sort per
    score — at extreme cardinality the standard substitute is
    percent_rank over pre-aggregated distribution cuts; the quintile
    semantics stay identical."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    return base.select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(Window.orderBy("last_order", "o_custkey")).cast("long").alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "o_custkey")).cast("long").alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary_cents", "o_custkey")).cast("long").alias("m_score"),
    )


@register(
    "events_top_paths",
    """
    WITH s AS (
        SELECT user_id, event_type,
               lag(event_type, 1) OVER w AS p1,
               lag(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT p2 || '>' || p1 || '>' || event_type AS path
        FROM s WHERE p2 IS NOT NULL
    ),
    counts AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM paths GROUP BY path)
    SELECT path, n FROM counts
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, 3-step: the top-20 most common
    event-type trigrams across per-user ordered histories — the
    path-analysis table behind funnel discovery (which 3-step flows
    actually happen, before you pin a funnel to test). Extends the
    first-order `events_type_transitions` matrix to order-2 context.

    Scale shape: both lag columns come from ONE window pass over the
    per-user ordering (the same exchange sessionization and the
    transition matrix reuse); path counting partial-aggregates on a
    ≤|types|³ key space; the global top-20 is TakeOrderedAndProject
    with a deterministic (count, path) tie-break."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    paths = s.select(
        F.concat_ws(">", F.col("p2"), F.col("p1"), F.col("event_type")).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return counts.orderBy(F.desc("n"), "path").limit(20)


@register(
    "events_purchase_attribution",
    """
    WITH p AS (
        SELECT user_id, ts AS p_ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts AS c_ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ),
    j AS (
        SELECT p.purchase_id, p.user_id, p.p_ts, c.c_ts, c.click_id,
               row_number() OVER (PARTITION BY p.purchase_id
                                  ORDER BY c.c_ts DESC, c.click_id DESC) AS rn
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id AND c.c_ts <= p.p_ts
         AND epoch_us(p.p_ts) - epoch_us(c.c_ts) <= 172800000000
    )
    SELECT purchase_id, user_id, p_ts AS purchase_ts,
           click_id AS attributed_click, c_ts AS click_ts,
           CASE WHEN c_ts IS NOT NULL
                THEN CAST(epoch_us(p_ts) - epoch_us(c_ts) AS BIGINT) END AS gap_us
    FROM j WHERE rn = 1
    """,
)
def events_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the LAST
    click by the same user within the preceding 48 h (none → null) —
    the standard marketing-attribution join. The oracle states it as
    a bounded self-join + argmax; the plan is the library's AS-OF
    join (operators/asof.py: union both sides, one window pass over
    the per-user timeline — no join fan-out at all), then a window
    filter for the 48 h lookback.

    Scale shape: one exchange on user_id for the merged timeline, one
    last_value window — the as-of idiom whose cost is a sort, not a
    per-pair product; equal-ts ties pre-collapsed (max event_id) so
    'latest' is distribution-independent."""
    from iotdatapipeline_spark.operators import asof_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.col("event_id").alias("purchase_id")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "ts", "click_id", F.col("ts").alias("click_ts"))
    )
    j = asof_join(
        p,
        c,
        on=("user_id",),
        ts_col="ts",
        value_cols=("click_id", "click_ts"),
    )
    gap = F.unix_micros("ts") - F.unix_micros("click_ts")
    within = F.col("click_ts").isNotNull() & (gap <= 172_800_000_000)
    return j.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(within, F.col("click_id")).alias("attributed_click"),
        F.when(within, F.col("click_ts")).alias("click_ts"),
        F.when(within, gap).cast("long").alias("gap_us"),
    )
