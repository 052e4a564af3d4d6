"""Data-quality query registry: one-pass constraint profiling and
referential-integrity orphan detection — the validation layer a
training-data pipeline runs before anything else consumes a drop.

The reference validates row-at-a-time and routes failures to a CSV
side channel (K4, Prensas.py :227-279 — "part not found" is exactly
an FK-orphan check against part_numbers⋈work_centers, :319-331).
These plans are the set-oriented form: one aggregate pass emits every
constraint's violation count; orphans fall out of anti joins.

Everything is conditional aggregation over a single scan (profile) or
key-wise anti joins (orphans) — no Python, no second pass per rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iotdatapipeline_spark.plans._registry import register
from iotdatapipeline_spark.sources import load_table


@register(
    "dq_events_profile",
    """
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_user,
           CAST(sum(CASE WHEN props IS NULL OR props NOT LIKE '{%' THEN 1 ELSE 0 END)
               AS BIGINT) AS bad_props,
           CAST(sum(CASE WHEN value IS NULL OR value < 0 OR value > 500 THEN 1 ELSE 0 END)
               AS BIGINT) AS value_out_of_range,
           CAST(sum(CASE WHEN event_type NOT IN ('view','click','purchase','signup','error')
                    THEN 1 ELSE 0 END) AS BIGINT) AS unknown_type,
           count(DISTINCT event_type) AS n_types,
           CAST(min(floor(value * 100)) AS BIGINT) AS min_cents,
           CAST(max(floor(value * 100)) AS BIGINT) AS max_cents
    FROM events
    """,
)
def dq_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint profile in ONE scan: every rule is a sum(CASE)
    running inside the same partial aggregate, so adding a rule costs
    an expression, not a pass — at 100 TB the difference between one
    fact read and one per rule.  Rules: key non-null, payload
    shape, value domain [0, 500], enum membership, plus min/max
    telemetry for drift monitoring."""
    ev = load_table(spark, sf_dir, "events")
    one = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        one(F.col("user_id").isNull()).alias("null_user"),
        one(F.col("props").isNull() | ~F.col("props").startswith("{")).alias("bad_props"),
        one(
            F.col("value").isNull() | (F.col("value") < 0) | (F.col("value") > 500)
        ).alias("value_out_of_range"),
        one(
            ~F.col("event_type").isin("view", "click", "purchase", "signup", "error")
        ).alias("unknown_type"),
        F.countDistinct("event_type").alias("n_types"),
        F.min(F.floor(F.col("value") * 100)).cast("long").alias("min_cents"),
        F.max(F.floor(F.col("value") * 100)).cast("long").alias("max_cents"),
    )


@register(
    "dq_referential_orphans",
    """
    SELECT 'lineitem->orders' AS fk, count(*) AS n_orphans
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'orders->customer', count(*)
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'supplier->nation', count(*)
    FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)
    ORDER BY fk
    """,
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan counts as left-anti joins (keys are
    non-null, so NOT IN ≡ anti join).  Only the genuinely-small
    parent (nation) gets a broadcast hint; fact-sized parents
    (orders, customer) anti-join key-to-key and AQE picks broadcast
    when the pruned parent fits.  The reference's 'part not found'
    CSV routing (K4/J9) is this exact check with n=1."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")

    def orphan_count(
        child: DataFrame, parent: DataFrame, ck: str, pk: str, label: str
    ) -> DataFrame:
        return (
            child.join(parent, child[ck] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphan_count(li, o.select("o_orderkey"), "l_orderkey", "o_orderkey", "lineitem->orders")
        .unionByName(orphan_count(o, c, "o_custkey", "c_custkey", "orders->customer"))
        .unionByName(
            orphan_count(s, F.broadcast(n), "s_nationkey", "n_nationkey", "supplier->nation")
        )
        .orderBy("fk")
    )


@register(
    "events_value_histogram",
    """
    WITH r AS (
        SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c FROM events
    ),
    b AS (SELECT min(c) AS mn, max(c) AS mx FROM r),
    h AS (
        SELECT r.event_type,
               least(((r.c - b.mn) * 10) // (b.mx - b.mn + 1), 9) AS bucket,
               count(*) AS n
        FROM r CROSS JOIN b
        GROUP BY 1, 2
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
           CAST((1000 * n) // sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS share_x1000
    FROM h
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram per event type with DATA-DERIVED bounds —
    the distribution-profiling pass behind drift monitors and data
    docs. Two-phase shape: the 1-row global (min, max) broadcasts
    (never a shuffle of the fact), bucket assignment is integer
    arithmetic on the ×100 counter scale (no float boundaries to
    disagree on), and the per-type normalization runs on the tiny
    (type × 10) result. One scan, one count shuffle."""
    r = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("c")
    )
    b = r.agg(F.min("c").alias("mn"), F.max("c").alias("mx"))
    h = (
        r.crossJoin(F.broadcast(b))
        .select(
            "event_type",
            F.least(
                F.expr("((c - mn) * 10) div (mx - mn + 1)"), F.lit(9).cast("long")
            ).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type")
    return (
        h.withColumn("__tot", F.sum("n").over(w))
        .select(
            "event_type",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n"),
            # integer div like the oracle — a float quotient could floor
            # differently 1ulp under a boundary
            F.expr("1000 * n div __tot").cast("long").alias("share_x1000"),
        )
    )


@register(
    "dq_snapshot_diff",
    """
    WITH old_s AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new_s AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(floor(o_totalprice * 100) AS BIGINT)
                   + CASE WHEN o_orderkey % 3 = 0 THEN 100 ELSE 0 END AS cents
        FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.cents <> n.cents OR o.o_orderstatus <> n.o_orderstatus
                     THEN 'changed'
                ELSE 'same' END AS change_type,
           o.cents AS old_cents, n.cents AS new_cents
    FROM old_s o FULL OUTER JOIN new_s n ON o.o_orderkey = n.o_orderkey
    WHERE NOT (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
               AND o.cents = n.cents AND o.o_orderstatus = n.o_orderstatus)
    """,
)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (CDC diff): classify every key across
    two table versions as added / removed / changed, emitting the
    non-identical rows with both values. The audit a pipeline runs
    between ingests to bound upstream churn before reprocessing — and
    the batch dual of the reference's per-row UPDATE-else-INSERT
    merge (K1/K2, Prensas.py:216-223, :319-331), which only ever sees
    one side of this diff at a time. Versions are simulated from the
    fixture deterministically (key-modulus membership, a +100-cent
    update on every third key).

    Scale shape: one FULL OUTER hash join on the snapshot key — both
    sides shuffle once on o_orderkey, identical rows are filtered
    post-join so only churn survives to the output. At 100 TB the
    join co-partitions if both snapshots are bucketed by key; the
    'same'-row filter keeps output proportional to churn, not to
    table size."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    old_s = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", cents.alias("cents")
    )
    new_s = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        (cents + F.when(F.col("o_orderkey") % 3 == 0, 100).otherwise(0)).alias("cents"),
    )
    o = old_s.alias("o")
    n = new_s.alias("n")
    j = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    same = (
        F.col("o.o_orderkey").isNotNull()
        & F.col("n.o_orderkey").isNotNull()
        & (F.col("o.cents") == F.col("n.cents"))
        & (F.col("o.o_orderstatus") == F.col("n.o_orderstatus"))
    )
    change = (
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when(
            (F.col("o.cents") != F.col("n.cents"))
            | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus")),
            "changed",
        )
        .otherwise("same")
    )
    return j.filter(~same).select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
        change.alias("change_type"),
        F.col("o.cents").alias("old_cents"),
        F.col("n.cents").alias("new_cents"),
    )


@register(
    "events_upsert_apply",
    """
    WITH ops AS (
        SELECT user_id AS k, ts, event_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               CAST(floor(value * 100) AS BIGINT) AS v_cents
        FROM events
    ),
    last AS (
        SELECT k, op, v_cents, ts,
               row_number() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn
        FROM ops
    )
    SELECT k AS station, v_cents, ts AS updated_at
    FROM last WHERE rn = 1 AND op = 'U'
    """,
)
def events_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered CDC apply (the lakehouse MERGE compaction): a change
    feed of keyed upserts and deletes collapses to the final table
    state — last op per key wins by (ts, event_id) sequence; a
    trailing delete removes the key entirely. This is the set-based
    form of the reference's row-at-a-time UPDATE-else-INSERT loop
    (K1/K2, Prensas.py:216-223, :319-331) PLUS deletes, and the
    compaction step any CDC-fed table maintenance (Delta/Iceberg
    MERGE) runs. Deletes here are simulated from the 'error' type.

    Scale shape: ONE shuffle on the key; last-writer-wins is max_by
    over the (ts, event_id) sequence struct — partial aggregation
    keeps one candidate per key per map task (no window sort needed);
    the delete filter is a post-aggregate projection. Commutative,
    so out-of-order feeds collapse identically."""
    ev = load_table(spark, sf_dir, "events")
    ops = ev.select(
        F.col("user_id").alias("station"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    seq = F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("event_id"))
    last = ops.groupBy("station").agg(
        F.max_by(F.struct("op", "v_cents", "ts"), seq).alias("w")
    )
    return last.filter(F.col("w.op") == "U").select(
        "station",
        F.col("w.v_cents").alias("v_cents"),
        F.col("w.ts").alias("updated_at"),
    )


@register(
    "events_incremental_agg_merge",
    """
    SELECT user_id AS station, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
    FROM events GROUP BY user_id
    """,
)
def events_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-station
    rollup is computed as MERGE(old snapshot aggregate, delta-batch
    aggregate) — the algebraic update a pipeline applies per ingest
    instead of recomputing history (count/sum/max are commutative
    monoids, so merge is a full-outer join + elementwise combine).
    The ORACLE is deliberately the direct one-shot aggregate over
    everything: the gate therefore proves the incremental path is
    exactly equivalent to recomputation — the invariant view
    maintenance lives or dies by. Cutoff = day 15 of the fixture
    simulates the snapshot boundary.

    Scale shape: two partial-aggregated groupBys (each over its slice
    — at 100 TB the 'old' side is the STORED rollup, not a scan) and
    one full-outer hash join on the station key."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    cutoff = "2024-01-15"

    def agg(df):
        return df.groupBy(F.col("user_id").alias("station")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(cents).cast("long").alias("sum_cents"),
            F.max(cents).cast("long").alias("max_cents"),
        )

    old = agg(ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp")))
    delta = agg(ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp")))
    o = old.alias("o")
    d = delta.alias("d")
    j = o.join(d, F.col("o.station") == F.col("d.station"), "full_outer")
    z = lambda c: F.coalesce(c, F.lit(0).cast("long"))  # noqa: E731
    return j.select(
        F.coalesce(F.col("o.station"), F.col("d.station")).alias("station"),
        (z(F.col("o.n_rows")) + z(F.col("d.n_rows"))).alias("n_rows"),
        (z(F.col("o.sum_cents")) + z(F.col("d.sum_cents"))).alias("sum_cents"),
        F.greatest(
            F.coalesce(F.col("o.max_cents"), F.col("d.max_cents")),
            F.coalesce(F.col("d.max_cents"), F.col("o.max_cents")),
        ).alias("max_cents"),
    )


@register(
    "dq_bucket_checksums",
    """
    WITH h AS (
        SELECT o_orderkey % 64 AS bucket,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                     o_orderstatus || '|' ||
                     CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)), 1, 15))
                    AS BIGINT) AS rh
        FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(rh) AS BIGINT) AS checksum
    FROM h GROUP BY bucket
    """,
)
def dq_bucket_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style table digests: rows hash into 64 key-range
    buckets, each reduced to (count, XOR of row-hashes) — two replicas
    compare 64 tiny rows instead of the table, and a mismatched
    bucket localizes WHERE to run the expensive row-level diff
    (`dq_snapshot_diff`). The anti-entropy primitive of replicated
    stores, as one aggregate. XOR is commutative, associative, and
    overflow-free at any row count (a sum of 60-bit hashes overflows
    int64 within a few hundred rows under ANSI mode — found by the
    gate), so the digest is partitioning-independent and
    scale-independent by construction.

    Scale shape: pure projection + one partial-aggregated groupBy on
    a 64-value key."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    payload = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        cents.cast("string"),
    )
    rh = F.conv(F.substring(F.md5(payload.cast("binary")), 1, 15), 16, 10).cast("long")
    return (
        orders.select((F.col("o_orderkey") % 64).cast("long").alias("bucket"), rh.alias("rh"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("bit_xor(rh)").cast("long").alias("checksum"),
        )
    )
