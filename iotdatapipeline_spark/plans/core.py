"""Core query registry — the reference's operators over the fixture
tables (SURVEY.md §2, fixture mapping FIXTURES.md §C).

Every entry is a (Spark callable, DuckDB oracle SQL) pair with
IDENTICAL output column names and, as far as practical, identical
types. Numeric outputs are kept in exact integer domains (``floor`` to
cents / counters) so the driver's order-insensitive value hash is
bit-stable across engines; doubles appear only where they are read
unmodified from storage or explicitly rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iotdatapipeline_spark.functions import (
    cycle_time_seconds,
    decode_block,
    expand_block,
    fmt_date,
    fmt_ts,
    plan_date,
    shift_id,
)
from iotdatapipeline_spark.operators import (
    argmax_per_group_hash,
    packed_major,
    packed_minor,
    packed_order,
    config_regroup,
    dedup_append_set,
    dedup_combine,
    enrich_multiplier,
    guarded_insert_split,
    latest_snapshot,
    limpieza_update_set,
    production_rollup,
    top1_per_group,
)
from iotdatapipeline_spark.plans._registry import register
from iotdatapipeline_spark.sources import load_table, table_bytes


# The events table as the PLC reading stream (FIXTURES.md §C):
# station=user_id, part=event_type, counter=floor(value*100).
_READINGS_SQL = """
    SELECT user_id AS station, event_type AS part, ts, event_id, value,
           CAST(floor(value * 100) AS BIGINT) AS counter
    FROM events
"""


def _readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("station"),
        F.col("event_type").alias("part"),
        F.col("ts"),
        F.col("event_id"),
        F.col("value"),
        F.floor(F.col("value") * 100).cast("long").alias("counter"),
    )


# ── Flagship: W1/W2/C5/A5/J10 production roll-up ────────────────────────────

@register(
    "production_shift_rollup",
    f"""
    WITH readings AS ({_READINGS_SQL}),
    d AS (
        SELECT station, part, ts, event_id, counter,
               lag(counter) OVER w AS prev_counter,
               lag(hour(ts)*3600 + minute(ts)*60 + second(ts)) OVER w AS prev_tod,
               hour(ts)*3600 + minute(ts)*60 + second(ts) AS tod
        FROM readings
        WINDOW w AS (PARTITION BY station, part ORDER BY ts, event_id)
    ),
    e AS (
        SELECT *,
               ((prev_tod < 28800 AND tod >= 28800) OR
                (prev_tod < 57600 AND tod >= 57600)) AS cambio,
               CASE WHEN hour(ts) BETWEEN 8 AND 15 THEN 1 ELSE 2 END AS shift_id,
               CASE WHEN hour(ts) < 8 THEN CAST(ts AS DATE) - 1 ELSE CAST(ts AS DATE) END AS plan_date
        FROM d
    ),
    agg AS (
        SELECT station, part, plan_date, shift_id,
               CAST(sum(counter - prev_counter) AS BIGINT) AS qty_raw,
               count(*) AS emit_count,
               CAST(max(counter) AS BIGINT) AS last_counter
        FROM e
        WHERE counter > prev_counter OR (cambio AND counter >= prev_counter)
        GROUP BY station, part, plan_date, shift_id
    ),
    mult AS (
        SELECT DISTINCT event_type AS part,
               CAST(length(event_type) % 3 + 1 AS INTEGER) AS multiplier
        FROM events WHERE length(event_type) <> 5
    )
    SELECT a.station, a.part, a.plan_date, a.shift_id, a.emit_count, a.last_counter,
           CAST(a.qty_raw * COALESCE(m.multiplier, 1) AS BIGINT) AS qty
    FROM agg a LEFT JOIN mult m ON a.part = m.part
    """,
)
def production_shift_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY.md §7 step 2): counter-delta emits (W1), shift
    boundaries (W2/C5), per-shift quantity (A5), broadcast multiplier
    enrichment with default-1 (J10/C8).

    NOTE: uses ``prev_mode="lag"`` — prev = previous ROW, the batch
    analog of the streaming machine's ``emit_mode="row"`` (their
    equivalence test pairs them). The reference itself advances prev
    only on emit; ``production_shift_rollup_runmax`` is that exact
    formulation, and ``stream_counter_machine_reference`` pins the
    full state machine (incl. zero-delta boundary emits) against a
    recursive-CTE oracle."""
    readings = _readings(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    mult = (
        ev.select(F.col("event_type").alias("part"))
        .distinct()
        .filter(F.length("part") != 5)
        .withColumn("multiplier", (F.length("part") % 3 + 1).cast("int"))
    )
    out = production_rollup(
        readings,
        station_col="station",
        part_col="part",
        counter_col="counter",
        ts_col="ts",
        order_cols=("event_id",),
        multiplier=mult,
    )
    return out.select("station", "part", "plan_date", "shift_id", "emit_count", "last_counter", "qty")


# ── Flagship, exact reference prev semantics (running max) ─────────────────

@register(
    "production_shift_rollup_runmax",
    f"""
    WITH readings AS ({_READINGS_SQL}),
    d AS (
        SELECT station, part, ts, counter,
               max(counter) OVER (PARTITION BY station, part ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_counter
        FROM readings
    ),
    e AS (
        SELECT *,
               CASE WHEN hour(ts) BETWEEN 8 AND 15 THEN 1 ELSE 2 END AS shift_id,
               CASE WHEN hour(ts) < 8 THEN CAST(ts AS DATE) - 1 ELSE CAST(ts AS DATE) END AS plan_date
        FROM d WHERE counter > prev_counter
    ),
    agg AS (
        SELECT station, part, plan_date, shift_id,
               CAST(sum(counter - prev_counter) AS BIGINT) AS qty_raw,
               count(*) AS emit_count,
               CAST(max(counter) AS BIGINT) AS last_counter
        FROM e GROUP BY station, part, plan_date, shift_id
    ),
    mult AS (
        SELECT DISTINCT event_type AS part,
               CAST(length(event_type) % 3 + 1 AS INTEGER) AS multiplier
        FROM events WHERE length(event_type) <> 5
    )
    SELECT a.station, a.part, a.plan_date, a.shift_id, a.emit_count, a.last_counter,
           CAST(a.qty_raw * COALESCE(m.multiplier, 1) AS BIGINT) AS qty
    FROM agg a LEFT JOIN mult m ON a.part = m.part
    """,
)
def production_shift_rollup_runmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship with the reference's EXACT prev rule
    (Prensas.py:812: ``contador_registro`` advances only on emit ⇒
    prev ≡ running max of prior counters). Quantities match Prensas.py
    bit-for-bit on any counter sequence, monotone or not; the only
    reference behavior not in this batch form is the zero-delta
    boundary-equality emit (delta 0 — never moves qty), pinned instead
    by ``stream_counter_machine_reference``."""
    readings = _readings(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    mult = (
        ev.select(F.col("event_type").alias("part"))
        .distinct()
        .filter(F.length("part") != 5)
        .withColumn("multiplier", (F.length("part") % 3 + 1).cast("int"))
    )
    out = production_rollup(
        readings,
        station_col="station",
        part_col="part",
        counter_col="counter",
        ts_col="ts",
        order_cols=("event_id",),
        multiplier=mult,
        prev_mode="runmax",
    )
    return out.select("station", "part", "plan_date", "shift_id", "emit_count", "last_counter", "qty")


# ── W1 exact reference emit semantics (running max) ────────────────────────

@register(
    "counter_runmax_emits",
    f"""
    WITH readings AS ({_READINGS_SQL}),
    d AS (
        SELECT station, part, counter,
               max(counter) OVER (PARTITION BY station, part ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS runmax_prev
        FROM readings
    )
    SELECT station, part, count(*) AS n_emits,
           CAST(sum(counter - runmax_prev) AS BIGINT) AS total_delta,
           CAST(max(counter) AS BIGINT) AS max_counter
    FROM d WHERE counter > runmax_prev GROUP BY station, part
    """,
)
def counter_runmax_emits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 with the reference's EXACT update rule: ``contador_registro``
    advances only on emit (Prensas.py:812), so away from shift
    boundaries prev ≡ running max and emit ⇔ counter > running max of
    all prior counters. Total delta telescopes to max − first."""
    from pyspark.sql import Window

    r = _readings(spark, sf_dir)
    w = (
        Window.partitionBy("station", "part")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = r.withColumn("runmax_prev", F.max("counter").over(w))
    return (
        d.filter(F.col("counter") > F.col("runmax_prev"))
        .groupBy("station", "part")
        .agg(
            F.count(F.lit(1)).alias("n_emits"),
            F.sum(F.col("counter") - F.col("runmax_prev")).cast("long").alias("total_delta"),
            F.max("counter").cast("long").alias("max_counter"),
        )
    )


# ── C5 shift derivation ─────────────────────────────────────────────────────

@register(
    "shift_derivation",
    """
    SELECT event_id,
           CASE WHEN hour(ts) BETWEEN 8 AND 15 THEN 1 ELSE 2 END AS shift_id,
           CASE WHEN hour(ts) < 8 THEN CAST(ts AS DATE) - 1 ELSE CAST(ts AS DATE) END AS plan_date
    FROM events
    """,
)
def shift_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 (Prensas.py:652-659): the 6-case shift/plan-date table."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        shift_id(F.col("ts")).alias("shift_id"),
        plan_date(F.col("ts")).alias("plan_date"),
    )


# ── C4/C6/C10: cycle-time decode + timestamp formatting ─────────────────────

@register(
    "cycle_time_formatting",
    """
    SELECT event_id,
           coalesce(abs(CAST(TRY_CAST(
               CASE WHEN event_id % 5 = 0 THEN event_type
                    ELSE CAST(CAST(floor((value - 50) * 1000) AS BIGINT) AS VARCHAR)
               END AS BIGINT) AS DOUBLE) / 1000.0), 0.0) AS cycle_s,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_fmt,
           strftime(ts, '%Y-%m-%d') AS date_fmt
    FROM events
    """,
)
def cycle_time_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 + C10 + C6 as a gate row (Prensas.py:543-551, 699, 713, 235):
    the PLC cycle-time word decoded ms→s with the reference's
    malformed→0.0 and abs() rules — every 5th row feeds a NON-NUMERIC
    string (the event type) through the try_cast path, and the
    shifted value makes genuinely negative words exercise abs — plus
    both reference timestamp formats. Pure per-row projections: no
    exchange, scan-pruned to three columns."""
    ev = load_table(spark, sf_dir, "events")
    raw = F.when(F.col("event_id") % 5 == 0, F.col("event_type")).otherwise(
        F.floor((F.col("value") - 50) * 1000).cast("long").cast("string")
    )
    return ev.select(
        "event_id",
        cycle_time_seconds(raw).alias("cycle_s"),
        fmt_ts(F.col("ts")).alias("ts_fmt"),
        fmt_date(F.col("ts")).alias("date_fmt"),
    )


# ── A1 + C2: dedup-combine over slash-expanded part numbers ────────────────

@register(
    "dedup_combine_parts",
    """
    WITH r AS (
        SELECT user_id AS station, event_id, value,
               CAST(floor(value * 100) AS BIGINT) AS counter,
               CASE WHEN user_id % 5 = 0 THEN event_type
                    ELSE event_type || '/' || CAST(user_id % 3 AS VARCHAR) END AS cadena
        FROM events
    ),
    ex AS (
        SELECT station, event_id, value, counter, cadena,
               unnest(string_split(cadena, '/')) AS part
        FROM r
    )
    SELECT station, part,
           CAST(sum(counter) AS BIGINT) AS counter_total,
           count(*) AS n_readings,
           arg_min(cadena, event_id) AS part_original,
           arg_max(value, event_id) AS cycle_time
    FROM ex
    WHERE part IS NOT NULL AND part <> ''
    GROUP BY station, part
    """,
)
def dedup_combine_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 ``combinar_listas`` + C2 slash expansion (Prensas.py:399-448):
    each alternative receives the FULL counter; sum/first-original/
    last-cycle-time merge. Slashless cadenas exercise the scalar path."""
    r = _readings(spark, sf_dir).withColumn(
        "cadena",
        F.when(F.col("station") % 5 == 0, F.col("part")).otherwise(
            F.concat(F.col("part"), F.lit("/"), (F.col("station") % 3).cast("string"))
        ),
    )
    out = dedup_combine(
        r.drop("part"),
        keys=["station"],
        raw_part_col="cadena",  # plan-level fast/general expansion dispatch
        original_col="cadena",
        counter_col="counter",
        cycle_time_col="value",
        order_col="event_id",
        collect_counters=False,  # this query projects only the merged scalars
    )
    return out.select("station", "part", "counter_total", "n_readings", "part_original", "cycle_time")


# ── W3/S5/A4: top-1 active-record probe ─────────────────────────────────────

@register(
    "top1_active_record",
    """
    SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderstatus DESC, o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def top1_active_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (Prensas.py:300-302): per-group argmax by (status DESC, id
    DESC) — the TOP(1) open-record probe, orders as the stand-in.

    Runs as a PACKED-SCALAR hash aggregate (r10): the two ordering
    columns collapse into one comparable long via ``packed_order``
    (status is a single TPC-H char; orderkey stays below 2^52 through
    SF ~100k, range-checked INSIDE the helper at runtime — r11 verdict
    #6) — so the plan is a pure HashAggregate with map-side partials.
    The previous struct-ordered ``max_by`` formulation silently
    planned SortAggregate (struct buffers are not hash-aggregatable)
    and was the source of the r7–r9 bench drift: measured 0.441 s →
    0.189 s noop median-of-7 at sf0.1. Key fields decode back out of
    the packed max; only the payload column pays a max_by."""
    orders = load_table(spark, sf_dir, "orders")
    pack = packed_order(F.ascii("o_orderstatus"), "o_orderkey")
    out = argmax_per_group_hash(
        orders.select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice"),
        ["o_custkey"],
        pack,
        ["o_totalprice"],
    )
    return out.select(
        "o_custkey",
        packed_minor("__argmax_ord").alias("o_orderkey"),
        F.char(packed_major("__argmax_ord").cast("int")).alias("o_orderstatus"),
        "o_totalprice",
    )


# ── K2/J3: guarded INSERT split (matched / rejected) ────────────────────────

@register(
    "guarded_insert_matched",
    """
    SELECT l_orderkey, l_linenumber, l_partkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey AND p_size % 2 = 0
    """,
)
def guarded_insert_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 insert branch (Prensas.py:319-331): candidates whose key
    exists in the guard-filtered dim (guard plays ``is_obsolete=0``)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    matched, _ = guarded_insert_split(
        li, part, on=li["l_partkey"] == part["p_partkey"], guard=F.col("p_size") % 2 == 0
    )
    return matched.select("l_orderkey", "l_linenumber", "l_partkey", "p_brand")


@register(
    "guarded_insert_rejected",
    """
    SELECT l_orderkey, l_linenumber, l_partkey
    FROM lineitem
    WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size % 2 = 0)
    """,
)
def guarded_insert_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 fallback branch (Prensas.py:343-353): rows failing the guard
    route to the unknown-parts sink (K4) via anti join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    _, rejected = guarded_insert_split(
        li, part, on=li["l_partkey"] == part["p_partkey"], guard=F.col("p_size") % 2 == 0
    )
    return rejected.select("l_orderkey", "l_linenumber", "l_partkey")


# ── K4/J9/A3: unknown-parts dedup append ────────────────────────────────────

@register(
    "unknown_parts_append",
    """
    SELECT DISTINCT l_suppkey AS station, l_partkey AS part_num,
                    CAST(l_shipdate AS DATE) AS fecha
    FROM lineitem WHERE l_linestatus = 'O'
    EXCEPT
    SELECT DISTINCT l_suppkey, l_partkey, CAST(l_shipdate AS DATE)
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def unknown_parts_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 (Prensas.py:227-279): day-keyed dedup append — new keys minus
    keys already present, one row per (station, part, date)."""
    li = load_table(spark, sf_dir, "lineitem")
    keys = [
        F.col("l_suppkey").alias("station"),
        F.col("l_partkey").alias("part_num"),
        F.to_date("l_shipdate").alias("fecha"),
    ]
    new_rows = li.filter(F.col("l_linestatus") == "O").select(*keys)
    existing = li.filter(F.col("l_returnflag") == "R").select(*keys).distinct()
    return dedup_append_set(new_rows, existing, ["station", "part_num", "fecha"])


# ── J10/S3/C8: multiplier enrichment ────────────────────────────────────────

@register(
    "multiplier_weighted_qty",
    """
    SELECT l_suppkey,
           CAST(sum(CAST(floor(l_quantity) AS BIGINT) * COALESCE(m.multiplier, 1)) AS BIGINT)
               AS weighted_qty,
           count(*) AS n_items
    FROM lineitem l LEFT JOIN (
        SELECT p_partkey, CAST(p_partkey % 5 + 1 AS INTEGER) AS multiplier
        FROM part WHERE p_partkey % 3 = 0
    ) m ON l.l_partkey = m.p_partkey
    GROUP BY l_suppkey
    """,
)
def multiplier_weighted_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 (Prensas.py:117-149, 761-773): AS400 pieces-per-cycle as a
    broadcast left join, default 1 on miss — replaces the reference's
    per-call DB2 connection."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dim = part.filter(F.col("p_partkey") % 3 == 0).select(
        "p_partkey", (F.col("p_partkey") % 5 + 1).cast("int").alias("multiplier")
    )
    enriched = enrich_multiplier(li, dim, fact_key="l_partkey", dim_key="p_partkey")
    return enriched.groupBy("l_suppkey").agg(
        F.sum(F.floor("l_quantity") * F.col("multiplier")).cast("long").alias("weighted_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ── K8/T3: latest snapshot ──────────────────────────────────────────────────

@register(
    "latest_snapshot",
    """
    SELECT user_id AS station,
           arg_max(value, event_id) AS value,
           arg_max(event_type, event_id) AS event_type,
           arg_max(ts, event_id) AS ts,
           max(event_id) AS event_id
    FROM events GROUP BY user_id
    """,
)
def latest_snapshot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 (Prensas.py:76,582): last value per key as a hash aggregate
    (max_by), not a rank window."""
    ev = load_table(spark, sf_dir, "events").withColumnRenamed("user_id", "station")
    return latest_snapshot(ev, ["station"], "event_id", ["value", "event_type", "ts"])


# ── K5/F6: limpieza status-reset set ────────────────────────────────────────

@register(
    "limpieza_update_set",
    """
    SELECT o_orderkey AS id, station, planned_date, shift_id, 8 AS status_id
    FROM (
        SELECT o_orderkey, o_custkey % 4 AS station,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS planned_date,
               o_custkey % 2 + 1 AS shift_id,
               CASE WHEN o_orderstatus = 'O' THEN 7 ELSE 3 END AS status_id
        FROM orders
    )
    WHERE station = 2 AND planned_date = DATE '1996-06-01'
      -- station domain widened (custkey % 4) so small SFs match rows
      AND shift_id = 1 AND status_id = 7
    """,
)
def limpieza_update_set_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 (Prensas.py:663-677): the silence-cleanup UPDATE set — open
    records of one (station, plan month, shift) flipped to status 8."""
    orders = load_table(spark, sf_dir, "orders")
    records = orders.select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_custkey") % 4).alias("station"),
        F.trunc("o_orderdate", "month").alias("planned_date"),
        (F.col("o_custkey") % 2 + 1).alias("shift_id"),
        F.when(F.col("o_orderstatus") == "O", 7).otherwise(3).alias("status_id"),
    )
    return limpieza_update_set(
        records,
        station=F.lit(2),
        planned_date=F.lit("1996-06-01").cast("date"),
        shift=F.lit(1),
        station_col="station",
        planned_date_col="planned_date",
        shift_col="shift_id",
        status_col="status_id",
    )


# ── A2/C3: config regroup by IP with address-block union ────────────────────

@register(
    "config_regroup",
    """
    WITH cfg AS (
        SELECT s_nationkey AS ip, s_name AS member,
               'D' || CAST(s_suppkey * 10 AS VARCHAR) AS address,
               s_suppkey % 3 + 1 AS len
        FROM supplier
    ),
    ex AS (
        SELECT ip, member, 'D' || CAST(base + i AS VARCHAR) AS addr
        FROM (
            SELECT ip, member,
                   CAST(regexp_extract(address, '([0-9]+)', 1) AS BIGINT) AS base,
                   unnest(generate_series(0, CAST(len - 1 AS BIGINT))) AS i
            FROM cfg
        )
    )
    SELECT ip,
           array_to_string(list_sort(list_distinct(list(member))), ',') AS members,
           array_to_string(list_sort(list_distinct(list(addr))), ',') AS all_addresses,
           count(DISTINCT member) AS n_members,
           count(DISTINCT addr) AS n_addresses
    FROM ex GROUP BY ip
    """,
)
def config_regroup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (Prensas.py:172-210): regroup config rows by IP — member set
    + union of expanded address blocks (the scan-sharing set)."""
    sup = load_table(spark, sf_dir, "supplier")
    cfg = sup.select(
        F.col("s_nationkey").alias("ip"),
        F.col("s_name").alias("member"),
        F.concat(F.lit("D"), (F.col("s_suppkey") * 10).cast("string")).alias("address"),
        (F.col("s_suppkey") % 3 + 1).alias("len"),
    )
    out = config_regroup(cfg, group_col="ip", member_col="member", address_col="address", length_col="len")
    return out.select(
        "ip",
        F.array_join("members", ",").alias("members"),
        F.array_join("all_addresses", ",").alias("all_addresses"),
        "n_members",
        "n_addresses",
    )


# ── C1: register-block decode ───────────────────────────────────────────────

@register(
    "decode_register_block",
    """
    SELECT p_partkey,
           chr(CAST(65 + p_partkey % 26 AS INTEGER))
           || chr(CAST(65 + CAST(floor(p_partkey / 26) AS BIGINT) % 26 AS INTEGER))
           || chr(CAST(65 + p_size % 26 AS INTEGER)) AS decoded
    FROM part
    """,
)
def decode_register_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 (Prensas.py:450-465): synthesize 16-bit words (low byte
    first, second word high byte NUL) and decode them natively."""
    part = load_table(spark, sf_dir, "part")
    c1 = F.lit(65) + F.col("p_partkey") % 26
    c2 = F.lit(65) + F.floor(F.col("p_partkey") / 26) % 26
    c3 = F.lit(65) + F.col("p_size") % 26
    words = F.array((c1 + c2 * 256).cast("int"), c3.cast("int"))
    return part.select("p_partkey", decode_block(words).alias("decoded"))


# ── C3: address block expansion ─────────────────────────────────────────────

@register(
    "expand_address_blocks",
    """
    SELECT p_partkey, 'D' || CAST(p_partkey * 10 + i AS VARCHAR) AS address
    FROM (
        SELECT p_partkey,
               unnest(generate_series(0, CAST(p_size % 4 AS BIGINT))) AS i
        FROM part
    )
    """,
)
def expand_address_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 (Prensas.py:467-471): expand (address, length) to the
    contiguous register list, natively via sequence+transform."""
    part = load_table(spark, sf_dir, "part")
    addr = F.concat(F.lit("D"), (F.col("p_partkey") * 10).cast("string"))
    return part.select(
        "p_partkey",
        F.explode(expand_block(addr, F.col("p_size") % 4 + 1)).alias("address"),
    )


# ── Analytics over the fact tables (bench headliners) ───────────────────────

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary (A1-family groupBy-agg at
    volume). Money kept in exact integer cents so hashes are
    bit-stable across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor("l_quantity")).cast("long").alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100)).cast("long").alias("sum_base_cents"),
            F.sum(F.floor(disc * 100)).cast("long").alias("sum_disc_cents"),
            F.sum(F.floor(charge * 100)).cast("long").alias("sum_charge_cents"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_cents DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped 3-way join + agg + top-k (J2 at volume).

    Dim-first join order: customer (broadcast) reduces orders FIRST, so
    the expensive lineitem join sees only the surviving ~¼ of orders —
    the order a cost-based optimizer would pick. Whether the reduced
    (orders⋈customer) side then BROADCASTS into lineitem is size-gated
    on the orders table's on-disk bytes: small scans take the
    single-exchange broadcast plan. Past the gate the dim carries a
    SHUFFLE_HASH hint: the reduced dim is always the far smaller join
    side, so hash-building it per partition skips SortMergeJoin's sort
    of BOTH shuffled sides — ABBA-interleaved A/Bs
    (tools/bench_q3_shootout.py) measure the hint neutral while the
    sort fits in memory (x160: 3.4 vs 3.4 s) and 30% faster once it
    spills (x640: 8.9 vs 12.7 s median-of-6). The hint is advisory:
    AQE still re-plans from runtime stats, and the per-partition build
    side stays bounded at cluster scale because partition count grows
    with the data.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    dim = orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    # the gate keys on the FILTERED dim's estimated size, not the raw
    # orders bytes: the date filter keeps ~46% of orders and the
    # BUILDING segment ~20%, and only 3 narrow columns survive the
    # projection, so the broadcast payload is ~25% of the orders
    # on-disk bytes at worst (r5: measured 546 k rows ≈ 25 MB at ×40
    # where the old 64 MB raw gate had already flipped to shuffle).
    # 256 MB on disk ≈ ≤64 MB broadcast — the usual executor budget.
    if table_bytes(sf_dir, "orders") <= 256 << 20:
        dim = F.broadcast(dim)
    else:
        dim = dim.hint("SHUFFLE_HASH")
    return (
        li.join(dim, li["l_orderkey"] == dim["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100))
            .cast("long")
            .alias("revenue_cents")
        )
        .select("l_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue_cents"), "l_orderkey")
        .limit(10)
    )


@register(
    "events_sessionization",
    """
    WITH d AS (
        SELECT user_id AS station,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS gap_us
        FROM events
    )
    SELECT station,
           count(*) AS n_events,
           CAST(1 + sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM d GROUP BY station
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (engine extension of W1/W2): sessions
    split on >1h inactivity, counted per station.

    The output alias (user_id → station) is applied AFTER the
    aggregation: renaming the key between the window and the groupBy
    mints a fresh attribute that defeats alias-aware partitioning
    propagation and inserts a second exchange (of the partial-agg
    rows — cheap at 150 stations, O(#groups × partitions) when the
    key is high-cardinality). Grouping on the window's own key keeps
    it ONE shuffle total (pinned in tests/test_plans.py)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    d = ev.select("user_id", gap.alias("gap_us"))
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.lit(1) + F.sum(F.when(F.col("gap_us") > 3_600_000_000, 1).otherwise(0)))
            .cast("long")
            .alias("n_sessions"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
        .select(F.col("user_id").alias("station"), "n_events", "n_sessions", "max_gap_us")
    )
