"""Time-series query registry: regular-grid resampling (gap-fill with
forward-fill), gaps-and-islands run collapsing (the SCD2 /
validity-interval build), and time-RANGE window frames.

These are the batch duals of the reference's streaming habits: the
latest-snapshot cache (Prensas.py :76, :582 — K8/T3 in SURVEY.md §2)
IS a forward-fill ("value now = last value seen"), and the per-key
state machine's run tracking (:616-831, T4) IS gaps-and-islands.  The
reference can only answer them for *now*; these plans answer them for
every grid point / every run in history, distributively.

All value aggregates are integer cents; tie-breaks are pinned on
(ts, event_id) so the DuckDB oracle hash-matches exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iotdatapipeline_spark.operators.timeseries import (
    collapse_islands,
    merge_islands,
    resample_ffill,
    resample_interpolate,
)
from iotdatapipeline_spark.plans._registry import register
from iotdatapipeline_spark.sources import load_table


def _readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("station"),
        "ts",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
    )


@register(
    "events_hourly_gapfill",
    """
    WITH hourly AS (
        SELECT user_id AS station, date_trunc('hour', ts) AS h,
               CAST(floor(value * 100) AS BIGINT) AS v_cents,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
    obs AS (SELECT station, h, v_cents FROM hourly WHERE rn = 1),
    bounds AS (SELECT date_trunc('hour', min(ts)) AS h0,
                      date_trunc('hour', max(ts)) AS h1 FROM events),
    spine AS (SELECT s.station, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h
              FROM (SELECT DISTINCT user_id AS station FROM events) s, bounds b)
    SELECT spine.station, spine.h AS hour_ts,
           last_value(obs.v_cents IGNORE NULLS) OVER (
               PARTITION BY spine.station ORDER BY spine.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_cents
    FROM spine LEFT JOIN obs ON spine.station = obs.station AND spine.h = obs.h
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each station to a regular hourly grid, carrying the
    last observed reading forward into silent hours (NULL before the
    first observation — no fabrication).  Batch dual of the
    reference's latest-snapshot cache (K8/T3): one row per (station,
    hour) instead of one mutable cell per station.

    Scale shape: spine = stations × sequence(bounds) — generated, not
    shuffled (the 1-row bounds broadcast-nest-loops onto the distinct
    stations); the hourly top-1 and the forward-fill are two window
    passes over the same station partitioning; the spine⋈obs join is
    station-keyed so it co-partitions with the fill.  Nothing funnels
    through the driver, and each station's timeline fills
    independently — 1000 executors fill 1000 stations at once.

    Thin binding of ``operators.timeseries.resample_ffill`` onto the
    events fixture."""
    ev = _readings(spark, sf_dir).select("station", "ts", "event_id", "v_cents")
    return resample_ffill(
        ev,
        key="station",
        ts_col="ts",
        value_col="v_cents",
        step="1 hour",
        trunc_unit="hour",
        tiebreak_cols=("ts", "event_id"),
        out_ts="hour_ts",
    )


@register(
    "events_status_islands",
    """
    WITH seq AS (
        SELECT user_id AS station, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        FROM events),
    runs AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY station ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id FROM seq)
    SELECT station, event_type, run_id,
           min(ts) AS valid_from, max(ts) AS valid_to, count(*) AS n_obs
    FROM runs GROUP BY station, event_type, run_id
    """,
)
def events_status_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each station's consecutive
    same-event_type observations into validity intervals — the SCD2
    dimension build (change capture → [valid_from, valid_to] runs).
    The reference's state machine tracks exactly one current run per
    key (T4, Prensas.py :616-831); this recovers ALL runs from the
    log in one pass.

    Decorrelation: change flag = lag over (station, ts, event_id),
    run id = running sum of flags over the SAME ordering — both
    window passes share one station-hash shuffle; the final groupBy
    re-keys on (station, type, run) which is a strict refinement, so
    AQE coalesces it locally at scale.

    Thin binding of ``operators.timeseries.collapse_islands`` onto
    the events fixture."""
    ev = _readings(spark, sf_dir).select("station", "ts", "event_id", "event_type")
    return collapse_islands(
        ev,
        keys=("station",),
        state_col="event_type",
        order_cols=("ts", "event_id"),
        ts_col="ts",
    )


@register(
    "events_trailing_hour_range",
    """
    SELECT user_id AS station, event_id,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER (
                PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT)
               AS trailing_sum_cents,
           count(*) OVER (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS trailing_n
    FROM events
    """,
)
def events_trailing_hour_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per event, the sum/count of readings
    in the trailing hour — a VALUE-based frame (peers at equal ts
    included), not a row count, so it is NOT expressible as a ROWS
    frame.  Spark's rangeBetween is numeric-only: ordering by
    unix_micros(ts) with a ±3.6e9 µs frame is the exact equivalent of
    DuckDB's RANGE INTERVAL 1 HOUR (µs timestamps both engines).
    Complements the ROWS-frame `moving_window_counters`."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    cents = F.floor(F.col("value") * 100).cast("long")
    return ev.select(
        F.col("user_id").alias("station"),
        "event_id",
        F.sum(cents).over(w).cast("long").alias("trailing_sum_cents"),
        F.count(F.lit(1)).over(w).alias("trailing_n"),
    )


@register(
    "events_hourly_interpolate",
    """
    WITH hourly AS (
        SELECT user_id AS station, date_trunc('hour', ts) AS h,
               CAST(floor(value * 100) AS BIGINT) AS v_cents,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
    obs AS (SELECT station, h, v_cents FROM hourly WHERE rn = 1),
    bounds AS (SELECT date_trunc('hour', min(ts)) AS h0,
                      date_trunc('hour', max(ts)) AS h1 FROM events),
    spine AS (SELECT s.station, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h
              FROM (SELECT DISTINCT user_id AS station FROM events) s, bounds b),
    j AS (SELECT spine.station, spine.h, obs.v_cents
          FROM spine LEFT JOIN obs ON spine.station = obs.station AND spine.h = obs.h),
    f AS (
        SELECT station, h, v_cents,
               last_value(v_cents IGNORE NULLS) OVER wb AS pv,
               last_value(CASE WHEN v_cents IS NOT NULL
                               THEN CAST(epoch(h) AS BIGINT) END IGNORE NULLS) OVER wb AS pt,
               first_value(v_cents IGNORE NULLS) OVER wf AS nv,
               first_value(CASE WHEN v_cents IS NOT NULL
                                THEN CAST(epoch(h) AS BIGINT) END IGNORE NULLS) OVER wf AS nt
        FROM j
        WINDOW wb AS (PARTITION BY station ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY station ORDER BY h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT station, h AS hour_ts,
           CAST(CASE WHEN v_cents IS NOT NULL THEN v_cents
                     WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN pv + CAST(floor(CAST(nv - pv AS DOUBLE)
                                          * (CAST(epoch(h) AS BIGINT) - pt)
                                          / (nt - pt)) AS BIGINT)
                END AS BIGINT) AS v_cents
    FROM f
    """,
)
def events_hourly_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with LINEAR interpolation: empty grid cells take
    the time-weighted value between the surrounding observations
    (forward-fill's smooth sibling — the standard sensor-data
    resample).  Outside a station's observed span the grid stays NULL:
    interpolation, never extrapolation.

    Scale shape: identical to ``events_hourly_gapfill`` plus one more
    window pass — the backward and forward ignore-nulls scans share
    the single per-station exchange, so a 1000-executor cluster
    interpolates 1000 stations' timelines independently.  The
    integer-exact formula (floor of a double division of exact-in-
    double integers) makes the DuckDB oracle hash-match bit-for-bit.

    Thin binding of ``operators.timeseries.resample_interpolate`` onto
    the events fixture."""
    ev = _readings(spark, sf_dir).select("station", "ts", "event_id", "v_cents")
    return resample_interpolate(
        ev,
        key="station",
        ts_col="ts",
        value_col="v_cents",
        step="1 hour",
        trunc_unit="hour",
        tiebreak_cols=("ts", "event_id"),
        out_ts="hour_ts",
    )


@register(
    "events_ewma_smooth",
    """
    WITH r AS (
        SELECT user_id AS station, event_id,
               CAST(floor(value * 100) AS BIGINT) AS v0,
               lag(CAST(floor(value * 100) AS BIGINT), 1) OVER w AS v1,
               lag(CAST(floor(value * 100) AS BIGINT), 2) OVER w AS v2,
               lag(CAST(floor(value * 100) AS BIGINT), 3) OVER w AS v3,
               lag(CAST(floor(value * 100) AS BIGINT), 4) OVER w AS v4
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT station, event_id,
           CAST(floor(CAST(8 * v0 + COALESCE(4 * v1, 0) + COALESCE(2 * v2, 0)
                           + COALESCE(v3, 0) + COALESCE(v4, 0) AS DOUBLE)
                      / (8 + CASE WHEN v1 IS NULL THEN 0 ELSE 4 END
                           + CASE WHEN v2 IS NULL THEN 0 ELSE 2 END
                           + CASE WHEN v3 IS NULL THEN 0 ELSE 1 END
                           + CASE WHEN v4 IS NULL THEN 0 ELSE 1 END)) AS BIGINT)
               AS ewma_cents
    FROM r
    """,
)
def events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted smoothing (α=½, truncated to a 5-reading
    horizon) of each station's signal — the standard noise filter in
    front of threshold alerting on sensor streams.  The truncation
    makes it a FIXED window expression: weights 8/4/2/1/1 over the
    current + 4 lagged readings, integer-renormalized over however
    many readings exist, so early rows are exact too (an unbounded
    recursive EWMA is not expressible as a window function — the
    5-term horizon carries 93.75% of the mass and keeps both engines
    bit-identical via one floored integer division).

    Scale shape: the 5 lags share ONE window pass over one
    station-hash exchange (materialized in a single select — the same
    CollapseWindow discipline as counter_deltas); the smoothing
    arithmetic is a pure projection on top."""
    ev = _readings(spark, sf_dir)
    w = Window.partitionBy("station").orderBy("ts", "event_id")
    lags = ev.select(
        "station",
        "event_id",
        F.col("v_cents").alias("v0"),
        *[F.lag("v_cents", i).over(w).alias(f"v{i}") for i in range(1, 5)],
    )
    weights = (8, 4, 2, 1, 1)
    # current reading (v0) propagates NULL — smoothing an absent
    # reading is undefined; only absent LAGS renormalize away
    num = sum(
        (F.coalesce(F.lit(wt) * F.col(f"v{i}"), F.lit(0)) for i, wt in tuple(enumerate(weights))[1:]),
        start=F.lit(weights[0]) * F.col("v0"),
    )
    den = sum(
        (F.when(F.col(f"v{i}").isNull(), 0).otherwise(wt) for i, wt in tuple(enumerate(weights))[1:]),
        start=F.lit(weights[0]),
    )
    return lags.select(
        "station",
        "event_id",
        F.floor(num.cast("double") / den).cast("long").alias("ewma_cents"),
    )


@register(
    "events_islands_incremental",
    """
    WITH seq AS (
        SELECT user_id AS station, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        FROM events),
    runs AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY station ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id FROM seq)
    SELECT station, event_type, run_id,
           min(ts) AS valid_from, max(ts) AS valid_to, count(*) AS n_obs
    FROM runs GROUP BY station, event_type, run_id
    """,
)
def events_islands_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the SCD2 run table, PROVED: collapse
    runs over the log before a cutoff, collapse the increment after it
    separately, merge the two run frames with
    ``operators.timeseries.merge_islands`` — and the result must
    hash-match the oracle's single-pass islands over the FULL log
    (same SQL as ``events_status_islands``). That equality is the
    statement that a 100 TB run dimension can be maintained by folding
    in each new day's runs (touching rows ∝ run count) instead of
    recomputing history — incremental view maintenance for a
    non-additive, order-sensitive aggregation.

    Scale shape: each slice's collapse is the usual single
    station-keyed exchange over its own (date-pruned) scan; the merge
    runs the same pipeline over RUN rows, ≈ log size / mean run
    length."""
    ev = _readings(spark, sf_dir).select("station", "ts", "event_id", "event_type")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    prior = collapse_islands(
        ev.filter(F.col("ts") < cutoff),
        keys=("station",),
        state_col="event_type",
        order_cols=("ts", "event_id"),
        ts_col="ts",
    )
    delta = collapse_islands(
        ev.filter(F.col("ts") >= cutoff),
        keys=("station",),
        state_col="event_type",
        order_cols=("ts", "event_id"),
        ts_col="ts",
    )
    return merge_islands(
        prior, delta, keys=("station",), state_col="event_type"
    ).select("station", "event_type", "run_id", "valid_from", "valid_to", "n_obs")


@register(
    "events_cusum_drift",
    """
    WITH r AS (
        SELECT user_id AS station, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) - 50 AS d
        FROM events
    ),
    s AS (
        SELECT station, ts, event_id,
               sum(d) OVER (PARTITION BY station ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS pre
        FROM r
    ),
    p AS (
        SELECT station, ts, event_id, pre,
               least(min(pre) OVER (PARTITION BY station ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING), 0) AS low
        FROM s
    )
    SELECT station, event_id,
           CAST(pre - low AS BIGINT) AS cusum,
           (pre - low) > 300 AS breach
    FROM p
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per station — the classic sensor-health /
    change-point statistic (Page 1954): S_0 = 0,
    S_i = max(0, S_{i-1} + (x_i − k)), breach when S crosses h. The
    recurrence looks stateful (each S depends on the full prefix),
    but it has a closed form: S_i = prefix_i − min(0, min_{j≤i}
    prefix_j) — a running SUM and a running MIN over the same ordered
    frame, i.e. ONE window pass, no recursion, no Python, no state
    store. The same rewrite that made the reference's cumulative
    quantity (A5) batch-expressible applies to the control-chart
    family. Integer-exact (k = 50 on the ×100 counter scale, h = 300),
    tie-broken on (ts, event_id)."""
    r = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("station"),
        "ts",
        "event_id",
        (F.floor(F.col("value") * 100).cast("long") - 50).alias("d"),
    )
    w = (
        Window.partitionBy("station")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = r.select("station", "ts", "event_id", F.sum("d").over(w).alias("pre"))
    p = s.select(
        "station",
        "event_id",
        "pre",
        F.least(F.min("pre").over(w), F.lit(0)).alias("low"),
    )
    return p.select(
        "station",
        "event_id",
        (F.col("pre") - F.col("low")).cast("long").alias("cusum"),
        ((F.col("pre") - F.col("low")) > 300).alias("breach"),
    )


@register(
    "events_drift_segments",
    """
    WITH r AS (
        SELECT user_id AS station, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) - 50 AS d
        FROM events
    ),
    s AS (
        SELECT station, ts, event_id,
               sum(d) OVER (PARTITION BY station ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS pre
        FROM r
    ),
    p AS (
        SELECT station, ts, event_id, pre,
               least(min(pre) OVER (PARTITION BY station ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING), 0) AS low
        FROM s
    ),
    c AS (SELECT station, ts, event_id, (pre - low) > 300 AS breach FROM p),
    g AS (
        SELECT station, ts, event_id, breach,
               CASE WHEN lag(breach) OVER (PARTITION BY station ORDER BY ts, event_id)
                         IS NOT DISTINCT FROM breach THEN 0 ELSE 1 END AS chg
        FROM c
    ),
    runs AS (
        SELECT station, ts, breach,
               sum(chg) OVER (PARTITION BY station ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM g
    )
    SELECT station, breach, CAST(run_id AS BIGINT) AS run_id,
           min(ts) AS valid_from, max(ts) AS valid_to,
           CAST(count(*) AS BIGINT) AS n_obs
    FROM runs GROUP BY station, breach, run_id
    """,
)
def events_drift_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-episode segmentation — operator COMPOSITION: the CUSUM
    statistic (events_cusum_drift's closed form) feeds the
    gaps-and-islands collapse (operators.timeseries.collapse_islands),
    turning a per-reading breach flag into maximal breach/normal
    EPISODES with validity intervals — 'when did this sensor drift,
    and for how long', the alarm-history table a monitoring system
    stores. All three window passes share the (station) partitioning
    and (ts, event_id) order, so the whole chain is one exchange +
    one refining aggregate."""
    from iotdatapipeline_spark.operators.timeseries import collapse_islands

    r = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("station"),
        "ts",
        "event_id",
        (F.floor(F.col("value") * 100).cast("long") - 50).alias("d"),
    )
    w = (
        Window.partitionBy("station")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = r.select("station", "ts", "event_id", F.sum("d").over(w).alias("pre"))
    c = s.select(
        "station",
        "ts",
        "event_id",
        ((F.col("pre") - F.least(F.min("pre").over(w), F.lit(0))) > 300).alias("breach"),
    )
    return collapse_islands(c, keys=("station",), state_col="breach").select(
        "station", "breach", "run_id", "valid_from", "valid_to",
        F.col("n_obs").cast("long").alias("n_obs"),
    )


@register(
    "events_station_downtime",
    """
    WITH s AS (
        SELECT user_id AS station, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT station, prev_ts AS silent_from, ts AS silent_to,
           CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
    FROM s
    WHERE prev_ts IS NOT NULL
      AND epoch_us(ts) - epoch_us(prev_ts) > 21600000000
    """,
)
def events_station_downtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downtime intervals per station — the BATCH DUAL of the
    reference's silence detection (T5, Prensas.py:638-642: a 5 s
    queue timeout fires the limpieza reset the moment a station goes
    quiet). The streaming side can only see the silence it is
    currently inside; this recovers every silence episode longer than
    the threshold (6 h here, scaled to the fixture's cadence) from
    the log: one lag pass per station, a filter, no joins. The same
    intervals drive SLA accounting and sensor-health reports."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("user_id").alias("station"),
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("prev_ts").isNotNull())
    gap = F.unix_micros("ts") - F.unix_micros("prev_ts")
    return s.filter(gap > 21_600_000_000).select(
        "station",
        F.col("prev_ts").alias("silent_from"),
        F.col("ts").alias("silent_to"),
        gap.cast("long").alias("gap_us"),
    )


@register(
    "events_rolling_zscore",
    """
    WITH r AS (
        SELECT user_id AS station, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS v_cents,
               count(*) OVER w AS win_n,
               sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS win_sum,
               sum(CAST(floor(value * 100) AS BIGINT)
                   * CAST(floor(value * 100) AS BIGINT)) OVER w AS win_sum2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 32 PRECEDING AND 1 PRECEDING)
    )
    SELECT station, ts, event_id, v_cents,
           CAST(win_n AS BIGINT) AS win_n,
           CAST((win_n * v_cents - win_sum) * (win_n * v_cents - win_sum)
                AS BIGINT) AS dev2_n2,
           CAST(win_n * win_sum2 - win_sum * win_sum AS BIGINT) AS var_n2
    FROM r
    WHERE win_n >= 8
      AND (win_n * v_cents - win_sum) * (win_n * v_cents - win_sum)
          > 9 * (win_n * win_sum2 - win_sum * win_sum)
    """,
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly detection: flag a reading whose value
    deviates from its own station's trailing baseline (the previous
    ≤32 readings, current row EXCLUDED) by more than 3 population
    standard deviations.  The despiking / sensor-fault screen every
    telemetry pipeline runs before trusting counters — the streaming
    dual would carry (n, Σv, Σv²) in keyed state exactly like the
    counter machine (T4) carries its prev.

    No sqrt and no float boundary: z² > 9 is cross-multiplied into
    integers — (n·v − Σv)² > 9·(n·Σv² − (Σv)²) — so the flag decision
    hashes identically on any engine.  With v ≤ ~5.6e4 cents and
    n ≤ 32 every term stays far inside int64.

    Scale shape: one window pass per station partition (the same
    exchange every other per-station operator reuses), a filter, no
    joins.  At 100 TB the trailing frame is O(32) state per task —
    the window never buffers more than the frame."""
    ev = _readings(spark, sf_dir)
    w = (
        Window.partitionBy("station")
        .orderBy("ts", "event_id")
        .rowsBetween(-32, -1)
    )
    r = ev.select(
        "station",
        "ts",
        "event_id",
        "v_cents",
        F.count(F.lit(1)).over(w).alias("win_n"),
        F.sum("v_cents").over(w).alias("win_sum"),
        F.sum(F.col("v_cents") * F.col("v_cents")).over(w).alias("win_sum2"),
    )
    dev = F.col("win_n") * F.col("v_cents") - F.col("win_sum")
    var_n2 = F.col("win_n") * F.col("win_sum2") - F.col("win_sum") * F.col("win_sum")
    return (
        r.filter((F.col("win_n") >= 8) & (dev * dev > 9 * var_n2))
        .select(
            "station",
            "ts",
            "event_id",
            "v_cents",
            F.col("win_n").cast("long").alias("win_n"),
            (dev * dev).cast("long").alias("dev2_n2"),
            var_n2.cast("long").alias("var_n2"),
        )
    )


@register(
    "events_acf_lags",
    """
    WITH s AS (
        SELECT user_id AS station, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS x,
               lag(CAST(floor(value * 100) AS BIGINT), 1)
                   OVER w AS y1,
               lag(CAST(floor(value * 100) AS BIGINT), 2)
                   OVER w AS y2,
               lag(CAST(floor(value * 100) AS BIGINT), 3)
                   OVER w AS y3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pairs AS (
        SELECT station, 1 AS lag_k, x, y1 AS y FROM s WHERE y1 IS NOT NULL
        UNION ALL
        SELECT station, 2 AS lag_k, x, y2 AS y FROM s WHERE y2 IS NOT NULL
        UNION ALL
        SELECT station, 3 AS lag_k, x, y3 AS y FROM s WHERE y3 IS NOT NULL
    )
    SELECT station, CAST(lag_k AS BIGINT) AS lag_k,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(x * y) AS BIGINT) AS sum_xy,
           CAST(sum(x * x) AS BIGINT) AS sum_x2,
           CAST(sum(y * y) AS BIGINT) AS sum_y2
    FROM pairs GROUP BY station, lag_k
    """,
)
def events_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation sufficient statistics per (station, lag) for
    lags 1–3: the seasonality / self-similarity probe run before
    choosing a forecasting or drift model for a sensor.  Emits the
    EXACT integer moments (n, Σx, Σy, Σxy, Σx², Σy²) over the lagged
    pairs; Pearson r = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²))
    follows in the consumer — the sqrt is deliberately left out so
    the gate stays float-free (same convention as
    `docs_quality_rank_corr`).

    Scale shape: ONE window pass computes all three lag columns over
    the same (station, ts) sort — adding a lag adds a column, not an
    exchange; the stack/unpivot is a narrow transform and the final
    aggregate partially aggregates map-side before the single
    shuffle."""
    ev = _readings(spark, sf_dir)
    w = Window.partitionBy("station").orderBy("ts", "event_id")
    s = ev.select(
        "station",
        F.col("v_cents").alias("x"),
        F.lag("v_cents", 1).over(w).alias("y1"),
        F.lag("v_cents", 2).over(w).alias("y2"),
        F.lag("v_cents", 3).over(w).alias("y3"),
    )
    pairs = s.select(
        "station",
        F.expr("stack(3, 1L, y1, 2L, y2, 3L, y3) AS (lag_k, y)"),
        "x",
    ).filter(F.col("y").isNotNull())
    return pairs.groupBy("station", "lag_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sum_y2"),
    )


@register(
    "station_value_trend",
    """
    WITH b AS (
        SELECT user_id AS station, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS v,
               CAST((epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
                    // 60000000 AS BIGINT) AS t_min
        FROM events
    ),
    s AS (
        SELECT station, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t_min) AS BIGINT) AS sum_t,
               CAST(sum(v) AS BIGINT) AS sum_v,
               CAST(sum(t_min * v) AS BIGINT) AS sum_tv,
               CAST(sum(t_min * t_min) AS BIGINT) AS sum_t2
        FROM b GROUP BY station
    )
    SELECT station, n, sum_t, sum_v, sum_tv, sum_t2,
           CASE WHEN n * sum_t2 - sum_t * sum_t > 0
                THEN CAST((1000 * (n * sum_tv - sum_t * sum_v))
                          // (n * sum_t2 - sum_t * sum_t) AS BIGINT)
                ELSE NULL END AS slope_x1000
    FROM s
    """,
)
def station_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-station least-squares trend of reading value over time —
    the drift/wear indicator maintenance planning ranks stations by.
    Time is integer minutes since the station's own first reading (a
    per-partition min, not a global scan), values integer cents, so
    the OLS sufficient statistics (n, Σt, Σv, Σtv, Σt²) are exact;
    slope = (nΣtv − ΣtΣv)/(nΣt² − (Σt)²) is emitted ×1000 by integer
    division (both engines truncate toward zero on signed div — a
    pinned semantics, not an accident).

    int64 headroom at gate scales: t ≤ 43 200 min (30-day fixture),
    v ≤ 5.7e4 ⇒ n·Σtv ≤ ~2.4e13 and the ×1000 numerator ≤ ~5e16.  At
    unbounded per-station history the stats promote to DECIMAL(38,0)
    — the aggregation shape is unchanged.

    Scale shape: one window-min per station partition, then a single
    partial-aggregated groupBy on the same key — two stages, one
    exchange, no joins."""
    ev = _readings(spark, sf_dir)
    wmin = Window.partitionBy("station")
    b = ev.select(
        "station",
        F.col("v_cents").alias("v"),
        (F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(wmin)).alias("dt_us"),
    ).select(
        "station",
        "v",
        F.expr("dt_us div 60000000").cast("long").alias("t_min"),
    )
    s = b.groupBy("station").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t_min").cast("long").alias("sum_t"),
        F.sum("v").cast("long").alias("sum_v"),
        F.sum(F.col("t_min") * F.col("v")).cast("long").alias("sum_tv"),
        F.sum(F.col("t_min") * F.col("t_min")).cast("long").alias("sum_t2"),
    )
    den = F.col("n") * F.col("sum_t2") - F.col("sum_t") * F.col("sum_t")
    num = F.col("n") * F.col("sum_tv") - F.col("sum_t") * F.col("sum_v")
    return s.select(
        "station",
        "n",
        "sum_t",
        "sum_v",
        "sum_tv",
        "sum_t2",
        F.when(den > 0, F.expr(
            "(1000 * (n * sum_tv - sum_t * sum_v)) div (n * sum_t2 - sum_t * sum_t)"
        ).cast("long")).alias("slope_x1000"),
    )


@register(
    "events_hod_seasonal_deviation",
    """
    WITH b AS (
        SELECT user_id AS station, ts, event_id, hour(ts) AS hod,
               CAST(floor(value * 100) AS BIGINT) AS v,
               count(*) OVER w AS n,
               sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS s,
               sum(CAST(floor(value * 100) AS BIGINT)
                   * CAST(floor(value * 100) AS BIGINT)) OVER w AS q
        FROM events
        WINDOW w AS (PARTITION BY user_id, hour(ts))
    ),
    loo AS (
        SELECT station, ts, event_id, hod, v,
               n - 1 AS n1, s - v AS s1, q - v * v AS q1
        FROM b
    )
    SELECT station, ts, event_id, CAST(hod AS BIGINT) AS hod,
           v AS v_cents, CAST(n1 AS BIGINT) AS loo_n,
           CAST((n1 * v - s1) * (n1 * v - s1) AS BIGINT) AS dev2_n2,
           CAST(n1 * q1 - s1 * s1 AS BIGINT) AS var_n2
    FROM loo
    WHERE n1 >= 8
      AND (n1 * v - s1) * (n1 * v - s1) > 9 * (n1 * q1 - s1 * s1)
    """,
)
def events_hod_seasonal_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly screen: flag a reading more than 3σ from its
    station's OWN hour-of-day profile (daily periodicity baseline) —
    complements `events_rolling_zscore`, which compares against the
    trailing window: a value normal at 14:00 can be anomalous at
    03:00. The baseline is LEAVE-ONE-OUT (the group moments minus the
    candidate row) so a gross outlier can't inflate its own variance
    and hide; the 3σ test is the same cross-multiplied integer form —
    no sqrt, no float.

    Scale shape: ONE exchange of the fact table on (station,
    hour-of-day) serves the full-frame window moments; the LOO
    correction and flag are pure projections. Three plan shapes were
    built and measured at sf8/sf16 (round 4): this window form
    (sf8 1.07 s), a groupBy-profile + join-back (2.9 s — the profile
    is stations×24 and stations scale with the data, 120 k at sf8,
    so it is broadcast-hostile and the shuffle join pays the fact
    exchange twice), and a collect_list hash-agg + pre-explode gate
    (2.9 s — per-group array building loses codegen and allocates
    per row). The window form wins; its residual vs DuckDB is the
    sort-window constant, decomposed in BASELINE.md."""
    ev = _readings(spark, sf_dir)
    hod = F.hour("ts")
    w = Window.partitionBy("station", hod)
    b = ev.select(
        "station",
        "ts",
        "event_id",
        hod.alias("hod"),
        F.col("v_cents").alias("v"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v_cents").over(w).alias("s"),
        F.sum(F.col("v_cents") * F.col("v_cents")).over(w).alias("q"),
    )
    n1 = F.col("n") - 1
    s1 = F.col("s") - F.col("v")
    q1 = F.col("q") - F.col("v") * F.col("v")
    dev = n1 * F.col("v") - s1
    var_n2 = n1 * q1 - s1 * s1
    return b.filter((n1 >= 8) & (dev * dev > 9 * var_n2)).select(
        "station",
        "ts",
        "event_id",
        F.col("hod").cast("long").alias("hod"),
        F.col("v").alias("v_cents"),
        n1.cast("long").alias("loo_n"),
        (dev * dev).cast("long").alias("dev2_n2"),
        var_n2.cast("long").alias("var_n2"),
    )


@register(
    "events_downtime_hourly_prorate",
    """
    WITH s AS (
        SELECT user_id AS station, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    iv AS (
        SELECT station, prev_ts AS t0, ts AS t1
        FROM s
        WHERE prev_ts IS NOT NULL
          AND epoch_us(ts) - epoch_us(prev_ts) > 21600000000
    ),
    hours AS (
        SELECT station, t0, t1,
               unnest(generate_series(date_trunc('hour', t0),
                                      date_trunc('hour', t1),
                                      INTERVAL 1 HOUR)) AS h
        FROM iv
    )
    SELECT station, h AS hour_ts,
           CAST(sum(least(epoch_us(h + INTERVAL 1 HOUR), epoch_us(t1))
                    - greatest(epoch_us(h), epoch_us(t0))) AS BIGINT) AS down_us
    FROM hours
    GROUP BY station, h
    """,
)
def events_downtime_hourly_prorate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal allocation (interval → grid proration): each silence
    interval from `events_station_downtime` is split across the hour
    buckets it overlaps, charged the exact overlap microseconds —
    the join shape behind SLA accounting, utilization heatmaps, and
    any cost prorated over a calendar grid. Integer µs arithmetic at
    the bucket boundaries, so partial first/last hours hash exactly.

    Scale shape: the interval set is already small (output of a
    filter), and the explode is bounded by interval length in hours —
    generation, not a join; the final aggregate is one (station,
    hour) shuffle. The range-join dual (grid ⋈ intervals on overlap)
    would shuffle the full grid; exploding the sparse side wins
    whenever downtime ≪ calendar."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("user_id").alias("station"),
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("prev_ts").isNotNull())
    gap = F.unix_micros("ts") - F.unix_micros("prev_ts")
    iv = s.filter(gap > 21_600_000_000).select(
        "station", F.col("prev_ts").alias("t0"), F.col("ts").alias("t1")
    )
    hours = iv.select(
        "station",
        "t0",
        "t1",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("t0")),
                F.date_trunc("hour", F.col("t1")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h"),
    )
    overlap = F.least(
        F.unix_micros(F.col("h") + F.expr("INTERVAL 1 HOUR")), F.unix_micros("t1")
    ) - F.greatest(F.unix_micros("h"), F.unix_micros("t0"))
    return (
        hours.select("station", F.col("h").alias("hour_ts"), overlap.alias("ov"))
        .groupBy("station", "hour_ts")
        .agg(F.sum("ov").cast("long").alias("down_us"))
    )


@register(
    "station_time_weighted_avg",
    """
    WITH s AS (
        SELECT user_id AS station, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS v,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    seg AS (
        SELECT station, v,
               epoch_us(nxt) - epoch_us(ts) AS dt_us
        FROM s WHERE nxt IS NOT NULL
    ),
    agg AS (
        SELECT station,
               CAST(sum(v * dt_us) AS BIGINT) AS weighted_us,
               CAST(sum(dt_us) AS BIGINT) AS span_us
        FROM seg GROUP BY station
    )
    SELECT station, weighted_us, span_us,
           CAST(weighted_us // (span_us // 1000) AS BIGINT) AS twa_millicents
    FROM agg
    """,
)
def station_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per station: each reading's value is held
    until the next reading (the step-function/last-observation model
    every telemetry store uses — InfluxQL/Timescale ``time_weight``),
    and the average is ∫v dt / span instead of the row mean — a
    station that reports rarely while high no longer under-counts.
    Exact integers: Σ v·Δt in cent·µs, span in µs, quotient in
    milli-cents via nested integer division (truncation pinned in
    both engines; Σv·Δt ≤ v_max·span ≈ 1.5e17 — inside int64 at any
    per-station history because the sum telescopes to the span).

    Scale shape: one lead window and one aggregate over the same
    station partitioning — single exchange, no joins."""
    ev = _readings(spark, sf_dir)
    w = Window.partitionBy("station").orderBy("ts", "event_id")
    s = ev.select(
        "station",
        F.col("v_cents").alias("v"),
        F.unix_micros("ts").alias("t_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("nxt_us"),
    ).filter(F.col("nxt_us").isNotNull())
    seg = s.select("station", "v", (F.col("nxt_us") - F.col("t_us")).alias("dt_us"))
    agg = seg.groupBy("station").agg(
        F.sum(F.col("v") * F.col("dt_us")).cast("long").alias("weighted_us"),
        F.sum("dt_us").cast("long").alias("span_us"),
    )
    return agg.select(
        "station",
        "weighted_us",
        "span_us",
        F.expr("weighted_us div (span_us div 1000)").cast("long").alias("twa_millicents"),
    )


# ── Robust statistics: rank-based percentiles, winsorization, MAD ──────────


@register(
    "events_winsorized_stats",
    """
    WITH r AS (
        SELECT user_id AS station, event_id,
               CAST(floor(value * 100) AS BIGINT) AS v_cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY CAST(floor(value * 100) AS BIGINT), event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
    ),
    cuts AS (
        SELECT station,
               min(CASE WHEN rn = greatest(1, (n * 5 + 99) // 100) THEN v_cents END) AS p05,
               min(CASE WHEN rn = (n * 95 + 99) // 100 THEN v_cents END) AS p95
        FROM r GROUP BY station
    )
    SELECT r.station,
           CAST(min(n) AS BIGINT) AS n,
           CAST(min(p05) AS BIGINT) AS p05_cents,
           CAST(min(p95) AS BIGINT) AS p95_cents,
           CAST(sum(least(greatest(v_cents, p05), p95)) AS BIGINT) AS winsorized_sum_cents,
           CAST(sum(least(greatest(v_cents, p05), p95)) // min(n) AS BIGINT) AS winsorized_mean_cents,
           CAST(sum(CASE WHEN v_cents < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
           CAST(sum(CASE WHEN v_cents > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high
    FROM r JOIN cuts ON r.station = cuts.station
    GROUP BY r.station
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-station aggregates: clamp every reading to the
    station's own [p05, p95] band before averaging — the robust mean
    a telemetry pipeline trusts when sensors emit occasional garbage
    that would swamp a plain average.  Percentiles are RANK-BASED
    (discrete: the value at row ⌈q·n⌉ of the (value, event_id) sort),
    not interpolated, so the cut points are actual observed values
    and every engine computes the identical integer — no float
    percentile boundary to disagree on.

    Scale shape (r13): one row_number pass over the station partition
    (the exchange every per-station operator shares); the cut points
    are UNORDERED WINDOW AGGREGATES over that same partitioning —
    min(value where rn = cut rank) over (partition by station) — so
    extraction costs no aggregate-and-rejoin round trip (the previous
    groupBy + broadcast-join form re-executed the whole rank subtree
    for each consumer: 2 scans and two rank windows in the executed
    plan).  The closing groupBy refines the same partitioning.  One
    scan, one exchange; the window never buffers beyond its
    partition; no all-pairs, no second sort."""
    ev = _readings(spark, sf_dir)
    w_rank = Window.partitionBy("station").orderBy("v_cents", "event_id")
    w_all = Window.partitionBy("station")
    r = ev.select(
        "station",
        "v_cents",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    lo = F.greatest(F.lit(1), F.expr("(n * 5 + 99) div 100"))
    hi = F.expr("(n * 95 + 99) div 100")
    r = r.select(
        "station",
        "v_cents",
        "n",
        F.min(F.when(F.col("rn") == lo, F.col("v_cents"))).over(w_all).alias("p05"),
        F.min(F.when(F.col("rn") == hi, F.col("v_cents"))).over(w_all).alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("v_cents"), F.col("p05")), F.col("p95"))
    return (
        r.groupBy("station")
        .agg(
            F.min("n").cast("long").alias("n"),
            F.min("p05").cast("long").alias("p05_cents"),
            F.min("p95").cast("long").alias("p95_cents"),
            F.sum(clamped).cast("long").alias("winsorized_sum_cents"),
            F.expr("cast(sum(least(greatest(v_cents, p05), p95)) div min(n) as bigint)").alias(
                "winsorized_mean_cents"
            ),
            F.sum(F.when(F.col("v_cents") < F.col("p05"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_low"),
            F.sum(F.when(F.col("v_cents") > F.col("p95"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_high"),
        )
    )


@register(
    "events_mad_outliers",
    """
    WITH r AS (
        SELECT user_id AS station, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS v_cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY CAST(floor(value * 100) AS BIGINT), event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
    ),
    med AS (
        SELECT station, min(CASE WHEN rn = (n + 1) // 2 THEN v_cents END) AS med
        FROM r GROUP BY station
    ),
    d AS (
        SELECT r.station, ts, event_id, v_cents, med,
               abs(v_cents - med) AS dev,
               row_number() OVER (PARTITION BY r.station
                                  ORDER BY abs(v_cents - med), event_id) AS drn,
               count(*) OVER (PARTITION BY r.station) AS n
        FROM r JOIN med ON r.station = med.station
    ),
    mad AS (
        SELECT station, min(CASE WHEN drn = (n + 1) // 2 THEN dev END) AS mad
        FROM d GROUP BY station
    )
    SELECT d.station, ts, event_id, v_cents,
           CAST(med AS BIGINT) AS med_cents,
           CAST(mad AS BIGINT) AS mad_cents,
           CAST(dev AS BIGINT) AS dev_cents
    FROM d JOIN mad ON d.station = mad.station
    WHERE mad > 0 AND 6745 * dev > 35000 * mad
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers (Iglewicz–Hoaglin modified
    z-score): flag readings where 0.6745·|v − median| / MAD > 3.5,
    the robust screen that — unlike the σ-based rolling z-score —
    is immune to the outliers themselves inflating the spread
    estimate (breakdown point 50% vs 0%).  Both medians are LOWER
    medians at rank ⌈n/2⌉ of a deterministic (value, event_id) sort,
    and the flag is the cross-multiplied integer inequality
    6745·dev > 35000·MAD — no division, no float, engine-identical.

    Scale shape (r13): two sorts over ONE station exchange — the
    unavoidable pair of an exact-median plan (value sort, then
    deviation sort) — with the median and MAD extracted as UNORDERED
    WINDOW AGGREGATES over the same partitioning instead of
    groupBy + broadcast-join round trips (the join form re-executed
    the rank subtrees per consumer: 4 scans and four windows in the
    executed plan; now 1 scan, 1 exchange, no joins).  At 100 TB the
    single pass partitions by station exactly like every other
    per-station operator.  Stations with MAD = 0 (a
    majority-constant signal) are excluded rather than flagging
    every nonmedian reading."""
    ev = _readings(spark, sf_dir)
    w_rank = Window.partitionBy("station").orderBy("v_cents", "event_id")
    w_all = Window.partitionBy("station")
    r = ev.select(
        "station",
        "ts",
        "event_id",
        "v_cents",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    r = r.withColumn(
        "med",
        F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("v_cents"))).over(w_all),
    )
    w_drank = Window.partitionBy("station").orderBy(F.abs(F.col("v_cents") - F.col("med")), "event_id")
    d = r.select(
        "station",
        "ts",
        "event_id",
        "v_cents",
        "med",
        F.abs(F.col("v_cents") - F.col("med")).alias("dev"),
        F.row_number().over(w_drank).alias("drn"),
        F.col("n"),
    )
    d = d.withColumn(
        "mad",
        F.min(F.when(F.col("drn") == F.expr("(n + 1) div 2"), F.col("dev"))).over(w_all),
    )
    return (
        d.filter((F.col("mad") > 0) & (6745 * F.col("dev") > 35000 * F.col("mad")))
        .select(
            "station",
            "ts",
            "event_id",
            "v_cents",
            F.col("med").cast("long").alias("med_cents"),
            F.col("mad").cast("long").alias("mad_cents"),
            F.col("dev").cast("long").alias("dev_cents"),
        )
    )


@register(
    "events_lttb_downsample",
    """
    WITH r AS (
        SELECT user_id AS station, epoch_us(ts) AS ts_us, event_id,
               CAST(floor(value * 100) AS BIGINT) AS v_cents
        FROM events
    ),
    o AS (
        SELECT station, ts_us, event_id, v_cents,
               row_number() OVER w AS rn,
               lag(ts_us) OVER w AS px, lag(v_cents) OVER w AS py,
               lead(ts_us) OVER w AS nx, lead(v_cents) OVER w AS ny
        FROM r
        WINDOW w AS (PARTITION BY station ORDER BY ts_us, event_id)
    ),
    a AS (
        SELECT station, ts_us, event_id, v_cents,
               CAST(floor((rn - 1) / 16.0) AS BIGINT) AS bucket,
               coalesce(abs((px - nx) * (v_cents - py)
                            - (px - ts_us) * (ny - py)), -1) AS area2
        FROM o
    )
    SELECT station, bucket, ts_us, v_cents, CAST(area2 AS BIGINT) AS area2
    FROM (
        SELECT *, row_number() OVER (PARTITION BY station, bucket
                                     ORDER BY area2 DESC, ts_us, event_id) AS pick
        FROM a
    ) WHERE pick = 1
    """,
)
def events_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series DOWNSAMPLING for rendering/archiving (r11): an
    LTOB-style variant of largest-triangle-three-buckets — per
    station, points order by (ts, event_id), fixed 16-point buckets,
    and each bucket keeps the point whose triangle with its IMMEDIATE
    neighbors has the largest area (LTOB's fixed-neighbor form rather
    than LTTB's previously-selected anchor, which is sequential by
    construction and cannot parallelize across buckets; endpoints
    coalesce to area -1 so they win only single-point buckets —
    semantics pinned by the oracle). Areas are 2× integer triangle
    areas over (epoch-us, cents) — exact, so the whole pick
    value-hashes; ties break on (ts, event_id).

    100 TB: two window passes over the same (station, ts) ordering —
    one shuffle by station, no joins, no collects; the reduction is
    16× per pass and composes (feed the output back for 256×). The
    dashboard query the reference's operators screen would run over a
    year of readings."""
    r = _readings(spark, sf_dir).select(
        "station", F.unix_micros("ts").alias("ts_us"), "event_id", "v_cents"
    )
    w = Window.partitionBy("station").orderBy("ts_us", "event_id")
    o = r.select(
        "station",
        "ts_us",
        "event_id",
        "v_cents",
        F.row_number().over(w).alias("rn"),
        F.lag("ts_us").over(w).alias("px"),
        F.lag("v_cents").over(w).alias("py"),
        F.lead("ts_us").over(w).alias("nx"),
        F.lead("v_cents").over(w).alias("ny"),
    )
    area2 = F.coalesce(
        F.abs(
            (F.col("px") - F.col("nx")) * (F.col("v_cents") - F.col("py"))
            - (F.col("px") - F.col("ts_us")) * (F.col("ny") - F.col("py"))
        ),
        F.lit(-1),
    )
    a = o.select(
        "station",
        "ts_us",
        "event_id",
        "v_cents",
        F.floor((F.col("rn") - 1) / 16).cast("bigint").alias("bucket"),
        area2.alias("area2"),
    )
    wp = Window.partitionBy("station", "bucket").orderBy(
        F.desc("area2"), F.asc("ts_us"), F.asc("event_id")
    )
    return (
        a.withColumn("pick", F.row_number().over(wp))
        .filter(F.col("pick") == 1)
        .select("station", "bucket", "ts_us", "v_cents", F.col("area2").cast("long").alias("area2"))
    )


@register(
    "station_profile_similarity",
    """
    WITH raw AS (
        SELECT user_id AS station, CAST(hour(ts) AS BIGINT) AS hod,
               CAST(floor(avg(floor(value * 100))) AS BIGINT) AS v
        FROM events GROUP BY user_id, hour(ts)
    ),
    spine AS (
        SELECT s.station, h.hod
        FROM (SELECT DISTINCT station FROM raw) s,
             (SELECT unnest(generate_series(0, 23)) AS hod) h
    ),
    prof AS (
        SELECT spine.station, spine.hod, coalesce(raw.v, 0) AS v
        FROM spine LEFT JOIN raw
          ON raw.station = spine.station AND raw.hod = spine.hod
    ),
    cent AS (
        SELECT station, hod,
               v * 24 - sum(v) OVER (PARTITION BY station) AS c
        FROM prof
    ),
    pairs AS (
        SELECT a.station AS s1, b.station AS s2,
               CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist
        FROM cent a JOIN cent b ON a.hod = b.hod AND a.station < b.station
        GROUP BY a.station, b.station
    )
    SELECT s1, s2, dist, rank FROM (
        SELECT s1, s2, dist,
               row_number() OVER (ORDER BY dist, s1, s2) AS rank
        FROM pairs
    ) WHERE rank <= 10
    """,
)
def station_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over station behavior (r11; the
    EDBT'19 streaming-similarity theme, batch form): each station's
    24-dim hour-of-day profile (avg cents per hour, zero-filled on a
    generated spine so missing hours stay comparable dimensions),
    MEAN-CENTERED in exact integers (v·24 − Σv — centering without
    the sqrt a z-norm would need, so the whole pipeline value-hashes),
    then the 10 most-similar station pairs by centered-L2 distance.
    The fleet question this answers: which machines behave alike
    (shared shift pattern, shared fault) and which have no twin.

    100 TB: the profile aggregate collapses the fact table to
    |stations|×24 rows map-side; everything after runs on fleet
    cardinality — the all-pairs join is |stations|² over 24-int
    vectors, fine for any physical fleet (devices are bounded; events
    are not), and a fleet large enough to break it should route
    through the embeddings family's LSH/IVF blocking instead (same
    menu, documented trade)."""
    ev = load_table(spark, sf_dir, "events")
    raw = (
        ev.select(
            F.col("user_id").alias("station"),
            F.hour("ts").cast("bigint").alias("hod"),
            F.floor(F.col("value") * 100).alias("cents"),
        )
        .groupBy("station", "hod")
        .agg(F.floor(F.avg("cents")).cast("bigint").alias("v"))
    )
    spine = (
        raw.select("station")
        .distinct()
        .crossJoin(spark.range(24).select(F.col("id").alias("hod")))
    )
    prof = spine.join(raw, ["station", "hod"], "left").select(
        "station", "hod", F.coalesce("v", F.lit(0)).alias("v")
    )
    w = Window.partitionBy("station")
    cent = prof.select(
        "station", "hod", (F.col("v") * 24 - F.sum("v").over(w)).alias("c")
    )
    a = cent.select(F.col("station").alias("s1"), "hod", F.col("c").alias("c1"))
    b = cent.select(F.col("station").alias("s2"), "hod", F.col("c").alias("c2"))
    pairs = (
        a.join(b, "hod")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.sum((F.col("c1") - F.col("c2")) * (F.col("c1") - F.col("c2")))
            .cast("long")
            .alias("dist")
        )
    )
    wr = Window.orderBy(F.asc("dist"), F.asc("s1"), F.asc("s2"))
    return (
        pairs.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 10)
        .select("s1", "s2", "dist", "rank")
    )
