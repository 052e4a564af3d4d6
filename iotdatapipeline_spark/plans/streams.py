"""Streaming + multimodal gate queries.

Streaming: the T4 state machine (streaming.stateful, the Spark shape
of Prensas.py:616-831) driven end-to-end through a file-replay
``readStream`` with ``availableNow`` — the DRIVER's correctness gate
thereby hash-checks actual Structured Streaming output, not a batch
stand-in. Row emit-mode has an exact lag-SQL twin (the batch analog,
SURVEY.md §5.3); reference emit-mode (running-max state, boundary
rebase) is not SQL-expressible across shift boundaries and registers
rows-only.

Multimodal: assets derived deterministically from ``documents``
(media = UTF-8 bytes of text) flow through the real mapInPandas
decode/feature/frame-sample plumbing (analytics.multimodal); the gate
projects exactly the columns whose values an ANSI oracle can recompute
(hashes, dimensions, counts) — stub-dependent values (mean_luma, rms)
are covered by unit tests instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from iotdatapipeline_spark.analytics.multimodal import (
    audio_features,
    image_features,
    resize_images,
    sample_frames,
)
from iotdatapipeline_spark.plans._registry import drain, register, scratch
from iotdatapipeline_spark.sources import load_table
from iotdatapipeline_spark.streaming.source import (
    readings_stream,
    stage_ooo_replay_chunks,
    stage_replay_chunks,
)
from iotdatapipeline_spark.streaming.stateful import (
    counter_state_machine,
    debounce_machine,
    zscore_alert_machine,
)


# ── Streaming gate ──────────────────────────────────────────────────────────


def _run_stream(spark: SparkSession, sf_dir: str, emit_mode: str) -> DataFrame:
    """Replay the events fixture through the stateful machine with
    ``availableNow`` (4 chunks → multi-batch state carry-over) and
    return the drained output as a batch DataFrame."""
    replay = stage_replay_chunks(spark, sf_dir, scratch(f"iotdp_stream_{emit_mode}_"), n_chunks=4)
    stream = readings_stream(spark, replay, max_files_per_trigger=1)
    return drain(counter_state_machine(stream, emit_mode=emit_mode), f"stream_gate_{emit_mode}")


@register(
    "stream_counter_machine_rowmode",
    """
    WITH readings AS (
        SELECT user_id AS station, event_type AS part, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS counter
        FROM events
    ),
    d AS (
        SELECT station, part, ts, counter,
               lag(counter) OVER w AS prev_counter,
               lag(hour(ts)*3600 + minute(ts)*60 + second(ts)) OVER w AS prev_tod,
               hour(ts)*3600 + minute(ts)*60 + second(ts) AS tod
        FROM readings
        WINDOW w AS (PARTITION BY station, part ORDER BY ts, event_id)
    ),
    e AS (
        SELECT *,
               ((prev_tod < 28800 AND tod >= 28800) OR
                (prev_tod < 57600 AND tod >= 57600)) AS cambio
        FROM d WHERE prev_counter IS NOT NULL
    )
    SELECT station, part, CAST(counter AS BIGINT) AS counter,
           CAST(prev_counter AS BIGINT) AS prev_counter,
           CAST(counter - prev_counter AS BIGINT) AS delta,
           cambio AS shift_change,
           CASE WHEN hour(ts) BETWEEN 8 AND 15 THEN 1 ELSE 2 END AS shift_id,
           CASE WHEN hour(ts) < 8 THEN CAST(ts AS DATE) - 1 ELSE CAST(ts AS DATE) END AS plan_date
    FROM e
    WHERE counter > prev_counter OR (cambio AND counter >= prev_counter)
    """,
)
def stream_counter_machine_rowmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 via actual Structured Streaming, row emit-mode: the drained
    stream output must hash-match the lag-window batch formulation —
    the strongest streaming↔batch equivalence statement the gate can
    make."""
    out = _run_stream(spark, sf_dir, "row")
    return out.filter(F.col("row_kind") == "update").select(
        "station",
        "part",
        F.col("counter").cast("long").alias("counter"),
        F.col("prev_counter").cast("long").alias("prev_counter"),
        F.col("delta").cast("long").alias("delta"),
        "shift_change",
        "shift_id",
        "plan_date",
    )


def _reference_machine_sql() -> str:
    """The reference state machine as a DuckDB RECURSIVE CTE: state
    (prev, base, last_tod) advances row-at-a-time per (station, part)
    exactly as Prensas.py:744-815 — prev/last_tod move only on emit,
    base rebases to prev at a boundary emit. Window functions can't
    express this (each emit depends on the full prefix of emits), but
    linear recursion can; iterations = max rows per key."""
    cambio = (
        "((rec.last_tod < 28800 AND s.tod >= 28800) OR"
        " (rec.last_tod < 57600 AND s.tod >= 57600))"
    )
    emits = f"(s.counter > rec.prev OR ({cambio} AND s.counter >= rec.prev))"
    new_base = f"CASE WHEN {cambio} THEN rec.prev ELSE rec.base END"
    return f"""
    WITH RECURSIVE readings AS (
        SELECT user_id AS station, event_type AS part, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS counter,
               hour(ts)*3600 + minute(ts)*60 + second(ts) AS tod
        FROM events
    ),
    seq AS (
        SELECT *, row_number() OVER (PARTITION BY station, part ORDER BY ts, event_id) AS rn
        FROM readings
    ),
    rec AS (
        SELECT station, part, rn, ts, counter, tod,
               counter AS prev, CAST(NULL AS BIGINT) AS base, tod AS last_tod,
               CAST(NULL AS BIGINT) AS prev_counter,
               CAST(NULL AS BIGINT) AS delta, CAST(NULL AS BIGINT) AS qty_running,
               FALSE AS emitted
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.station, s.part, s.rn, s.ts, s.counter, s.tod,
               CASE WHEN {emits} THEN s.counter ELSE rec.prev END,
               CASE WHEN {emits} THEN {new_base} ELSE rec.base END,
               CASE WHEN {emits} THEN s.tod ELSE rec.last_tod END,
               rec.prev,
               CASE WHEN {emits} THEN s.counter - rec.prev END,
               CASE WHEN {emits} THEN s.counter - coalesce({new_base}, 0) END,
               {emits}
        FROM rec JOIN seq s
          ON s.station = rec.station AND s.part = rec.part AND s.rn = rec.rn + 1
    )
    SELECT station, part, counter, prev_counter, delta, qty_running,
           CASE WHEN hour(ts) BETWEEN 8 AND 15 THEN 1 ELSE 2 END AS shift_id,
           CASE WHEN hour(ts) < 8 THEN CAST(ts AS DATE) - 1 ELSE CAST(ts AS DATE) END AS plan_date
    FROM rec WHERE emitted
    """


@register("stream_counter_machine_reference", _reference_machine_sql())
def stream_counter_machine_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 with the reference's exact on-emit state advance
    (Prensas.py:812-813: prev/hora_cambio move only when a row emits,
    making prev a running max between boundaries and the boundary
    test relative to the LAST EMIT, not the last row). Window
    functions can't express the emit-prefix recursion, but a DuckDB
    RECURSIVE CTE can — so even the exact reference semantics get a
    full value-hash oracle, streamed output vs recursive SQL."""
    out = _run_stream(spark, sf_dir, "reference")
    return out.filter(F.col("row_kind") == "update").select(
        "station",
        "part",
        F.col("counter").cast("long").alias("counter"),
        F.col("prev_counter").cast("long").alias("prev_counter"),
        F.col("delta").cast("long").alias("delta"),
        F.col("qty_running").cast("long").alias("qty_running"),
        "shift_id",
        "plan_date",
    )


#: T5 gate parameters — event-time silence gap (1 h) and chunk count.
_T5_N_CHUNKS = 6
_T5_GAP_MS = 3_600_000


@register(
    "stream_limpieza_timeout",
    f"""
    WITH r AS (
        SELECT user_id AS station, event_type AS part, ts,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    c AS (
        SELECT station, part, ts,
               rn // ((n + {_T5_N_CHUNKS - 1}) // {_T5_N_CHUNKS}) AS chunk
        FROM r
    ),
    cm AS (  -- watermark available IN batch c+1 = max event ms through chunk c
        SELECT chunk, max(max_ms) OVER (ORDER BY chunk) AS cm_ms
        FROM (SELECT chunk, max(epoch_ms(ts)) AS max_ms FROM c GROUP BY chunk)
    ),
    kc AS (
        SELECT station, part, chunk, max(epoch_ms(ts)) AS key_ms
        FROM c GROUP BY station, part, chunk
    ),
    isl AS (  -- gaps-and-islands: consecutive chunks with data = one run
        SELECT *, chunk - dense_rank() OVER (
                   PARTITION BY station, part ORDER BY chunk) AS run_id
        FROM kc
    ),
    runs AS (
        SELECT station, part, run_id, min(chunk) AS c_start,
               max(chunk) AS c_end, max(key_ms) AS m_ms
        FROM isl GROUP BY station, part, run_id
    ),
    seq AS (
        SELECT *, lead(c_start) OVER (
                   PARTITION BY station, part ORDER BY c_start) AS c_next
        FROM runs
    )
    -- a run's timer fires iff the watermark passes (last key ms + gap)
    -- at some batch after the run ends and strictly before the key's
    -- next data batch; batches = the {_T5_N_CHUNKS} data chunks plus
    -- one watermark-eviction batch. wm is monotone, so only the LAST
    -- usable batch need be tested: index min(c_next-1, {_T5_N_CHUNKS}),
    -- whose wm is the cumulative max through that index - 1.
    SELECT s.station, s.part, CAST(count(*) AS BIGINT) AS limpieza_count
    FROM seq s
    JOIN cm ON cm.chunk = least(coalesce(s.c_next, {_T5_N_CHUNKS + 1}) - 1,
                                {_T5_N_CHUNKS}) - 1
    WHERE cm.cm_ms > s.m_ms + {_T5_GAP_MS}
    GROUP BY s.station, s.part
    """,
)
def stream_limpieza_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — silence detection → limpieza through ACTUAL Structured
    Streaming state timeouts (Prensas.py:663-677's one-shot silence
    latch): the time-ordered replay flows through the T4 machine with
    an EVENT-TIME timeout — a key fires one ``limpieza`` marker when
    the watermark passes its last reading + 1 h of silence (state
    removed; a later reappearance re-admits and re-arms, the
    reference's re-latch). Event time rather than wall clock keeps the
    gate deterministic and replayable — the same property a
    production exactly-once pipeline needs — and the stream terminates
    under ``availableNow`` like any watermark-evicted operator
    (wall-clock ProcessingTimeTimeout never terminates there:
    measured, see make_state_fn).

    The oracle replays the exact semantics in SQL: one batch per
    chunk, watermark in batch c = max event ms through chunk c-1, a
    key's silence run fires iff the watermark strictly passes its
    deadline at some batch before its next data (runs-and-watermark
    CTE). Hash-matching per-key limpieza COUNTS proves the timeout
    path fires, fires once per silence (one-shot latch), and re-arms
    after re-admission.

    Replay staging (global sort + equal row chunks) is gate harness,
    not a production path; the production operator is the
    timeout-armed ``counter_state_machine`` itself, whose state is
    partitioned by (station, part) and scales with keys, not rows."""
    replay = stage_replay_chunks(
        spark, sf_dir, scratch("iotdp_limpieza_"), n_chunks=_T5_N_CHUNKS
    )
    stream = readings_stream(spark, replay, max_files_per_trigger=1).withWatermark(
        "ts", "0 seconds"
    )
    out = counter_state_machine(
        stream, emit_mode="row", timeout_ms=_T5_GAP_MS, timeout_mode="event"
    )
    return (
        drain(out, "stream_limpieza")
        .filter(F.col("row_kind") == "limpieza")
        .groupBy("station", "part")
        .agg(F.count(F.lit(1)).cast("long").alias("limpieza_count"))
    )


#: T5 wall-clock gate parameters: silence gap and poll bounds (real
#: elapsed time — the gap is engine latency headroom, not data).
_T5W_GAP_MS = 2_000
_T5W_DEADLINE_S = 180.0


@register(
    "stream_limpieza_wallclock",
    "SELECT DISTINCT user_id AS station, event_type AS part FROM events",
)
def stream_limpieza_wallclock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 in the reference's LITERAL mode — wall-clock silence
    (Prensas.py:663-677 measures real elapsed time): the whole replay
    lands in one micro-batch, then the query keeps running no-data
    batches on a real processing-time trigger until every key's
    ProcessingTimeTimeout fires its one limpieza marker.

    Wall-clock firing ORDER and TIMING are nondeterministic by nature,
    but the fired SET is not: all data arrives in batch 0, so every key
    goes silent together, every timer fires exactly once (state removed,
    never re-created — the one-shot latch), and the distinct limpieza
    keys must equal the distinct (station, part) key set — which is
    the full value-hash oracle. The driver loop polls the sink until
    the key count converges (bounded by a deadline), the same
    stop-condition a live ``--follow`` supervisor applies; a deadline
    miss returns the partial set and fails the gate loudly."""
    replay = stage_replay_chunks(spark, sf_dir, scratch("iotdp_limpieza_wc_"), n_chunks=1)
    n_keys = (
        spark.read.parquet(replay).select("station", "part").distinct().count()
    )
    stream = readings_stream(spark, replay, max_files_per_trigger=1)
    out = counter_state_machine(
        stream, emit_mode="reference", timeout_ms=_T5W_GAP_MS, timeout_mode="processing"
    )

    def fired(sink: DataFrame) -> DataFrame:
        return sink.filter(F.col("row_kind") == "limpieza").select("station", "part").distinct()

    sink = drain(
        out,
        "stream_limpieza_wc",
        lambda sink: fired(sink).count() >= n_keys,
        every="500 milliseconds",
        deadline_s=_T5W_DEADLINE_S,
    )
    return fired(sink)


#: T2 gate parameters. The consumed set is the deterministic output of
#: ``drop_oldest_schedule(10, 2, 3)`` (unit-tested in
#: tests/test_streaming.py); the query asserts the staged schedule
#: still matches before streaming.
_T2_N_CHUNKS, _T2_CAPACITY, _T2_PERIOD = 10, 2, 3
_T2_CONSUMED = (1, 4, 7, 8, 9)


@register(
    "stream_drop_oldest_backpressure",
    f"""
    WITH r AS (
        SELECT user_id AS station,
               CAST(floor(value * 100) AS BIGINT) AS v,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    c AS (
        SELECT station, v,
               rn // ((n + {_T2_N_CHUNKS - 1}) // {_T2_N_CHUNKS}) AS chunk
        FROM r
    )
    SELECT station, CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(v) AS BIGINT) AS v_total
    FROM c WHERE chunk IN {_T2_CONSUMED}
    GROUP BY station
    """,
)
def stream_drop_oldest_backpressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — drop-oldest bounded-queue backpressure (Prensas.py:584-593)
    as a hard gate row: the time-ordered replay is staged THROUGH the
    bounded queue model (capacity 2, slow consumer every 3 ticks —
    chunks 0,2,3,5,6 are overwritten before the consumer gets them),
    streamed via a real readStream, and the drained per-station
    count/sum must hash-match the SQL twin restricted to exactly the
    surviving chunks {{1,4,7,8,9}}. A replay that loses the wrong
    chunks, duplicates a chunk, or delivers a dropped one mismatches.
    The schedule constant is re-asserted against the model at run
    time, so the oracle cannot silently drift from the queue
    semantics."""
    from iotdatapipeline_spark.streaming.source import stage_bounded_replay

    work = scratch("iotdp_t2_")
    replay, consumed, _dropped = stage_bounded_replay(
        spark,
        sf_dir,
        os.path.join(work, "replay"),
        n_chunks=_T2_N_CHUNKS,
        capacity=_T2_CAPACITY,
        consumer_period=_T2_PERIOD,
    )
    if tuple(consumed) != _T2_CONSUMED:
        raise RuntimeError(f"queue schedule drifted: {consumed} != {_T2_CONSUMED}")
    return (
        drain(readings_stream(spark, replay), "stream_t2")
        .groupBy("station")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("counter").cast("long").alias("v_total"),
        )
    )


#: T7 gate parameters — shared by the streamed queries and their SQL twins.
_T7_N_CHUNKS = 6
_T7_JITTER_US = 7_200_000_000  # arrival = ts + md5-jitter in [0, 2h)
_T7_DEDUP_DELAY_US = 10_800_000_000  # dedup watermark delay: 3h > jitter span
_T7_DUP_MOD = 17  # ~6% of readings arrive twice


@register(
    "events_late_dedup",
    """
    SELECT user_id AS station, event_type AS part, ts, event_id, value,
           CAST(floor(value * 100) AS BIGINT) AS counter
    FROM events
    """,
)
def events_late_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7-duplicates (SURVEY.md §2.10): an out-of-order replay (arrival
    = event time + bounded md5 jitter in [0, 2h), ~6% of readings
    arriving TWICE with independent jitter) flows through
    ``withWatermark(3h) → dropDuplicatesWithinWatermark(event_id)``,
    one arrival chunk per micro-batch, and the drained append output is
    hash-checked against the clean readings relation.

    Why the twin is exact and not approximate: the operator guarantees
    dedup for duplicates arriving within the watermark delay of each
    other. Both copies share one event time and their arrivals differ
    by < the 2h jitter span; the watermark can never exceed the max
    event time seen, so when the second copy arrives the first copy's
    state (expiry = ts + 3h) is still ≥ any reachable watermark —
    state provably cannot expire between the two copies, hence exactly
    one row per event_id survives, with canonical payload (copies are
    identical). A dedup that loses state across micro-batches, dedups
    on the wrong key, or emits both copies hash-mismatches. Note the
    operator does NOT drop late rows (verified empirically — the
    watermark only bounds state); the late-data half of T7 is pinned
    by ``events_late_window``. The reference itself has no late/dup
    story (arrival IS processing order, Prensas.py:602-604)."""
    replay = stage_ooo_replay_chunks(
        spark,
        sf_dir,
        scratch("iotdp_t7_"),
        n_chunks=_T7_N_CHUNKS,
        jitter_us=_T7_JITTER_US,
        dup_mod=_T7_DUP_MOD,
    )
    stream = (
        readings_stream(spark, replay, max_files_per_trigger=1)
        .withWatermark("ts", f"{_T7_DEDUP_DELAY_US} microseconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return drain(stream, "t7_late_dedup").select(
        "station", "part", "ts", "event_id", "value", "counter"
    )


#: late-window gate: watermark delay 30 min + 500 µs. Event times are
#: µs-clean while window ends are second-aligned, so the sub-ms offset
#: makes watermark-vs-window-end boundary ties impossible — the oracle
#: never depends on the engine's <-vs-≤ choice at the boundary.
_T7_WIN_DELAY_US = 1_800_000_500
_T7_WIN_US = 300_000_000  # 5-minute tumbling windows


@register(
    "events_late_window",
    f"""
    WITH readings AS (
        SELECT user_id AS station, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS counter
        FROM events
    ),
    arr AS (
        SELECT *, epoch_us(ts) AS ts_us,
               epoch_us(ts) + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                   % {_T7_JITTER_US} AS arrival_us
        FROM readings
    ),
    chunked AS (
        SELECT *, ntile({_T7_N_CHUNKS}) OVER (ORDER BY arrival_us, event_id) AS chunk FROM arr
    ),
    frontier AS (SELECT chunk, max(ts_us) AS mx FROM chunked GROUP BY chunk),
    wm AS (
        SELECT chunk,
               max(mx) OVER (ORDER BY chunk ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                   - {_T7_WIN_DELAY_US} AS wm_late
        FROM frontier
    ),
    final_wm AS (SELECT max(ts_us) - {_T7_WIN_DELAY_US} AS fw FROM chunked),
    included AS (
        SELECT c.station, c.counter,
               CAST(floor(c.ts_us / {_T7_WIN_US}) AS BIGINT) * {_T7_WIN_US} AS wstart_us
        FROM chunked c JOIN wm USING (chunk)
        WHERE wm.wm_late IS NULL
           OR (CAST(floor(c.ts_us / {_T7_WIN_US}) AS BIGINT) + 1) * {_T7_WIN_US} > wm.wm_late
    )
    SELECT station,
           make_timestamp(wstart_us) AS window_start,
           count(*) AS n_events,
           CAST(sum(counter) AS BIGINT) AS counter_sum
    FROM included, final_wm
    GROUP BY station, wstart_us, fw
    HAVING wstart_us + {_T7_WIN_US} <= fw
    """,
)
def events_late_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7-late-data (SURVEY.md §2.10): the same out-of-order replay
    (no duplicates) through a WATERMARKED tumbling-window aggregation
    in APPEND mode — the operator family where Spark actually drops
    late rows and only emits finalized windows. The SQL twin replays
    the micro-batch watermark trajectory chunk by chunk:

      * late filter — Spark keeps a row iff its window end is newer
        than the LATE-EVENTS watermark, which lags one batch behind
        (max event time over chunks ≤ k−2, minus delay). Verified
        empirically: a row arriving in the same batch that finalizes
        its window is still included (filter uses the previous
        watermark, eviction the advanced one) — the naive same-batch
        model is off by exactly those rows.
      * emission — append mode flushes a window once the EVICTION
        watermark (max event time over all chunks − delay at the
        availableNow flush batch) passes its end; later-arriving rows
        for that window are gone from state and filtered on arrival.

    Boundary strictness never matters: the delay carries a 500 µs
    offset no second-aligned window end can tie with (all four
    <-vs-≤ variants produce identical output on the fixture — the
    twin is exact, not approximate)."""
    replay = stage_ooo_replay_chunks(
        spark,
        sf_dir,
        scratch("iotdp_t7w_"),
        n_chunks=_T7_N_CHUNKS,
        jitter_us=_T7_JITTER_US,
        dup_mod=0,
    )
    stream = (
        readings_stream(spark, replay, max_files_per_trigger=1)
        .withWatermark("ts", f"{_T7_WIN_DELAY_US} microseconds")
        .groupBy("station", F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("counter").cast("long").alias("counter_sum"),
        )
        .select("station", F.col("w.start").alias("window_start"), "n_events", "counter_sum")
    )
    return drain(stream, "t7_late_window").select(
        "station", "window_start", "n_events", "counter_sum"
    )


@register(
    "events_tumbling_window",
    """
    SELECT user_id AS station,
           time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS counter_sum,
           CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS counter_max
    FROM events
    GROUP BY user_id, time_bucket(INTERVAL 5 MINUTE, ts)
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 extension (SURVEY.md §2.10): event-time tumbling windows over
    the reading stream — the watermark-ready aggregation shape (the
    streaming twin adds ``withWatermark``; tests verify stream==batch).
    ``F.window`` keeps the group key a real time bucket, so at scale
    the shuffle partitions by (station, window) — uniform and
    prunable."""
    ev = load_table(spark, sf_dir, "events")
    counter = F.floor(F.col("value") * 100).cast("long")
    return (
        ev.groupBy(
            F.col("user_id").alias("station"),
            F.window(F.col("ts"), "5 minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(counter).cast("long").alias("counter_sum"),
            F.max(counter).cast("long").alias("counter_max"),
        )
        .select("station", F.col("w.start").alias("window_start"), "n_events", "counter_sum", "counter_max")
    )


@register(
    "events_session_window",
    """
    WITH d AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 3600000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM d
    )
    SELECT user_id AS station,
           min(ts) AS session_start,
           max(ts) + INTERVAL 1 HOUR AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's native ``session_window`` (one
    merging aggregation, no window-function sort pass): a session
    extends while the next event arrives within 1 h of the last; the
    emitted window end is last_event + gap. The streaming twin is the
    same expression plus ``withWatermark`` (session windows are the
    canonical stateful-merge aggregation). The oracle derives the same
    sessions relationally: break where the lag gap >= 1 h, island-id by
    running sum, session_end = max(ts) + gap.

    Scale shape: shuffle keys are (station, merged-session) — the
    merge happens inside the aggregation, so no per-event window sort
    precedes it (contrast ``events_sessionization``, which counts
    sessions from a lag pass)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("user_id").alias("station"),
            F.session_window(F.col("ts"), "1 hour").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "station",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "dbapi_sink_roundtrip",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 2 = 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 2 = 1 AND user_id % 3 = 0 GROUP BY user_id
    )
    SELECT coalesce(s.station, b.station) AS station,
           coalesce(s.part, b.part) AS part,
           coalesce(s.ts_us, b.ts_us) AS ts_us,
           coalesce(s.v_cents, b.v_cents) AS v_cents,
           coalesce(s.version_id, b.version_id) AS version_id
    FROM b FULL JOIN s ON b.station = s.station
    """,
)
def dbapi_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The relational MERGE executor behind Spark's WRITER protocol
    (``df.write.format("dbapi")``): the per-station dim from the even
    events is written (insert path), then the odd-events latest for
    stations ≡ 0 (mod 3) is written again (ON CONFLICT update path) —
    K1/K2 against a real DBAPI database through a pluggable sink
    instead of foreachPartition plumbing. The final table is read back
    and hash-checked against the full-join-coalesce oracle, so a
    writer that drops a partition, double-applies non-idempotently, or
    breaks the MERGE spelling mismatches. sqlite3 here; the dialect
    option retargets SQL Server / DB2 / MySQL (the reference's actual
    pyodbc targets, Prensas.py:166-170, 128-133).

    Scale shape: one connection + one transaction per TASK with
    executemany batching; the read-back is a bounded dim (one row per
    station) — the write path itself never collects."""
    import sqlite3

    from iotdatapipeline_spark.sources.dbapi import register_dbapi_sink

    register_dbapi_sink(spark)
    r = _dbapi_readings(spark, sf_dir)
    base = _dbapi_latest(r.filter(F.col("event_id") % 2 == 0))
    upd = _dbapi_latest(
        r.filter((F.col("event_id") % 2 == 1) & (F.col("station") % 3 == 0))
    )
    db = os.path.join(scratch("iotdp_dbapi_sink_"), "plant.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE records (station INTEGER PRIMARY KEY, part TEXT,"
        " ts_us INTEGER, v_cents INTEGER, version_id INTEGER)"
    )
    con.commit()
    con.close()
    for frame in (base, upd):
        (
            frame.write.format("dbapi")
            .option("conn", db)
            .option("table", "records")
            .option("keys", "station")
            .mode("append")
            .save()
        )
    con = sqlite3.connect(db)
    rows = con.execute(
        "SELECT station, part, ts_us, v_cents, version_id FROM records"
    ).fetchall()
    con.close()
    return spark.createDataFrame(
        rows, "station bigint, part string, ts_us bigint, v_cents bigint, version_id bigint"
    )


def _dbapi_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("station"),
        F.col("event_type").alias("part"),
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
        "event_id",
    )


def _dbapi_latest(df: DataFrame) -> DataFrame:
    return df.groupBy("station").agg(
        F.max_by(F.struct("part", "ts_us", "v_cents"), F.col("event_id")).alias("__s"),
        F.max("event_id").cast("long").alias("version_id"),
    ).select("station", "__s.part", "__s.ts_us", "__s.v_cents", "version_id")


def _plc_oracle(stations: int, ticks: int, registers: int) -> str:
    from iotdatapipeline_spark.sources.plc_source import oracle_sql

    return oracle_sql(stations, ticks, registers)


@register(
    "plc_source_scan",
    _plc_oracle(40, 10, 6),
)
def plc_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLC register map read through a REAL custom Spark source
    (Python DataSource API): ``spark.read.format("plcsim")`` plans one
    input partition per station range and each partition materializes
    its registers independently — the S1 batched block read
    (Prensas.py:506-509) as a first-class pluggable connector rather
    than a file stand-in. The md5-derived register words are
    engine-reproducible, so the oracle REGENERATES the source's entire
    output in SQL and the driver value-hashes a custom connector
    end-to-end. Dimensions are fixed (40×10×6) — the source is the
    device simulation, not a view over sf_dir."""
    from iotdatapipeline_spark.sources.plc_source import register_plcsim

    register_plcsim(spark)
    return (
        spark.read.format("plcsim")
        .option("stations", 40)
        .option("ticks", 10)
        .option("registers", 6)
        .load()
    )


@register(
    "plc_stream_totals",
    f"""
    SELECT station, CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(word) AS BIGINT) AS word_sum
    FROM ({_plc_oracle(20, 8, 4)}) GROUP BY station
    """,
)
def plc_stream_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same custom source in STREAMING mode: tick-counter offsets,
    ``ticks_per_batch=2`` rate limiting (4 micro-batches for the 8
    ticks), checkpointed commits. The drain loop polls the sink until
    the deterministic total row count lands — each tick is delivered
    exactly once by the [start, end) offset contract, so the drained
    set (not its batch boundaries) is deterministic and the per-station
    totals carry a full value-hash oracle."""
    from iotdatapipeline_spark.sources.plc_source import register_plcsim

    register_plcsim(spark)
    stations, ticks, registers = 20, 8, 4
    expected = stations * ticks * registers
    stream = (
        spark.readStream.format("plcsim")
        .option("stations", stations)
        .option("ticks", ticks)
        .option("registers", registers)
        .option("ticks_per_batch", 2)
        .load()
    )
    sink = drain(stream, "plc_stream", lambda sink: sink.count() >= expected)
    got = sink.count()
    if got != expected:
        raise RuntimeError(f"stream drained {got} rows, expected {expected}")
    return (
        sink.groupBy("station")
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.sum("word").cast("long").alias("word_sum"),
        )
    )


@register(
    "events_stream_chained_agg",
    """
    SELECT user_id AS station,
           time_bucket(INTERVAL 1 HOUR, ts) AS hour_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS counter_sum,
           CAST(count(DISTINCT time_bucket(INTERVAL 5 MINUTE, ts)) AS BIGINT) AS n_5min_buckets
    FROM events
    GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)
    """,
)
def events_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregations in ONE streaming query (Spark's
    multiple-stateful-operator support): a watermarked 5-minute
    tumbling count/sum per station feeds a SECOND streaming aggregation
    that rolls the finalized 5-minute windows up into 1-hour windows
    via ``window(window_time(w5), '1 hour')`` — the pre-aggregation
    cascade a 100 TB metrics pipeline runs so the wide window never
    sees raw events (the stage-2 state is ~12× smaller than stage-1's,
    and stage-1's map-side partial aggregation has already collapsed
    the raw stream).

    Exactness vs the batch oracle: the replay is event-time-ordered and
    a sentinel reading (station −1, 26 h past the fixture's max ts) is
    appended as the final file, so the flush batch's watermark is far
    beyond every real window end — both operators finalize and emit ALL
    real windows, and the sentinel's own (never-finalized) windows are
    excluded by the station filter. The oracle is then the plain
    two-level rollup: count(*) per hour = sum of the 5-min counts, and
    the bucket count is the distinct 5-min buckets."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    replay = stage_replay_chunks(spark, sf_dir, scratch("iotdp_chain_"), n_chunks=4)
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    sentinel = pa.table(
        {
            "station": pa.array([-1], pa.int64()),
            "part": pa.array(["sentinel"], pa.string()),
            "ts": pa.array(
                [max_ts + datetime.timedelta(hours=26)],
                pa.timestamp("us"),
            ),
            "event_id": pa.array([-1], pa.int64()),
            "value": pa.array([0.0], pa.float64()),
            "counter": pa.array([0], pa.int64()),
        }
    )
    sent_path = os.path.join(replay, "chunk-zz-sentinel.parquet")
    pq.write_table(sentinel, sent_path)
    newest = max(
        os.path.getmtime(os.path.join(replay, f)) for f in os.listdir(replay)
    )
    os.utime(sent_path, (newest + 10, newest + 10))  # replay LAST (mtime order)

    stream = readings_stream(spark, replay, max_files_per_trigger=1)
    five_min = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("station", F.window("ts", "5 minutes").alias("w5"))
        .agg(
            F.count(F.lit(1)).alias("n5"),
            F.sum("counter").cast("long").alias("c5"),
        )
    )
    hourly = (
        five_min.groupBy(
            "station", F.window(F.window_time("w5"), "1 hour").alias("w1")
        )
        .agg(
            F.sum("n5").cast("long").alias("n_events"),
            F.sum("c5").cast("long").alias("counter_sum"),
            F.count(F.lit(1)).cast("long").alias("n_5min_buckets"),
        )
        .select(
            "station",
            F.col("w1.start").alias("hour_start"),
            "n_events",
            "counter_sum",
            "n_5min_buckets",
        )
    )
    return drain(hourly, "chain_agg").filter(F.col("station") >= 0)


#: stream-stream join gate: 6 h join window, 7 h watermark delay.
#: Safety argument for exactness (why drained output = the batch
#: interval join): the replay is event-time-ORDERED (stage_replay_chunks),
#: so min ts(batch k+1) ≥ max ts(batch k); a purchase in batch k+1 needs
#: clicks with ts ≥ min ts(k+1) − 6 h ≥ max ts(k) − 6 h, while the click
#: state evictable after batch k is ts < max ts(k) − 7 h — strictly
#: older than anything still joinable. Hence no match can be lost to
#: state eviction, and inner-join append emits each matched pair exactly
#: once.
_SSJ_WINDOW = "6 hours"
_SSJ_DELAY = "7 hours"


@register(
    "events_click_purchase_join",
    """
    SELECT p.user_id AS station,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 6 HOUR
    """,
)
def events_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join (beyond-reference
    extension of T9's fan-out: two DERIVED streams of one source
    joined to each other): every purchase is joined to the same
    station's clicks in the preceding 6 h, both sides watermarked, one
    replay chunk per micro-batch. This is the operator behind
    attribution/funnel joins that the batch ``events_funnel_stages``
    family approximates — here executed by Spark's symmetric-hash
    stream join with watermark-driven state eviction, and the drained
    append output must hash-match the batch interval join (oracle).
    See _SSJ_* above for the no-lost-matches proof sketch."""
    replay = stage_replay_chunks(spark, sf_dir, scratch("iotdp_ssj_"), n_chunks=5)
    clicks = (
        readings_stream(spark, replay, max_files_per_trigger=1)
        .withWatermark("ts", _SSJ_DELAY)
        .filter(F.col("part") == "click")
        .select(
            F.col("station").alias("c_station"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        readings_stream(spark, replay, max_files_per_trigger=1)
        .withWatermark("ts", _SSJ_DELAY)
        .filter(F.col("part") == "purchase")
        .select(
            F.col("station"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("c_station") == F.col("station"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_SSJ_WINDOW}")),
        "inner",
    )
    return drain(joined, "ssj").select(
        "station",
        "purchase_id",
        "click_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).cast("long").alias("lag_us"),
    )


@register(
    "events_click_purchase_left_join",
    """
    WITH fw AS (
        SELECT least(
                   (SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase')
               ) - INTERVAL 7 HOUR AS wm
    ),
    matched AS (
        SELECT p.user_id AS station, p.event_id AS purchase_id,
               c.event_id AS click_id
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 6 HOUR
    ),
    unmatched AS (
        SELECT p.user_id AS station, p.event_id AS purchase_id,
               CAST(NULL AS BIGINT) AS click_id
        FROM events p, fw
        WHERE p.event_type = 'purchase' AND p.ts < fw.wm
          AND NOT EXISTS (
              SELECT 1 FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 6 HOUR
          )
    )
    SELECT station, purchase_id, click_id FROM matched
    UNION ALL
    SELECT station, purchase_id, click_id FROM unmatched
    """,
)
def events_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join — the half of the semantics the
    inner gate can't see: matched pairs emit as they join, while a
    purchase with NO click in its 6 h window emits a null-padded row
    only when the event-time watermark PASSES its timestamp (proving
    no more clicks can arrive). The oracle states that contract
    exactly: the drained output is the batch inner join PLUS the
    unmatched purchases with ts < the final watermark — unmatched
    purchases younger than that are still in state when the
    availableNow drain ends, and a correct engine must NOT have
    emitted them. An engine that emits unmatched rows eagerly (before
    the watermark proves completeness) or never flushes them
    hash-mismatches in either direction.

    The final watermark is ``least(max click ts, max purchase ts) −
    7 h``, NOT ``max event ts − 7 h``: Catalyst pushes the type filter
    BELOW the EventTimeWatermark operator, so each side's watermark
    tracks only the rows that side actually consumes, and the global
    watermark is the min of the two (multipleWatermarkPolicy=min).
    Found empirically — an oracle written against the unfiltered max
    missed the last two unmatched purchases — and worth pinning: at
    scale, a slow/idle side holding the global watermark back is
    exactly how outer-join results get delayed in production."""
    replay = stage_replay_chunks(spark, sf_dir, scratch("iotdp_ssjl_"), n_chunks=5)
    clicks = (
        readings_stream(spark, replay, max_files_per_trigger=1)
        .withWatermark("ts", _SSJ_DELAY)
        .filter(F.col("part") == "click")
        .select(
            F.col("station").alias("c_station"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        readings_stream(spark, replay, max_files_per_trigger=1)
        .withWatermark("ts", _SSJ_DELAY)
        .filter(F.col("part") == "purchase")
        .select(
            F.col("station"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("c_station") == F.col("station"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_SSJ_WINDOW}")),
        "left_outer",
    )
    return drain(joined, "ssjl").select("station", "purchase_id", "click_id")


# ── Multimodal gate ─────────────────────────────────────────────────────────


def _assets_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multimodal fixture derived from ``documents``:
    media = UTF-8 bytes of text, kind round-robins by doc_id, typed
    metadata arithmetic on doc_id (mirrored exactly in the oracles)."""
    docs = load_table(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        ((F.col("doc_id") % 3) + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
        (F.lit(4) + F.col("doc_id") % 5).cast("int").alias("width"),
        (F.lit(3) + F.col("doc_id") % 4).cast("int").alias("height"),
        F.lit(16000).cast("int").alias("sample_rate"),
        (F.lit(20) + F.col("doc_id") % 15).cast("int").alias("n_frames"),
        F.lit("{}").alias("meta"),
    )


@register(
    "multimodal_image_features",
    """
    SELECT doc_id AS asset_id,
           CAST(4 + doc_id % 5 AS INTEGER) AS width,
           CAST(3 + doc_id % 4 AS INTEGER) AS height,
           CAST((4 + doc_id % 5) * (3 + doc_id % 4) AS BIGINT) AS n_pixels,
           md5(text) AS content_hash
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode → feature extraction over mapInPandas; the gate
    checks the oracle-recomputable outputs (shape, content hash) —
    i.e. that the Arrow batch plumbing moved every byte intact."""
    feats = image_features(_assets_from_documents(spark, sf_dir))
    return feats.select("asset_id", "width", "height", "n_pixels", "content_hash")


@register(
    "multimodal_audio_features",
    """
    SELECT doc_id AS asset_id,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n_samples,
           CAST((octet_length(encode(text)) // 2) * 1000 // 16000 AS BIGINT) AS duration_ms,
           md5(text) AS content_hash
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode (16-bit PCM interpretation) → sample/duration
    accounting, oracle-checked byte-for-byte."""
    feats = audio_features(_assets_from_documents(spark, sf_dir))
    return feats.select("asset_id", "sample_rate", "n_samples", "duration_ms", "content_hash")


@register(
    "multimodal_frame_stats",
    """
    SELECT doc_id AS asset_id,
           CAST((20 + doc_id % 15 - 1) // 10 + 1 AS BIGINT) AS n_sampled,
           CAST(10 * ((20 + doc_id % 15 - 1) // 10) AS BIGINT) AS max_frame_index
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1 row → k rows over mapInPandas), every
    10th frame; the gate checks the fan-out arithmetic per asset."""
    frames = sample_frames(_assets_from_documents(spark, sf_dir), every_n=10)
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("frame_index").cast("long").alias("max_frame_index"),
    )


def _resize_oracle_sql(out_w: int = 8, out_h: int = 6) -> str:
    """The resize gate's oracle: for the deterministic fake-decode
    path (documents text is never BMP/PNG), pixel (y, x) of the
    source is byte ((y·w)+x) mod 16 of md5(text)'s digest, and the
    nearest-neighbor grid is integer-exact — so the resized pixel sum
    is a closed-form 48-term expression DuckDB can evaluate."""
    w = "(4 + doc_id % 5)"
    h = "(3 + doc_id % 4)"
    terms = []
    for y in range(out_h):
        for x in range(out_w):
            e = f"((({y} * {h}) // {out_h}) * {w} + (({x} * {w}) // {out_w}))"
            terms.append(f"CAST(('0x' || substr(m, 2 * ({e} % 16) + 1, 2)) AS BIGINT)")
    total = " + ".join(terms)
    return f"""
    WITH src AS (SELECT doc_id, md5(text) AS m FROM documents WHERE doc_id % 3 = 0)
    SELECT doc_id AS asset_id,
           CAST({out_w} AS INTEGER) AS out_width,
           CAST({out_h} AS INTEGER) AS out_height,
           CAST({total} AS BIGINT) AS pix_sum
    FROM src
    """


@register("multimodal_image_resize", _resize_oracle_sql())
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode → nearest-neighbor resize to 8×6 over mapInPandas
    (the thumbnail/normalization step of a vision pipeline). The gate
    hash-checks the resized pixel SUM per asset against a closed-form
    oracle over the deterministic decode — i.e. the resampling grid
    arithmetic and every resized byte are independently recomputed,
    not just row counts. ``resized_hash`` exists in the operator
    output for downstream dedup but is projected out here (binary md5
    is not SQL-recomputable without the byte-assembly gymnastics)."""
    resized = resize_images(_assets_from_documents(spark, sf_dir))
    return resized.select("asset_id", "out_width", "out_height", "pix_sum")


def _avghash_oracle_sql(n: int = 8) -> str:
    """Closed-form oracle for the 8×8 average-hash: pixel (y, x) of
    the deterministic fake decode is digest byte ((y·h)//8·w +
    (x·w)//8) mod 16 of md5(text); bit = 1 iff 64·pixel > pixel sum
    (strict, integer-exact — ties are 0 in both engines)."""
    w = "(4 + doc_id % 5)"
    h = "(3 + doc_id % 4)"
    px = []
    for y in range(n):
        for x in range(n):
            e = f"((({y} * {h}) // {n}) * {w} + (({x} * {w}) // {n}))"
            px.append(f"CAST(('0x' || substr(m, 2 * ({e} % 16) + 1, 2)) AS BIGINT)")
    total = " + ".join(px)
    bits = ", ".join(f"CASE WHEN 64 * {p} > total THEN '1' ELSE '0' END" for p in px)
    return f"""
    WITH src AS (SELECT doc_id, md5(text) AS m FROM documents WHERE doc_id % 3 = 0),
    t AS (SELECT doc_id, m, {total} AS total FROM src)
    SELECT doc_id AS asset_id,
           CAST(total AS BIGINT) AS pix_sum,
           concat_ws('', {bits}) AS avghash
    FROM t
    """


@register("multimodal_image_avghash", _avghash_oracle_sql())
def multimodal_image_avghash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprint (average hash): decode →
    nearest-neighbor 8×8 thumbnail (the codec-bound mapInPandas step,
    now emitting its pixels) → 64-bit brighter-than-mean signature
    computed with NATIVE expressions over the resized bytes — Python
    ends where the codec ends. The oracle recomputes every one of the
    64 threshold decisions closed-form, so the gate hash-checks the
    whole fingerprint, not a summary.

    This is the image-side analog of SimHash for text: near-identical
    images (re-encodes, small crops under the same thumbnail grid)
    agree on most bits, and pairing at scale reuses the proven banded
    machinery (docs_simhash_neardup_pairs) on 16-bit bands of this
    hash; exact-duplicate grouping is hash equality. The fixture's
    fake decodes are md5-uniform — no planted image near-dups — so the
    gate pins the fingerprint computation itself."""
    resized = resize_images(
        _assets_from_documents(spark, sf_dir), out_width=8, out_height=8, emit_pixels=True
    )
    px = F.expr(
        "transform(sequence(1, 64), i -> cast(conv(hex(substring(resized, i, 1)), 16, 10) as bigint))"
    )
    out = resized.select("asset_id", F.col("pix_sum").cast("long").alias("pix_sum"), px.alias("__px"))
    bits = F.concat_ws(
        "",
        F.transform(F.col("__px"), lambda p: F.when(p * 64 > F.col("pix_sum"), F.lit("1")).otherwise(F.lit("0"))),
    )
    return out.select("asset_id", "pix_sum", bits.alias("avghash"))


@register(
    "events_stream_static_enrich",
    """
    SELECT e.user_id AS station, e.event_id,
           CAST(floor(e.value * 100) AS BIGINT) AS counter,
           n.n_name AS region_name,
           CAST(floor(e.value * 100) AS BIGINT) * (1 + n.n_nationkey % 3) AS weighted
    FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
    """,
)
def events_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 as a driver-gated query: the replay stream joined per
    micro-batch to a broadcast static dimension (station → region and
    a per-region multiplier — the same shape as the reference's
    station-config interpretation, Prensas.py:518-533, and its AS400
    multiplier enrichment). Stream-static joins need no watermark and
    no state: each micro-batch hash-joins against the broadcast dim,
    which Spark re-resolves per batch (hot-reloadable at the
    supervisor layer, T8). Drained availableNow output must equal the
    plain batch join row-for-row — every reading appears exactly once,
    enriched."""
    replay = stage_replay_chunks(spark, sf_dir, scratch("iotdp_sse_"), n_chunks=4)
    dim = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nkey"),
        F.col("n_name").alias("region_name"),
        (1 + F.col("n_nationkey") % 3).alias("mult"),
    )
    stream = readings_stream(spark, replay, max_files_per_trigger=1)
    enriched = stream.join(
        F.broadcast(dim), stream["station"] % 25 == dim["nkey"]
    ).select(
        "station",
        "event_id",
        F.col("counter").cast("long").alias("counter"),
        "region_name",
        (F.col("counter").cast("long") * F.col("mult")).cast("long").alias("weighted"),
    )
    return drain(enriched, "sse")


@register(
    "events_stream_rolling_zscore",
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
def events_stream_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rolling z-score anomaly detector as ACTUAL Structured
    Streaming: the events fixture replays through 4 time-ordered
    chunks (multi-batch state carry-over — the trailing ring crosses
    micro-batch boundaries), and the drained alert stream must
    hash-match the batch trailing-window formulation
    (`events_rolling_zscore`) bit-for-bit. Same batch↔streaming
    equivalence statement the counter machine makes for T4, here for
    the O(window)-state telemetry screen.

    Scale shape: state is a ≤32-long integer ring per station —
    bounded regardless of stream length; each micro-batch shuffles
    only on station, same key the batch window uses."""
    replay = stage_replay_chunks(spark, sf_dir, scratch("iotdp_stream_zscore_"), n_chunks=4)
    stream = readings_stream(spark, replay, max_files_per_trigger=1)
    return drain(zscore_alert_machine(stream), "stream_zscore")


def _avghash_neardup_sql() -> str:
    ham = " + ".join(
        f"CASE WHEN substr(h1, {i}, 1) <> substr(h2, {i}, 1) THEN 1 ELSE 0 END"
        for i in range(1, 65)
    )
    return f"""
    WITH ah AS ({_avghash_oracle_sql()}),
    bands AS (
        SELECT asset_id, avghash, b.range AS band_idx,
               substr(avghash, 1 + 8 * CAST(b.range AS INTEGER), 8) AS band
        FROM ah, range(0, 8) b
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS id1, a.avghash AS h1,
                        c.asset_id AS id2, c.avghash AS h2
        FROM bands a JOIN bands c
          ON a.band_idx = c.band_idx AND a.band = c.band
         AND a.asset_id < c.asset_id
    )
    SELECT id1, id2, CAST({ham} AS BIGINT) AS hamming
    FROM cand
    """


@register("multimodal_image_neardup_pairs", _avghash_neardup_sql())
def multimodal_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup candidates: 8-bit bands of the 64-bit
    average-hash bucket the corpus (two images collide iff some band
    agrees — the image-side LSH, same banded machinery as
    docs_simhash_neardup_pairs), then every candidate pair is scored
    with its exact Hamming distance. The fixture's fake decodes are
    md5-uniform — no planted visual near-dups — so the gate emits ALL
    banded candidates with their distances (a threshold would select
    ~nothing), pinning the banding + distance machinery a real corpus
    would filter at hamming ≤ t.

    Scale shape: the hash computation is the proven avghash plan
    (codec-bound mapInPandas → native bits); pairing adds one explode
    (8 bands/asset), a self-join that only meets inside (band_idx,
    band) buckets, a distinct on the pair key, and a projection — the
    LSH-bucket idiom, never all-pairs."""
    ah = multimodal_image_avghash(spark, sf_dir).select("asset_id", "avghash")
    bands = ah.select(
        "asset_id",
        "avghash",
        F.explode(
            F.expr(
                "transform(sequence(0, 7), b ->"
                " struct(b AS band_idx, substring(avghash, 1 + 8 * b, 8) AS band))"
            )
        ).alias("bd"),
    ).select("asset_id", "avghash", "bd.band_idx", "bd.band")
    a = bands.select(
        F.col("asset_id").alias("id1"), F.col("avghash").alias("h1"), "band_idx", "band"
    )
    c = bands.select(
        F.col("asset_id").alias("id2"), F.col("avghash").alias("h2"), "band_idx", "band"
    )
    cand = (
        a.join(c, ["band_idx", "band"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "h1", "id2", "h2")
        .distinct()
    )
    return cand.select(
        "id1",
        "id2",
        F.expr(
            "cast(size(filter(sequence(1, 64), i ->"
            " substring(h1, i, 1) <> substring(h2, i, 1))) as bigint)"
        ).alias("hamming"),
    )


@register(
    "events_stream_alert_debounce",
    """
    WITH RECURSIVE s AS (
        SELECT user_id AS station, ts, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    rec AS (
        SELECT station, rn, ts, event_id, ts AS last_kept,
               TRUE AS kept, CAST(NULL AS BIGINT) AS gap_us
        FROM s WHERE rn = 1
        UNION ALL
        SELECT s.station, s.rn, s.ts, s.event_id,
               CASE WHEN epoch_us(s.ts) - epoch_us(rec.last_kept) >= 43200000000
                    THEN s.ts ELSE rec.last_kept END,
               epoch_us(s.ts) - epoch_us(rec.last_kept) >= 43200000000,
               CASE WHEN epoch_us(s.ts) - epoch_us(rec.last_kept) >= 43200000000
                    THEN epoch_us(s.ts) - epoch_us(rec.last_kept) END
        FROM rec JOIN s ON s.station = rec.station AND s.rn = rec.rn + 1
    )
    SELECT station, ts, event_id, gap_us FROM rec WHERE kept
    """,
)
def events_stream_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert debounce via actual Structured Streaming: emit a reading
    only when ≥12 h has passed since the last EMITTED reading for the
    station — the anti-flood latch. Suppression restarts on EMIT, not
    on every row, so whether a row survives depends on the full
    prefix of emitted rows: a window can't express it; the oracle is
    a recursive CTE advancing (station-parallel) one row per
    iteration, exactly like the reference machine's oracle. The
    drained 4-chunk replay (state = one integer per key, carried
    across micro-batches) must hash-match it, realized gaps included.

    Third stateful semantics in the library after the counter machine
    (running-max emit state) and the z-score ring (bounded-window
    moments) — this one is the on-emit-only timer latch
    (Prensas.py:663-677's one-shot shape)."""
    replay = stage_replay_chunks(spark, sf_dir, scratch("iotdp_stream_debounce_"), n_chunks=4)
    stream = readings_stream(spark, replay, max_files_per_trigger=1)
    return drain(debounce_machine(stream), "stream_debounce")


@register(
    "events_click_purchase_full_join",
    """
    WITH fw AS (
        SELECT least(
                   (SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase')
               ) AS m
    ),
    matched AS (
        SELECT p.user_id AS station, p.event_id AS purchase_id,
               c.event_id AS click_id
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 6 HOUR
    ),
    un_p AS (
        SELECT p.user_id AS station, p.event_id AS purchase_id,
               CAST(NULL AS BIGINT) AS click_id
        FROM events p, fw
        WHERE p.event_type = 'purchase' AND p.ts < fw.m - INTERVAL 7 HOUR
          AND NOT EXISTS (
              SELECT 1 FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 6 HOUR
          )
    ),
    un_c AS (
        SELECT c.user_id AS station, CAST(NULL AS BIGINT) AS purchase_id,
               c.event_id AS click_id
        FROM events c, fw
        WHERE c.event_type = 'click' AND c.ts < fw.m - INTERVAL 13 HOUR
          AND NOT EXISTS (
              SELECT 1 FROM events p
              WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
          )
    )
    SELECT station, purchase_id, click_id FROM matched
    UNION ALL SELECT station, purchase_id, click_id FROM un_p
    UNION ALL SELECT station, purchase_id, click_id FROM un_c
    """,
)
def events_click_purchase_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER stream-stream join — both null-emission halves at
    once, completing the inner/left/full join-mode matrix: matched
    pairs emit as they join; a purchase with no click in its trailing
    6 h window null-pads once the watermark passes it (same cutoff the
    left gate pinned); a click with no purchase in its FOLLOWING 6 h
    window null-pads once the watermark passes the END of the window
    it could still match — c.ts + 6 h, i.e. c.ts < wm − 13 h with the
    7 h delay.  The asymmetric cutoffs are the point: each side's
    state lifetime is derived from the join predicate's bound on the
    OTHER side's event time, which is exactly how Spark sizes
    symmetric-hash join state for eviction at scale.  Oracle =
    batch interval join + both watermark-gated NOT EXISTS arms."""
    replay = stage_replay_chunks(spark, sf_dir, scratch("iotdp_ssjf_"), n_chunks=5)
    clicks = (
        readings_stream(spark, replay, max_files_per_trigger=1)
        .withWatermark("ts", _SSJ_DELAY)
        .filter(F.col("part") == "click")
        .select(
            F.col("station").alias("c_station"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        readings_stream(spark, replay, max_files_per_trigger=1)
        .withWatermark("ts", _SSJ_DELAY)
        .filter(F.col("part") == "purchase")
        .select(
            F.col("station"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("c_station") == F.col("station"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_SSJ_WINDOW}")),
        "full_outer",
    )
    return drain(joined, "ssjf").select(
        F.coalesce(F.col("station"), F.col("c_station")).alias("station"),
        "purchase_id",
        "click_id",
    )


#: T8 gate parameters — deterministic config "versions" derived from
#: events. Membership rules are chosen so each reconcile round mixes
#: started / restarted / stopped / unchanged groups: a group is absent
#: from version v when (grp+v)%8==0, and its member set toggles with
#: (grp+v)%3, so fingerprints change for some groups every round.
_T8_VERSIONS = 4


@register(
    "supervisor_reload_actions",
    f"""
    WITH v AS (SELECT unnest([{", ".join(map(str, range(_T8_VERSIONS)))}]) AS version),
    cfg AS (
        SELECT v.version,
               CAST(e.user_id % 32 AS INTEGER) AS grp,
               md5(CAST(e.event_id AS VARCHAR) || '|' || e.event_type || '|' ||
                   CAST(CAST(floor(e.value * 100) AS BIGINT) AS VARCHAR)) AS h
        FROM events e, v
        WHERE (e.user_id % 32 + v.version) % 8 <> 0
          AND (e.event_id % 4 = 0
               OR (e.event_id % 4 = 1 AND (e.user_id % 32 + v.version) % 3 = 0))
    ),
    fp AS (
        SELECT version, grp, md5(string_agg(h, '|' ORDER BY h)) AS fp
        FROM cfg GROUP BY version, grp
    ),
    seq AS (
        SELECT version, grp, fp,
               lag(version) OVER w AS prev_version,
               lag(fp) OVER w AS prev_fp
        FROM fp WINDOW w AS (PARTITION BY grp ORDER BY version)
    ),
    alive AS (
        SELECT version, grp,
               CASE WHEN prev_version IS NULL OR prev_version <> version - 1
                        THEN 'started'
                    WHEN fp <> prev_fp THEN 'restarted'
               END AS action
        FROM seq
    ),
    stopped AS (
        SELECT s.version + 1 AS version, s.grp, 'stopped' AS action
        FROM fp s
        WHERE s.version < {_T8_VERSIONS - 1}
          AND NOT EXISTS (SELECT 1 FROM fp t
                          WHERE t.grp = s.grp AND t.version = s.version + 1)
    )
    SELECT CAST(version AS INTEGER) AS version, grp, action
    FROM alive WHERE action IS NOT NULL
    UNION ALL
    SELECT CAST(version AS INTEGER) AS version, grp, action FROM stopped
    """,
)
def supervisor_reload_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 — the supervisor's hot-reload diff (Prensas.py:835-947) as a
    hard gate row: four deterministic config versions flow through the
    REAL control plane — ``config_fingerprints`` (the distributed
    sorted-member-hash md5, C7) feeding ``Supervisor.reconcile`` — and
    the emitted (version, group, action) log must match a DuckDB twin
    that derives started/restarted/stopped from its own canonical
    digests. The two engines never compare fingerprint VALUES (Spark's
    is md5-of-JSON, the oracle's md5-of-concat): the supervisor's
    behavior depends only on fingerprint EQUALITY structure, which both
    digests preserve because event_id makes member rows unique. A diff
    that restarts an unchanged group, misses a changed one, or leaks a
    removed group mismatches. The per-round ``collect`` inside
    ``config_fingerprints`` is the supervisor's documented control-plane
    pattern: one bounded (≤32-group) row set per reload poll."""
    from iotdatapipeline_spark.streaming.supervisor import (
        Supervisor,
        config_fingerprints,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 32).cast("int").alias("grp"),
        F.col("event_id"),
        F.col("event_type"),
        F.floor(F.col("value") * 100).cast("long").alias("val"),
    )

    class _NoopQuery:
        def stop(self) -> None:
            pass

    sup = Supervisor(start_query=lambda group: _NoopQuery())
    rows = []
    for v in range(_T8_VERSIONS):
        cfg_v = base.filter(
            ((F.col("grp") + F.lit(v)) % 8 != 0)
            & (
                (F.col("event_id") % 4 == 0)
                | ((F.col("event_id") % 4 == 1) & ((F.col("grp") + F.lit(v)) % 3 == 0))
            )
        ).select("grp", "event_id", "event_type", "val")
        actions = sup.reconcile(config_fingerprints(cfg_v, "grp"))
        rows.extend((v, int(g), a) for g, a in sorted(actions.items()))

    schema = StructType(
        [
            StructField("version", IntegerType()),
            StructField("grp", IntegerType()),
            StructField("action", StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@register(
    "history_append_replayed",
    """
    SELECT user_id AS station, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v_total
    FROM events GROUP BY user_id
    """,
)
def history_append_replayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 — the idempotent history append (Prensas.py:794-803) as a
    hard gate row: three deterministic micro-batches of events flow
    through the REAL ``append_foreach_batch`` executor, then batch 1 is
    applied AGAIN — the retry a Structured Streaming sink must absorb
    when a failure lands between the sink write and the offset commit.
    The read-back per-station count/sum must equal the plain aggregate
    over ALL events: a plain append-mode sink double-counts the
    replayed batch, and a static-overwrite sink wipes the other
    batches' partitions — either failure mode hash-mismatches. The
    executor's dynamic-partition-overwrite discipline
    (``__batch_id=N`` partition per batch) is what makes the replay a
    no-op."""
    from iotdatapipeline_spark.streaming.sinks import (
        append_foreach_batch,
        read_history,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("station"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        F.col("event_id"),
    )
    work = scratch("iotdp_k3_")
    path = os.path.join(work, "history")
    sink = append_foreach_batch(path)
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    for bid, b in enumerate(batches):
        sink(b, bid)
    sink(batches[1], 1)  # the replayed micro-batch
    return (
        read_history(spark, path)
        .drop("event_id")
        .groupBy("station")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("v_total"),
        )
    )


@register(
    "fanout_sinks_readback",
    """
    WITH r AS (
        SELECT user_id AS station, event_type AS part,
               CAST(floor(value * 100) AS BIGINT) AS counter,
               CASE WHEN event_id % 11 = 0 THEN 'limpieza' ELSE 'update' END AS row_kind
        FROM events
    )
    SELECT 'history' AS sink, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(counter) AS BIGINT) AS v_total
    FROM r WHERE row_kind = 'update'
    UNION ALL
    SELECT 'records', CAST(count(DISTINCT station || '|' || part) AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM r WHERE row_kind = 'update'
    UNION ALL
    SELECT 'limpieza', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
    FROM r WHERE row_kind = 'limpieza'
    """,
)
def fanout_sinks_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9/K3/K5 — the per-batch effect fan-out (Prensas.py:794-818) as
    a hard gate row: tagged readings flow through the REAL
    ``fanout_foreach_batch`` executor in two micro-batches plus a
    replay of the last one, then all three sinks are read back and
    reduced to split-independent invariants — history row/sum totals
    (no loss, no duplication under retry), record count (exactly one
    row per upsert key), and limpieza routing count. A sink that
    duplicates the replayed batch, drops a row_kind route, or leaves
    duplicate keys in the record table hash-mismatches. Invariants are
    deliberately split-independent so the oracle does not depend on
    which micro-batch a row landed in."""
    from iotdatapipeline_spark.sources.versioned import VersionedTable
    from iotdatapipeline_spark.streaming.sinks import (
        fanout_foreach_batch,
        read_history,
    )

    ev = load_table(spark, sf_dir, "events")
    readings = ev.select(
        F.col("user_id").alias("station"),
        F.col("event_type").alias("part"),
        F.col("ts"),
        F.col("event_id"),
        F.floor(F.col("value") * 100).cast("long").alias("counter"),
        F.when(F.col("event_id") % 11 == 0, F.lit("limpieza"))
        .otherwise(F.lit("update"))
        .alias("row_kind"),
    )
    work = scratch("iotdp_t9_")
    up, hp, lp = (os.path.join(work, d) for d in ("records", "history", "limpieza"))
    sink = fanout_foreach_batch(
        updates_path=up,
        updates_keys=("station", "part"),
        history_path=hp,
        limpieza_path=lp,
    )
    b0 = readings.filter(F.col("event_id") % 2 == 0)
    b1 = readings.filter(F.col("event_id") % 2 == 1)
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # replay of the LAST batch — the only retry streaming produces
    hist = (
        read_history(spark, hp)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("counter").cast("long").alias("v_total"),
        )
        .select(F.lit("history").alias("sink"), "n_rows", "v_total")
    )
    recs = (
        VersionedTable(spark, up)
        .snapshot()
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            F.lit("records").alias("sink"),
            "n_rows",
            F.lit(None).cast("long").alias("v_total"),
        )
    )
    limp = (
        read_history(spark, lp)
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            F.lit("limpieza").alias("sink"),
            "n_rows",
            F.lit(None).cast("long").alias("v_total"),
        )
    )
    return hist.unionByName(recs).unionByName(limp)
