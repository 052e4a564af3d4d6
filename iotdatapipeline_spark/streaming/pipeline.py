"""End-to-end streaming pipeline (SURVEY.md §3.2-3.3 Spark shape):

    file-replay source → stream-static config join (J7) →
    T4 stateful counter machine → foreachBatch effect fan-out
    (K1 record upsert + K3 history append + K5 limpieza route)

One streaming query keyed by (station, part) gives the reference's
scan-sharing for free (§4: one source read per trigger serves every
station)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from iotdatapipeline_spark.streaming.sinks import fanout_foreach_batch
from iotdatapipeline_spark.streaming.source import readings_stream
from iotdatapipeline_spark.streaming.stateful import counter_state_machine


def enrich_with_config(stream: DataFrame, config: DataFrame, on: str = "station") -> DataFrame:
    """J7: stream-static join — each reading interpreted through its
    station config. The static side is re-read per micro-batch by
    Spark, which is exactly the reference's 3 s config refresh (T8)
    collapsed into the engine."""
    return stream.join(F.broadcast(config), on, "left")


def run_pipeline(
    spark: SparkSession,
    replay_dir: str,
    *,
    checkpoint_dir: str,
    records_path: str,
    history_path: str,
    limpieza_path: str | None = None,
    config: DataFrame | None = None,
    emit_mode: str = "reference",
    timeout_ms: int | None = None,
    timeout_mode: str = "processing",
    versioned_records: bool = True,
    available_now: bool = True,
    watermark_delay: str = "0 seconds",
) -> StreamingQuery:
    """Start the pipeline. ``available_now=True`` drains the replay
    and stops (test mode); otherwise it runs with a 1 s trigger
    mirroring the reference's poll cadence (T1).

    The K1 records at ``records_path`` are always a VersionedTable: one
    txn-exactly-once MERGE per micro-batch; read them with
    ``VersionedTable(spark, records_path).snapshot()``.
    ``versioned_records=False`` raises ``ValueError``.

    Production configuration: ``timeout_mode="event"`` (deterministic
    replayable silence detection; terminates under availableNow).

    ``watermark_delay`` (event mode only) is how long an out-of-order
    reading may lag the max seen event time before the engine drops it
    ahead of the stateful operator. The ``"0 seconds"`` default is
    right for deterministic REPLAY (the replay source is in order, and
    zero delay means timers fire as early as possible); a live
    out-of-order source should pass a real delay (e.g. ``"30
    seconds"``) — the trade-off is limpieza timers firing that much
    later. With a non-zero delay the stateful op's late-batch handling
    (lifetime max_ts_ms) engages for rows inside the allowance."""
    if not versioned_records:
        raise ValueError("the K1 records table is always a VersionedTable")
    stream = readings_stream(spark, replay_dir)
    if config is not None:
        stream = enrich_with_config(stream, config)
    if timeout_mode == "event" and timeout_ms is not None:
        stream = stream.withWatermark("ts", watermark_delay)
    updates = counter_state_machine(
        stream, emit_mode=emit_mode, timeout_ms=timeout_ms, timeout_mode=timeout_mode
    )
    # K6/K7 observability as observed metrics: per-micro-batch emit /
    # limpieza / quantity counters surfaced through StreamingQuery
    # progress (the Spark-native replacement for the reference's
    # console dumps and per-station log files, Prensas.py:34-66,
    # 689-700) — zero extra passes, computed inside the running plan.
    updates = updates.observe(
        "pipeline_metrics",
        F.count(F.when(F.col("row_kind") == "update", 1)).alias("n_updates"),
        F.count(F.when(F.col("row_kind") == "limpieza", 1)).alias("n_limpiezas"),
        F.sum(F.when(F.col("row_kind") == "update", F.col("delta"))).alias("delta_total"),
    )
    writer = (
        updates.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            fanout_foreach_batch(
                updates_path=records_path,
                updates_keys=["station", "part", "plan_date", "shift_id"],
                history_path=history_path,
                limpieza_path=limpieza_path,
                # the checkpoint is the query's durable identity: same
                # checkpoint ⇒ same batch-id sequence ⇒ same txn app;
                # a fresh checkpoint automatically gets a fresh app id
                txn_app=f"pipeline-{checkpoint_dir}",
            )
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()
