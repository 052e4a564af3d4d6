"""Streaming sources (T1/T9): replay the events fixture as a stream.

The reference polls PLCs at ≥1 s (Prensas.py:602-604) and fans one
reader out to N station processors (T9). In Spark the replay is a
file-based ``readStream`` — one source query, N derived frames — with
``maxFilesPerTrigger=1`` playing the poll cadence. At production scale
this becomes a Kafka/Kinesis source with identical downstream code.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iotdatapipeline_spark.sources.tables import load_table

READINGS_SCHEMA = (
    "station bigint, part string, ts timestamp, event_id bigint, value double, counter bigint"
)


def _pin_replay_order(paths: list[str]) -> None:
    """Give ``paths`` strictly increasing mtimes, one second apart, in
    list order. FileStreamSource orders new files by mtime in
    milliseconds, so two files written within the same millisecond tie
    and can replay in either order."""
    base = time.time() - len(paths)
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def stage_replay_chunks(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 10
) -> str:
    """Materialize the events fixture as ``n_chunks`` time-ordered flat
    parquet files so a file stream replays them in event-time order
    (the reference's arrival order IS its processing order, T6).
    Replay order is by file MODIFICATION time (FileStreamSource sorts
    new files by mtime, not name), so the chunks get strictly
    increasing mtimes (:func:`_pin_replay_order`). Anything else that
    delivers files into a replay dir must set increasing mtimes
    explicitly (see the checkpoint-recovery test) or chunks can
    interleave out of time order.
    Timestamps are written as microseconds — the engine's canonical
    unit (see sources.tables on the nanos fixture quirk)."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    ev = load_table(spark, sf_dir, "events")
    readings = ev.select(
        F.col("user_id").alias("station"),
        F.col("event_type").alias("part"),
        F.col("ts"),
        F.col("event_id"),
        F.col("value"),
        F.floor(F.col("value") * 100).cast("long").alias("counter"),
    ).orderBy("ts", "event_id")
    pdf = readings.toPandas()
    chunk = max(1, (len(pdf) + n_chunks - 1) // n_chunks)
    paths = []
    for i in range(0, len(pdf), chunk):
        table = pa.Table.from_pandas(pdf.iloc[i : i + chunk], preserve_index=False)
        paths.append(os.path.join(out_dir, f"chunk_{i // chunk:05d}.parquet"))
        pq.write_table(
            table,
            paths[-1],
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    _pin_replay_order(paths)
    return out_dir


def stage_ooo_replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 6,
    jitter_us: int = 7_200_000_000,
    dup_mod: int = 17,
) -> str:
    """Adversarial replay for the T7 late/duplicate gate: readings
    arrive OUT OF ORDER (arrival = ts + md5-derived jitter in
    [0, jitter_us)) and ~1/``dup_mod`` of them arrive TWICE (the
    second copy with its own jitter). Chunked by ARRIVAL order into
    ``n_chunks`` files, so a ``maxFilesPerTrigger=1`` stream sees one
    arrival window per micro-batch and the watermark advances between
    chunks. All randomness is md5-of-key — deterministic, so a SQL
    oracle can replay the exact same chunk assignment."""
    from pyspark.sql import Window

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    ev = load_table(spark, sf_dir, "events")
    readings = ev.select(
        F.col("user_id").alias("station"),
        F.col("event_type").alias("part"),
        F.col("ts"),
        F.col("event_id"),
        F.col("value"),
        F.floor(F.col("value") * 100).cast("long").alias("counter"),
    )
    copies = readings.withColumn("copy", F.lit(0))
    if dup_mod:
        dups = readings.filter(F.col("event_id") % dup_mod == 0).withColumn("copy", F.lit(1))
        copies = copies.unionByName(dups)
    jitter = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.when(F.col("copy") == 1, F.lit("dup")).otherwise(F.lit("")),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % jitter_us
    )
    arr = copies.withColumn("arrival_ts", F.timestamp_micros(F.unix_micros(F.col("ts")) + jitter))
    arr = arr.withColumn(
        "chunk", F.ntile(n_chunks).over(Window.orderBy("arrival_ts", "event_id", "copy"))
    )
    pdf = arr.orderBy("arrival_ts", "event_id", "copy").toPandas()
    paths = []
    for c in sorted(pdf["chunk"].unique()):
        sub = pdf[pdf["chunk"] == c][["station", "part", "ts", "event_id", "value", "counter"]]
        paths.append(os.path.join(out_dir, f"chunk_{c:05d}.parquet"))
        pq.write_table(
            pa.Table.from_pandas(sub, preserve_index=False),
            paths[-1],
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    _pin_replay_order(paths)
    return out_dir


def drop_oldest_schedule(
    n_chunks: int, capacity: int, consumer_period: int
) -> tuple[list[int], list[int]]:
    """T2 queue dynamics (SURVEY.md §2.10; reference Prensas.py:584-593):
    a producer pushes chunk ``k`` at tick ``k`` into a queue bounded at
    ``capacity``; on QueueFull it pops the OLDEST item and pushes the
    fresh one. A slow consumer takes one item (FIFO) every
    ``consumer_period`` ticks and drains the remainder once the
    producer stops. Returns ``(consumed, dropped)`` chunk ids — a pure
    deterministic model of the reference's drop-oldest backpressure,
    so a test can assert exactly which chunks a lossy replay keeps."""
    from collections import deque

    queue: deque[int] = deque()
    consumed: list[int] = []
    dropped: list[int] = []
    for k in range(n_chunks):
        if len(queue) == capacity:
            dropped.append(queue.popleft())
        queue.append(k)
        if (k + 1) % consumer_period == 0 and queue:
            consumed.append(queue.popleft())
    consumed.extend(queue)
    return consumed, dropped


def stage_bounded_replay(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 10,
    capacity: int = 2,
    consumer_period: int = 3,
) -> tuple[str, list[int], list[int]]:
    """T2: stage the time-ordered replay THROUGH the bounded
    drop-oldest queue. Only chunks the slow consumer actually receives
    are written (in consumption order), so the downstream stream sees
    exactly what the reference's station processor would see when it
    falls behind: stale snapshots lost, freshest always delivered.
    Returns ``(replay_dir, consumed_chunk_ids, dropped_chunk_ids)``."""
    staging = out_dir.rstrip("/") + "__all"
    stage_replay_chunks(spark, sf_dir, staging, n_chunks=n_chunks)
    produced = sorted(os.listdir(staging))
    consumed, dropped = drop_oldest_schedule(len(produced), capacity, consumer_period)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    paths = []
    for seq, chunk_id in enumerate(consumed):
        paths.append(os.path.join(out_dir, f"recv_{seq:05d}_chunk_{chunk_id:05d}.parquet"))
        shutil.copy(os.path.join(staging, produced[chunk_id]), paths[-1])
    _pin_replay_order(paths)
    return out_dir, consumed, dropped


def readings_stream(spark: SparkSession, replay_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-replay stream of PLC-style readings (one chunk per
    micro-batch ≈ one poll tick, T1)."""
    return (
        spark.readStream.schema(READINGS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(replay_dir)
    )
