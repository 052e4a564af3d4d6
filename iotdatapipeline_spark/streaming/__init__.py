"""Structured Streaming layer: replay source, T4 stateful machine,
foreachBatch sinks, hot-reload supervisor."""

from iotdatapipeline_spark.streaming.pipeline import enrich_with_config, run_pipeline
from iotdatapipeline_spark.streaming.sinks import (
    append_foreach_batch,
    fanout_foreach_batch,
    latest_per_key,
)
from iotdatapipeline_spark.streaming.source import (
    drop_oldest_schedule,
    readings_stream,
    stage_bounded_replay,
    stage_replay_chunks,
)
from iotdatapipeline_spark.streaming.stateful import counter_state_machine, make_state_fn
from iotdatapipeline_spark.streaming.supervisor import Supervisor, config_fingerprints

__all__ = [
    "enrich_with_config",
    "run_pipeline",
    "append_foreach_batch",
    "fanout_foreach_batch",
    "latest_per_key",
    "drop_oldest_schedule",
    "readings_stream",
    "stage_bounded_replay",
    "stage_replay_chunks",
    "counter_state_machine",
    "make_state_fn",
    "Supervisor",
    "config_fingerprints",
]
