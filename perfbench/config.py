"""Pinned inputs of every benchmark workload.

Everything a workload's result depends on lives here, in the
benchmark's own files: the query list, the Spark session profile, the
table sizes, the tick widths and the event-time silence gap. A change
to the program (``bench.py`` included) cannot change what a workload
runs; only an edit to this file can.
"""

from __future__ import annotations

#: Local cores the session runs on (``local[N]``), whatever the host has.
CPUS = 4
#: Driver heap: the inputs are small, so a small heap suffices.
DRIVER_MEM = "2g"

#: The sf0.1 headline set of ``bench.py``, minus ``embeddings_pq_index_topk``:
#: that query materializes its index at a fixed path outside the working
#: tree, and the benchmark writes only inside its checkout.
HEADLINE_QUERIES = (
    "production_shift_rollup",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "dedup_combine_parts",
    "top1_active_record",
    "events_sessionization",
    "docs_minhash_lsh_pairs",
    "docs_exact_dedup",
    "docs_token_stats",
)
#: Small-input batch profile (``bench.py`` at sf<=0.2): 8 shuffle
#: partitions, AQE off.
BATCH_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
}
#: Scale factor of the headline tables.
HEADLINE_SF = 0.1

#: Streaming workloads: the production pipeline configuration
#: (``run_pipeline(timeout_mode="event", versioned_records=True,
#: available_now=True)``) over ``events`` of the given scale, staged as
#: ticks of ``tick_rows`` readings each (one tick = one replay file = one
#: micro-batch). ``gap_ms`` is the event-time silence after which a key
#: fires its limpieza row. A run drains ``STREAM_WARMUP_TICKS`` ticks as
#: warm-up, then ``ceil(seconds / seconds_per_tick)`` timed ticks, so the
#: tick count, and with it the inputs, depend only on ``--seconds``. On a
#: 4-core host the first warm-up tick takes ~11 s, the second ~5 s, and
#: the timed narrow ticks 2.5-4.5 s with one in three or four slower:
#: six timed ticks at a 6 s run.
#: A key reads every ~1.4 days of event time (median; 90th percentile
#: 4.8 days), in the fixtures as in the generated events. The 3-day gap
#: is a deliberate choice: about a quarter of a key's silences exceed it,
#: so ~37 limpieza rows fire per narrow tick and restart and re-admission
#: occur every drain, while ~20% of readings still emit an update. (The
#: 1 h gap of the ``stream_limpieza_timeout`` plan would time out nearly
#: every key between two of its readings, so almost nothing would emit.)
_GAP_MS = 3 * 86_400_000
STREAMS = {
    "stream_narrow": {"sf": 0.01, "tick_rows": 250, "gap_ms": _GAP_MS, "seconds_per_tick": 1.0},
    "stream_wide": {"sf": 0.1, "tick_rows": 2_500, "gap_ms": _GAP_MS, "seconds_per_tick": 2.0},
}
STREAM_WARMUP_TICKS = 2

#: Lakehouse upkeep: a VersionedTable of ``rows`` events (x10 sf0.1),
#: ``files`` data files clustered by ``event_id``, a SUM/COUNT view over
#: ``groups`` station groups, and per round an upsert of ``band`` rows
#: (bands spread over the key space, so rounds touch different files)
#: plus a pruned read of ``read_span`` keys.
LAKEHOUSE = {
    "rows": 1_000_000,
    "files": 32,
    "groups": 1_000,
    "band": 16_000,
    "read_span": 20_000,
}
