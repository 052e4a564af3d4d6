from __future__ import annotations

import os

import pytest

# r14: 8 local threads (was 4) — tests are Spark-action-bound and the
# result-relevant knob (shuffle_partitions=4 in the session fixture) is
# unchanged; this only raises task parallelism inside each action
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from iotdatapipeline_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# ── r14: driver-window time-boxing (VERDICT r13 item 2) ─────────────────────
# The full suite runs 47–62 min, which no longer fits the driver's
# verification window (VERIFY_r13 tests_ok:false was a truncation at ~53%
# with zero failures). The default run (`pytest tests/`) deselects the
# entries below via `-m "not slow"` in pytest.ini, keeping a fast subset
# that still covers every operator family (each deselected class/test has
# a fast sibling exercising the same family). The builder's round-end
# sweep runs EVERYTHING:  python -m pytest tests/ -q -m "slow or not slow"
# Entries: "module", "module::Class", or "module::Class::test_fn" —
# measured ≥10 s each in the r14 full-suite durations run
# (/tmp/pytest_r14_full.log, 702 passed / 54 min).
SLOW = {
    "test_plans::TestGlobalPlanAudit",            # 342 s registry-wide audit
    "test_soak_writers",                          # soak module (126 s)
    "test_streaming::TestMorSoak",                # 230 s
    "test_streaming::TestSelfMaintainingSink",    # 140 s
    "test_streaming::TestSinks",                  # 94 s
    "test_streaming::TestCdfApply",               # 61 s
    "test_streaming::TestMvLifecycle",            # 26 s
    "test_streaming::TestSinkTxnIsolation",       # 22 s
    "test_streaming::TestScd2Stream",             # 18 s
    "test_streaming::TestEndToEndStreaming::test_production_configuration_end_to_end",
    "test_streaming::TestEndToEndStreaming::test_checkpoint_recovery_resumes_state_exactly",
    "test_versioned::TestModelBasedIdentitySync", # 154 s
    "test_versioned::TestConcurrentWriters",      # 85 s
    "test_versioned::TestModelBased",             # 81 s
    "test_versioned::TestModelBasedLifecycle",    # 73 s
    "test_versioned::TestCDFStream",              # 63 s
    "test_versioned::TestMergeWhenMatchedCondition",  # 53 s
    "test_versioned::TestScopedOptimize",         # 46 s
    "test_versioned::TestOptimisticConcurrency",  # 44 s
    "test_versioned::TestIdentityColumns",        # 37 s
    "test_versioned::TestExpireVersions",         # 28 s
    "test_versioned::TestExpireCrashSafety",      # 26 s
    "test_versioned::TestDVStreamAndPruning",     # 17 s
    "test_properties::TestJoinOperatorProperties",      # 57 s
    "test_properties::TestTimeseriesOperatorProperties",  # 30 s
    "test_properties::TestIslandsMergeProperty",  # 24 s
    "test_properties::TestBloomProperty",         # 21 s
    "test_properties::TestDecodeProperty",        # 20 s
    "test_properties::TestInterpolateProperty",   # 18 s
    "test_cdf_commit::TestCommitTimeCDF::test_fast_path_matches_derivation",  # 47 s
    "test_cdf_commit::TestCommitTimeCDF::test_stream_source_rides_fast_path",
    "test_cdf_commit::TestCommitTimeCDF::test_netting_cancels_roundtrips",
    "test_cdf_commit::TestCommitTimeCDF::test_modes_recorded_per_op",
    "test_graph::TestConnectedComponents::test_matches_union_find",  # 30 s
    "test_incremental_index::TestBqVectorIndexMaintain::test_expired_history_raises_and_reseed_recovers",
    "test_incremental_index::TestStreamJoinRecovery::test_interval_join_resumes_from_checkpoint",
    # tier 2 (6.5–14 s each; the first cut measured 16:48 — still over
    # the <10 min window). Every entry keeps a faster sibling in its
    # family: merge (TestMergeOnReadUpsert rest / NotMatchedBySource
    # rest), MV (TestMaterializedView), cdf (TestCommitTimeCDF rest),
    # asof (test_bucketed_path_equals_plain_path covers the r14
    # checkpoint path), vector index (fresh_handle test), scd2 / kmv /
    # watermark classes keep their remaining tests.
    "test_asof::test_asof_semantics",
    "test_versioned::TestMergeWhenNotMatchedCondition",
    "test_versioned::TestClone::test_clone_is_zero_copy_and_independent",
    "test_versioned::TestMergeTypeReconciliation::test_restore_below_widen_then_wide_merge_cannot_brick",
    "test_versioned::TestMergeOnReadUpsert::test_repeated_mor_upserts_same_key",
    "test_versioned::TestMergeNotMatchedBySource::test_combines_with_identity",
    "test_versioned::TestCopyOnWrite::test_cluster_by_prunes_localized_merges",
    "test_versioned::TestOptimize::test_compaction_preserves_data_and_clustering",
    "test_streaming::TestJoinMaterializedView",
    "test_streaming::TestAggJoinMaterializedView",
    "test_streaming::TestScd2Apply::test_history_intervals_and_replay",
    "test_streaming::TestZscoreCheckpointRecovery",
    "test_streaming::TestEventTimeWatermarks::test_stream_stream_interval_join_matches_batch",
    "test_streaming::TestLimpiezaWallclockGate",
    "test_streaming::TestIvmTwoCommitWindow",
    "test_streaming::TestKmvView::test_batched_union_equals_global",
    "test_streaming::TestStackedViews",
    "test_streaming::TestChainedStreamingAggregation",
    "test_properties::TestExpandAlternativesProperty",
    "test_cdf_commit::TestCommitTimeCDF::test_pre_cdf_manifest_falls_back",
    "test_cdf_commit::TestCommitTimeCDF::test_merge_condition_and_sync_delete_feed",
    "test_cdf_commit::TestCommitTimeCDF::test_schema_evolution_boundary_aligns",
    "test_cdf_commit::TestCommitTimeCDF::test_cdf_property_toggle",
    "test_cdf_commit::TestCommitTimeCDF::test_vacuum_keeps_cdf_files_expire_reclaims",
    "test_incremental_index::TestBqVectorIndexMaintain::test_refresh_equals_rebuild",
    "test_plc_source::TestStreamProtocol::test_checkpoint_restart_no_dup_no_loss",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        cls = item.cls.__name__ if item.cls else None
        fn = item.originalname if hasattr(item, "originalname") else item.name
        keys = {mod}
        if cls:
            keys.add(f"{mod}::{cls}")
            keys.add(f"{mod}::{cls}::{fn}")
        else:
            keys.add(f"{mod}::{fn}")
        if keys & SLOW:
            item.add_marker(pytest.mark.slow)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say how many SLOW tests the default `-m "not slow"` left out."""
    slow = [
        i for i in terminalreporter.stats.get("deselected", []) if i.get_closest_marker("slow")
    ]
    if slow:
        terminalreporter.write_line(
            f'{len(slow)} slow tests deselected by -m "not slow"; full sweep: '
            'python -m pytest tests/ -q -m "slow or not slow"'
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("iotdatapipeline-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
