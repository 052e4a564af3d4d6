"""Plan-shape regression tests: pin the physical-plan properties the
100 TB design depends on (SURVEY.md §4). These fail if a refactor
silently reintroduces an extra shuffle, a second window pass, a
dropped broadcast, or a scan that stops pruning — the regressions
that are invisible at test scale and fatal at cluster scale.

Also: the approx_count_distinct tolerance check promised by the
``distinct_parts_per_station`` docstring (HLL sketches are
engine-specific, so the oracle-checkable twin is exact-distinct and
the approx variant is bounded here instead).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from iotdatapipeline_spark.operators.counter_rollup import counter_deltas
from iotdatapipeline_spark.plans import ORACLE, QUERIES
from iotdatapipeline_spark.sources import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _formatted(df, spark) -> str:
    # toString() truncates long fields (PushedFilters ellipsized at ~100
    # chars); formatted explain prints them in full
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


class TestPlanShapes:
    def test_counter_deltas_single_exchange_single_window(self, spark, sf_small):
        ev = load_table(spark, sf_small, "events")
        readings = ev.select(
            F.col("user_id").alias("station"),
            F.col("event_type").alias("part"),
            F.col("ts"),
            F.col("event_id"),
            F.floor(F.col("value") * 100).cast("long").alias("counter"),
        )
        plan = _plan(counter_deltas(readings, order_cols=("event_id",)))
        assert plan.count("Exchange") == 1, plan
        assert plan.count("Window") == 1, plan

    def test_flagship_rollup_broadcasts_multiplier_dim(self, spark, sf_small):
        plan = _plan(QUERIES["production_shift_rollup"](spark, sf_small))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_q5_dim_chain_broadcasts_only_fact_join_shuffles(self, spark, sf_small):
        plan = _plan(QUERIES["q5_supplier_volume"](spark, sf_small))
        # region/nation/supplier chain must broadcast; only li⋈orders may shuffle
        assert plan.count("BroadcastHashJoin") >= 2, plan

    def test_scan_prunes_columns_and_pushes_filters(self, spark, sf_small):
        li = load_table(spark, sf_small, "lineitem")
        q = li.filter(F.col("l_shipdate") > "1995-01-01").select("l_orderkey", "l_quantity")
        plan = _plan(q)
        assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan, plan
        # projected schema must not drag the 14 unused columns through the scan
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema, read_schema

    def test_q6_all_predicates_pushed_four_column_scan(self, spark, sf_small):
        plan = _formatted(QUERIES["q6_forecast_revenue"](spark, sf_small), spark)
        pushed = plan.split("PushedFilters:")[1].splitlines()[0]
        for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                     "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
                     "LessThan(l_quantity"):
            assert frag in pushed, pushed
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema, read_schema

    def test_q14_part_dim_broadcasts_no_fact_shuffle_join(self, spark, sf_small):
        plan = _plan(QUERIES["q14_promo_revenue"](spark, sf_small))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_minhash_single_scan_no_shingle_distinct(self, spark, sf_small):
        # exactly one parquet scan: the bucket-expansion formulation must
        # not fall back to a self-join that re-executes the whole
        # shingle→minhash pipeline per side (Spark does not reuse the
        # exchange across self-join branches here — measured)
        df = QUERIES["docs_minhash_lsh_pairs"](spark, sf_small)
        plan = _plan(df)
        assert plan.count("FileScan") == 1, plan
        # exactly 3 aggregates in the optimized plan: signature agg,
        # bucket collect_set, pair distinct — a 4th means the shingle
        # distinct crept back in
        assert _optimized(df).count("Aggregate") == 3, _optimized(df)

    def test_q9_dims_broadcast_no_sort_merge(self, spark, sf_small):
        # part/supplier/nation must broadcast onto lineitem; at fixture
        # scale the size-gated orders side broadcasts too, so no
        # sort-merge join (at cluster scale the gate declines and the
        # orders join shuffles on the shared orderkey)
        plan = _plan(QUERIES["q9_profit_by_nation_year"](spark, sf_small))
        assert plan.count("BroadcastHashJoin") >= 3, plan
        assert "SortMergeJoin" not in plan, plan

    def test_q12_single_shuffle_at_gate_scale(self, spark, sf_small):
        plan = _plan(QUERIES["q12_priority_by_returnflag"](spark, sf_small))
        assert "SortMergeJoin" not in plan, plan
        # one shuffle: the final aggregate exchange (orders broadcast)
        assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1, plan

    def test_simhash_pairs_single_scan(self, spark, sf_small):
        # same shape bar as the MinHash pins: bucket expansion, not a
        # self-join re-executing the signature pipeline per side
        df = QUERIES["docs_simhash_neardup_pairs"](spark, sf_small)
        plan = _plan(df)
        assert plan.count("FileScan") == 1, plan
        assert "CartesianProduct" not in plan, plan

    def test_session_window_no_window_sort_pass(self, spark, sf_small):
        # native session_window merges inside the aggregation — there
        # must be no window-function (per-event sort) operator at all
        plan = _plan(QUERIES["events_session_window"](spark, sf_small))
        assert "Window" not in plan or "SessionWindow" in plan, plan
        assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2, plan

    def test_srp_signature_broadcast_matmul(self, spark, sf_small):
        # coefficient table must broadcast onto the exploded vector —
        # a shuffle join on the 64-row key would be a regression
        plan = _plan(QUERIES["embeddings_srp_signature"](spark, sf_small))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_pack_sequences_single_sharded_window(self, spark, sf_small):
        # one exchange on shard, one window pass — a global (unsharded)
        # cumsum would show a single-partition sort
        plan = _plan(QUERIES["docs_pack_sequences"](spark, sf_small))
        assert plan.count("Window") == 1, plan
        assert "SinglePartition" not in plan, plan

    def test_word_rarity_no_cartesian_two_aggregates(self, spark, sf_small):
        df = QUERIES["docs_word_rarity"](spark, sf_small)
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # r13: document frequency is a window count over the distinct
        # (doc, word) stream — no join (the join form had to broadcast
        # the vocabulary-sized count table back onto the stream)
        assert "Join" not in plan, plan
        assert plan.count("Window") == 1, plan

    def test_inverted_index_broadcast_dfreq_join(self, spark, sf_small):
        # r14 (VERDICT item 6 flip-point re-measurement): the window
        # form that r13 shipped measured slower than the join form at
        # sf0.1, x10 AND x40 (tools/bench_inverted_ab.py), so doc_freq
        # is a map-combined groupBy(term) aggregate broadcast onto the
        # head-20 frame again — never a cartesian / nested-loop shape
        plan = _plan(QUERIES["docs_inverted_index"](spark, sf_small))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert plan.count("BroadcastHashJoin") == 1, plan

    def test_jaccard_pairs_no_shingle_self_join(self, spark, sf_small):
        # r13: intersection counts come from bucket-grouping the
        # shingle stream once (collect_set + in-array pair expansion),
        # not a self-join whose sides re-execute the explode+distinct
        # subtree; the two remaining joins attach the per-doc sizes
        plan = _plan(QUERIES["docs_jaccard_pairs"](spark, sf_small))
        assert "CartesianProduct" not in plan, plan
        assert plan.count("Join") == 2, plan
        assert "ObjectHashAggregate" in plan, plan

    def test_exact_dedup_is_single_aggregate(self, spark, sf_small):
        plan = _plan(QUERIES["docs_exact_dedup"](spark, sf_small))
        assert plan.count("Exchange") == 1, plan

    def test_grouping_sets_single_expand_single_shuffle(self, spark, sf_small):
        # three grains in ONE pass: Expand + hash-aggregate, not a
        # union of three separate groupBys (which would triple-scan)
        df = QUERIES["grouping_sets_pricing"](spark, sf_small)
        plan = _plan(df)
        assert plan.count("Expand") == 1, plan
        assert plan.count("FileScan") == 1, plan

    def test_pivot_is_one_aggregate_pass(self, spark, sf_small):
        # explicit value list → no discovery pass: exactly one scan,
        # one exchange (on station) in the whole plan
        df = QUERIES["events_type_pivot"](spark, sf_small)
        plan = _plan(df)
        assert plan.count("FileScan") == 1, plan
        assert plan.count("Exchange") == 1, plan

    def test_setops_compile_to_semi_anti_joins(self, spark, sf_small):
        inter = _plan(QUERIES["stations_error_and_purchase"](spark, sf_small))
        assert "LeftSemi" in inter, inter
        exc = _plan(QUERIES["station_days_error_no_purchase"](spark, sf_small))
        assert "LeftAnti" in exc, exc

    def test_tfidf_broadcasts_corpus_count_no_cartesian(self, spark, sf_small):
        plan = _plan(QUERIES["docs_tfidf_top_terms"](spark, sf_small))
        # the 1-row corpus count joins via broadcast, not a real cross
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_fuzzy_pairs_block_join_not_cartesian(self, spark, sf_small):
        plan = _plan(QUERIES["parts_fuzzy_pairs"](spark, sf_small))
        # the blocking keys make it an equi self-join; levenshtein is a
        # post-join filter, never a join strategy fallback
        assert "CartesianProduct" not in plan, plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan, plan

    def test_neardup_pairs_ivf_blocked_not_all_pairs(self, spark, sf_small):
        # the PAIR join must be an equi join on centroid_id (pair space
        # Σ_b n_b², never corpus n²). The centroid-assignment crossJoin
        # (corpus × 8 broadcast centroids) is the only nested-loop
        # allowed, so count: exactly the two assignment expansions, and
        # at least one hash join carrying the centroid_id equi-key.
        df = QUERIES["embeddings_neardup_pairs"](spark, sf_small)
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        opt = _optimized(df)
        import re

        pair_joins = [l for l in opt.splitlines() if re.search(r"Join Inner.*id1.*id2", l)]
        assert pair_joins and all("centroid" in l or "blk" in l for l in pair_joins), opt

    def test_neardup_pairs_unblocked_requires_explicit_opt_in(self, spark, sf_small):
        # the O(n²) all-pairs mode is a scale-killer: the library
        # default must refuse it, and the recall-audit opt-in must
        # still work
        import pytest

        from iotdatapipeline_spark.analytics.similarity import neardup_pairs
        from iotdatapipeline_spark.sources import load_table as _lt

        emb = _lt(spark, sf_small, "embeddings")
        with pytest.raises(ValueError, match="allow_quadratic"):
            neardup_pairs(emb)
        assert neardup_pairs(emb, allow_quadratic=True).columns == ["id1", "id2", "cos_x1e6"]


class TestApproxDistinct:
    def test_approx_count_distinct_within_5pct_of_exact(self, spark, sf_small):
        ev = load_table(spark, sf_small, "events")
        row = ev.agg(
            F.count_distinct("event_type").alias("exact"),
            F.approx_count_distinct("event_type", 0.02).alias("approx"),
        ).first()
        assert abs(row.approx - row.exact) <= max(1, 0.05 * row.exact), row

    def test_registered_approx_percentiles_track_exact_per_station(self, spark, sf_small):
        exact = {r["station"]: r for r in QUERIES["cycle_time_percentiles"](spark, sf_small).collect()}
        approx = {r["station"]: r for r in QUERIES["cycle_time_approx_percentiles"](spark, sf_small).collect()}
        assert set(exact) == set(approx) and len(exact) > 0
        # rank-band check: the sketch returns a real order statistic,
        # exact interpolates — on ~40-row fixture groups a ±1-rank gap
        # can be a large VALUE gap in the tail, so assert the approx
        # quantile lands within a ±0.1 rank band of the exact CDF
        bands = {
            r["station"]: r
            for r in load_table(spark, sf_small, "events")
            .groupBy(F.col("user_id").alias("station"))
            .agg(
                *[
                    F.floor(F.percentile("value", q) * 1000).cast("long").alias(name)
                    for name, q in (
                        ("p40", 0.40), ("p60", 0.60), ("p85", 0.85), ("p89", 0.89), ("pmax", 1.0),
                    )
                ]
            )
            .collect()
        }
        for st, a in approx.items():
            b = bands[st]
            assert b["p40"] <= a["p50_x1000"] <= b["p60"], (st, "p50", a["p50_x1000"], dict(b.asDict()))
            assert b["p85"] <= a["p95_x1000"] <= b["pmax"], (st, "p95", a["p95_x1000"], dict(b.asDict()))
            assert b["p89"] <= a["p99_x1000"] <= b["pmax"], (st, "p99", a["p99_x1000"], dict(b.asDict()))

    def test_approx_percentile_within_tolerance_of_exact(self, spark, sf_small):
        ev = load_table(spark, sf_small, "events")
        row = ev.agg(
            F.percentile("value", 0.95).alias("exact"),
            F.percentile_approx("value", 0.95, 1000).alias("approx"),
        ).first()
        spread = ev.agg(F.max("value") - F.min("value")).first()[0]
        assert abs(row.approx - row.exact) <= 0.02 * spread, row


class TestSessionWindowEquivalence:
    def test_native_session_window_matches_gap_formulation(self, spark, sf_small):
        """The registered sessionization counts sessions via lag-gap;
        Spark's native session_window must agree on session counts per
        station (same 1 h inactivity gap) — pinning the two
        formulations to each other."""
        from iotdatapipeline_spark.plans import QUERIES

        gap_based = (
            QUERIES["events_sessionization"](spark, sf_small)
            .select("station", "n_sessions")
        )
        ev = load_table(spark, sf_small, "events")
        native = (
            ev.groupBy(F.col("user_id").alias("station"), F.session_window("ts", "1 hour"))
            .count()
            .groupBy("station")
            .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        )
        assert gap_based.exceptAll(native).count() == 0
        assert native.exceptAll(gap_based).count() == 0


class TestRegistryContract:
    def test_every_query_callable_and_oracle_paired(self):
        assert len(QUERIES) >= 44
        # every registered query has a DuckDB oracle — including the
        # reference-mode state machine (recursive CTE) and the sketch
        # estimators (md5/integer-reproducible constructions).
        # r5: the sketch queries were reformulated md5/integer-
        # reproducible, so the exception set is EMPTY — every query in
        # the registry carries a DuckDB oracle
        unpaired = [n for n in QUERIES if n not in ORACLE]
        assert unpaired == [], unpaired

    def test_plans_md_not_stale(self):
        """r11 verdict #2: PLANS.md is the judge's anti-pattern gate —
        it must never silently lag the registry. The footer's plan
        count must equal len(QUERIES); after registering a query,
        regenerate with `python tools/plan_audit.py --md > PLANS.md`."""
        import os
        import re

        path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLANS.md")
        with open(path) as fh:
            text = fh.read()
        m = re.search(r"^(\d+) plans; (\d+) flagged", text, re.M)
        assert m, "PLANS.md missing its 'N plans; M flagged' footer"
        assert int(m.group(1)) == len(QUERIES), (
            f"PLANS.md is stale: {m.group(1)} plans vs {len(QUERIES)} registered "
            "queries — run `python tools/plan_audit.py --md > PLANS.md`"
        )
        assert int(m.group(2)) == 0, "PLANS.md records flagged plans"

    def test_oracle_sql_references_only_fixture_tables(self):
        import re

        fixture = {
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        }
        for name, sql in ORACLE.items():
            tables = set(re.findall(r"(?:FROM|JOIN)\s+([a-z_]+)", sql))
            unknown = tables - fixture - {"e", "c", "q", "p", "d", "r", "m", "sh", "ws",
                                          "pos", "bands", "b", "a", "s", "w", "sizes",
                                          "inter", "s1", "s2", "rowhash", "agg", "mult",
                                          "readings", "ex", "probes", "assign", "cp",
                                          "cd", "qdist", "qp", "ad", "ap", "g", "e2",
                                          "generate_series"}
            leftover = {t for t in unknown if not t.islower() or len(t) > 12}
            assert not leftover, f"{name}: suspicious tables {leftover}"


def _cartesian_or_rowwise_python(spark, sf_dir, names) -> dict[str, list[str]]:
    """The queries among ``names`` whose plan holds a CartesianProduct
    (unbounded n×m blowup) or BatchEvalPython (row-at-a-time Python UDF
    — the 10-100× slow path vs Arrow), with what each holds. Pandas/Arrow
    UDFs (ArrowEvalPython, MapInPandas, FlatMap*) and 1-row
    BroadcastNestedLoopJoin scalars remain allowed."""
    bad = {}
    for name in names:
        plan = _plan(QUERIES[name](spark, sf_dir))
        flags = [f for f in ("CartesianProduct", "BatchEvalPython") if f in plan]
        if flags:
            bad[name] = flags
    return bad


class TestGlobalPlanAudit:
    def test_no_query_uses_cartesian_or_rowwise_python(self, spark, sf_small):
        """Registry-wide scale gate over every registered query,
        including future ones."""
        bad = _cartesian_or_rowwise_python(spark, sf_small, sorted(QUERIES))
        assert not bad, bad


class TestHeadlinePlanAudit:
    def test_headline_uses_no_cartesian_or_rowwise_python(self, spark, sf_small):
        """The registry-wide audit's check over the sf0.1 headline set
        (``bench.HEADLINE`` minus ``embeddings_pq_index_topk``, which
        materializes its index outside the working tree), at the scale
        the headline runs: a cheap default-run sibling of the slow
        registry-wide sweep."""
        import os

        import bench

        names = [n for n in bench.HEADLINE if n != "embeddings_pq_index_topk"]
        assert len(names) == 9
        sf_headline = os.path.join(os.path.dirname(sf_small), "sf0.1")
        bad = _cartesian_or_rowwise_python(spark, sf_headline, names)
        assert not bad, bad


class TestRankProfile:
    def test_three_rank_functions_share_one_window_pass(self, spark, sf_small):
        df = QUERIES["station_value_rank_profile"](spark, sf_small)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert plan.count("Window") == 1, plan


class TestSessionizationShuffleReuse:
    def test_single_exchange_window_feeds_groupby(self, spark, sf_small):
        """The lag window and the per-station aggregate share one
        user_id hash exchange — renaming the key between them would
        mint a fresh attribute and force a second full shuffle of the
        fact (the regression this pin guards)."""
        plan = (
            QUERIES["events_sessionization"](spark, sf_small)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 1, plan


class TestPQIndex:
    def test_matches_fresh_train_and_is_steady_state(self, spark, sf_small):
        """embeddings_pq_index_topk: the materialized-index search must
        reproduce the retrain-per-query gate bit-for-bit (training is
        deterministic, so stored codebooks/codes ARE what training
        produces), a second call must reuse the version-1 tables, and
        the steady-state plan must be index-scan-shaped: no kmeans
        retraining (bounded exchange count vs the 11-exchange retrain
        plan) and scans over the index root, not repeated corpus
        passes."""
        import os
        import shutil

        from iotdatapipeline_spark.sources.versioned import VersionedTable

        shutil.rmtree("/tmp/sparkgraft_pqindex", ignore_errors=True)

        got = {tuple(r) for r in QUERIES["embeddings_pq_index_topk"](spark, sf_small).collect()}
        want = {tuple(r) for r in QUERIES["embeddings_pq_topk"](spark, sf_small).collect()}
        assert got == want and got

        df = QUERIES["embeddings_pq_index_topk"](spark, sf_small)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 4, plan
        assert "sparkgraft_pqindex" in plan
        # one index materialized, version-1-once across both calls
        roots = os.listdir("/tmp/sparkgraft_pqindex")
        assert len(roots) == 1
        for sub in ("cents", "cbs", "codes"):
            t = VersionedTable(spark, f"/tmp/sparkgraft_pqindex/{roots[0]}/{sub}")
            assert t.version() == 1, sub

    def test_ivfpq_index_matches_live_composition(self, spark, sf_small):
        """embeddings_ivfpq_index_topk: the stored inverted file +
        packed codes must reproduce the live-composed IVFPQ gate
        bit-for-bit, the ivf table must share the PQ index root and be
        version-1-once, and the candidate-restricted plan must stay
        index-shaped (bounded exchanges, no corpus re-assignment)."""
        import os

        from iotdatapipeline_spark.sources.versioned import VersionedTable

        got = {
            tuple(r) for r in QUERIES["embeddings_ivfpq_index_topk"](spark, sf_small).collect()
        }
        want = {tuple(r) for r in QUERIES["embeddings_ivfpq_topk"](spark, sf_small).collect()}
        assert got == want and got

        df = QUERIES["embeddings_ivfpq_index_topk"](spark, sf_small)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 6, plan
        assert "sparkgraft_pqindex" in plan
        roots = os.listdir("/tmp/sparkgraft_pqindex")
        assert len(roots) == 1
        t = VersionedTable(spark, f"/tmp/sparkgraft_pqindex/{roots[0]}/ivf")
        assert t.version() == 1

    def test_packed_search_equals_long_format_search(self, spark, sf_small):
        """pq_adc_search_packed (row-local fold over packed codes) and
        pq_adc_search (long-format broadcast LUT join) are two physical
        plans for the same ADC math — results must be identical."""
        from iotdatapipeline_spark.analytics.similarity import (
            pq_adc_search,
            pq_adc_search_packed,
            pq_codebooks,
            pq_encode,
            pq_pack_codebooks,
            pq_pack_codes,
        )
        from iotdatapipeline_spark.sources import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_small, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        sub, cents = pq_codebooks(emb, m=4, ksub=8, iters=2)
        codes = pq_encode(sub, cents)
        long_form = {
            tuple(r) for r in pq_adc_search(codes, cents, queries, k=3, m=4).collect()
        }
        packed = {
            tuple(r)
            for r in pq_adc_search_packed(
                pq_pack_codes(codes), pq_pack_codebooks(cents), queries, k=3, m=4, ksub=8
            ).collect()
        }
        assert packed == long_form and packed


class TestPropsShredded:
    def test_matches_reparse_path_and_is_scan_only(self, spark, sf_small):
        """events_props_shredded: the parse-once ingest must reproduce
        the re-parse-every-query gate bit-for-bit (including the
        injected truncation rows surviving as n_bad), the steady-state
        plan must contain NO json/variant expression (the parse
        happened at ingest), and a second call must reuse version 1."""
        import os
        import shutil

        from iotdatapipeline_spark.sources.versioned import VersionedTable

        shutil.rmtree("/tmp/sparkgraft_shredded", ignore_errors=True)

        got = {tuple(r) for r in QUERIES["events_props_shredded"](spark, sf_small).collect()}
        want = {tuple(r) for r in QUERIES["events_props_variant"](spark, sf_small).collect()}
        assert got == want and got

        df = QUERIES["events_props_shredded"](spark, sf_small)
        plan = df._jdf.queryExecution().executedPlan().toString().lower()
        assert "parse_json" not in plan and "variant" not in plan, plan
        # exactly one table materialized, version-1-once across both calls
        roots = os.listdir("/tmp/sparkgraft_shredded")
        assert len(roots) == 1
        assert VersionedTable(spark, f"/tmp/sparkgraft_shredded/{roots[0]}").version() == 1


class TestSemanticNeardupEdges:
    def test_shingleless_ids_drop_on_both_sides(self, spark, tmp_path):
        """docs_semantic_neardup on a fixture where one IVF bucket holds
        every candidate pair and some ids have no documents row (no
        shingles) on the id1 side, the id2 side, or both. Pairs touching
        such an id drop whichever side it is on, as in the DuckDB
        oracle's two sizes joins; empty and NULL texts keep their pairs."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from iotdatapipeline_spark.plans.analytics import (
            _semantic_neardup_plan,
            _semantic_neardup_sql,
        )

        # vec_id < 8 are the IVF centroids: 8 far-apart axis directions;
        # ids 8..15 sit near centroid 0, so bucket 0 = {0, 8..15}
        axes = [[0.0] * 4 for _ in range(8)]
        for i in range(8):
            axes[i][i // 2] = 1.0 if i % 2 == 0 else -1.0
        vecs = axes + [[1.0, 0.01 * i, 0.02 * (i % 3), 0.0] for i in range(1, 9)]
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(16), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * 16, pa.int32()),
            }),
            tmp_path / "embeddings.parquet",
        )
        texts = {i: f"the quick brown fox jumps over dog {i % 3}" for i in range(16)}
        for missing in (0, 11, 15):  # smallest, middle and largest bucket id
            del texts[missing]
        texts[9] = ""
        texts[10] = None
        ids = sorted(texts)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids], pa.string()),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["web"] * len(ids)),
                "n_chars": pa.array([len(texts[i] or "") for i in ids], pa.int64()),
            }),
            tmp_path / "documents.parquet",
        )

        cols = ("id1", "id2", "jaccard_x1000", "lexical_confirmed")
        got = {
            tuple(r)
            for r in _semantic_neardup_plan(spark, str(tmp_path), 8).select(*cols).collect()
        }
        con = duckdb.connect()
        for t in ("embeddings", "documents"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path / t}.parquet'")
        sel = ", ".join(cols)
        want = set(con.sql(f"SELECT {sel} FROM ({_semantic_neardup_sql(8)})").fetchall())

        assert want and got == want
        touched = {i for pair in got for i in pair[:2]}
        assert not touched & {0, 11, 15}
        assert {9, 10} <= touched


class TestHeadlineNoCheckpoint:
    def test_headline_plans_hold_no_checkpoint(self, spark, sf_small):
        """``bench.py`` times repeated actions on ONE DataFrame object
        per headline query: a checkpoint in its plan would be computed
        by the first rep and reused by every later one, so no headline
        plan may hold a ``LogicalRDD``/``ExistingRDD`` node."""
        import re

        import bench

        names = [n for n in bench.HEADLINE if n in QUERIES]
        assert len(names) == len(bench.HEADLINE)
        dirty = {}
        for n in names:
            analyzed = QUERIES[n](spark, sf_small)._jdf.queryExecution().analyzed().toString()
            found = set(re.findall(r"\b(?:LogicalRDD|ExistingRDD)\b", analyzed))
            if found:
                dirty[n] = sorted(found)
        assert dirty == {}
