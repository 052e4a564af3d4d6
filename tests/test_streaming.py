"""Streaming layer tests (SURVEY.md §5.3): the stateful op must agree
with the batch window formulation ('row' mode) and with a direct
transcription of the reference's state machine ('reference' mode)."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from iotdatapipeline_spark.operators import production_rollup
from iotdatapipeline_spark.sources import load_table
from iotdatapipeline_spark.streaming import (
    Supervisor,
    config_fingerprints,
    counter_state_machine,
    latest_per_key,
    make_state_fn,
    readings_stream,
    run_pipeline,
    stage_replay_chunks,
)


def _readings(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("station"),
        F.col("event_type").alias("part"),
        F.col("ts"),
        F.col("event_id"),
        F.col("value"),
        F.floor(F.col("value") * 100).cast("long").alias("counter"),
    )


class FakeGroupState:
    """Minimal stand-in for pyspark GroupState (unit tests only)."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms

    def setTimeoutTimestamp(self, ts_ms):
        self.timeout_timestamp_ms = ts_ms

    def getCurrentWatermarkMs(self):
        return getattr(self, "watermark_ms", 0)


def _mk_pdf(rows):
    return pd.DataFrame(
        rows, columns=["station", "part", "ts", "event_id", "value", "counter"]
    )


class TestStateFnUnit:
    def test_monotone_counter_emits_deltas(self):
        fn = make_state_fn("reference")
        st = FakeGroupState()
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
        rows = [(1, "p", t0 + dt.timedelta(seconds=i), i, 0.0, c) for i, c in enumerate([10, 12, 15])]
        out = list(fn((1, "p"), iter([_mk_pdf(rows)]), st))
        df = pd.concat(out)
        assert list(df["delta"]) == [2, 3]  # first row is admission
        assert list(df["qty_running"]) == [12, 15]

    def test_prev_updates_only_on_emit(self):
        # 10, 5, 8: reference never emits (8 < prev 10); lag-batch would emit 3
        fn = make_state_fn("reference")
        st = FakeGroupState()
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
        rows = [(1, "p", t0 + dt.timedelta(seconds=i), i, 0.0, c) for i, c in enumerate([10, 5, 8])]
        out = list(fn((1, "p"), iter([_mk_pdf(rows)]), st))
        assert out == []

    def test_row_mode_matches_lag_semantics(self):
        fn = make_state_fn("row")
        st = FakeGroupState()
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
        rows = [(1, "p", t0 + dt.timedelta(seconds=i), i, 0.0, c) for i, c in enumerate([10, 5, 8])]
        out = list(fn((1, "p"), iter([_mk_pdf(rows)]), st))
        df = pd.concat(out)
        assert list(df["delta"]) == [3]  # 8 > prev-row 5

    def test_shift_boundary_equal_counter_emits(self):
        fn = make_state_fn("reference")
        st = FakeGroupState()
        rows = [
            (1, "p", dt.datetime(2024, 1, 1, 7, 50), 0, 0.0, 100),
            (1, "p", dt.datetime(2024, 1, 1, 8, 5), 1, 0.0, 100),  # cambio, cnt == prev
        ]
        out = list(fn((1, "p"), iter([_mk_pdf(rows)]), st))
        df = pd.concat(out)
        assert list(df["shift_change"]) == [True]
        assert list(df["delta"]) == [0]
        assert list(df["qty_running"]) == [0]  # rebased: cnt - base(=prev)
        assert list(df["shift_id"]) == [1]

    def test_state_persists_across_batches(self):
        fn = make_state_fn("reference")
        st = FakeGroupState()
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
        b1 = [(1, "p", t0, 0, 0.0, 10)]
        b2 = [(1, "p", t0 + dt.timedelta(minutes=1), 1, 0.0, 14)]
        assert list(fn((1, "p"), iter([_mk_pdf(b1)]), st)) == []
        out = pd.concat(list(fn((1, "p"), iter([_mk_pdf(b2)]), st)))
        assert list(out["delta"]) == [4]

    def test_timeout_emits_limpieza(self):
        fn = make_state_fn("reference", timeout_ms=1000)
        st = FakeGroupState(value=(10, None, 0, 0, True), timed_out=True)
        out = pd.concat(list(fn((1, "p"), iter([]), st)))
        assert list(out["row_kind"]) == ["limpieza"]
        assert st.removed

    def test_event_timeout_deadline_is_max_ts_plus_gap(self):
        # event mode arms the timer at (key's max event ms + gap)
        fn = make_state_fn("row", timeout_ms=3_600_000, timeout_mode="event")
        st = FakeGroupState()
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0, tzinfo=dt.timezone.utc)
        rows = [(1, "p", pd.Timestamp(t0) + pd.Timedelta(seconds=i), i, 0.0, c)
                for i, c in enumerate([10, 12])]
        list(fn((1, "p"), iter([_mk_pdf(rows)]), st))
        max_ms = int(pd.Timestamp(t0).value // 1_000_000) + 1_000
        assert st.timeout_timestamp_ms == max_ms + 3_600_000

    def test_event_timeout_deadline_never_before_watermark(self):
        fn = make_state_fn("row", timeout_ms=10, timeout_mode="event")
        st = FakeGroupState()
        st.watermark_ms = 10**15  # watermark far ahead of the key's data
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0, tzinfo=dt.timezone.utc)
        rows = [(1, "p", pd.Timestamp(t0), 0, 0.0, 10)]
        list(fn((1, "p"), iter([_mk_pdf(rows)]), st))
        assert st.timeout_timestamp_ms == 10**15 + 1

    def test_event_timeout_deadline_never_regresses_on_late_batch(self):
        """A late-but-watermark-valid batch with older timestamps must
        not pull the silence deadline below data already seen — the
        lifetime max lives in state (6th field), not the batch."""
        fn = make_state_fn("row", timeout_ms=3_600_000, timeout_mode="event")
        st = FakeGroupState()
        t0 = pd.Timestamp(dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc))
        list(fn((1, "p"), iter([_mk_pdf([(1, "p", t0, 0, 0.0, 10)])]), st))
        deadline_1 = st.timeout_timestamp_ms
        late = t0 - pd.Timedelta(minutes=50)  # older event time
        list(fn((1, "p"), iter([_mk_pdf([(1, "p", late, 1, 0.0, 11)])]), st))
        assert st.timeout_timestamp_ms == deadline_1  # not regressed
        assert st.get[5] == int(t0.value) // 1_000_000

    def test_event_timeout_fire_emits_limpieza_and_removes(self):
        fn = make_state_fn("row", timeout_ms=3_600_000, timeout_mode="event")
        st = FakeGroupState(value=(10, None, 0, 0, True), timed_out=True)
        out = pd.concat(list(fn((1, "p"), iter([]), st)))
        assert list(out["row_kind"]) == ["limpieza"]
        assert st.removed


class TestReferenceSimulatorParity:
    """'reference' mode vs an independent pure-Python simulation of the
    Prensas state machine over real fixture data."""

    def _simulate(self, rows):
        state = {}
        out = []
        for station, part, ts, event_id, counter in rows:
            key = (station, part)
            tod = ts.hour * 3600 + ts.minute * 60 + ts.second
            if key not in state:
                state[key] = {"prev": counter, "base": None, "tod": tod}
                continue
            s = state[key]
            cambio = (s["tod"] < 28800 <= tod) or (s["tod"] < 57600 <= tod)
            if counter > s["prev"] or (cambio and counter >= s["prev"]):
                if cambio:
                    s["base"] = s["prev"]
                out.append((station, part, event_id, counter - s["prev"], counter - (s["base"] or 0)))
                s["prev"], s["tod"] = counter, tod
        return sorted(out)

    def test_fixture_parity(self, spark, sf_small):
        readings = _readings(spark, sf_small)
        rows = [
            (r["station"], r["part"], r["ts"], r["event_id"], r["counter"])
            for r in readings.orderBy("ts", "event_id").collect()
        ]
        expected = self._simulate(rows)

        fn = make_state_fn("reference")
        states: dict = {}
        got = []
        by_key: dict = {}
        for station, part, ts, event_id, counter in rows:
            by_key.setdefault((station, part), []).append((station, part, ts, event_id, 0.0, counter))
        for key, krows in by_key.items():
            st = FakeGroupState()
            outs = list(fn(key, iter([_mk_pdf(krows)]), st))
            for df in outs:
                for r in df.itertuples(index=False):
                    got.append((r.station, r.part, None, r.delta, r.qty_running))
        # compare multisets of (station, part, delta, qty_running)
        a = sorted((s, p, d, q) for s, p, _, d, q in expected)
        b = sorted((s, p, d, q) for s, p, _, d, q in got)
        assert a == b
        assert len(a) > 0


@pytest.mark.slow
class TestEndToEndStreaming:
    def test_stream_matches_batch_rollup(self, spark, sf_small, tmp_path):
        replay = stage_replay_chunks(spark, sf_small, str(tmp_path / "replay"), n_chunks=7)
        q = run_pipeline(
            spark,
            replay,
            checkpoint_dir=str(tmp_path / "ckpt"),
            records_path=str(tmp_path / "records"),
            history_path=str(tmp_path / "history"),
            emit_mode="row",
            available_now=True,
        )
        q.awaitTermination(300)
        history = spark.read.parquet(str(tmp_path / "history"))
        got = (
            history.filter(F.col("row_kind") == "update")
            .groupBy("station", "part", "plan_date", "shift_id")
            .agg(F.sum("delta").alias("qty_raw"), F.count(F.lit(1)).alias("emit_count"))
        )
        expected = production_rollup(_readings(spark, sf_small), order_cols=("event_id",)).select(
            "station", "part", "plan_date", "shift_id", "qty_raw", "emit_count"
        )
        diff1 = got.exceptAll(expected).count()
        diff2 = expected.exceptAll(got).count()
        assert (diff1, diff2) == (0, 0)
        assert expected.count() > 0

        # K1 upsert result: one record per (station, part, plan_date, shift)
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        records = VersionedTable(spark, str(tmp_path / "records")).snapshot()
        n_rec = records.count()
        n_keys = records.select("station", "part", "plan_date", "shift_id").distinct().count()
        assert n_rec == n_keys

        # K6/K7 observability: observed metrics over all progress
        # events must account for every emitted update row
        total_observed = sum(
            p.observedMetrics["pipeline_metrics"]["n_updates"]
            for p in q.recentProgress
            if "pipeline_metrics" in p.observedMetrics
        )
        n_updates_written = history.filter(F.col("row_kind") == "update").count()
        assert total_observed == n_updates_written

    def test_production_configuration_end_to_end(self, spark, sf_small, tmp_path):
        """The full production shape in one run: replay → T4 machine
        with EVENT-TIME silence timeouts → fan-out into the
        transactional record table (txn-exactly-once MERGE per batch)
        + history + limpieza route. Asserts (1) the versioned record
        snapshot is keyed uniquely and equals the per-key latest of
        the history, (2) silence fired limpieza rows, (3) the table
        history is one clustered create plus per-batch merges."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        replay = stage_replay_chunks(spark, sf_small, str(tmp_path / "replay"), n_chunks=6)
        q = run_pipeline(
            spark,
            replay,
            checkpoint_dir=str(tmp_path / "ckpt"),
            records_path=str(tmp_path / "records"),
            history_path=str(tmp_path / "history"),
            limpieza_path=str(tmp_path / "limpieza"),
            emit_mode="row",
            timeout_ms=3_600_000,
            timeout_mode="event",
            available_now=True,
        )
        q.awaitTermination(300)
        table = VersionedTable(spark, str(tmp_path / "records"))
        records = table.snapshot()
        keys = ["station", "part", "plan_date", "shift_id"]
        assert records.count() == records.select(*keys).distinct().count()
        history = spark.read.parquet(str(tmp_path / "history"))
        from iotdatapipeline_spark.streaming.sinks import latest_per_key

        expected = latest_per_key(
            history.filter(F.col("row_kind") == "update").drop("__batch_id"),
            keys,
            ("ts", "counter"),
        )
        assert records.exceptAll(expected.select(*records.columns)).count() == 0
        assert expected.exceptAll(records.select(*expected.columns)).count() == 0
        # silence detection actually fired through the limpieza route
        limp = spark.read.parquet(str(tmp_path / "limpieza"))
        assert limp.count() > 0
        # table protocol: clustered create, then only merges
        ops = [m["op"] for m in table.history()]
        assert ops[0] == "create" and set(ops[1:]) <= {"merge:update"}
        assert table._read_manifest(1)["cluster_by"] == keys

    def test_checkpoint_recovery_resumes_state_exactly(self, spark, sf_small, tmp_path):
        """Stop/restart correctness: drain HALF the replay, let the
        query terminate, then deliver the rest against the SAME
        checkpoint. The restored run must resume the per-key counter
        state (not re-emit, not re-base), so the union of both runs'
        history equals the single-pass batch roll-up exactly."""
        import shutil

        staged = stage_replay_chunks(spark, sf_small, str(tmp_path / "staged"), n_chunks=6)
        live = str(tmp_path / "replay")
        os.makedirs(live)
        chunks = sorted(os.listdir(staged))

        def deliver(name: str, order: int) -> None:
            # FileStreamSource orders new files by MODIFICATION TIME;
            # sub-millisecond copies tie nondeterministically, so give
            # each chunk an explicit, strictly increasing mtime
            dst = os.path.join(live, name)
            shutil.copy(os.path.join(staged, name), dst)
            os.utime(dst, (1_700_000_000 + order, 1_700_000_000 + order))

        for i, c in enumerate(chunks[:3]):
            deliver(c, i)
        kwargs = dict(
            checkpoint_dir=str(tmp_path / "ckpt"),
            records_path=str(tmp_path / "records"),
            history_path=str(tmp_path / "history"),
            emit_mode="row",
            available_now=True,
        )
        q1 = run_pipeline(spark, live, **kwargs)
        q1.awaitTermination(300)
        mid_emits = spark.read.parquet(str(tmp_path / "history")).count()
        assert mid_emits > 0
        for i, c in enumerate(chunks[3:]):
            deliver(c, 3 + i)
        q2 = run_pipeline(spark, live, **kwargs)  # same checkpoint → resume
        q2.awaitTermination(300)

        history = spark.read.parquet(str(tmp_path / "history"))
        assert history.count() > mid_emits  # second run added, not rewrote
        got = (
            history.filter(F.col("row_kind") == "update")
            .groupBy("station", "part", "plan_date", "shift_id")
            .agg(F.sum("delta").alias("qty_raw"), F.count(F.lit(1)).alias("emit_count"))
        )
        expected = production_rollup(_readings(spark, sf_small), order_cols=("event_id",)).select(
            "station", "part", "plan_date", "shift_id", "qty_raw", "emit_count"
        )
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0


@pytest.mark.slow
class TestEventTimeWatermarks:
    """T6/T7 extensions: event-time windows + watermark and
    within-watermark dedup over the replay stream, verified
    batch-as-oracle-for-streaming (SURVEY.md §5.3)."""

    def test_windowed_agg_with_watermark_matches_batch(self, spark, sf_small, tmp_path):
        replay = stage_replay_chunks(spark, sf_small, str(tmp_path / "replay"), n_chunks=5)
        stream = readings_stream(spark, replay)
        windowed = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy("station", F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("counter").alias("counter_sum"))
            .select("station", F.col("w.start").alias("window_start"), "n_events", "counter_sum")
        )
        name = "wm_windowed_agg"
        q = (
            windowed.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.table(name)
        # append mode only emits windows the watermark has closed; every
        # emitted window must match the batch computation exactly, and
        # (replay is time-ordered) all but the last watermark-open
        # windows must have been emitted
        expected = (
            _readings(spark, sf_small)
            .groupBy("station", F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("counter").alias("counter_sum"))
            .select("station", F.col("w.start").alias("window_start"), "n_events", "counter_sum")
        )
        assert got.count() > 0
        assert got.exceptAll(expected).count() == 0
        missing = expected.exceptAll(got)
        max_emitted = got.agg(F.max("window_start")).first()[0]
        assert missing.filter(F.col("window_start") <= max_emitted).count() == 0

    def test_session_window_stream_matches_batch(self, spark, sf_small, tmp_path):
        """Streaming twin of events_session_window: the stateful
        session-merge aggregation over the replay stream must emit
        exactly the batch sessions for every watermark-closed session."""
        replay = stage_replay_chunks(spark, sf_small, str(tmp_path / "replay"), n_chunks=5)
        stream = readings_stream(spark, replay)

        def sessions(df):
            return (
                df.groupBy("station", F.session_window("ts", "1 hour").alias("w"))
                .agg(F.count(F.lit(1)).alias("n_events"))
                .select("station", F.col("w.start").alias("session_start"), "n_events")
            )

        name = "wm_session_window"
        q = (
            sessions(stream.withWatermark("ts", "10 minutes"))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.table(name)
        expected = sessions(_readings(spark, sf_small))
        assert got.count() > 0
        # every emitted session is a batch session; only sessions the
        # watermark had not yet closed at end-of-replay may be missing
        assert got.exceptAll(expected).count() == 0
        missing = expected.exceptAll(got)
        max_emitted = got.agg(F.max("session_start")).first()[0]
        assert missing.filter(F.col("session_start") <= max_emitted).count() == 0

    def test_drop_duplicates_within_watermark(self, spark, sf_small, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        replay = stage_replay_chunks(spark, sf_small, str(tmp_path / "replay"), n_chunks=3)
        # inject duplicates: re-write chunk 1's rows as an extra file
        # (same station/event_id — T7's duplicate-delivery scenario)
        dup = pq.read_table(f"{replay}/chunk_00001.parquet")
        pq.write_table(dup, f"{replay}/chunk_00001_dup.parquet")
        n_dups = dup.num_rows

        stream = readings_stream(spark, replay)
        deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
            ["station", "event_id"]
        )
        name = "wm_dedup"
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got_n = spark.table(name).count()
        base_n = _readings(spark, sf_small).count()
        assert n_dups > 0
        assert got_n == base_n  # every injected duplicate dropped

    def test_t7_gate_queries_nonvacuous(self, spark, sf_small):
        """The registered T7 gate queries must actually exercise their
        semantics on the fixture: the dedup gate sees MORE arrivals
        than it emits (duplicates dropped across micro-batches), and
        the late-window gate accounts for FEWER events than exist
        (late rows dropped + trailing windows never finalized). Their
        value-level correctness is oracle-checked by the driver gate /
        parity sweep; this pins that those checks aren't vacuous."""
        from iotdatapipeline_spark.plans.streams import (
            _T7_DUP_MOD,
            events_late_dedup,
            events_late_window,
        )

        base = _readings(spark, sf_small)
        n_base = base.count()
        n_dups = base.filter(F.col("event_id") % _T7_DUP_MOD == 0).count()
        assert n_dups > 0

        deduped = events_late_dedup(spark, sf_small)
        assert deduped.count() == n_base  # 1 row per event_id, dups gone

        windowed = events_late_window(spark, sf_small)
        accounted = windowed.agg(F.sum("n_events")).first()[0]
        assert 0 < accounted < n_base

    def test_stream_stream_interval_join_matches_batch(self, spark, sf_small, tmp_path):
        """Stream-stream inner join with an event-time interval
        condition: readings ⋈ config-push marks within the preceding
        10 minutes. Watermarks on BOTH sides bound the join state (the
        100 TB requirement — unbounded stream-stream state is a leak);
        with availableNow replay the result must equal the batch join
        exactly."""
        replay = stage_replay_chunks(spark, sf_small, str(tmp_path / "replay"), n_chunks=5)
        r = readings_stream(spark, replay).withWatermark("ts", "30 minutes")
        m = (
            readings_stream(spark, replay)
            .filter(F.col("event_id") % 17 == 0)
            .select(
                F.col("station").alias("m_station"),
                F.col("ts").alias("m_ts"),
                F.col("counter").alias("m_counter"),
            )
            .withWatermark("m_ts", "30 minutes")
        )
        cond = (
            (F.col("station") == F.col("m_station"))
            & (F.col("m_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("m_ts") <= F.col("ts"))
        )
        out = str(tmp_path / "ssj_out")
        q = (
            r.join(m, cond, "inner")
            .select("station", "event_id", "counter", "m_ts", "m_counter")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.read.parquet(out)

        readings = _readings(spark, sf_small)
        marks = readings.filter(F.col("event_id") % 17 == 0).select(
            F.col("station").alias("m_station"),
            F.col("ts").alias("m_ts"),
            F.col("counter").alias("m_counter"),
        )
        expected = readings.join(marks, cond, "inner").select(
            "station", "event_id", "counter", "m_ts", "m_counter"
        )
        assert expected.count() > 0
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0


class TestSinks:
    def test_append_is_idempotent_under_batch_retry(self, spark, tmp_path):
        """K3 exactly-once: replaying a micro-batch (same batch_id, as
        Spark does after a failure between sink write and offset
        commit) must NOT duplicate history rows; a new batch_id
        appends."""
        from iotdatapipeline_spark.streaming.sinks import append_foreach_batch, read_history

        path = str(tmp_path / "hist")
        sink = append_foreach_batch(path)
        b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        sink(b0, 0)
        sink(b0, 0)  # retry of the same batch
        assert read_history(spark, path).count() == 2
        sink(spark.createDataFrame([(3, "c")], "id int, v string"), 1)
        got = read_history(spark, path)
        assert got.count() == 3
        assert "__batch_id" not in got.columns

    def test_latest_per_key(self, spark):
        df = spark.createDataFrame(
            [(1, 5, "old"), (1, 9, "new"), (2, 3, "only")], "k int, ts int, v string"
        )
        out = {r["k"]: r["v"] for r in latest_per_key(df, ["k"], "ts").collect()}
        assert out == {1: "new", 2: "only"}

    def test_versioned_upsert_sink_commits_one_merge_per_batch(self, spark, tmp_path):
        """K1 against the transactional target: each micro-batch lands
        as one committed copy-on-write MERGE; the final snapshot is the
        per-key latest across batches and the manifest history shows
        create + one merge per subsequent batch."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import versioned_upsert_foreach_batch

        root = str(tmp_path / "vt")
        sink = versioned_upsert_foreach_batch(root, ["k"])
        sink(spark.createDataFrame([(1, 5, "a"), (2, 5, "b")], "k int, ts int, v string"), 0)
        sink(spark.createDataFrame([(2, 9, "b2"), (3, 9, "c")], "k int, ts int, v string"), 1)
        # within-batch last-write-wins before the merge
        sink(spark.createDataFrame([(3, 10, "mid"), (3, 11, "c2")], "k int, ts int, v string"), 2)
        table = VersionedTable(spark, root)
        got = {r["k"]: r["v"] for r in table.snapshot().collect()}
        assert got == {1: "a", 2: "b2", 3: "c2"}
        assert [m["op"] for m in table.history()] == [
            "create",
            "merge:update",
            "merge:update",
        ]
        # replayed micro-batch (same batch_id) is exactly-once: no new
        # version, same snapshot
        sink(spark.createDataFrame([(3, 11, "c2")], "k int, ts int, v string"), 2)
        assert table.version() == 3
        assert {r["k"]: r["v"] for r in table.snapshot().collect()} == got

    def test_versioned_upsert_sink_out_of_order_guard(self, spark, tmp_path):
        """r11: when_matched_condition through the streaming sink — a
        LATE batch (new batch_id, older ts) must not regress rows the
        live stream already advanced; its genuinely-new keys still
        insert."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import versioned_upsert_foreach_batch

        root = str(tmp_path / "vt_guard")
        sink = versioned_upsert_foreach_batch(
            root, ["k"], txn_app="g", when_matched_condition="s.ts > t.ts"
        )
        ddl = "k int, ts int, v string"
        sink(spark.createDataFrame([(1, 10, "live1"), (2, 20, "live2")], ddl), 0)
        # late backfill: older ts for k=1, fresh key k=3
        sink(spark.createDataFrame([(1, 5, "stale"), (3, 5, "new")], ddl), 1)
        t = VersionedTable(spark, root)
        got = {r["k"]: (r["ts"], r["v"]) for r in t.snapshot().collect()}
        assert got == {1: (10, "live1"), 2: (20, "live2"), 3: (5, "new")}
        # a genuinely newer batch still updates
        sink(spark.createDataFrame([(1, 99, "fresh")], ddl), 2)
        assert {
            r["k"]: r["v"] for r in t.snapshot().collect()
        } == {1: "fresh", 2: "live2", 3: "new"}

    def test_cdf_ivm_signed_deltas_and_group_removal(self, spark, tmp_path):
        """r11 IVM sink: signed deltas maintain (cnt, sum) per group;
        an update subtracts its preimage; a group emptied by deletes is
        removed; a replayed batch never double-counts."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_foreach_batch

        root = str(tmp_path / "ivm")
        ivm = cdf_ivm_foreach_batch(root, ["g"], ["x"])
        mk = lambda rows: spark.createDataFrame(rows, "g int, x long, _change_type string")
        ivm(mk([(1, 10, "insert"), (1, 20, "insert"), (2, 5, "insert")]), 0)
        t = VersionedTable(spark, root)
        got = {r["g"]: (r["cnt"], r["sum_x"]) for r in t.snapshot().collect()}
        assert got == {1: (2, 30), 2: (1, 5)}
        # update in group 1 (+5), delete empties group 2
        b1 = mk(
            [
                (1, 10, "update_preimage"),
                (1, 15, "update_postimage"),
                (2, 5, "delete"),
            ]
        )
        ivm(b1, 1)
        got = {r["g"]: (r["cnt"], r["sum_x"]) for r in t.snapshot().collect()}
        assert got == {1: (2, 35)}  # group 2 removed
        v = t.version()
        ivm(b1, 1)  # replay: exactly-once, no double subtraction
        assert t.version() == v
        assert {r["g"]: (r["cnt"], r["sum_x"]) for r in t.snapshot().collect()} == got

    def test_cdf_ivm_negative_count_fails_loudly(self, spark, tmp_path):
        """r12 advice: a maintained count going NEGATIVE can only mean
        a feed without preimages or a skipped batch — the sink must
        raise (not silently delete the group and mask the divergence),
        and the view must be left unmodified by the failed batch."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_foreach_batch

        root = str(tmp_path / "ivm_neg")
        ivm = cdf_ivm_foreach_batch(root, ["g"], ["x"])
        mk = lambda rows: spark.createDataFrame(rows, "g int, x long, _change_type string")
        ivm(mk([(1, 10, "insert")]), 0)
        t = VersionedTable(spark, root)
        v = t.version()
        # two deletes against a count of 1: the under-count a preimage-
        # less update feed produces
        with pytest.raises(ValueError, match="negative maintained count"):
            ivm(mk([(1, 10, "delete"), (1, 10, "delete")]), 1)
        assert t.version() == v
        assert {r["g"]: (r["cnt"], r["sum_x"]) for r in t.snapshot().collect()} == {1: (1, 10)}
        # an exact emptying still removes the group silently, and the
        # DELETE-ONLY batch records its txn: a replay is a clean no-op
        # (not a re-subtraction tripping the guard)
        ivm(mk([(1, 10, "delete")]), 2)
        assert t.snapshot().count() == 0
        v = t.version()
        ivm(mk([(1, 10, "delete")]), 2)
        assert t.version() == v and t.snapshot().count() == 0

    def test_cdf_ivm_minmax_repairs_extremes(self, spark, tmp_path):
        """r12 IVM tier 2: MIN/MAX maintained incrementally where
        exact, repaired from the source AS OF the batch version where
        a deleted value held the extreme; counts drive group removal;
        replays are exactly-once; the view always equals the direct
        aggregate of the source snapshot."""
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_minmax_foreach_batch

        src_root = str(tmp_path / "mm_src")
        src = VersionedTable(spark, src_root)
        rows = [Row(id=i, g=i % 3, x=10 + i) for i in range(12)]  # g:0,1,2
        src.create(spark.createDataFrame(rows), cluster_by=["g"])
        ivm = cdf_ivm_minmax_foreach_batch(
            str(tmp_path / "mm_view"), src_root, ["g"], min_cols=["x"], max_cols=["x"]
        )

        def feed(lo, hi):
            return src.changes(lo, hi, keys=["id"], include_preimages=True).withColumn(
                "_commit_version", F.lit(hi).cast("long")
            )

        seed = src.snapshot(1).withColumns(
            {"_change_type": F.lit("insert"), "_commit_version": F.lit(1).cast("long")}
        )
        ivm(seed, 0)
        view = VersionedTable(spark, str(tmp_path / "mm_view"))

        def check():
            got = {
                r["g"]: (r["cnt"], r["min_x"], r["max_x"])
                for r in view.snapshot().collect()
            }
            exp = {
                r["g"]: (r["cnt"], r["mn"], r["mx"])
                for r in src.snapshot()
                .groupBy("g")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("cnt"),
                    F.min("x").alias("mn"),
                    F.max("x").alias("mx"),
                )
                .collect()
            }
            assert got == exp

        check()
        # delete the row holding g=0's MIN (id=0, x=10): repair path
        src.delete_matching(spark.createDataFrame([Row(id=0)]), ["id"])
        ivm(feed(1, src.version()), 1)
        check()
        # update the row holding g=1's MAX downward (id=10, x=20 -> 5):
        # both a max repair (20 left) and a min change (5 arrives)
        v0 = src.version()
        src.merge_into(spark.createDataFrame([Row(id=10, g=1, x=5)]), ["id"])
        ivm(feed(v0, src.version()), 2)
        check()
        # non-extreme delete: incremental path (no repair needed)
        v0 = src.version()
        src.delete_matching(spark.createDataFrame([Row(id=4)]), ["id"])  # g=1, x=14
        ivm(feed(v0, src.version()), 3)
        check()
        # empty a whole group -> removed from the view
        v0 = src.version()
        src.delete_where("g >= 2 AND g <= 2")
        ivm(feed(v0, src.version()), 4)
        check()
        assert view.snapshot().filter(F.col("g") == 2).count() == 0
        # replay: exactly-once
        vv = view.version()
        ivm(feed(v0, src.version()), 4)
        assert view.version() == vv
        check()

    def test_cdf_ivm_minmax_new_group_intra_batch_delete(self, spark, tmp_path):
        """A brand-new group whose batch both inserts and deletes: the
        insert-side min would be wrong (the deleted value), so the sink
        must repair from the source version."""
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_minmax_foreach_batch

        src_root = str(tmp_path / "mm2_src")
        src = VersionedTable(spark, src_root)
        src.create(
            spark.createDataFrame([Row(id=1, g=1, x=100)]), cluster_by=["g"]
        )
        src.merge_into(
            spark.createDataFrame([Row(id=2, g=7, x=1), Row(id=3, g=7, x=5)]), ["id"]
        )
        src.delete_matching(spark.createDataFrame([Row(id=2)]), ["id"])  # x=1 gone
        ivm = cdf_ivm_minmax_foreach_batch(
            str(tmp_path / "mm2_view"), src_root, ["g"], min_cols=["x"]
        )
        seed = src.snapshot(1).withColumns(
            {"_change_type": F.lit("insert"), "_commit_version": F.lit(1).cast("long")}
        )
        ivm(seed, 0)
        # one batch spanning BOTH commits: g=7 nets to one row (x=5)
        batch = src.changes(1, 3, keys=["id"], include_preimages=True).withColumn(
            "_commit_version", F.lit(3).cast("long")
        )
        ivm(batch, 1)
        view = VersionedTable(spark, str(tmp_path / "mm2_view"))
        got = {r["g"]: (r["cnt"], r["min_x"]) for r in view.snapshot().collect()}
        assert got == {1: (1, 100), 7: (1, 5)}

    def test_cdf_ivm_minmax_guards(self, spark, tmp_path):
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_minmax_foreach_batch

        src_root = str(tmp_path / "mm3_src")
        src = VersionedTable(spark, src_root)
        src.create(spark.createDataFrame([Row(id=1, g=1, x=2)]), cluster_by=["g"])
        ivm = cdf_ivm_minmax_foreach_batch(
            str(tmp_path / "mm3_view"), src_root, ["g"], min_cols=["x"]
        )
        no_ver = spark.createDataFrame(
            [(1, 2, "insert")], "g int, x int, _change_type string"
        )
        with pytest.raises(ValueError, match="_commit_version"):
            ivm(no_ver, 0)
        seed = src.snapshot(1).withColumns(
            {"_change_type": F.lit("insert"), "_commit_version": F.lit(1).cast("long")}
        )
        ivm(seed, 0)
        bad = spark.createDataFrame(
            [(1, 2, "delete", 2), (1, 2, "delete", 2)],
            "g int, x int, _change_type string, _commit_version long",
        )
        with pytest.raises(ValueError, match="negative maintained count"):
            ivm(bad, 1)
        with pytest.raises(ValueError, match="min_cols or max_cols"):
            cdf_ivm_minmax_foreach_batch(str(tmp_path / "v"), src_root, ["g"])

    def test_cdf_ivm_join_view_maintenance(self, spark, tmp_path):
        """r12 IVM tier 2, join views: V = A ⋈ B maintained by the
        delta-join expansion (ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB) — fact
        updates/inserts/deletes, dim payload refreshes (every pair of
        the station refreshes), dim deletes (all pairs leave), both
        sides advancing in ONE step, and exactly-once replays. After
        every step the view must equal the fresh join."""
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_join_apply

        a_root, b_root = str(tmp_path / "jA"), str(tmp_path / "jB")
        v_root = str(tmp_path / "jV")
        A, B = VersionedTable(spark, a_root), VersionedTable(spark, b_root)
        A.create(
            spark.createDataFrame(
                [Row(id=i, s=i % 4, x=i * 10) for i in range(12)]
            ),
            cluster_by=["id"],
        )
        B.create(
            spark.createDataFrame([Row(s=s, label=f"L{s}") for s in range(4)]),
            cluster_by=["s"],
        )

        def sync(va, vb):
            return cdf_ivm_join_apply(
                spark, v_root, a_root, b_root, ["s"], "id", "s",
                va, vb,
            )

        def check():
            view = VersionedTable(spark, v_root)
            got = sorted(map(tuple, view.snapshot().select("id", "s", "x", "label").collect()))
            exp = sorted(
                map(tuple, A.snapshot().join(B.snapshot(), "s").select("id", "s", "x", "label").collect())
            )
            assert got == exp

        sync((1, 1), (1, 1))  # seed
        check()
        # fact side: update + insert + delete
        va0 = A.version()
        A.merge_into(spark.createDataFrame([Row(id=2, s=2, x=999), Row(id=50, s=1, x=7)]), ["id"])
        A.delete_matching(spark.createDataFrame([Row(id=5)]), ["id"])
        sync((va0, A.version()), (B.version(), B.version()))
        check()
        # dim side: payload refresh (all s=1 pairs) + delete s=3 (pairs leave)
        vb0 = B.version()
        B.merge_into(spark.createDataFrame([Row(s=1, label="L1x")]), ["s"])
        B.delete_matching(spark.createDataFrame([Row(s=3)]), ["s"])
        sync((A.version(), A.version()), (vb0, B.version()))
        check()
        # both sides advance in one step — the ΔA⋈ΔB cross term: the
        # new fact row lands on a station whose dim row changes in the
        # SAME step, and a fact row moves onto the re-inserted station
        va0, vb0 = A.version(), B.version()
        A.merge_into(spark.createDataFrame([Row(id=60, s=0, x=1), Row(id=2, s=3, x=2)]), ["id"])
        B.merge_into(spark.createDataFrame([Row(s=0, label="L0x"), Row(s=3, label="L3b")]), ["s"])
        va1, vb1 = A.version(), B.version()
        sync((va0, va1), (vb0, vb1))
        check()
        # replay of the SAME step: txn no-op
        view = VersionedTable(spark, v_root)
        v = view.version()
        sync((va0, va1), (vb0, vb1))
        assert VersionedTable(spark, v_root).version() == v
        check()
        # neither side advanced: no-op without a commit
        sync((va1, va1), (vb1, vb1))
        assert VersionedTable(spark, v_root).version() == v

    def test_cdf_ivm_join_rejects_column_collision(self, spark, tmp_path):
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_join_apply

        a_root, b_root = str(tmp_path / "cA"), str(tmp_path / "cB")
        VersionedTable(spark, a_root).create(
            spark.createDataFrame([Row(id=1, s=1, x=1)]), cluster_by=["id"]
        )
        VersionedTable(spark, b_root).create(
            spark.createDataFrame([Row(s=1, x=9)]), cluster_by=["s"]
        )
        with pytest.raises(ValueError, match="column collision"):
            cdf_ivm_join_apply(
                spark, str(tmp_path / "cV"), a_root, b_root, ["s"], "id", "s",
                (1, 1), (1, 1),
            )

    def test_versioned_upsert_sink_assigns_identity(self, spark, tmp_path):
        """r11: a streaming sink whose target declares an identity
        column — per-batch sources OMIT the column, fresh keys get
        watermark + key-ordered ids, matched keys keep theirs, and an
        exactly-once replay must not re-assign (the txn short-circuit
        runs before identity assignment)."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import versioned_upsert_foreach_batch

        root = str(tmp_path / "vt_id")
        sink = versioned_upsert_foreach_batch(root, ["k"], txn_app="s")
        sink(
            spark.createDataFrame(
                [(1, 5, "a", 1), (2, 5, "b", 2), (3, 5, "c", 3)],
                "k int, ts int, v string, rid bigint",
            ),
            0,
        )
        table = VersionedTable(spark, root)
        table.set_identity("rid")
        batch1 = spark.createDataFrame(
            [(2, 9, "b2"), (11, 9, "y"), (10, 9, "x")], "k int, ts int, v string"
        )
        sink(batch1, 1)
        got = {r["k"]: (r["rid"], r["v"]) for r in table.snapshot().collect()}
        assert got[2] == (2, "b2")  # matched: kept
        assert got[10] == (4, "x") and got[11] == (5, "y")  # wm 3 + k-order
        v = table.version()
        sink(batch1, 1)  # replay: exactly-once, no re-assignment
        assert table.version() == v
        assert {r["k"]: (r["rid"], r["v"]) for r in table.snapshot().collect()} == got

    def test_versioned_upsert_sink_mor_with_auto_compaction(self, spark, tmp_path):
        """The MOR sink shape for K1's per-tick scattered updates: each
        batch commits DV preimage kills + postimage appends (no file
        rewrites), the snapshot matches the COW sink bit-for-bit, the
        txn replay contract holds, and compact_dv_threshold bounds the
        DV stack depth via targeted auto-compaction."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import versioned_upsert_foreach_batch

        root = str(tmp_path / "vt_mor")
        sink = versioned_upsert_foreach_batch(
            root, ["k"], txn_app="q", strategy="mor", compact_dv_threshold=2
        )
        batches = [
            [(1, 5, "a"), (2, 5, "b")],
            [(2, 9, "b2"), (3, 9, "c")],
            [(2, 10, "b3"), (3, 11, "c2")],
            [(2, 12, "b4"), (1, 12, "a2")],
        ]
        for i, rows in enumerate(batches):
            sink(spark.createDataFrame(rows, "k int, ts int, v string"), i)
        table = VersionedTable(spark, root)
        got = {r["k"]: r["v"] for r in table.snapshot().collect()}
        assert got == {1: "a2", 2: "b4", 3: "c2"}
        ops = [m["op"] for m in table.history()]
        assert ops[0] == "create"
        assert set(ops[1:]) <= {"merge:update:mor", "optimize:dv"}
        assert "optimize:dv" in ops  # the threshold fired at least once
        depths = table.dv_stacking()
        assert all(d < 2 for d in depths.values()) or not depths
        # replayed batch (same batch_id): exactly-once, snapshot stable
        v = table.version()
        sink(spark.createDataFrame(batches[-1], "k int, ts int, v string"), 3)
        assert table.version() == v
        assert {r["k"]: r["v"] for r in table.snapshot().collect()} == got
        # same end state as the COW sink over the same batches
        root2 = str(tmp_path / "vt_cow")
        cow = versioned_upsert_foreach_batch(root2, ["k"], txn_app="q")
        for i, rows in enumerate(batches):
            cow(spark.createDataFrame(rows, "k int, ts int, v string"), i)
        cow_got = {r["k"]: r["v"] for r in VersionedTable(spark, root2).snapshot().collect()}
        assert cow_got == got


@pytest.mark.slow
class TestLatestSnapshotStreaming:
    def test_complete_mode_latest_equals_batch(self, spark, sf_small, tmp_path):
        """T3/K8: latest value per station as a complete-mode streaming
        aggregate (max_by over event order) — must equal the batch
        latest_per_key over the same data after the drain."""
        replay = stage_replay_chunks(spark, sf_small, str(tmp_path / "replay"), n_chunks=4)
        stream = readings_stream(spark, replay)
        latest = stream.groupBy("station").agg(
            F.max_by(F.struct("part", "counter", "ts"), F.struct("ts", "event_id")).alias("v")
        ).select("station", "v.part", "v.counter")
        name = "latest_snap"
        q = (
            latest.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.table(name)
        batch = _readings(spark, sf_small).groupBy("station").agg(
            F.max_by(F.struct("part", "counter", "ts"), F.struct("ts", "event_id")).alias("v")
        ).select("station", "v.part", "v.counter")
        assert got.exceptAll(batch).count() == 0
        assert batch.exceptAll(got).count() == 0
        assert got.count() > 0


@pytest.mark.slow
class TestDropOldestBackpressure:
    """T2 (SURVEY.md §2.10): the reference's bounded queue pops the
    OLDEST snapshot when full (Prensas.py:584-593) — intentional loss
    tolerance for latest-value data. These tests pin (a) the queue
    dynamics and (b) that a latest-snapshot consumer downstream of the
    lossy replay still converges to the newest values."""

    def test_t2_schedule_drop_oldest_semantics(self):
        from iotdatapipeline_spark.streaming import drop_oldest_schedule

        consumed, dropped = drop_oldest_schedule(10, 2, 3)
        assert sorted(consumed + dropped) == list(range(10))  # full accounting
        assert dropped  # backpressure actually engaged at this rate
        assert consumed == sorted(consumed)  # FIFO: delivery preserves arrival order
        assert 9 in consumed  # the freshest item is always delivered
        # drop-oldest, not drop-newest: anything dropped is staler than
        # something delivered later
        assert all(any(c > d for c in consumed) for d in dropped)
        # a fast-enough consumer (or big-enough queue) loses nothing
        consumed2, dropped2 = drop_oldest_schedule(10, 10, 3)
        assert not dropped2 and consumed2 == list(range(10))
        consumed3, dropped3 = drop_oldest_schedule(10, 2, 1)
        assert not dropped3 and consumed3 == list(range(10))

    def test_t2_latest_snapshot_newest_wins(self, spark, sf_small, tmp_path):
        from iotdatapipeline_spark.streaming import stage_bounded_replay

        replay, consumed, dropped = stage_bounded_replay(
            spark, sf_small, str(tmp_path / "bq"), n_chunks=10, capacity=2, consumer_period=3
        )
        assert dropped  # the replay is genuinely lossy
        snap_agg = lambda df: (  # noqa: E731
            df.groupBy("station")
            .agg(F.max_by(F.struct("part", "counter", "ts"), F.struct("ts", "event_id")).alias("v"))
            .select("station", "v.part", "v.counter", "v.ts")
        )
        name = "t2_latest_snap"
        q = (
            snap_agg(readings_stream(spark, replay))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.table(name)
        # the stream saw exactly the surviving chunks
        survived = spark.read.parquet(replay)
        expect = snap_agg(survived)
        assert got.exceptAll(expect).count() == 0
        assert expect.exceptAll(got).count() == 0
        # newest-wins: chunks are time-ordered and the final chunk is
        # never dropped, so every station present in it must resolve to
        # its GLOBAL latest value — the losses were stale-only.
        full = _readings(spark, sf_small)
        glob = snap_agg(full)
        last_file = sorted(os.listdir(replay))[-1]
        last_stations = spark.read.parquet(os.path.join(replay, last_file)).select("station").distinct()
        got_last = got.join(last_stations, "station")
        glob_last = glob.join(last_stations, "station")
        assert got_last.count() > 0
        assert got_last.exceptAll(glob_last).count() == 0
        assert glob_last.exceptAll(got_last).count() == 0


@pytest.mark.slow
class TestSupervisorLiveQueries:
    def test_reconcile_with_real_streams(self, spark, tmp_path):
        """T8 end-to-end with REAL streaming queries: start per-group
        rate streams, flip one group's fingerprint (restart), drop a
        group (stop), verify query lifecycle and liveness."""
        from iotdatapipeline_spark.streaming import Supervisor

        def start_query(group):
            return (
                spark.readStream.format("rate").option("rowsPerSecond", 5).load()
                .withColumn("grp", F.lit(group))
                .writeStream.format("memory")
                .queryName(f"sup_{group}_{abs(hash(group)) % 10_000}")
                .outputMode("append")
                .start()
            )

        sup = Supervisor(start_query)
        try:
            a1 = sup.reconcile({"g1": "fp-a", "g2": "fp-b"})
            assert a1 == {"g1": "started", "g2": "started"}
            q_g1_first = sup._queries["g1"]
            assert all(q.isActive for q in sup._queries.values())

            a2 = sup.reconcile({"g1": "fp-CHANGED", "g2": "fp-b"})
            assert a2 == {"g1": "restarted"}
            assert not q_g1_first.isActive
            assert sup._queries["g1"].isActive
            assert sup._queries["g2"].isActive

            a3 = sup.reconcile({"g1": "fp-CHANGED"})
            assert a3 == {"g2": "stopped"}
            assert set(sup._queries) == {"g1"}
        finally:
            sup.stop_all()
        assert sup._queries == {}


class TestSupervisor:
    def test_reconcile_start_restart_stop(self):
        class FakeQuery:
            def __init__(self):
                self.stopped = False

            def stop(self):
                self.stopped = True

        started = []

        def start(group):
            started.append(group)
            return FakeQuery()

        sup = Supervisor(start)
        a1 = sup.reconcile({"g1": "h1", "g2": "h2"})
        assert a1 == {"g1": "started", "g2": "started"}
        a2 = sup.reconcile({"g1": "h1-changed", "g3": "h3"})
        assert a2 == {"g1": "restarted", "g3": "started", "g2": "stopped"}
        sup.stop_all()

    def test_config_fingerprints_change_detection(self, spark):
        cfg1 = spark.createDataFrame([("ip1", "a", 1), ("ip2", "b", 2)], "ip string, tag string, v int")
        cfg2 = spark.createDataFrame([("ip1", "a", 1), ("ip2", "b", 99)], "ip string, tag string, v int")
        f1 = config_fingerprints(cfg1, "ip")
        f2 = config_fingerprints(cfg2, "ip")
        assert f1["ip1"] == f2["ip1"]
        assert f1["ip2"] != f2["ip2"]

    def test_supervisor_reload_actions_gate_mixes_all_actions(self, spark, sf_small):
        """The T8 gate query must exercise every reconcile branch:
        version 0 is all 'started', and later versions mix restarted /
        stopped / re-started groups (by construction of the membership
        rules). Also pins determinism across invocations."""
        from iotdatapipeline_spark.plans.streams import supervisor_reload_actions

        rows = supervisor_reload_actions(spark, sf_small).collect()
        actions = {(r["version"], r["grp"]): r["action"] for r in rows}
        kinds = {a for (v, _g), a in actions.items() if v > 0}
        assert {a for (v, _g), a in actions.items() if v == 0} == {"started"}
        assert {"started", "restarted", "stopped"} <= kinds
        again = supervisor_reload_actions(spark, sf_small).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


class TestRocksDBStateStore:
    def test_rocksdb_provider_emits_identical_rows(self, spark, sf_small, tmp_path):
        """The RocksDB state store — the provider that holds
        larger-than-heap state at cluster scale — must produce exactly
        the rows the default (HDFS-backed in-memory) provider does for
        the same replayed stream. State-store choice is an operational
        knob, never a semantics change."""
        import os
        import uuid

        from iotdatapipeline_spark.streaming import (
            counter_state_machine,
            readings_stream,
            stage_replay_chunks,
        )

        replay = stage_replay_chunks(
            spark, sf_small, str(tmp_path / "replay"), n_chunks=3
        )

        def run(provider: str | None) -> list:
            old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
            if provider:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
            try:
                stream = readings_stream(spark, replay, max_files_per_trigger=1)
                out = counter_state_machine(stream, emit_mode="reference")
                sink = f"ss_{uuid.uuid4().hex[:8]}"
                q = (
                    out.writeStream.outputMode("append")
                    .format("memory")
                    .queryName(sink)
                    .option("checkpointLocation", str(tmp_path / f"ckpt_{sink}"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                rows = sorted(
                    tuple(r) for r in spark.table(sink).collect()
                )
                return rows
            finally:
                if provider:
                    if old:
                        spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
                    else:
                        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

        default_rows = run(None)
        rocks_rows = run(
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        )
        assert len(default_rows) > 0
        assert default_rows == rocks_rows


class TestZscoreStateFn:
    """Unit tests for the rolling z-score ring-state transition
    (streaming.stateful.make_zscore_fn) — the batch-split invariance
    that makes the streamed gate equal the batch window query."""

    def _rows(self, values, t0=None):
        t0 = t0 or dt.datetime(2024, 1, 1, 9, 0, 0)
        return [
            (7, "p", t0 + dt.timedelta(seconds=i), i, 0.0, v)
            for i, v in enumerate(values)
        ]

    def test_split_batches_equal_one_batch(self):
        from iotdatapipeline_spark.streaming.stateful import make_zscore_fn

        values = [100, 102, 98, 101, 99, 100, 103, 97, 101, 500, 100, 99, 4]
        rows = self._rows(values)
        one = FakeGroupState()
        fn = make_zscore_fn(window=5, min_n=3, k2=9)
        whole = list(fn((7,), iter([_mk_pdf(rows)]), one))

        split = FakeGroupState()
        parts = []
        for lo in range(0, len(rows), 4):
            parts.extend(fn((7,), iter([_mk_pdf(rows[lo : lo + 4])]), split))
        whole_df = pd.concat(whole, ignore_index=True) if whole else pd.DataFrame()
        split_df = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        pd.testing.assert_frame_equal(whole_df, split_df)
        assert list(one.get[0]) == list(split.get[0])

    def test_flags_spike_not_baseline(self):
        from iotdatapipeline_spark.streaming.stateful import make_zscore_fn

        values = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100, 400]
        fn = make_zscore_fn(window=32, min_n=8, k2=9)
        st = FakeGroupState()
        out = list(fn((7,), iter([_mk_pdf(self._rows(values))]), st))
        flagged = pd.concat(out, ignore_index=True)
        assert list(flagged["v_cents"]) == [400]
        assert (flagged["dev2_n2"] > 9 * flagged["var_n2"]).all()

    def test_ring_bounded_by_window(self):
        from iotdatapipeline_spark.streaming.stateful import make_zscore_fn

        fn = make_zscore_fn(window=5, min_n=3, k2=9)
        st = FakeGroupState()
        list(fn((7,), iter([_mk_pdf(self._rows(list(range(100, 140))))]), st))
        assert len(st.get[0]) == 5
        assert list(st.get[0]) == [135, 136, 137, 138, 139]


class TestDebounceStateFn:
    """Unit tests for the fixed-interval debounce latch
    (streaming.stateful.make_debounce_fn)."""

    def _rows(self, offsets_min, t0=None):
        t0 = t0 or dt.datetime(2024, 1, 1, 9, 0, 0)
        return [
            (3, "p", t0 + dt.timedelta(minutes=m), i, 0.0, 0)
            for i, m in enumerate(offsets_min)
        ]

    def test_suppression_restarts_on_emit_not_on_row(self):
        from iotdatapipeline_spark.streaming.stateful import make_debounce_fn

        # interval 30 min; rows at 0, 20, 40, 70 minutes:
        # 0 kept; 20 suppressed; 40 kept (40-0 >= 30); 70 kept (70-40 >= 30).
        # A last-ROW rule would also keep 40 only if 40-20 >= 30 (false) —
        # this pins the on-emit-only advance.
        fn = make_debounce_fn(interval_us=30 * 60 * 1_000_000)
        st = FakeGroupState()
        out = list(fn((3,), iter([_mk_pdf(self._rows([0, 20, 40, 70]))]), st))
        kept = pd.concat(out, ignore_index=True)
        assert list(kept["event_id"]) == [0, 2, 3]
        assert kept["gap_us"].tolist()[1:] == [40 * 60 * 1_000_000, 30 * 60 * 1_000_000]

    def test_split_batches_equal_one_batch(self):
        from iotdatapipeline_spark.streaming.stateful import make_debounce_fn

        rows = self._rows([0, 5, 35, 50, 66, 120, 121, 152])
        fn = make_debounce_fn(interval_us=30 * 60 * 1_000_000)
        one, split = FakeGroupState(), FakeGroupState()
        whole = list(fn((3,), iter([_mk_pdf(rows)]), one))
        parts = []
        for lo in range(0, len(rows), 3):
            parts.extend(fn((3,), iter([_mk_pdf(rows[lo : lo + 3])]), split))
        pd.testing.assert_frame_equal(
            pd.concat(whole, ignore_index=True), pd.concat(parts, ignore_index=True)
        )
        assert one.get == split.get


class TestZscoreCheckpointRecovery:
    def test_ring_state_survives_restart(self, spark, sf_small, tmp_path):
        """Stop/restart correctness for the z-score machine: drain
        half the replay, terminate, deliver the rest against the SAME
        checkpoint. The restored run must resume each station's
        trailing ring (not reset it), so the union of both runs'
        alerts equals the single-pass batch window query exactly."""
        import shutil

        from iotdatapipeline_spark.plans import ORACLE, QUERIES
        from iotdatapipeline_spark.streaming import readings_stream, stage_replay_chunks
        from iotdatapipeline_spark.streaming.stateful import zscore_alert_machine

        staged = stage_replay_chunks(spark, sf_small, str(tmp_path / "staged"), n_chunks=6)
        live = str(tmp_path / "replay")
        os.makedirs(live)
        chunks = sorted(os.listdir(staged))

        def deliver(name: str, order: int) -> None:
            dst = os.path.join(live, name)
            shutil.copy(os.path.join(staged, name), dst)
            os.utime(dst, (1_700_000_000 + order, 1_700_000_000 + order))

        out_path = str(tmp_path / "alerts")

        def drain() -> None:
            stream = readings_stream(spark, live, max_files_per_trigger=1)
            q = (
                zscore_alert_machine(stream)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_path)
                .option("checkpointLocation", str(tmp_path / "ckpt_z"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        for i, c in enumerate(chunks[:3]):
            deliver(c, i)
        drain()
        mid = spark.read.parquet(out_path).count()
        for i, c in enumerate(chunks[3:]):
            deliver(c, 3 + i)
        drain()  # same checkpoint → resume rings

        got = spark.read.parquet(out_path)
        assert got.count() >= mid
        expected = QUERIES["events_rolling_zscore"](spark, sf_small)
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0


class TestReferencePruning:
    """The vectorized running-max pruning in make_state_fn must be
    EXACTLY output-preserving: _advance over the pruned rows ==
    _advance over all rows, for any counter sequence and any starting
    state. Randomized over adversarial shapes: decreasing runs,
    plateaus (boundary-equality emits), midnight wraps, shift
    crossings, fresh and carried state."""

    @staticmethod
    def _prune(pdf, current):
        import numpy as np

        c = pdf["counter"].to_numpy(dtype="int64")
        seed = int(current[0]) if current[4] else np.iinfo(np.int64).min
        run = np.maximum.accumulate(np.concatenate(([seed], c[:-1])))
        return pdf[c >= run]

    def test_pruned_loop_is_exact(self):
        import random

        from iotdatapipeline_spark.streaming.stateful import _FRESH_STATE, _advance

        rng = random.Random(20260814)
        for trial in range(300):
            n = rng.randint(1, 40)
            base = dt.datetime(2024, 3, 1, rng.choice([6, 7, 15, 23]), 50, 0)
            rows = []
            t = base
            counter = rng.randint(0, 50)
            for i in range(n):
                # steps that go up, down, or plateau; ts steps that
                # cross 08:00/16:00/midnight boundaries
                counter = max(0, counter + rng.choice([-7, -3, -1, 0, 0, 1, 2, 5, 11]))
                t = t + dt.timedelta(minutes=rng.choice([1, 5, 30, 240]))
                rows.append({"ts": pd.Timestamp(t), "event_id": i, "counter": counter})
            pdf = pd.DataFrame(rows)
            if rng.random() < 0.5:
                state = _FRESH_STATE
            else:
                state = (rng.randint(0, 60), rng.choice([None, 5]), rng.randint(0, 9),
                         rng.randint(0, 86399), True)
            full_out, full_state = _advance(1, "p", pdf, state, "reference")
            pruned = self._prune(pdf, state)
            pr_out, pr_state = _advance(1, "p", pruned, state, "reference")
            assert pr_out == full_out, (trial, state, pdf.to_dict("records"))
            assert pr_state == full_state, (trial, state)


class TestLimpiezaWallclockGate:
    def test_every_key_fires_exactly_once(self, spark, sf_small):
        """T5 wall-clock mode (ProcessingTimeTimeout, real trigger):
        the fired limpieza key set must equal the distinct key set —
        each timer one-shot, none missed, none duplicated."""
        from iotdatapipeline_spark.plans.streams import stream_limpieza_wallclock
        from iotdatapipeline_spark.sources import load_table

        fired = stream_limpieza_wallclock(spark, sf_small)
        got = {(r["station"], r["part"]) for r in fired.collect()}
        ev = load_table(spark, sf_small, "events")
        expected = {
            (r["user_id"], r["event_type"])
            for r in ev.select("user_id", "event_type").distinct().collect()
        }
        assert got == expected


class TestTransitionBatchEquivalence:
    """The vectorized reference-mode hot path (_transition_batch) must
    be bit-for-bit the _advance spec: same emitted rows (every column,
    including shift_id/plan_date/qty_running), same new state — for
    any counter sequence, any arrival order (it sorts internally), and
    any starting state."""

    def test_vectorized_path_matches_spec(self):
        import random

        from iotdatapipeline_spark.streaming.stateful import (
            _FRESH_STATE,
            _advance,
            _transition_batch,
        )

        rng = random.Random(20260815)
        for trial in range(300):
            n = rng.randint(1, 40)
            base = dt.datetime(2024, 3, 1, rng.choice([6, 7, 15, 23]), 50, 0)
            rows = []
            t = base
            counter = rng.randint(0, 50)
            for i in range(n):
                counter = max(0, counter + rng.choice([-7, -3, -1, 0, 0, 1, 2, 5, 11]))
                t = t + dt.timedelta(minutes=rng.choice([1, 5, 30, 240]))
                rows.append({"ts": pd.Timestamp(t), "event_id": i, "counter": counter})
            rng.shuffle(rows)  # _transition_batch must sort
            pdf = pd.DataFrame(rows)
            if rng.random() < 0.5:
                state = _FRESH_STATE
            else:
                state = (rng.randint(0, 60), rng.choice([None, 5]), rng.randint(0, 9),
                         rng.randint(0, 86399), True)
            sorted_pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            spec_out, spec_state = _advance(7, "px", sorted_pdf, state, "reference")
            got_pdf, got_state, got_ms = _transition_batch(7, "px", pdf, state, "reference")
            assert got_state == spec_state, (trial, state)
            assert got_ms == int(sorted_pdf["ts"].max().value) // 1_000_000
            if not spec_out:
                assert got_pdf is None, trial
                continue
            spec_pdf = pd.DataFrame(spec_out)
            assert got_pdf is not None and len(got_pdf) == len(spec_pdf), trial
            for col in spec_pdf.columns:
                got_vals = got_pdf[col].tolist()
                spec_vals = spec_pdf[col].tolist()
                if col == "ts":
                    got_vals = [pd.Timestamp(v) for v in got_vals]
                    spec_vals = [pd.Timestamp(v) for v in spec_vals]
                assert got_vals == spec_vals, (trial, col, state)


class TestSinkTxnIsolation:
    """ADVICE r4 fixes: distinct queries must not dedupe each other's
    batches through a shared txn app id, and an empty first micro-batch
    must not consume the create path."""

    def test_two_sinks_do_not_cross_dedupe(self, spark, tmp_path):
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import versioned_upsert_foreach_batch

        root = str(tmp_path / "vt")
        # two logically distinct streaming queries, both at batch_id 0/1
        sink_a = versioned_upsert_foreach_batch(root, ["k"])
        sink_b = versioned_upsert_foreach_batch(root, ["k"])
        sink_a(spark.createDataFrame([(1, 1, "a0")], "k int, ts int, v string"), 0)
        # same batch_id from a DIFFERENT query: must apply, not no-op
        sink_b(spark.createDataFrame([(2, 1, "b0")], "k int, ts int, v string"), 0)
        sink_b(spark.createDataFrame([(3, 2, "b1")], "k int, ts int, v string"), 1)
        got = {r["k"]: r["v"] for r in VersionedTable(spark, root).snapshot().collect()}
        assert got == {1: "a0", 2: "b0", 3: "b1"}
        # replay WITHIN a query still dedupes
        sink_b(spark.createDataFrame([(3, 2, "b1")], "k int, ts int, v string"), 1)
        assert VersionedTable(spark, root).version() == 3

    def test_explicit_txn_app_is_honored(self, spark, tmp_path):
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import versioned_upsert_foreach_batch

        root = str(tmp_path / "vt2")
        sink = versioned_upsert_foreach_batch(root, ["k"], txn_app="q1")
        sink(spark.createDataFrame([(1, 1, "a")], "k int, ts int, v string"), 0)
        # a RESTARTED factory with the same stable app id dedupes the replay
        sink_restarted = versioned_upsert_foreach_batch(root, ["k"], txn_app="q1")
        sink_restarted(spark.createDataFrame([(1, 1, "a")], "k int, ts int, v string"), 0)
        table = VersionedTable(spark, root)
        assert table.version() == 1
        assert (table.history()[-1]["txns"] or {}).get("q1") == [0, 1]

    def test_empty_first_batch_skipped(self, spark, tmp_path):
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import versioned_upsert_foreach_batch

        root = str(tmp_path / "vt3")
        sink = versioned_upsert_foreach_batch(root, ["k"], txn_app="q")
        empty = spark.createDataFrame([], "k int, ts int, v string")
        sink(empty, 0)
        assert VersionedTable(spark, root).version() == 0  # no zero-file create
        sink(spark.createDataFrame([(1, 1, "a")], "k int, ts int, v string"), 1)
        table = VersionedTable(spark, root)
        assert table.version() == 1
        assert {r["k"] for r in table.snapshot().collect()} == {1}


class TestChainedStreamingAggregation:
    """events_stream_chained_agg (plans/streams.py): two stateful
    aggregations in ONE streaming query — a watermarked 5-minute window
    rolled up into 1-hour windows via window(window_time(w5)). The
    sentinel reading makes the flush batch's watermark pass every real
    window end, so the drained output must equal the batch two-level
    rollup exactly."""

    def test_stream_equals_batch_rollup(self, spark, sf_small):
        from iotdatapipeline_spark.plans import QUERIES as SQ
        from iotdatapipeline_spark.sources import load_table
        from pyspark.sql import functions as F

        got = {
            (r["station"], r["hour_start"]): (
                r["n_events"], r["counter_sum"], r["n_5min_buckets"]
            )
            for r in SQ["events_stream_chained_agg"](spark, sf_small).collect()
        }
        ev = load_table(spark, sf_small, "events")
        want = {
            (r["station"], r["hour_start"]): (
                r["n_events"], r["counter_sum"], r["n_5min_buckets"]
            )
            for r in ev.groupBy(
                F.col("user_id").alias("station"),
                F.date_trunc("hour", "ts").alias("hour_start"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("long")).alias("counter_sum"),
                F.countDistinct(
                    F.window("ts", "5 minutes").getField("start")
                ).alias("n_5min_buckets"),
            )
            .collect()
        }
        assert got == want
        assert all(station >= 0 for station, _ in got)  # sentinel excluded


@pytest.mark.slow
class TestMorSoak:
    def test_fifty_batch_mor_soak_keeps_read_tax_bounded(self, spark, tmp_path):
        """Long-lived-pipeline pin (verdict r9 item 7): ~50 micro-batches
        of scattered-key updates through the MOR upsert sink with
        compact_dv_threshold=3 must keep every file's DV stack depth
        strictly below the threshold at every observation point (the
        read tax stays flat — a snapshot unions at most
        n_files x (threshold-1) DV parquets no matter how long the
        stream runs), end bit-identical to the Python replay of the
        same updates, and stay healthy through the rest of the hygiene
        kit: expire_versions mid-soak, vacuum at the end."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import versioned_upsert_foreach_batch

        root = str(tmp_path / "soak")
        threshold = 3
        sink = versioned_upsert_foreach_batch(
            root, ["k"], txn_app="soak", strategy="mor", compact_dv_threshold=threshold
        )
        n_keys, n_batches = 200, 50
        expected: dict[int, str] = {}
        # batch 0 seeds every key (create); later batches scatter
        seed = [(k, 0, f"b0-k{k}") for k in range(n_keys)]
        expected.update({k: v for k, _, v in seed})
        sink(spark.createDataFrame(seed, "k int, ts int, v string"), 0)
        table = VersionedTable(spark, root)
        depth_samples: list[int] = []
        for b in range(1, n_batches):
            rows = []
            for i in range(20):  # 20 scattered keys per tick (K1 shape)
                k = (b * 7 + i * 13) % n_keys
                rows.append((k, b, f"b{b}-k{k}"))
                expected[k] = f"b{b}-k{k}"
            sink(spark.createDataFrame(rows, "k int, ts int, v string"), b)
            depths = table.dv_stacking()
            depth_samples.append(max(depths.values(), default=0))
            # the auto-compaction invariant: NO file ever ends a batch
            # at or above the threshold
            assert all(d < threshold for d in depths.values()), (b, depths)
            if b == n_batches // 2:
                # manifest hygiene mid-stream must not disturb the head
                table.expire_versions(keep_last=5)
        # read tax flat: bounded by files x (threshold-1), and the soak
        # actually exercised stacking (some sample saw depth >= 1)
        m = table._read_manifest(table.version())
        assert sum(table.dv_stacking().values()) <= len(m["files"]) * (threshold - 1)
        assert max(depth_samples) >= 1
        # compaction fired at least once across the soak
        assert any(mm["op"] == "optimize:dv" for mm in table.history())
        got = {r["k"]: r["v"] for r in table.snapshot().collect()}
        assert got == expected
        # end-of-life hygiene: expire + vacuum, table still reads clean
        table.expire_versions(keep_last=3)
        table.vacuum(retention_s=0)
        cold = VersionedTable(spark, root)
        assert {r["k"]: r["v"] for r in cold.snapshot().collect()} == expected


@pytest.mark.slow
class TestSelfMaintainingSink:
    def test_forty_batch_cow_sink_bounds_files_manifests_and_disk(self, spark, tmp_path):
        """The zero-scheduled-jobs pin: a COW upsert sink with the
        r10 maintenance knobs (file-count compaction, manifest
        retention, vacuum) must keep file count, manifest count and
        data-dir size bounded over a 40-batch soak while staying
        bit-correct vs the Python replay — the long-lived pipeline
        needs no external optimize/expire/vacuum jobs at all."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import versioned_upsert_foreach_batch

        root = str(tmp_path / "selfmaint")
        sink = versioned_upsert_foreach_batch(
            root,
            ["k"],
            txn_app="sm",
            compact_files_threshold=12,
            expire_keep_last=6,
            vacuum_retention_s=0.0,
        )
        n_keys = 100
        expected = {k: f"b0-k{k}" for k in range(n_keys)}
        sink(
            spark.createDataFrame(
                [(k, 0, v) for k, v in expected.items()], "k int, ts int, v string"
            ),
            0,
        )
        table = VersionedTable(spark, root)
        file_counts, manifest_counts, disk_counts = [], [], []
        for b in range(1, 40):
            rows = []
            for i in range(12):  # scattered inserts + updates
                k = (b * 31 + i * 17) % (n_keys + 40)
                rows.append((k, b, f"b{b}-k{k}"))
                expected[k] = f"b{b}-k{k}"
            sink(spark.createDataFrame(rows, "k int, ts int, v string"), b)
            m = table._read_manifest(table.version())
            file_counts.append(len(m["files"]))
            manifest_counts.append(table.version() - table.earliest_version() + 1)
            disk_counts.append(len(os.listdir(table._data)))
        # bounded: compaction fires above the threshold and resets the
        # accretion; retention bounds live manifests; vacuum keeps the
        # data dir within (live files + expire window's references)
        assert max(file_counts) <= 12 + 2  # one batch of overshoot max
        assert max(manifest_counts) <= 6 + 1
        assert max(disk_counts) <= 12 * (6 + 2)
        assert any(mm["op"] == "optimize" for mm in table.history())
        got = {r["k"]: r["v"] for r in table.snapshot().collect()}
        assert got == expected
        # replay of the last batch is still exactly-once across the
        # maintenance commits (merge txn-deduped; maintenance no-ops)
        v = table.version()
        sink(spark.createDataFrame(rows, "k int, ts int, v string"), 39)
        assert {r["k"]: r["v"] for r in table.snapshot().collect()} == expected
        assert table.version() <= v + 1  # at most a no-op maintenance commit


class TestCdfApply:
    """cdf_apply_foreach_batch: table-to-table replication from the
    change feed — the mirror converges to the source snapshot at every
    sync point, deletes land as keyed DVs, replays are exactly-once."""

    def test_terminal_state_reduction_and_convergence(self, spark, tmp_path):
        from iotdatapipeline_spark.streaming.sinks import cdf_apply_foreach_batch
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        mirror = str(tmp_path / "mirror")
        sink = cdf_apply_foreach_batch(mirror, ["k"], txn_app="rep")
        ddl = "k bigint, v string, _change_type string, _commit_version bigint"
        # batch 0: initial snapshot (inserts)
        sink(
            spark.createDataFrame(
                [(k, f"a{k}", "insert", 1) for k in range(8)], ddl
            ),
            0,
        )
        m = VersionedTable(spark, mirror)
        assert {r["k"]: r["v"] for r in m.snapshot().collect()} == {
            k: f"a{k}" for k in range(8)
        }
        # batch 1 spans THREE source versions, with conflicting fates
        # for k=1 (update@2 then delete@4 -> terminal delete) and k=2
        # (delete@2 then re-insert@4 -> terminal insert)
        batch = [
            (1, "u1", "update_postimage", 2),
            (2, "x", "delete", 2),
            (1, "u1b", "update_preimage", 4),  # informational: skipped
            (1, "x", "delete", 4),
            (2, "back", "insert", 4),
            (9, "new", "insert", 3),
        ]
        sink(spark.createDataFrame(batch, ddl), 1)
        got = {r["k"]: r["v"] for r in m.snapshot().collect()}
        assert 1 not in got and got[2] == "back" and got[9] == "new"
        assert got[0] == "a0" and len(got) == 8
        # replay of batch 1: deletes no-op by value, merge txn-dedupes
        v = m.version()
        sink(spark.createDataFrame(batch, ddl), 1)
        assert m.version() == v
        assert {r["k"]: r["v"] for r in m.snapshot().collect()} == got

    def test_delete_only_batch_records_txn(self, spark, tmp_path):
        """r13 (ADVICE): a DELETE-ONLY batch must stamp its txn on the
        delete commit (merge_into is skipped when ups is empty), so the
        applied cursor advances and a consumer like BqVectorIndex
        doesn't re-derive + re-run the delete on every later refresh."""
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_apply_foreach_batch

        mirror = str(tmp_path / "mirror_dels")
        sink = cdf_apply_foreach_batch(mirror, ["k"], txn_app="rep")
        ddl = "k bigint, v string, _change_type string, _commit_version bigint"
        sink(
            spark.createDataFrame(
                [(k, f"a{k}", "insert", 1) for k in range(6)], ddl
            ),
            0,
        )
        m = VersionedTable(spark, mirror)
        dels = [(2, "x", "delete", 2), (4, "x", "delete", 2)]
        sink(spark.createDataFrame(dels, ddl), 1)
        assert sorted(r["k"] for r in m.snapshot().collect()) == [0, 1, 3, 5]
        # the delete commit carries the (app, batch) stamp...
        seen = (m._read_manifest(m.version()).get("txns") or {}).get("rep")
        assert seen is not None and int(seen[0]) == 1
        # ...so a replay of the batch commits NOTHING (clean no-op,
        # not merely a value-level no-op re-running the delete scan)
        v = m.version()
        sink(spark.createDataFrame(dels, ddl), 1)
        assert m.version() == v

    @pytest.mark.slow
    def test_end_to_end_stream_ivm(self, spark, tmp_path):
        """r11: the IVM sink over the REAL versioned_cdf stream (with
        include_preimages) — the maintained (cnt, sum) view must
        converge to the direct aggregate of the source across merges
        and a delete."""
        import time

        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import (
            VersionedTable,
            cdf_schema_ddl,
            register_versioned_cdf,
        )
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_foreach_batch

        register_versioned_cdf(spark)
        src_root = str(tmp_path / "ivmsrc")
        src = VersionedTable(spark, src_root)
        src.create(
            spark.createDataFrame([Row(k=i, x=i * 10) for i in range(20)]),
            n_files=2,
            cluster_by=["k"],
        )
        view_root = str(tmp_path / "ivmview")
        ivm = cdf_ivm_foreach_batch(view_root, ["g"], ["x"])
        apply = lambda df, bid: ivm(
            df.select((F.col("k") % 4).alias("g"), "x", "_change_type"), bid
        )
        q = (
            spark.readStream.format("versioned_cdf")
            .option("root", src_root)
            .option("keys", "k")
            .option("include_preimages", "true")
            .option("schema_ddl", cdf_schema_ddl(src))
            .load()
            .writeStream.foreachBatch(apply)
            .option("checkpointLocation", str(tmp_path / "ivmckpt"))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            src.merge_into(
                spark.createDataFrame([Row(k=3, x=999), Row(k=42, x=7)]), ["k"]
            )
            src.delete_where("k % 5 = 0")
            want = {
                (r["g"], r["cnt"], r["sum_x"])
                for r in src.snapshot()
                .groupBy((F.col("k") % 4).alias("g"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("cnt"),
                    F.sum("x").cast("long").alias("sum_x"),
                )
                .collect()
            }
            view = VersionedTable(spark, view_root)
            deadline = time.time() + 60
            got = None
            while time.time() < deadline:
                if view.version() > 0:
                    got = {
                        (r["g"], r["cnt"], r["sum_x"])
                        for r in view.snapshot().collect()
                    }
                    if got == want:
                        break
                time.sleep(0.5)
            assert got == want, f"view never converged: {got} != {want}"
        finally:
            q.stop()

    @pytest.mark.slow
    def test_end_to_end_stream_replication(self, spark, tmp_path):
        import time

        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import (
            VersionedTable,
            cdf_schema_ddl,
            register_versioned_cdf,
        )
        from iotdatapipeline_spark.streaming.sinks import cdf_apply_foreach_batch

        register_versioned_cdf(spark)
        src_root = str(tmp_path / "src")
        src = VersionedTable(spark, src_root)
        src.create(
            spark.createDataFrame([Row(k=i, v=f"a{i}") for i in range(10)]),
            n_files=2,
            cluster_by=["k"],
        )
        mirror_root = str(tmp_path / "mirror2")
        q = (
            spark.readStream.format("versioned_cdf")
            .option("root", src_root)
            .option("keys", "k")
            .option("schema_ddl", cdf_schema_ddl(src))
            .load()
            .writeStream.foreachBatch(cdf_apply_foreach_batch(mirror_root, ["k"]))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            src.merge_into(spark.createDataFrame([Row(k=3, v="u3"), Row(k=42, v="new")]), ["k"])
            src.delete_where("k = 5")
            src.merge_into(spark.createDataFrame([Row(k=42, v="new2")]), ["k"])
            want = {r["k"]: r["v"] for r in src.snapshot().collect()}
            mirror = VersionedTable(spark, mirror_root)
            deadline = time.time() + 60
            got = None
            while time.time() < deadline:
                if mirror.version() > 0:
                    got = {r["k"]: r["v"] for r in mirror.snapshot().collect()}
                    if got == want:
                        break
                time.sleep(0.5)
            assert got == want, f"mirror never converged: {got} != {want}"
        finally:
            q.stop()


class TestScd2Apply:
    """cdf_scd2_foreach_batch: SCD Type 2 history from the change feed —
    intra-batch chains preserved, open records closed exactly once,
    re-insert after delete starts a new interval, replays no-op."""

    def _feed(self, src, lo, hi):
        from pyspark.sql import functions as F

        out = None
        for v in range(lo + 1, hi + 1):
            c = src.changes(v - 1, v, keys=["k"]).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            out = c if out is None else out.unionByName(c)
        return out

    def test_history_intervals_and_replay(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_scd2_foreach_batch

        src = VersionedTable(spark, str(tmp_path / "src"))
        df = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("v")
        )
        src.create(df, cluster_by=["k"])  # v1
        src.merge_into(
            spark.range(3).select(F.col("id").alias("k"), F.lit(999).alias("v")),
            ["k"],
        )  # v2: update k in {0,1,2}
        src.delete_where("k = 1 OR k = 5")  # v3
        src.merge_into(
            spark.createDataFrame([(5, 555)], "k long, v long"), ["k"]
        )  # v4: re-insert k=5

        sink = cdf_scd2_foreach_batch(str(tmp_path / "hist"), ["k"], txn_app="t")
        b0 = (
            src.snapshot(1)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(1).cast("long"))
        )
        sink(b0, 0)
        b1 = self._feed(src, 1, 3)  # v2 + v3 chained in ONE batch
        sink(b1, 1)
        b2 = self._feed(src, 3, 4)
        sink(b2, 2)
        sink(b1, 1)  # replay must no-op at the txn check

        hist = VersionedTable(spark, str(tmp_path / "hist"))
        rows = {
            (r["k"], r["v"]): (r["scd_start"], r["scd_end"], r["is_current"])
            for r in hist.snapshot().collect()
        }
        # k=1: updated at 2 then deleted at 3 inside one batch — the v2
        # state exists as a (2, 3) record that was never current
        assert rows[(1, 100)] == (1, 2, False)
        assert rows[(1, 999)] == (2, 3, False)
        # k=5: deleted then re-inserted — two disjoint intervals
        assert rows[(5, 500)] == (1, 3, False)
        assert rows[(5, 555)] == (4, None, True)
        # untouched key stays a single open record
        assert rows[(7, 700)] == (1, None, True)
        # replay added nothing
        assert len(rows) == 14
        # the current slice equals the source snapshot
        cur = hist.snapshot().filter("is_current").select("k", "v")
        want = src.snapshot().select("k", "v")
        assert cur.exceptAll(want).isEmpty() and want.exceptAll(cur).isEmpty()

    def test_all_delete_batch_cannot_seed(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_scd2_foreach_batch

        sink = cdf_scd2_foreach_batch(str(tmp_path / "hist"), ["k"], txn_app="t")
        dels = spark.createDataFrame([(1, 1)], "k long, v long").select(
            "k",
            "v",
            F.lit("delete").alias("_change_type"),
            F.lit(3).cast("long").alias("_commit_version"),
        )
        sink(dels, 0)
        t = VersionedTable(spark, str(tmp_path / "hist"))
        assert t.version() == 0  # nothing to open a history with


class TestMaterializedView:
    """MaterializedView: CREATE/REFRESH orchestration over the IVM
    tiers — spec persisted beside the view log, last-applied source
    version tracked in the view's txn map, one netted feed batch per
    refresh."""

    def _source(self, spark, root):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, root)
        df = spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("g"),
            (F.col("id") * 10).alias("v"),
        )
        src.create(df, cluster_by=["k"])
        return src

    def test_sum_tier_refresh(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView

        src = self._source(spark, str(tmp_path / "src"))
        mv = MaterializedView.create(
            spark,
            str(tmp_path / "mv"),
            str(tmp_path / "src"),
            group_by=["g"],
            sum_cols=["v"],
        )
        # seed reflects v1
        got = {r["g"]: (r["cnt"], r["sum_v"]) for r in mv.snapshot().collect()}
        assert got[0] == (25, sum(i * 10 for i in range(0, 100, 4)))

        # two source commits, ONE refresh over the netted range
        src.merge_into(
            spark.range(10).select(
                F.col("id").alias("k"), (F.col("id") % 4).alias("g"),
                F.lit(0).alias("v"),
            ),
            ["k"],
        )  # v2: zero out k<10
        src.delete_where("k >= 90")  # v3
        assert mv.refresh() == 3
        want = {
            r["g"]: (r["cnt"], r["sum_v"])
            for r in src.snapshot()
            .groupBy("g")
            .agg(F.count("*").alias("cnt"), F.sum("v").alias("sum_v"))
            .collect()
        }
        got = {r["g"]: (r["cnt"], r["sum_v"]) for r in mv.snapshot().collect()}
        assert got == want
        # no-change refresh: pure metadata, same applied version
        v = mv.table().version()
        assert mv.refresh() == 3
        assert mv.table().version() == v

    def test_minmax_tier_refresh_and_reopen(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView

        src = self._source(spark, str(tmp_path / "src"))
        MaterializedView.create(
            spark,
            str(tmp_path / "mv"),
            str(tmp_path / "src"),
            group_by=["g"],
            min_cols=["v"],
            max_cols=["v"],
        )
        # delete the row holding g=1's maximum (k=97, v=970) → repair path
        src.delete_where("k = 97")
        # a FRESH handle (new process): spec comes from the sidecar
        mv2 = MaterializedView(spark, str(tmp_path / "mv"))
        assert mv2.refresh() == 2
        want = {
            r["g"]: (r["cnt"], r["min_v"], r["max_v"])
            for r in src.snapshot()
            .groupBy("g")
            .agg(
                F.count("*").alias("cnt"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
            )
            .collect()
        }
        got = {
            r["g"]: (r["cnt"], r["min_v"], r["max_v"])
            for r in mv2.snapshot().collect()
        }
        assert got == want

    def test_mixed_spec_refused(self, spark, tmp_path):
        import pytest as _pytest

        from iotdatapipeline_spark.matview import MaterializedView

        self._source(spark, str(tmp_path / "src"))
        with _pytest.raises(ValueError, match="tier"):
            MaterializedView.create(
                spark,
                str(tmp_path / "mv"),
                str(tmp_path / "src"),
                group_by=["g"],
                sum_cols=["v"],
                min_cols=["v"],
            )


class TestScd2Stream:
    @pytest.mark.slow
    def test_end_to_end_stream_scd2(self, spark, tmp_path):
        """r12: the SCD2 sink over the REAL versioned_cdf stream — the
        history's current slice must converge to the source snapshot
        across a merge and a delete, and closed intervals must exist
        for every replaced state."""
        import time

        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import (
            VersionedTable,
            cdf_schema_ddl,
            register_versioned_cdf,
        )
        from iotdatapipeline_spark.streaming.sinks import cdf_scd2_foreach_batch

        register_versioned_cdf(spark)
        src_root = str(tmp_path / "src")
        src = VersionedTable(spark, src_root)
        src.create(
            spark.createDataFrame([Row(k=i, v=i * 10) for i in range(12)]),
            n_files=2,
            cluster_by=["k"],
        )
        hist_root = str(tmp_path / "hist")
        q = (
            spark.readStream.format("versioned_cdf")
            .option("root", src_root)
            .option("keys", "k")
            .option("schema_ddl", cdf_schema_ddl(src))
            .load()
            .writeStream.foreachBatch(cdf_scd2_foreach_batch(hist_root, ["k"]))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            src.merge_into(
                spark.createDataFrame([Row(k=3, v=999), Row(k=42, v=7)]), ["k"]
            )
            src.delete_where("k % 5 = 0")
            hist = VersionedTable(spark, hist_root)
            want = {(r["k"], r["v"]) for r in src.snapshot().collect()}
            deadline = time.time() + 60
            got = None
            while time.time() < deadline:
                if hist.version() > 0:
                    got = {
                        (r["k"], r["v"])
                        for r in hist.snapshot()
                        .filter("is_current")
                        .collect()
                    }
                    if got == want:
                        break
                time.sleep(0.5)
            assert got == want, f"current slice never converged: {got} != {want}"
            rows = {
                (r["k"], r["v"]): (r["scd_start"], r["scd_end"], r["is_current"])
                for r in hist.snapshot().collect()
            }
            # k=3's original state was replaced by the merge: closed
            start, end, cur = rows[(3, 30)]
            assert not cur and end is not None and start < end
            assert rows[(3, 999)][2]  # the new state is current
            # deleted keys' records are closed, not removed
            for k in (0, 5, 10):
                start, end, cur = rows[(k, k * 10)]
                assert not cur and end is not None
        finally:
            q.stop()


class TestJoinMaterializedView:
    """JoinMaterializedView: cursor recovery for the differential
    delta-join — one refresh absorbs BOTH sides' changes, including
    the ΔA⋈ΔB cross term."""

    def test_both_sides_one_refresh(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import JoinMaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        A = VersionedTable(spark, str(tmp_path / "a"))
        A.create(
            spark.range(60).select(
                F.col("id").alias("rid"),
                (F.col("id") % 10).alias("j"),
                (F.col("id") * 2).alias("x"),
            ),
            cluster_by=["rid"],
        )
        B = VersionedTable(spark, str(tmp_path / "b"))
        B.create(
            spark.range(10).select(
                F.col("id").alias("j"), (F.col("id") + 100).alias("y")
            ),
            cluster_by=["j"],
        )
        mv = JoinMaterializedView.create(
            spark, str(tmp_path / "v"), str(tmp_path / "a"), str(tmp_path / "b"),
            ["j"], "rid", "j",
        )
        assert mv.refresh() == (1, 1)  # no-op
        # BOTH sides move before one refresh: A updates rows of j=3 and
        # deletes rid%4==0; B refreshes j=3's payload (cross term) and
        # deletes j=7 (every pair of j=7 leaves)
        A.merge_into(
            A.snapshot().filter("j = 3").withColumn("x", F.col("x") + 1000),
            ["rid"],
        )
        A.delete_where("rid % 4 = 0")
        B.merge_into(
            B.snapshot().filter("j = 3").withColumn("y", F.col("y") + 7),
            ["j"],
        )
        B.merge_into(B.snapshot().filter("j = 7"), ["j"], when_matched="delete")
        assert mv.refresh() == (A.version(), B.version())
        got = mv.snapshot().select("rid", "j", "x", "y")
        want = A.snapshot().join(B.snapshot(), "j").select("rid", "j", "x", "y")
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
        # replay-equivalent: refresh again, nothing moves
        v = mv.table().version()
        assert mv.refresh() == (A.version(), B.version())
        assert mv.table().version() == v
        # fresh handle recovers both cursors from the sidecar + txn map
        mv2 = JoinMaterializedView(spark, str(tmp_path / "v"))
        A.delete_where("rid = 1")
        assert mv2.refresh() == (A.version(), B.version())
        assert mv2.snapshot().filter("rid = 1").isEmpty()


class TestAggJoinMaterializedView:
    """AggJoinMaterializedView (IVM tier 3, r13): aggregate-over-join
    maintained without materializing the join — cursor recovery,
    replay no-op, group-movement correctness, O(groups) stored state."""

    def _setup(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import AggJoinMaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        A = VersionedTable(spark, str(tmp_path / "a"))
        A.create(
            spark.range(120).select(
                F.col("id").alias("rid"),
                (F.col("id") % 10).alias("j"),
                (F.col("id") * 3).alias("x"),
            ),
            n_files=4,
            cluster_by=["rid"],
        )
        B = VersionedTable(spark, str(tmp_path / "b"))
        B.create(
            spark.range(10).select(
                F.col("id").alias("j"), (F.col("id") % 4).alias("g")
            ),
            cluster_by=["j"],
        )
        mv = AggJoinMaterializedView.create(
            spark, str(tmp_path / "v"), str(tmp_path / "a"), str(tmp_path / "b"),
            join_keys=["j"], group_by=["g"], sum_cols=["x"],
            a_key="rid", b_key="j",
        )
        return A, B, mv

    def _want(self, A, B):
        from pyspark.sql import functions as F

        return {
            (r["g"], r["cnt"], r["sum_x"])
            for r in A.snapshot()
            .join(B.snapshot(), "j")
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum("x").cast("long").alias("sum_x"),
            )
            .collect()
        }

    def test_maintain_without_join_table(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import AggJoinMaterializedView

        A, B, mv = self._setup(spark, tmp_path)
        assert self._want(A, B) == {
            (r["g"], r["cnt"], r["sum_x"]) for r in mv.snapshot().collect()
        }
        # both sides move before ONE refresh: fact update + delete,
        # dim GROUP MOVE (j=3: g 3→1) + dim delete (j=7: every row of
        # the pair leaves its group)
        A.merge_into(
            A.snapshot().filter("rid % 5 = 0").withColumn(
                "x", F.col("x") + 1000
            ),
            ["rid"],
        )
        A.delete_where("rid % 4 = 0")
        B.merge_into(
            B.snapshot().filter("j = 3").withColumn("g", F.lit(1)), ["j"]
        )
        B.merge_into(B.snapshot().filter("j = 7"), ["j"], when_matched="delete")
        assert mv.refresh() == (A.version(), B.version())
        assert self._want(A, B) == {
            (r["g"], r["cnt"], r["sum_x"]) for r in mv.snapshot().collect()
        }
        # stored state is O(groups), and maintained incrementally
        assert mv.snapshot().count() <= 4
        ops = [m["op"] for m in mv.table().history()]
        assert any(op.startswith("merge:") for op in ops)
        # replay-equivalent refresh: nothing moves
        v = mv.table().version()
        assert mv.refresh() == (A.version(), B.version())
        assert mv.table().version() == v
        # fresh handle recovers both cursors from the sidecar + txn map
        mv2 = AggJoinMaterializedView(spark, str(tmp_path / "v"))
        A.delete_where("rid = 1")
        assert mv2.refresh() == (A.version(), B.version())
        assert self._want(A, B) == {
            (r["g"], r["cnt"], r["sum_x"]) for r in mv2.snapshot().collect()
        }

    def test_group_emptied_by_dim_delete(self, spark, tmp_path):
        from iotdatapipeline_spark.matview import AggJoinMaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        A = VersionedTable(spark, str(tmp_path / "a"))
        B = VersionedTable(spark, str(tmp_path / "b"))
        from pyspark.sql import functions as F

        A.create(
            spark.range(40).select(
                F.col("id").alias("rid"), (F.col("id") % 4).alias("j"),
                F.lit(1).alias("x"),
            ),
            cluster_by=["rid"],
        )
        # each j is its own group: deleting a dim row EMPTIES a group
        B.create(
            spark.range(4).select(F.col("id").alias("j"), F.col("id").alias("g")),
            cluster_by=["j"],
        )
        mv = AggJoinMaterializedView.create(
            spark, str(tmp_path / "v"), str(tmp_path / "a"), str(tmp_path / "b"),
            join_keys=["j"], group_by=["g"], sum_cols=["x"],
            a_key="rid", b_key="j",
        )
        B.merge_into(B.snapshot().filter("j = 2"), ["j"], when_matched="delete")
        mv.refresh()
        got = {(r["g"], r["cnt"]) for r in mv.snapshot().collect()}
        assert got == {(0, 10), (1, 10), (3, 10)}  # group 2 removed

    def test_column_collision_refused(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import AggJoinMaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        A = VersionedTable(spark, str(tmp_path / "a"))
        A.create(
            spark.range(10).select(
                F.col("id").alias("rid"), (F.col("id") % 2).alias("j"),
                F.col("id").alias("x"),
            ),
            cluster_by=["rid"],
        )
        B = VersionedTable(spark, str(tmp_path / "b"))
        B.create(
            spark.range(2).select(F.col("id").alias("j"), F.col("id").alias("x")),
            cluster_by=["j"],
        )
        with _pytest.raises(ValueError, match="collision"):
            AggJoinMaterializedView.create(
                spark, str(tmp_path / "v"), str(tmp_path / "a"),
                str(tmp_path / "b"),
                join_keys=["j"], group_by=["x"], sum_cols=[],
                a_key="rid", b_key="j",
            )


class TestStackedViews:
    def test_view_over_view(self, spark, tmp_path):
        """The matview docstring's stacking claim, pinned: a SUM/COUNT
        view maintained over ANOTHER view's change feed (views are
        ordinary VersionedTables with commit-time CDF, so a second
        tier can follow the first). Source mutations must propagate
        through both refreshes."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"))
        src.create(
            spark.range(200).select(
                F.col("id").alias("k"),
                (F.col("id") % 40).alias("g"),
                (F.col("id") % 40 % 5).alias("gg"),
                F.lit(1).alias("v"),
            ),
            cluster_by=["k"],
        )
        # tier A: per-g counts/sums (40 groups); its table is CDF-on
        mva = MaterializedView.create(
            spark, str(tmp_path / "a"), str(tmp_path / "src"),
            group_by=["g", "gg"], sum_cols=["v"], keys=["k"],
        )
        # tier B: per-gg sum of tier A's sums (5 groups), following A's feed
        mvb = MaterializedView.create(
            spark, str(tmp_path / "b"), str(tmp_path / "a"),
            group_by=["gg"], sum_cols=["sum_v"], keys=["g", "gg"],
        )
        src.merge_into(
            spark.range(20).select(
                F.col("id").alias("k"), (F.col("id") % 40).alias("g"),
                (F.col("id") % 40 % 5).alias("gg"), F.lit(100).alias("v"),
            ),
            ["k"],
        )
        src.delete_where("k >= 180")
        mva.refresh()
        mvb.refresh()
        want = {
            (r["gg"], r["s"])
            for r in src.snapshot()
            .groupBy("gg")
            .agg(F.sum("v").cast("long").alias("s"))
            .collect()
        }
        got = {
            (r["gg"], r["sum_sum_v"]) for r in mvb.snapshot().collect()
        }
        assert got == want


class TestCountOnlyView:
    def test_count_only_spec_and_refusal(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"))
        src.create(
            spark.range(30).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("g")
            ),
            cluster_by=["k"],
        )
        with _pytest.raises(ValueError, match="count_only"):
            MaterializedView.create(
                spark, str(tmp_path / "bad"), str(tmp_path / "src"),
                group_by=["g"], count_only=True, sum_cols=["k"],
            )
        mv = MaterializedView.create(
            spark, str(tmp_path / "mv"), str(tmp_path / "src"),
            group_by=["g"], count_only=True, keys=["k"],
        )
        src.delete_where("k < 6")
        assert mv.refresh() == 2
        got = {(r["g"], r["cnt"]) for r in mv.snapshot().collect()}
        assert got == {(0, 8), (1, 8), (2, 8)}


class TestKmvView:
    """Approx-distinct (KMV) view tier: insert-only maintenance whose
    sketch equals the from-scratch sketch regardless of batching;
    deletes refuse loudly."""

    def test_batched_union_equals_global(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView, kmv_estimate
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        rows = spark.range(5000).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") % 997).alias("u"),
        )
        src = VersionedTable(spark, str(tmp_path / "src"))
        src.create(rows.filter("k < 1000"), cluster_by=["k"])
        mv = MaterializedView.create(
            spark, str(tmp_path / "mv"), str(tmp_path / "src"),
            group_by=["g"], kmv_col="u", keys=["k"],
        )
        # three append batches, refreshed one at a time
        for lo, hi in ((1000, 2000), (2000, 3500), (3500, 5000)):
            src.merge_into(
                rows.filter((F.col("k") >= lo) & (F.col("k") < hi)), ["k"]
            )
            mv.refresh()
        # the maintained sketch == the sketch built from the final state
        hv = F.conv(
            F.substring(F.md5(F.col("u").cast("string")), 1, 8), 16, 10
        ).cast("long")
        want = (
            src.snapshot()
            .select("g", hv.alias("hv"))
            .groupBy("g")
            .agg(F.slice(F.array_sort(F.collect_set("hv")), 1, 64).alias("kmv"))
        )
        got = mv.snapshot().select("g", "kmv")
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
        # and the estimate is within the KMV error envelope of exact
        est = {r["g"]: r["e"] for r in mv.snapshot().select(
            "g", kmv_estimate(64).alias("e")).collect()}
        exact = {r["g"]: r["d"] for r in src.snapshot().groupBy("g").agg(
            F.countDistinct("u").alias("d")).collect()}
        for g, d in exact.items():
            assert abs(est[g] - d) / d < 0.5, (g, est[g], d)

    def test_delete_in_feed_raises(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"))
        src.create(
            spark.range(50).select(
                F.col("id").alias("k"), (F.col("id") % 2).alias("g"),
                F.col("id").alias("u"),
            ),
            cluster_by=["k"],
        )
        mv = MaterializedView.create(
            spark, str(tmp_path / "mv"), str(tmp_path / "src"),
            group_by=["g"], kmv_col="u", keys=["k"],
        )
        src.delete_where("k < 10")
        with _pytest.raises(ValueError, match="insert-only"):
            mv.refresh()


class TestScd2AsOf:
    def test_belief_at_each_version(self, spark, tmp_path):
        """scd2_as_of(history, v) == the source's snapshot(v) for every
        v — time travel reconstructed from intervals alone."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import (
            cdf_scd2_foreach_batch,
            scd2_as_of,
        )

        src = VersionedTable(spark, str(tmp_path / "src"))
        src.create(
            spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
            cluster_by=["k"],
        )
        src.merge_into(
            spark.range(3).select(F.col("id").alias("k"), F.lit(999).alias("v")), ["k"]
        )
        src.delete_where("k = 7")
        sink = cdf_scd2_foreach_batch(str(tmp_path / "hist"), ["k"], txn_app="t")
        sink(
            src.snapshot(1)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(1).cast("long")),
            0,
        )
        feed = None
        for v in (2, 3):
            c = src.changes(v - 1, v, keys=["k"]).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            feed = c if feed is None else feed.unionByName(c)
        sink(feed, 1)
        hist = VersionedTable(spark, str(tmp_path / "hist")).snapshot()
        for v in (1, 2, 3):
            got = scd2_as_of(hist, v)
            want = src.snapshot(v)
            assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty(), v


class TestMvRefreshBoundaries:
    def test_refresh_across_optimize_and_restore(self, spark, tmp_path):
        """Operational corners: a source OPTIMIZE (layout-only commit)
        nets to an empty feed and must not disturb the view; a RESTORE
        boundary forces changes() onto the derivation fallback and the
        refresh must still converge."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"))
        src.create(
            spark.range(100).select(
                F.col("id").alias("k"), (F.col("id") % 5).alias("g"),
                F.lit(1).alias("v"),
            ),
            n_files=4,
            cluster_by=["k"],
        )
        mv = MaterializedView.create(
            spark, str(tmp_path / "mv"), str(tmp_path / "src"),
            group_by=["g"], sum_cols=["v"], keys=["k"],
        )

        def check():
            want = {
                (r["g"], r["cnt"], r["s"])
                for r in src.snapshot().groupBy("g").agg(
                    F.count("*").cast("long").alias("cnt"),
                    F.sum("v").cast("long").alias("s"),
                ).collect()
            }
            got = {
                (r["g"], r["cnt"], r["sum_v"]) for r in mv.snapshot().collect()
            }
            assert got == want

        src.optimize(n_files=2)  # v2: layout only, empty logical feed
        mv.refresh()
        check()
        src.delete_where("k < 20")  # v3
        mv.refresh()
        check()
        src.restore(1)  # v4: back to the full 100 rows
        mv.refresh()  # range crosses the restore boundary -> derivation
        check()

    @pytest.mark.parametrize(
        "kind",
        [
            "MaterializedView",
            "BqVectorIndex",
            "JoinMaterializedView",
            "AggJoinMaterializedView",
        ],
    )
    def test_empty_feed_advances_cursor(self, spark, tmp_path, kind):
        """r13 (ADVICE): a refresh over a range that nets to ZERO
        changes (layout-only source commits) must still advance the
        applied cursor — via a metadata-only txn stamp — so the next
        refresh is a version-pointer read instead of re-paying
        changes() + an unpruned view scan over the same no-op range.
        Every maintained view kind; the two-source kinds optimize
        their ``a`` side."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark import matview
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import CURSOR_RADIX

        src_root, root = str(tmp_path / "src"), str(tmp_path / "v")
        src = VersionedTable(spark, src_root)
        if kind == "BqVectorIndex":
            src.create(
                load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
                    "vec_id", "embedding"
                ),
                n_files=4,
                cluster_by=["vec_id"],
            )
            view = matview.BqVectorIndex.create(spark, root, src_root)
        else:
            src.create(
                spark.range(60).select(
                    F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
                    F.lit(1).alias("v"),
                ),
                n_files=4,
                cluster_by=["k"],
            )
        if kind == "MaterializedView":
            view = matview.MaterializedView.create(
                spark, root, src_root, group_by=["g"], sum_cols=["v"], keys=["k"]
            )
        two_source = kind in ("JoinMaterializedView", "AggJoinMaterializedView")
        if two_source:
            dim_root = str(tmp_path / "dim")
            VersionedTable(spark, dim_root).create(
                spark.range(3).select(
                    F.col("id").alias("g"), (F.col("id") % 2).alias("h")
                ),
                cluster_by=["g"],
            )
        if kind == "JoinMaterializedView":
            view = matview.JoinMaterializedView.create(
                spark, root, src_root, dim_root, ["g"], "k", "g"
            )
        if kind == "AggJoinMaterializedView":
            view = matview.AggJoinMaterializedView.create(
                spark, root, src_root, dim_root, join_keys=["g"],
                group_by=["h"], sum_cols=["v"], a_key="k", b_key="g",
            )

        def cursor(v_src):
            return v_src * CURSOR_RADIX + 1 if two_source else v_src

        assert view._applied_txn() == cursor(1)
        src.optimize(n_files=2)  # v2: layout only — empty logical feed
        view.refresh()
        # the cursor moved past the no-op range (the r13 fix): the
        # stamp is a metadata-only "txn" commit on the view table
        assert view._applied_txn() == cursor(2)
        assert view.table()._read_manifest(view.table().version())["op"] == "txn"
        # and the NEXT refresh is now a pure pointer read — no commit
        v = view.table().version()
        view.refresh()
        assert view.table().version() == v
        if kind == "BqVectorIndex":
            # history behind the stamped cursor may expire: a refresh
            # over a vector-free schema change needs no reseed
            src.add_column("note", "string")  # v3
            src.expire_versions(keep_last=1)
            assert view.refresh() == 3
            assert view._applied_txn() == 3


class TestIvmTwoCommitWindow:
    """r13 (ADVICE): the IVM tiers apply a batch as TWO commits —
    dead-group delete, then live merge. Pins: (a) a crash between them
    is recoverable on replay via the app#del stamp; (b) a refresh that
    loses a same-batch race backs off quietly instead of raising the
    spurious negative-count divergence error."""

    _DDL = "g bigint, x bigint, _change_type string"

    def _seed(self, spark, view_root):
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_foreach_batch

        sink = cdf_ivm_foreach_batch(view_root, ["g"], ["x"], txn_app="ivm")
        rows = [(g, 10 * g + i, "insert") for g in range(3) for i in range(2)]
        sink(spark.createDataFrame(rows, self._DDL), 0)
        return sink

    def _batch1(self, spark):
        # g=0 fully deleted (dead), g=1 updated (live)
        rows = [
            (0, 0, "delete"),
            (0, 1, "delete"),
            (1, 10, "update_preimage"),
            (1, 99, "update_postimage"),
        ]
        return spark.createDataFrame(rows, self._DDL)

    def test_crash_between_delete_and_merge_recovers(
        self, spark, tmp_path, monkeypatch
    ):
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        view_root = str(tmp_path / "v1")
        sink = self._seed(spark, view_root)
        orig = VersionedTable.merge_into
        state = {"fired": False}

        def hooked(self, *a, **kw):
            if not state["fired"] and self.root == view_root:
                state["fired"] = True
                raise RuntimeError("injected crash before the live merge")
            return orig(self, *a, **kw)

        monkeypatch.setattr(VersionedTable, "merge_into", hooked)
        with pytest.raises(RuntimeError, match="injected crash"):
            sink(self._batch1(spark), 1)
        t = VersionedTable(spark, view_root)
        txns = t._read_manifest(t.version()).get("txns") or {}
        assert int(txns["ivm#del"][0]) == 1  # delete committed + stamped
        assert int(txns["ivm"][0]) == 0  # final stamp NOT yet advanced
        # replay: must NOT raise the negative-count error — the #del
        # stamp tells it the dead groups are already gone
        sink(self._batch1(spark), 1)
        got = {r["g"]: (r["cnt"], r["sum_x"]) for r in t.snapshot().collect()}
        assert got == {1: (2, 99 + 11), 2: (2, 20 + 21)}
        txns = t._read_manifest(t.version()).get("txns") or {}
        assert int(txns["ivm"][0]) == 1
        # and a full replay of the applied batch is a clean no-op
        v = t.version()
        sink(self._batch1(spark), 1)
        assert t.version() == v

    def test_lost_race_backs_off_instead_of_raising(
        self, spark, tmp_path, monkeypatch
    ):
        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_foreach_batch

        view_root = str(tmp_path / "v2")
        loser = self._seed(spark, view_root)
        winner = cdf_ivm_foreach_batch(view_root, ["g"], ["x"], txn_app="ivm")
        batch = self._batch1(spark)
        orig_scan = VersionedTable.scan
        state = {"fired": False}

        def hooked(self, *a, **kw):
            # while the loser reads the view's current groups, the
            # winner applies the WHOLE batch — the loser's arithmetic
            # is then against post-winner state (doubled deltas /
            # missing dead groups)
            if not state["fired"] and self.root == view_root:
                state["fired"] = True
                winner(batch, 1)
            return orig_scan(self, *a, **kw)

        monkeypatch.setattr(VersionedTable, "scan", hooked)
        loser(batch, 1)  # must back off quietly, not raise
        assert state["fired"]
        t = VersionedTable(spark, view_root)
        got = {r["g"]: (r["cnt"], r["sum_x"]) for r in t.snapshot().collect()}
        assert got == {1: (2, 99 + 11), 2: (2, 20 + 21)}

    def test_minmax_crash_between_delete_and_merge_recovers(
        self, spark, tmp_path, monkeypatch
    ):
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import (
            cdf_ivm_minmax_foreach_batch,
        )

        src_root, view_root = str(tmp_path / "src"), str(tmp_path / "v3")
        src = VersionedTable(spark, src_root)
        src.create(
            spark.createDataFrame(
                [Row(k=g * 10 + i, g=g, x=10 * g + i) for g in range(3) for i in range(2)]
            ),
            cluster_by=["k"],
        )
        sink = cdf_ivm_minmax_foreach_batch(
            view_root, src_root, ["g"], min_cols=["x"], txn_app="mm"
        )
        ddl = "g bigint, x bigint, _change_type string, _commit_version bigint"
        seed = [(g, 10 * g + i, "insert", 1) for g in range(3) for i in range(2)]
        sink(spark.createDataFrame(seed, ddl), 0)
        # source moves to v2: g=0 rows deleted, g=1's min (x=10) deleted
        src.delete_where("g = 0 OR x = 10")
        batch = [
            (0, 0, "delete", 2),
            (0, 1, "delete", 2),
            (1, 10, "delete", 2),
        ]
        orig = VersionedTable.merge_into
        state = {"fired": False}

        def hooked(self, *a, **kw):
            if not state["fired"] and self.root == view_root:
                state["fired"] = True
                raise RuntimeError("injected crash before the live merge")
            return orig(self, *a, **kw)

        monkeypatch.setattr(VersionedTable, "merge_into", hooked)
        with pytest.raises(RuntimeError, match="injected crash"):
            sink(spark.createDataFrame(batch, ddl), 1)
        t = VersionedTable(spark, view_root)
        txns = t._read_manifest(t.version()).get("txns") or {}
        assert int(txns["mm#del"][0]) == 1
        sink(spark.createDataFrame(batch, ddl), 1)  # replay converges
        got = {r["g"]: (r["cnt"], r["min_x"]) for r in t.snapshot().collect()}
        assert got == {1: (1, 11), 2: (2, 20)}


class TestMvLifecycle:
    """r13 lifecycle pins: maintained views under source schema change
    and under expire_versions() past the applied cursor — the first
    things a long-lived deployment hits. Contract: additive evolution
    (add_column, widen — fed or unfed) refreshes cleanly (the view
    widens its own columns in kind); rename/drop of a fed column or
    explicit feed key raises the TYPED ViewSourceSchemaError before
    any feed read; expired history raises ViewHistoryExpired and
    reseed() recovers."""

    def _src(self, spark, root, int_types=True):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, root)
        g = (F.col("id") % 4).cast("int") if int_types else (F.col("id") % 4)
        v = F.lit(1).cast("int") if int_types else F.lit(1)
        src.create(
            spark.range(80).select(F.col("id").alias("k"), g.alias("g"), v.alias("v")),
            n_files=4,
            cluster_by=["k"],
        )
        return src

    def _mv(self, spark, tmp_path, src_name="src", **kw):
        from iotdatapipeline_spark.matview import MaterializedView

        return MaterializedView.create(
            spark, str(tmp_path / "mv"), str(tmp_path / src_name),
            group_by=["g"], keys=["k"], **kw,
        )

    def _assert_sum_matches(self, src, mv):
        from pyspark.sql import functions as F

        want = {
            (r["g"], r["cnt"], r["s"])
            for r in src.snapshot().groupBy("g").agg(
                F.count("*").cast("long").alias("cnt"),
                F.sum("v").cast("long").alias("s"),
            ).collect()
        }
        got = {(r["g"], r["cnt"], r["sum_v"]) for r in mv.snapshot().collect()}
        assert got == want

    def test_additive_changes_refresh_cleanly(self, spark, tmp_path):
        from pyspark.sql import functions as F

        src = self._src(spark, str(tmp_path / "src"))
        mv = self._mv(spark, tmp_path, sum_cols=["v"])
        src.add_column("note", "string")          # unfed add
        src.widen_column("v", "bigint")           # FED sum col widen
        src.merge_into(
            spark.range(4).select(
                F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("g"),
                F.lit(2 ** 40).alias("v"), F.lit("x").alias("note"),
            ),
            ["k"],
        )
        assert mv.refresh() == src.version()
        self._assert_sum_matches(src, mv)

    def test_widened_group_key_adapts_view(self, spark, tmp_path):
        from pyspark.sql import functions as F

        src = self._src(spark, str(tmp_path / "src"))
        mv = self._mv(spark, tmp_path, sum_cols=["v"])
        src.widen_column("g", "bigint")
        src.merge_into(
            spark.range(4).select(
                F.col("id").alias("k"), F.lit(5_000_000_000).alias("g"),
                F.lit(3).cast("int").alias("v"),
            ),
            ["k"],
        )
        assert mv.refresh() == src.version()
        # the view widened its OWN group column in kind
        assert dict(mv.snapshot().dtypes)["g"] == "bigint"
        self._assert_sum_matches(src, mv)

    def test_widened_minmax_value_adapts_view(self, spark, tmp_path):
        from pyspark.sql import functions as F

        src = self._src(spark, str(tmp_path / "src"))
        mv = self._mv(spark, tmp_path, min_cols=["v"], max_cols=["v"])
        src.widen_column("v", "bigint")
        src.merge_into(
            spark.range(2).select(
                F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("g"),
                F.lit(2 ** 40).alias("v"),
            ),
            ["k"],
        )
        assert mv.refresh() == src.version()
        types = dict(mv.snapshot().dtypes)
        assert types["min_v"] == "bigint" and types["max_v"] == "bigint"
        want = {
            (r["g"], r["mn"], r["mx"])
            for r in src.snapshot().groupBy("g").agg(
                F.min("v").alias("mn"), F.max("v").alias("mx")
            ).collect()
        }
        got = {
            (r["g"], r["min_v"], r["max_v"]) for r in mv.snapshot().collect()
        }
        assert got == want

    def test_rename_or_drop_of_fed_column_raises_typed(self, spark, tmp_path):
        from iotdatapipeline_spark.matview import ViewSourceSchemaError

        src = self._src(spark, str(tmp_path / "src"))
        mv = self._mv(spark, tmp_path, sum_cols=["v"])
        src.rename_column("v", "val")
        with pytest.raises(ViewSourceSchemaError, match=r"\['v'\]"):
            mv.refresh()
        src.rename_column("val", "v")  # rename back: the documented fix
        src.delete_where("k < 8")
        assert mv.refresh() == src.version()
        self._assert_sum_matches(src, mv)
        src.drop_column("v")
        with pytest.raises(ViewSourceSchemaError, match="no longer has"):
            mv.refresh()

    def test_rename_of_explicit_key_raises_typed(self, spark, tmp_path):
        from iotdatapipeline_spark.matview import ViewSourceSchemaError

        src = self._src(spark, str(tmp_path / "src"))
        mv = self._mv(spark, tmp_path, sum_cols=["v"])
        src.rename_column("k", "kk")
        with pytest.raises(ViewSourceSchemaError, match=r"\['k'\]"):
            mv.refresh()

    def test_rename_of_default_key_adapts(self, spark, tmp_path):
        """With keys=None the feed keys come from the source's OWN
        cluster_by at read time, which rename_column keeps current —
        so a key rename adapts instead of erroring."""
        from iotdatapipeline_spark.matview import MaterializedView

        src = self._src(spark, str(tmp_path / "src"))
        mv = MaterializedView.create(
            spark, str(tmp_path / "mv"), str(tmp_path / "src"),
            group_by=["g"], sum_cols=["v"],
        )
        src.rename_column("k", "kk")
        src.delete_where("kk < 8")
        assert mv.refresh() == src.version()
        self._assert_sum_matches(src, mv)

    def test_expire_past_cursor_raises_and_reseed_recovers(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import ViewHistoryExpired

        src = self._src(spark, str(tmp_path / "src"))
        mv = self._mv(spark, tmp_path, sum_cols=["v"])
        src.merge_into(
            spark.range(8).select(
                F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("g"),
                F.lit(50).cast("int").alias("v"),
            ),
            ["k"],
        )
        src.delete_where("k >= 70")
        src.expire_versions(keep_last=1)  # cursor (v1) now unreadable
        with pytest.raises(ViewHistoryExpired, match="reseed"):
            mv.refresh()
        assert mv.reseed() == src.version()
        self._assert_sum_matches(src, mv)
        # the cursor is re-anchored: maintenance is incremental again
        src.delete_where("k < 4")
        assert mv.refresh() == src.version()
        self._assert_sum_matches(src, mv)
        # reseed when already current is a no-op, never an emptier
        v = mv.table().version()
        assert mv.reseed() == src.version()
        assert mv.table().version() == v
        assert not mv.snapshot().isEmpty()

    def test_two_source_view_expired_history_raises_typed(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import (
            AggJoinMaterializedView,
            ViewHistoryExpired,
        )
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        A = VersionedTable(spark, str(tmp_path / "a"))
        A.create(
            spark.range(40).select(
                F.col("id").alias("rid"), (F.col("id") % 4).alias("j"),
                F.lit(1).alias("x"),
            ),
            cluster_by=["rid"],
        )
        B = VersionedTable(spark, str(tmp_path / "b"))
        B.create(
            spark.range(4).select(F.col("id").alias("j"), (F.col("id") % 2).alias("g")),
            cluster_by=["j"],
        )
        mv = AggJoinMaterializedView.create(
            spark, str(tmp_path / "v"), str(tmp_path / "a"), str(tmp_path / "b"),
            join_keys=["j"], group_by=["g"], sum_cols=["x"],
            a_key="rid", b_key="j",
        )
        A.delete_where("rid < 5")
        A.delete_where("rid >= 35")
        A.expire_versions(keep_last=1)
        with pytest.raises(ViewHistoryExpired, match="reseed"):
            mv.refresh()
        # r13: two-source views reseed in place too — cursor re-anchored
        assert mv.reseed() == (A.version(), B.version())
        want = {
            (r["g"], r["cnt"], r["sum_x"])
            for r in A.snapshot()
            .join(B.snapshot(), "j")
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum("x").cast("long").alias("sum_x"),
            )
            .collect()
        }
        got = {(r["g"], r["cnt"], r["sum_x"]) for r in mv.snapshot().collect()}
        assert got == want
        # and maintenance is incremental again
        A.delete_where("rid = 20")
        assert mv.refresh() == (A.version(), B.version())
        assert mv.snapshot().agg(F.sum("cnt")).collect()[0][0] == A.snapshot().count()
        # reseed when current is a no-op, never an emptier
        v = mv.table().version()
        assert mv.reseed() == (A.version(), B.version())
        assert mv.table().version() == v and not mv.snapshot().isEmpty()

    def test_two_source_view_schema_change_pins(self, spark, tmp_path):
        """r13: the two-source kinds get the same lifecycle contract —
        rename/drop of a fed column, a join key, or a side's row key
        raises the typed error before any feed read; additive changes
        refresh cleanly."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import (
            AggJoinMaterializedView,
            ViewSourceSchemaError,
        )
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        A = VersionedTable(spark, str(tmp_path / "sa"))
        A.create(
            spark.range(30).select(
                F.col("id").alias("rid"), (F.col("id") % 3).alias("j"),
                F.lit(1).alias("x"),
            ),
            cluster_by=["rid"],
        )
        B = VersionedTable(spark, str(tmp_path / "sb"))
        B.create(
            spark.range(3).select(F.col("id").alias("j"), (F.col("id") % 2).alias("g")),
            cluster_by=["j"],
        )
        mv = AggJoinMaterializedView.create(
            spark, str(tmp_path / "sv"), str(tmp_path / "sa"), str(tmp_path / "sb"),
            join_keys=["j"], group_by=["g"], sum_cols=["x"],
            a_key="rid", b_key="j",
        )
        A.add_column("note", "string")  # additive: refreshes cleanly
        A.delete_where("rid = 0")
        assert mv.refresh() == (A.version(), B.version())
        # rename of the fed group column (b-side) → typed error
        B.rename_column("g", "bucket")
        B.merge_into(
            B.snapshot().filter("j = 1").withColumn("bucket", F.lit(7)), ["j"]
        )
        with pytest.raises(ViewSourceSchemaError, match=r"\['g'\]"):
            mv.refresh()
        B.rename_column("bucket", "g")  # the documented fix
        assert mv.refresh() == (A.version(), B.version())
        # rename of a join key → typed error naming it
        A.rename_column("j", "jj")
        A.delete_where("rid = 1")
        with pytest.raises(ViewSourceSchemaError, match=r"'j'"):
            mv.refresh()
        A.rename_column("jj", "j")
        # rename of a side's ROW key → typed error naming the side
        A.rename_column("rid", "row_id")
        with pytest.raises(ViewSourceSchemaError, match="a-side key"):
            mv.refresh()
        A.rename_column("row_id", "rid")
        assert mv.refresh() == (A.version(), B.version())
        want = {
            (r["g"], r["cnt"], r["sum_x"])
            for r in A.snapshot().join(B.snapshot(), "j").groupBy("g").agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum("x").cast("long").alias("sum_x"),
            ).collect()
        }
        got = {(r["g"], r["cnt"], r["sum_x"]) for r in mv.snapshot().collect()}
        assert got == want
