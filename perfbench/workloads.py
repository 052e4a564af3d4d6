"""The benchmark workloads.

Each workload is a class with ``stage`` (input generation, no Spark; it
runs while the session starts) and ``setup`` (warm-up), both counted in
``setup_s``, ``measure`` (the timed part, about ``seconds`` long),
``check`` (untimed comparison against DuckDB) and ``layers`` (per-layer
numbers for a traced run). The benchmark calls only the program's public
entry points: ``plans.QUERIES``/``ORACLE``, ``streaming.run_pipeline``,
``sources.versioned.VersionedTable`` and ``matview.MaterializedView``.

Every workload reports one *operation* latency and rate:

* ``batch_headline``: an operation is one pass over the query set, timed
  as the sum of each query's mean ``noop`` write (the query-set
  time); rate = passes per wall second, plan builds included.
* ``stream_narrow``/``stream_wide``: an operation is one tick, from its
  trigger start to its sink commit (``tick_commit``); rate = ticks
  drained per wall second (``ticks_per_s``).
* ``lakehouse_upkeep``: an operation is one upkeep round: an upsert, a
  view refresh, a pruned read and a full aggregate; rate = rounds per
  second.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import sys
import time
import traceback

import duckdb
import pyarrow.parquet as pq

import checks
import config
import datagen
from spans import EventLog, Tracer, mean, median

HEADLINE_TABLES = ("events", "lineitem", "orders", "customer", "documents")
#: A drain that outlives this is stopped and its ticks counted failed.
DRAIN_TIMEOUT_S = 90
#: Operations in one lakehouse round: merge, refresh and two reads.
ROUND_OPS = 4


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, seconds: float, tracer: Tracer):
        self.spark = None
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        #: set-up time spent inside ``measure`` (a stream's warm-up ticks)
        self.setup_extra_s = 0.0
        #: every operation latency the first ``measure`` timed
        self.samples: list[float] = []
        self.checks: dict[str, bool] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ── batch headline ───────────────────────────────────────────────────────


class BatchHeadline(Workload):
    name = "batch_headline"

    def stage(self) -> None:
        from iotdatapipeline_spark.plans import ORACLE

        self.names = list(config.HEADLINE_QUERIES)
        self.sf_dir = datagen.generate(self.path("sf"), config.HEADLINE_SF, self.seed, HEADLINE_TABLES)
        self.want = checks.oracle_digests(self.sf_dir, HEADLINE_TABLES, ORACLE, self.names)

    def setup(self, spark) -> None:
        from iotdatapipeline_spark.plans import QUERIES

        self.spark, self.queries = spark, QUERIES
        for k, v in config.BATCH_CONF.items():
            self.spark.conf.set(k, v)
        # warm-up: one full-size run of every plan, which also yields the
        # results the check compares
        self.results = {}
        for n in self.names:
            df = self.queries[n](self.spark, self.sf_dir)
            self.results[n] = checks.digest(df.columns, df.collect())
        self.reps = {n: 0 for n in self.names}

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def measure(self) -> dict:
        times: dict[str, list[float]] = {n: [] for n in self.names}
        t0 = time.perf_counter()
        t_end = t0 + self.seconds
        passes = 0
        while passes == 0 or time.perf_counter() < t_end:
            for n in self.names:
                self.attempted += 1
                # a fresh DataFrame per rep: nothing cached on a reused
                # plan object can flatter the later reps
                with self.tracer.span("plans.build", query=n):
                    df = self.queries[n](self.spark, self.sf_dir)
                if self.tracer.enabled:
                    with self.tracer.span("spark.plan", query=n):
                        df._jdf.queryExecution().executedPlan()
                try:
                    with self.tracer.span("plans.exec", query=n) as s:
                        self._noop(df)
                except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                    traceback.print_exc()
                    self.failed += 1
                    continue
                times[n].append(s["dur_s"])
                self.reps[n] += 1
            passes += 1
        wall = time.perf_counter() - t0
        self.samples = self.samples or [sum(p) for p in zip(*times.values())]
        # the rate counts the plan builds the latency leaves out, so work
        # moved from execution into DataFrame construction shows in it
        return {"op_mean_s": sum(mean(v) for v in times.values()), "ops_per_s": passes / wall}

    def check(self) -> None:
        bad = [n for n in self.names if self.want[n] != self.results[n]]
        self.checks = {f"oracle.{n}": n not in bad for n in self.names}
        # a query whose result mismatches fails every timed rep of it
        self.failed += sum(self.reps[n] for n in bad)

    def layers(self, log: EventLog) -> dict:
        out = {}
        builds = self.tracer.named("plans.build")
        plans = self.tracer.named("spark.plan")
        execs = self.tracer.named("plans.exec")
        out["plans.build_ms"] = sum(median(s["dur_s"] * 1e3 for s in builds if s["query"] == n) for n in self.names)
        out["spark.plan_ms"] = sum(median(s["dur_s"] * 1e3 for s in plans if s["query"] == n) for n in self.names)
        for n in self.names:
            mine = [s for s in execs if s["query"] == n]
            out[f"plans.{n}.exec_ms"] = median(s["dur_s"] * 1e3 for s in mine)
            out[f"plans.{n}.jobs"] = median(len(log.jobs_in([(s["start_ms"], s["end_ms"])])) for s in mine)
        # spark.* per pass: all timed execution windows over the pass count
        passes = max(1, len(execs) // len(self.names))
        tot = log.totals([(s["start_ms"], s["end_ms"]) for s in execs])
        out.update({k: v / passes for k, v in tot.items()})
        return out


# ── streaming ────────────────────────────────────────────────────────────


def _progress_end_ms(p: dict) -> float:
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0
    return start + p["durationMs"]["triggerExecution"]


class StreamDrain(Workload):
    """The production pipeline draining staged ticks, one per micro-batch."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.cfg = config.STREAMS[self.name]

    def stage(self) -> None:
        data = datagen.generate(self.path("sf"), self.cfg["sf"], self.seed, ("events",))
        self.ticks = datagen.stage_ticks(
            os.path.join(data, "events.parquet"), self.path("ticks"), self.cfg["tick_rows"]
        )

    def setup(self, spark) -> None:
        """The warm-up ticks run inside ``measure``'s drain."""
        self.spark = spark
        self.warm = config.STREAM_WARMUP_TICKS
        self.runs: list[dict] = []
        if self.tracer.enabled:
            self._wrap_sinks()

    def _wrap_sinks(self) -> None:
        """Traced run only: time the fan-out ``apply`` of every batch and
        the versioned MERGE inside it."""
        import iotdatapipeline_spark.streaming.pipeline as pipeline
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        tracer, fanout, merge_into = self.tracer, pipeline.fanout_foreach_batch, VersionedTable.merge_into

        def traced_fanout(**kw):
            apply = fanout(**kw)

            def traced_apply(batch_df, batch_id):
                with tracer.span("streaming.sinks.apply", batch=batch_id):
                    apply(batch_df, batch_id)

            return traced_apply

        def traced_merge(table, source, keys, **kw):
            with tracer.span("sources.versioned.merge", batch=kw.get("txn_version")):
                return merge_into(table, source, keys, **kw)

        pipeline.fanout_foreach_batch = traced_fanout
        VersionedTable.merge_into = traced_merge

    def _drain(self, n: int) -> dict:
        """Run one fresh pipeline (own checkpoint and sinks) over ticks
        ``0..n-1``; returns its progress and sink paths."""
        from iotdatapipeline_spark.streaming import run_pipeline

        root = self.path(f"drain-{len(self.runs)}")
        replay = os.path.join(root, "replay")
        os.makedirs(replay)
        # the file source replays in modification-time order
        base = time.time() - n - 10
        for i, src in enumerate(self.ticks[:n]):
            dst = os.path.join(replay, os.path.basename(src))
            shutil.copyfile(src, dst)
            os.utime(dst, (base + i, base + i))
        sinks = {k: os.path.join(root, k) for k in ("records", "history", "limpieza", "ckpt")}
        q = run_pipeline(
            self.spark,
            replay,
            checkpoint_dir=sinks["ckpt"],
            records_path=sinks["records"],
            history_path=sinks["history"],
            limpieza_path=sinks["limpieza"],
            timeout_ms=self.cfg["gap_ms"],
            timeout_mode="event",
            versioned_records=True,
            available_now=True,
        )
        error = None
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                error = f"drain of {n} ticks still running after {DRAIN_TIMEOUT_S} s"
        except Exception:  # noqa: BLE001 - a failed drain is counted, not fatal
            error = traceback.format_exc()
        finally:
            if q.isActive:
                q.stop()
        if error:
            print(f"perfbench: {error}", file=sys.stderr)
        progress = sorted(
            (p for p in q.recentProgress if p["numInputRows"] > 0), key=lambda p: p["batchId"]
        )
        return {
            "progress": progress,
            "all_progress": list(q.recentProgress),
            "files": self.ticks[:n],
            "error": error,
            **sinks,
        }

    def measure(self) -> dict:
        """One drain: the first ``warm`` ticks warm the query, its Python
        workers and the records table, and count as set-up; the next
        ``ceil(seconds / seconds_per_tick)`` are timed. Batch i carries
        tick i. A drain that fails or times out fails all its ticks, since
        its sinks hold only part of it."""
        n = self.warm + min(len(self.ticks) - self.warm, math.ceil(self.seconds / self.cfg["seconds_per_tick"]))
        self.attempted += n
        start_ms = time.time() * 1000.0
        run = self._drain(n)
        end_ms = time.time() * 1000.0
        self.runs.append(run)
        if run["error"]:
            self.failed += n
        prog = run["progress"]
        warm_end_ms = _progress_end_ms(prog[self.warm - 1]) if len(prog) >= self.warm else end_ms
        if len(self.runs) == 1:
            self.setup_extra_s = (warm_end_ms - start_ms) / 1e3
        timed = prog[self.warm :]
        lat = [p["durationMs"]["triggerExecution"] / 1e3 for p in timed]
        self.samples = self.samples or lat
        if not timed:  # failed before its first timed tick
            return {"op_mean_s": (end_ms - start_ms) / 1e3, "ops_per_s": 0.0}
        span_s = (_progress_end_ms(timed[-1]) - warm_end_ms) / 1e3
        return {"op_mean_s": mean(lat), "ops_per_s": len(timed) / span_s}

    def check(self) -> None:
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        for i, run in enumerate(self.runs):
            self.checks[f"drain{i}.completed"] = not run["error"]
            if run["error"]:  # its ticks are already counted failed
                continue
            snap = VersionedTable(self.spark, run["records"]).snapshot()
            rows = [tuple(r) for r in snap.collect()]
            res = checks.check_stream(
                run["files"], run["history"], run["limpieza"], rows, snap.columns, self.cfg["gap_ms"]
            )
            self.checks.update({f"drain{i}.{k}": v for k, v in res.items()})
            if not all(res.values()):
                self.failed += len(run["files"])

    def layers(self, log: EventLog) -> dict:
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        run = self.runs[0]
        prog = run["progress"][self.warm :]
        dur = lambda k: median(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
        st = lambda k: median((p["stateOperators"] or [{}])[0].get(k, 0) for p in prog)  # noqa: E731
        out = {
            "streaming.batch_ms": dur("triggerExecution"),
            "streaming.source.offset_ms": dur("latestOffset") + dur("getBatch"),
            "streaming.pipeline.query_planning_ms": dur("queryPlanning"),
            "streaming.pipeline.wal_commit_ms": dur("walCommit"),
            "streaming.pipeline.commit_offsets_ms": dur("commitOffsets"),
            "streaming.pipeline.add_batch_ms": dur("addBatch"),
            "streaming.stateful.update_ms": st("allUpdatesTimeMs"),
            "streaming.stateful.commit_ms": st("commitTimeMs"),
            "streaming.stateful.rows_total": float((prog[-1]["stateOperators"] or [{}])[0].get("numRowsTotal", 0)),
            "streaming.stateful.rows_updated": st("numRowsUpdated"),
            "streaming.stateful.rows_removed": st("numRowsRemoved"),
            "streaming.stateful.memory_bytes": float((prog[-1]["stateOperators"] or [{}])[0].get("memoryUsedBytes", 0)),
            "streaming.stateful.timers_fired": float(sum(_limpiezas(p) for p in run["all_progress"])),
        }
        steady = [s for s in self.tracer.named("streaming.sinks.apply") if s["batch"] >= self.warm]
        out["streaming.sinks.apply_ms"] = median(s["dur_s"] * 1e3 for s in steady)
        out["streaming.sinks.jobs_per_batch"] = median(
            len(log.jobs_in([(s["start_ms"], s["end_ms"])])) for s in steady
        )
        # how much of a batch's wall time the layers above account for
        parts = ("streaming.source.offset_ms", "streaming.pipeline.query_planning_ms",
                 "streaming.pipeline.wal_commit_ms", "streaming.sinks.apply_ms",
                 "streaming.pipeline.commit_offsets_ms")
        out["streaming.covered_frac"] = sum(out[k] for k in parts) / out["streaming.batch_ms"]
        # spark.* per steady batch, over the batches' trigger windows
        windows = [(_progress_end_ms(p) - p["durationMs"]["triggerExecution"], _progress_end_ms(p)) for p in prog]
        tot = log.totals(windows)
        out.update({k: v / max(1, len(prog)) for k, v in tot.items()})
        merges = [s for s in self.tracer.named("sources.versioned.merge") if s["batch"] >= self.warm]
        out["sources.versioned.merge_ms"] = median(s["dur_s"] * 1e3 for s in merges)
        table = VersionedTable(self.spark, run["records"])
        out.update(_merge_layers(table.history()))
        # files a stats-pruned read of the last tick's station range opens
        con = duckdb.connect()
        lo, hi = con.sql(f"SELECT min(station), max(station) FROM '{run['files'][-1]}'").fetchone()
        con.close()
        kept, total = table.pruned_files({"station": (lo, hi)})
        out["sources.versioned.files_scanned"] = float(kept)
        out["sources.versioned.files_total"] = float(total)
        return out


def _limpiezas(progress) -> int:
    """Timers fired in one batch: the pipeline's observed limpieza count."""
    row = (progress["observedMetrics"] or {}).get("pipeline_metrics")
    return (row["n_limpiezas"] or 0) if row is not None else 0


def _merge_layers(manifests: list[dict]) -> dict:
    """Median per-commit write counts of the merge commits."""
    merges = [m for m in manifests if m["op"].startswith("merge")]
    metric = lambda k: median(float((m.get("metrics") or {}).get(k, 0)) for m in merges)  # noqa: E731
    return {
        "sources.versioned.files_added": metric("files_added"),
        "sources.versioned.files_removed": metric("files_removed"),
        "sources.versioned.rows_written": metric("rows_added"),
    }


class StreamNarrow(StreamDrain):
    name = "stream_narrow"


class StreamWide(StreamDrain):
    name = "stream_wide"


# ── lakehouse upkeep ─────────────────────────────────────────────────────


class LakehouseUpkeep(Workload):
    name = "lakehouse_upkeep"

    cfg = config.LAKEHOUSE

    def stage(self) -> None:
        data = datagen.generate(self.path("sf"), self.cfg["rows"] / 1_000_000, self.seed, ("events",))
        self.events_path = os.path.join(data, "events.parquet")

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        self.spark, self.F = spark, F
        cfg = self.cfg
        self.base = (
            self.spark.read.parquet(self.events_path)
            .select(
                "event_id",
                (F.col("user_id") % cfg["groups"]).alias("g"),
                F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
            )
        )
        self.src_root, self.mv_root = self.path("src"), self.path("mv")
        self.table = VersionedTable(self.spark, self.src_root)
        self.table.create(self.base, n_files=cfg["files"], cluster_by=["event_id"])
        self.mv = MaterializedView.create(
            self.spark, self.mv_root, self.src_root, group_by=["g"], sum_cols=["v_cents"], keys=["event_id"]
        )
        self.rounds: list[tuple[int, int, int, int, int]] = []
        #: whether a round failed; the table's state is unknown after it
        self.broken = False
        #: (round, (lo, hi) of the pruned read, its result, the full aggregate)
        self.reads: list[tuple[int, tuple[int, int], list, list]] = []
        self._round()  # warm-up round, checked with the rest

    def _bounds(self, r: int) -> tuple[int, int, int, int, int]:
        cfg = self.cfg
        span = cfg["rows"] - cfg["band"]
        lo = (r * 7 * cfg["band"] + (self.seed % 97) * 1_009) % span
        return r, lo, lo + cfg["band"], lo + cfg["band"] // 16, cfg["rows"] * (r + 1)

    def _round(self) -> dict[str, float]:
        F = self.F
        self.attempted += ROUND_OPS
        r, lo, hi, ins_hi, key_off = self._bounds(len(self.rounds))
        band = self.base.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        upd = band.withColumn("v_cents", F.col("v_cents") + (r + 1))
        ins = band.filter(F.col("event_id") < ins_hi).withColumn("event_id", F.col("event_id") + key_off)
        t = {}
        with self.tracer.span("sources.versioned.merge", round=r) as s:
            self.table.merge_into(upd.unionByName(ins), ["event_id"])
        t["merge"] = s["dur_s"]
        self.rounds.append((r, lo, hi, ins_hi, key_off))
        with self.tracer.span("matview.refresh", round=r) as s:
            self.mv.refresh()
        t["refresh"] = s["dur_s"]
        a, b = lo + self.cfg["band"] // 2, lo + self.cfg["band"] // 2 + self.cfg["read_span"]
        with self.tracer.span("sources.versioned.scan", round=r) as s:
            pruned = (
                self.table.scan(where={"event_id": (a, b - 1)})
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v_cents").alias("s"))
                .collect()
            )
        with self.tracer.span("sources.versioned.snapshot_agg", round=r) as s2:
            full = (
                self.table.snapshot()
                .groupBy("g")
                .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v_cents").alias("sum_v_cents"))
                .collect()
            )
        t["read"] = s["dur_s"] + s2["dur_s"]
        self.reads.append((r, (a, b), [tuple(x) for x in pruned], [tuple(x) for x in full]))
        return t

    def measure(self) -> dict:
        lat = []
        t0 = time.perf_counter()
        t_end = t0 + self.seconds
        while not self.broken and (not lat or time.perf_counter() < t_end):
            try:
                t = self._round()
            except Exception:  # noqa: BLE001 - a failed round is counted, not fatal
                traceback.print_exc()
                # its operations fail, and no round can follow it
                self.failed += ROUND_OPS
                self.broken = True
                break
            lat.append(t["merge"] + t["refresh"] + t["read"])
        wall = time.perf_counter() - t0
        if not lat:
            return {"op_mean_s": wall, "ops_per_s": 0.0}
        self.samples = self.samples or lat
        return {"op_mean_s": mean(lat), "ops_per_s": len(lat) / wall}

    def check(self) -> None:
        self.checks = {"rounds_completed": not self.broken}
        if self.broken:  # the failed round's operations are already counted
            return
        con = checks.lakehouse_expected(self.events_path, self.cfg["groups"], self.rounds)
        n = len(self.rounds)
        try:
            files = [f.removeprefix("file://") for f in self.table.snapshot().inputFiles()]
            ok_snap = checks.same_rows(con, files, checks.expected_sql(n))
            mv = sorted(tuple(r) for r in self.mv.snapshot().select("g", "cnt", "sum_v_cents").collect())
            ok_mv = mv == checks.rows(con, checks.group_sql(n))
            # each round's two reads against the table as of that round
            bad_reads = 0
            for r, (a, b), pruned, full in self.reads:
                want_p = checks.rows(
                    con,
                    f"SELECT count(*), sum(v_cents) FROM ({checks.expected_sql(r + 1)}) "
                    f"WHERE event_id BETWEEN {a} AND {b - 1}",
                )
                bad_reads += (sorted(pruned) != want_p) + (sorted(full) != checks.rows(con, checks.group_sql(r + 1)))
        finally:
            con.close()
        self.checks.update({"snapshot": ok_snap, "matview": ok_mv, "reads": bad_reads == 0})
        # a wrong snapshot fails every merge, a wrong view every refresh
        self.failed += bad_reads + (0 if ok_snap else n) + (0 if ok_mv else n)

    def layers(self, log: EventLog) -> dict:
        # the traced rounds after the warm-up one
        measured = {s["round"] for s in self.tracer.named("sources.versioned.merge")} - {0}
        pick = lambda name: [s for s in self.tracer.named(name) if s["round"] in measured]  # noqa: E731
        merges = pick("sources.versioned.merge")
        refreshes = pick("matview.refresh")
        out = {
            "sources.versioned.merge_ms": median(s["dur_s"] * 1e3 for s in merges),
            "sources.versioned.scan_ms": median(s["dur_s"] * 1e3 for s in pick("sources.versioned.scan")),
            "sources.versioned.snapshot_agg_ms": median(
                s["dur_s"] * 1e3 for s in pick("sources.versioned.snapshot_agg")
            ),
            "matview.refresh_ms": median(s["dur_s"] * 1e3 for s in refreshes),
        }
        commits = [m for m in self.table.history() if m["op"].startswith("merge")][1:]
        out.update(_merge_layers(commits))
        # the change feed a refresh consumes: the rows of each source
        # merge's commit-time change files
        out["matview.feed_rows"] = median(
            sum(pq.read_metadata(os.path.join(self.src_root, "data", f)).num_rows for f in m["cdf"]["files"])
            for m in commits
        )
        last = self.reads[-1][1]
        kept, total = self.table.pruned_files({"event_id": (last[0], last[1] - 1)})
        out["sources.versioned.files_scanned"] = float(kept)
        out["sources.versioned.files_total"] = float(total)
        windows = [(s["start_ms"], s["end_ms"]) for s in self.tracer.spans if s.get("round") in measured]
        tot = log.totals(windows)
        out.update({k: v / max(1, len(measured)) for k, v in tot.items()})
        return out


WORKLOADS = {w.name: w for w in (BatchHeadline, StreamNarrow, StreamWide, LakehouseUpkeep)}
