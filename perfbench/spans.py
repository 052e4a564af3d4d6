"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log reader that turns a traced run into per-layer counts.

Spans live in memory (one list per run) and are written out once at the
end. Each span has an id, a name, a parent id, and start/end times on
two clocks: ``perf_counter`` for durations and epoch milliseconds for
matching Spark's event-log timestamps.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps only the timing
    the end-to-end metrics need; nothing is stored."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time the block; yields a dict that receives ``dur_s``."""
        rec = {"name": name, **attrs}
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1]["id"] if stack else None
        with self._lock:
            rec["id"] = len(self.spans)
            rec["parent"] = parent
            if self.enabled:
                self.spans.append(rec)
        stack.append(rec)
        rec["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["dur_s"] * 1000.0
            stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children
        cover (children never overlap their parent's other children)."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += s["dur_s"] * 1000.0
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["dur_s"] * 1000.0 - child_ms[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "self_ms": self.self_times_ms(), "spans": self.spans}, fh, indent=1)


class EventLog:
    """Jobs, stages and task metrics of one finished application, read
    from its uncompressed JSON-lines event log."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        if len(paths) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
        #: job id -> submission time (epoch ms)
        self.jobs: dict[int, float] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: set[tuple[int, int]] = set()
        self.tasks: list[dict] = []
        with open(paths[0], encoding="utf-8") as fh:
            for line in fh:
                self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            self.jobs[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages.add((info["Stage ID"], info["Stage Attempt ID"]))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            shuffle_r = m.get("Shuffle Read Metrics") or {}
            shuffle_w = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    "gc_ms": m.get("JVM GC Time", 0),
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_read_bytes": shuffle_r.get("Remote Bytes Read", 0)
                    + shuffle_r.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": shuffle_w.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )

    def jobs_in(self, windows: list[tuple[float, float]]) -> list[int]:
        """Job ids submitted inside any of the ``(start_ms, end_ms)`` windows."""
        return [jid for jid, t in self.jobs.items() if any(lo <= t <= hi for lo, hi in windows)]

    def totals(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """``spark.*`` counts for the jobs submitted inside ``windows``."""
        jobs = set(self.jobs_in(windows))
        stages = [k for k in self.stages if self.stage_job.get(k[0]) in jobs]
        tasks = [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(len(tasks)),
        }
        for key, name in (
            ("run_ms", "spark.executor_run_ms"),
            ("cpu_ms", "spark.executor_cpu_ms"),
            ("gc_ms", "spark.gc_ms"),
            ("input_bytes", "spark.input_bytes"),
            ("shuffle_read_bytes", "spark.shuffle_read_bytes"),
            ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
            ("spill_bytes", "spark.spill_bytes"),
        ):
            out[name] = float(sum(t[key] for t in tasks))
        return out


def mean(values, default: float = 0.0) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.fmean(values)) if values else default


def median(values, default: float = 0.0) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else default
