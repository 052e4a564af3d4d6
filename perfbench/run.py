"""Repository benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see ``workloads.py`` and the
pinned inputs in ``config.py``): ``batch_headline``, ``stream_narrow``,
``lakehouse_upkeep`` and ``stream_wide``; ``BENCHMARK.json`` lists the
first three, which fit the benchmark's time budget.

The second-last stdout line records the environment (core count, local
cores, Spark and DuckDB versions), every correctness check and the timed
samples. The last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``failed /
attempted`` is the share of failed or mismatching operations; a failed
operation is counted and the run goes on, but an error during set-up
ends the run with no result line. Metric names and units come from
``BENCHMARK.json``. ``--trace 0`` reports the end-to-end metrics:

* ``setup_s``: session start, input generation and staging, warm-up;
* ``op_mean_s``: mean latency of the workload's operation (a query-set
  pass, a tick's trigger-to-commit, an upkeep round); for a stream's
  ticks the mean varies less from run to run than the median;
* ``ops_per_s``: operations completed per wall second.

``--trace 1`` is a separate run with Spark's event log on and spans
recorded around every call into a layer. It reports the per-layer
metrics, 0 for a layer the workload does not run, ``ops_failed_frac``
and the tracing overhead: traced minus untraced ``op_mean_s``,
the untraced figure measured by repeating the measurement over half
the run length in the same session with the event log detached (the
repeat runs warmer, so the overhead is an upper bound). It also reports the peak summed RSS of the
driver, the JVM and the Python workers. For ``stream_narrow`` it also
drains on ``local[1]`` as the single-threaded baseline. Spans and self
times go to ``.perfbench/traces/<workload>-<seed>.json``.

All files the run writes stay under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import config
from spans import EventLog, Tracer
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metric_units() -> dict[str, dict[str, str]]:
    """``{"end_to_end": {name: unit}, "per_layer": {name: unit}}`` as
    ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")}


def _args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment(work: str, traced: bool) -> None:
    """Session profile and scratch locations, set before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no JVM perf-data file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(config.CPUS),
            "SPARK_GRAFT_DRIVER_MEM": config.DRIVER_MEM,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            # the streaming pandas UDFs import the package in the workers
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
            + " pyspark-shell",
        }
    )
    sys.path.insert(0, ROOT)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and, under it, the Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
        return out

    @staticmethod
    def rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(self.rss_kb(p) for p in self.tree(os.getpid())))

    def run(self) -> None:
        while not self._stop_evt.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _stop_spark(spark, graceful: bool = True) -> None:
    """Stop the session and the JVM, and wait for every descendant.
    ``graceful=False`` kills the JVM instead of stopping the session
    first: for untraced runs, whose results are already taken, there is
    nothing to flush."""
    from pyspark import SparkContext

    pids = RssSampler.tree(os.getpid())[1:]
    if graceful:
        spark.stop()
    else:
        # the driver-side accumulator server would report the JVM's end
        spark.sparkContext._accumulatorServer.shutdown()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if graceful:
                proc.stdin.close()  # the JVM exits when its stdin closes
            else:
                proc.kill()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # the Python workers exit once the JVM is gone
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def _versions() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "iotdatapipeline_spark")):
        print(f"perfbench: no iotdatapipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    units = _metric_units()
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work, traced)
    rss = RssSampler()
    if traced:
        rss.start()
    tracer = Tracer(traced)
    spark = None
    try:
        wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, args.seconds, tracer)
        with tracer.span("setup") as setup:
            spark = _start(wl, args.workload, tracer)
            wl.setup(spark)
        with tracer.span("measure"):
            metrics = wl.measure()
        metrics["setup_s"] = setup["dur_s"] + wl.setup_extra_s
        if traced:
            # JVM heap growth follows GC timing, so peak RSS varies ~40%
            # from run to run: reported per layer, without a bound
            rss.sample()
            metrics["mem.peak_rss_mb"] = rss.peak_kb / 1024.0
            # tracing overhead: the same measurement again in this warm
            # session, with the event log detached and spans off, over
            # half the run length (a stream drains half the ticks) to keep
            # the traced run inside its time limit; a workload that
            # already failed is not run again
            _detach_event_log(spark)
            tracer.enabled = False
            wl.seconds /= 2
            metrics["untraced_op_mean_s"] = metrics["op_mean_s"] if wl.failed else wl.measure()["op_mean_s"]
        wl.check()
        _stop_spark(spark, graceful=traced)
        spark = None
        env = _versions()
        checks = dict(wl.checks)
        failed, attempted = wl.failed, wl.attempted
        if traced:
            layers = _layers(wl, EventLog(os.path.join(work, "eventlog")), metrics, units["per_layer"])
            if args.workload == "stream_narrow":
                base = _local1_baseline(args, os.path.join(work, "local1"))
                layers["baseline.local1.op_mean_s"] = base["op_mean_s"]
                layers["baseline.local1.ops_per_s"] = base["ops_per_s"]
                checks.update({f"local1.{k}": v for k, v in base["checks"].items()})
                failed, attempted = failed + base["failed"], attempted + base["attempted"]
            layers["ops_failed_frac"] = failed / attempted
            report = {k: {"value": v, "unit": units["per_layer"][k]} for k, v in sorted(layers.items())}
        else:
            report = {k: {"value": metrics[k], "unit": u} for k, u in units["end_to_end"].items()}
        print(json.dumps({"env": env, "checks": checks, "samples_s": wl.samples}))
        if traced:
            tracer.dump(
                os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.json"),
                {"env": env, "checks": checks, "end_to_end": metrics, "layers": layers},
            )
        correct = all(checks.values()) and failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": report}))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)


def _start(wl, workload: str, tracer: Tracer):
    """Start the session while the workload stages its inputs (no Spark
    needed) in a second thread; returns the session."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        staged = pool.submit(wl.stage)
        with tracer.span("session.get_spark"):
            spark = _session(workload)
        try:
            staged.result()
        except BaseException:
            _stop_spark(spark)
            raise
    return spark


def _session(workload: str):
    from iotdatapipeline_spark import get_spark

    spark = get_spark(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def _detach_event_log(spark) -> None:
    """Stop logging events from here on; the log is still closed at stop."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger()
    if logger.isDefined():
        sc.removeSparkListener(logger.get())


def _local1_baseline(args: argparse.Namespace, work: str) -> dict:
    """The same workload, untraced, in a fresh ``local[1]`` session: the
    single-threaded baseline. It times a sixth of the run length (one
    tick at a 6 s run), to keep the traced run inside its time limit."""
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds / 6, Tracer(False))
    spark = _start(wl, args.workload, wl.tracer)
    try:
        _detach_event_log(spark)
        wl.setup(spark)
        out = wl.measure()
        wl.check()
    finally:
        _stop_spark(spark)
    return {**out, "checks": wl.checks, "failed": wl.failed, "attempted": wl.attempted}


def _layers(wl, log, metrics: dict, names) -> dict:
    """Every per-layer metric in ``names``, 0 where the workload does not
    run the layer (or, in a run that failed, where it could not be read)."""
    out = {name: 0.0 for name in names}
    try:
        out.update(wl.layers(log))
    except Exception:  # noqa: BLE001 - a failed run still reports what it can
        if not wl.failed:
            raise
        traceback.print_exc()
    out["session.get_spark_s"] = wl.tracer.named("session.get_spark")[0]["dur_s"]
    out["mem.peak_rss_mb"] = metrics["mem.peak_rss_mb"]
    out["trace.op_mean_s"] = metrics["op_mean_s"]
    out["trace.overhead_s"] = metrics["op_mean_s"] - metrics["untraced_op_mean_s"]
    out["trace.overhead_frac"] = out["trace.overhead_s"] / metrics["untraced_op_mean_s"]
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out


if __name__ == "__main__":
    sys.exit(main())
