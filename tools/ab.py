"""A/B two query builders on one input, in one warm session.

Usage:
    python tools/ab.py MOD:FN MOD:FN SF_DIR [--plans DIR]

Each side is a ``(spark, sf_dir) -> DataFrame`` builder named by module
and function, e.g. ``iotdatapipeline_spark.plans.core:q1_pricing_summary``
(any importable module works, including one outside the repo on
``PYTHONPATH``).

1. Both frames must agree before anything is timed: the same column
   names and types, and ``exceptAll`` empty in both directions.
   Otherwise the harness exits 1 and prints no timings.
2. It warms each side once, then times ``PAIRS`` pairs of
   ``bench.spark_action`` runs (a noop write by default), alternating
   which side runs first. A fixed order would hand the second side a
   hotter page cache in every pair.
3. It prints ONE JSON line: each side's times, median and [q1, q3],
   B's wins (ties count for neither side) and median(B) / median(A).

The session profile is the one ``bench.py`` uses for the same input:
8 shuffle partitions and AQE off at sf <= 0.2; for a tiled crossover
dir (tables stored as directories, ``bench.ensure_crossover_dir``),
partitions = cores, AQE off and 8 MB splits; otherwise ``get_spark``'s
defaults. ``--plans DIR`` also writes both ``explain("formatted")``
dumps to ``DIR/a_<FN>.txt`` and ``DIR/b_<FN>.txt``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: timed pairs per run; a constant, so every recorded A/B row is read
#: on the same footing (e.g. a "wins 9 of 10 pairs" gain rule)
PAIRS = 10


def load_builder(spec: str):
    """``"pkg.mod:fn"`` -> the function."""
    mod, sep, fn = spec.partition(":")
    if not sep or not fn:
        raise SystemExit(f"ab.py: builder {spec!r} is not MOD:FN")
    return getattr(importlib.import_module(mod), fn)


def apply_profile(spark, sf_dir: str) -> str:
    """Set ``bench.py``'s session profile for ``sf_dir``; returns its name."""
    if os.path.isdir(os.path.join(sf_dir, "lineitem.parquet")):
        spark.conf.set("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32"))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 << 20))
        spark.conf.set("spark.sql.files.openCostInBytes", str(512 << 10))
        return "crossover"
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        return "default"
    if sf > 0.2:
        return "default"
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return "small"


def interleave(run_a, run_b, pairs: int = PAIRS, clock=time.perf_counter):
    """Warm both sides once, then time ``pairs`` pairs; even pairs run
    A first, odd pairs B first. Returns (A times, B times)."""
    run_a()
    run_b()
    ta: list[float] = []
    tb: list[float] = []
    for i in range(pairs):
        sides = ((run_a, ta), (run_b, tb))
        for run, acc in sides if i % 2 == 0 else sides[::-1]:
            t0 = clock()
            run()
            acc.append(clock() - t0)
    return ta, tb


def summarize(ta: list[float], tb: list[float]) -> dict:
    """Per-side times, median and [q1, q3]; B's wins; median(B)/median(A)."""

    def side(ts):
        q1, _, q3 = statistics.quantiles(ts, n=4, method="inclusive")
        return {
            "times_s": [round(t, 3) for t in ts],
            "median_s": round(statistics.median(ts), 3),
            "iqr_s": [round(q1, 3), round(q3, 3)],
        }

    return {
        "pairs": len(ta),
        "a": side(ta),
        "b": side(tb),
        "b_wins": sum(b < a for a, b in zip(ta, tb)),
        "ratio_b_over_a": round(statistics.median(tb) / statistics.median(ta), 3),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="MOD:FN builder, (spark, sf_dir) -> DataFrame")
    ap.add_argument("b", help="MOD:FN builder, (spark, sf_dir) -> DataFrame")
    ap.add_argument("sf_dir")
    ap.add_argument("--plans", metavar="DIR", help="write both explain('formatted') dumps here")
    args = ap.parse_args()
    build_a, build_b = load_builder(args.a), load_builder(args.b)

    from bench import spark_action
    from iotdatapipeline_spark import get_spark

    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("FATAL")
    try:
        profile = apply_profile(spark, args.sf_dir)
        da, db = build_a(spark, args.sf_dir), build_b(spark, args.sf_dir)
        # names and types; nullability is left out, since a rewrite may
        # change what Spark can prove non-null without changing a row
        fa, fb = ([(f.name, f.dataType.simpleString()) for f in df.schema] for df in (da, db))
        if fa != fb:
            print(f"ab.py: schemas differ:\n  A {fa}\n  B {fb}", file=sys.stderr)
            return 1
        extra = [da.exceptAll(db).count(), db.exceptAll(da).count()]
        if extra != [0, 0]:
            print(f"ab.py: results differ: exceptAll A-B {extra[0]}, B-A {extra[1]}", file=sys.stderr)
            return 1
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            for tag, spec, df in (("a", args.a, da), ("b", args.b, db)):
                path = os.path.join(args.plans, f"{tag}_{spec.partition(':')[2]}.txt")
                with open(path, "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
        ta, tb = interleave(spark_action(args.a, da), spark_action(args.b, db))
    finally:
        spark.stop()
    out = {"a_builder": args.a, "b_builder": args.b, "sf_dir": args.sf_dir, "profile": profile}
    print(json.dumps({**out, "except_all": extra, **summarize(ta, tb)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
