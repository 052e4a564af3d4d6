"""CLI entry point — the engine's analog of the reference's sole entry
(`run_prensas.ps1:6` → ``poetry run python Prensas.py``):

    python -m iotdatapipeline_spark run \
        --sf-dir /root/testdata/sf0.001 --out /tmp/iotdp_out \
        [--emit-mode reference] [--follow]

Replays the events fixture as the PLC reading stream, runs the T4
stateful counter machine, and fans out to the K1/K3/K5 sinks under
``--out`` (records/, history/, limpieza/). ``--follow`` keeps the
query running with a 1 s trigger (the reference's poll cadence, T1)
instead of draining once and exiting.

    python -m iotdatapipeline_spark query <name> [--sf-dir DIR]

Runs one registry query and prints it (the reference's console
markdown dump, K6).

    python -m iotdatapipeline_spark sql "SELECT ..." [--sf-dir DIR]

Ad-hoc Spark SQL over the fixture tables (registered as temp views:
region nation customer supplier part orders lineitem events documents
embeddings) — the declarative surface the reference never had; every
registry operator remains expressible here because the engine is
DataFrame/Catalyst end to end.
"""

from __future__ import annotations

import argparse
import os
import sys


def _cmd_run(args: argparse.Namespace) -> int:
    from iotdatapipeline_spark.session import get_spark
    from iotdatapipeline_spark.streaming.pipeline import run_pipeline
    from iotdatapipeline_spark.streaming.source import stage_replay_chunks

    spark = get_spark("iotdatapipeline-run")
    spark.sparkContext.setLogLevel("ERROR")
    out = args.out
    replay = stage_replay_chunks(spark, args.sf_dir, os.path.join(out, "replay"), n_chunks=args.chunks)
    q = run_pipeline(
        spark,
        replay,
        checkpoint_dir=os.path.join(out, "ckpt"),
        records_path=os.path.join(out, "records"),
        history_path=os.path.join(out, "history"),
        limpieza_path=os.path.join(out, "limpieza"),
        emit_mode=args.emit_mode,
        available_now=not args.follow,
    )
    q.awaitTermination()
    from iotdatapipeline_spark.sources.versioned import VersionedTable
    from iotdatapipeline_spark.streaming.sinks import read_history

    records = VersionedTable(spark, os.path.join(out, "records")).snapshot()
    history = read_history(spark, os.path.join(out, "history"))
    print(f"records: {records.count()} rows -> {out}/records")
    print(f"history: {history.count()} rows -> {out}/history")
    records.orderBy("station", "part", "plan_date", "shift_id").show(20, truncate=False)
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from iotdatapipeline_spark.plans import QUERIES
    from iotdatapipeline_spark.session import get_spark

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; available:\n  " + "\n  ".join(sorted(QUERIES)), file=sys.stderr)
        return 2
    spark = get_spark("iotdatapipeline-query")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.name](spark, args.sf_dir)
    df.show(args.rows, truncate=False)
    if args.explain:
        df.explain("formatted")
    return 0


def _cmd_sql(args: argparse.Namespace) -> int:
    from iotdatapipeline_spark.session import get_spark
    from iotdatapipeline_spark.sources import register_views

    spark = get_spark("iotdatapipeline-sql")
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, args.sf_dir)
    # versioned tables as SQL views: name=root[@version] (repeatable) —
    # time travel straight from the SQL prompt
    for spec in args.table or []:
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        if "=" not in spec:
            print(f"--table expects name=root[@version], got {spec!r}", file=sys.stderr)
            return 2
        name, root = spec.split("=", 1)
        version = None
        if "@" in root:
            root, v = root.rsplit("@", 1)
            try:
                version = int(v)
            except ValueError:
                print(
                    f"--table expects name=root[@version] with an integer "
                    f"version, got {spec!r}",
                    file=sys.stderr,
                )
                return 2
        VersionedTable(spark, root).snapshot(version).createOrReplaceTempView(name)
    df = spark.sql(args.statement)
    df.show(args.rows, truncate=False)
    if args.explain:
        df.explain("formatted")
    return 0


def _cmd_table(args: argparse.Namespace) -> int:
    from iotdatapipeline_spark.session import get_spark
    from iotdatapipeline_spark.sources.versioned import VersionedTable

    spark = get_spark("iotdatapipeline-table")
    spark.sparkContext.setLogLevel("ERROR")
    t = VersionedTable(spark, args.root)
    if args.action == "history":
        for m in t.history():
            files, stats = m["files"], t._stats_of(m)
            mt = m.get("metrics") or {}
            mtxt = (
                f" +{mt.get('files_added', '?')}f/-{mt.get('files_removed', '?')}f"
                + (f" +{mt['rows_added']}r" if "rows_added" in mt else "")
            )
            print(
                f"v{m['version']:>4}  {m['op']:<14} files={len(files):<4}"
                f" stats={len(stats):<4} dvs={len(m.get('dvs') or {}):<4}"
                f" cluster_by={m.get('cluster_by') or '-'}{mtxt}"
            )
    elif args.action == "describe":
        import json as _json

        print(_json.dumps(t.describe(), indent=2, default=str))
    elif args.action == "show":
        t.snapshot(args.version, timestamp=args.as_of_ts).show(args.rows, truncate=False)
    elif args.action == "optimize":
        z = tuple(args.zorder_by.split(",")) if args.zorder_by else None
        base = t.version()
        v = t.optimize(args.n_files, zorder_by=z, where=args.where)
        if v == base:
            print("predicate selected no files; nothing committed")
        else:
            scope = f" where {args.where!r}" if args.where else ""
            print(f"committed v{v} (optimize{' z-order ' + str(z) if z else ''}{scope})")
    elif args.action == "vacuum":
        removed = t.vacuum(retention_s=args.retention, dry_run=args.dry_run)
        verb = "would remove" if args.dry_run else "removed"
        print(f"{verb} {len(removed)} orphaned files")
    elif args.action == "widen":
        if not args.col or not args.new_type:
            print("widen requires --col and --type", file=sys.stderr)
            return 2
        base = t.version()
        v = t.widen_column(args.col, args.new_type)
        if v == base:
            print(f"{args.col} already {args.new_type}; nothing committed")
        else:
            print(f"committed v{v} (widen {args.col} -> {args.new_type})")
    elif args.action == "bloom":
        if not args.cols:
            print("bloom requires --cols (comma-separated)", file=sys.stderr)
            return 2
        base = t.version()
        v = t.add_bloom_index(args.cols.split(","))
        if v == base:
            print("every (file, col) already indexed; nothing committed")
        else:
            print(f"committed v{v} (bloom index on {args.cols})")
    elif args.action == "convert":
        if not args.dest:
            print("convert requires --dest (new table root)", file=sys.stderr)
            return 2
        dest = VersionedTable.convert_parquet_dir(spark, args.root, args.dest)
        n = len(dest._read_manifest(1)["files"])
        print(f"converted {args.root} -> {args.dest} (v1, {n} files linked, zero-copy)")
    elif args.action == "clone":
        if not args.dest:
            print("clone requires --dest (destination root)", file=sys.stderr)
            return 2
        dest = t.clone_to(args.dest, version=args.version, timestamp=args.as_of_ts)
        print(f"{dest._read_manifest(1)['op']} -> {args.dest} (v1, zero-copy)")
    elif args.action == "expire":
        expired = t.expire_versions(retention_s=args.retention, keep_last=args.keep_last)
        lo = f"v{expired[0]}..v{expired[-1]}, " if expired else ""
        print(
            f"expired {len(expired)} versions ({lo}earliest readable is now "
            f"v{t.earliest_version()})"
        )
    elif args.action == "changes":
        if args.version is None:
            print("changes requires --version (the from-version)", file=sys.stderr)
            return 2
        t.changes(args.version, args.to_version).show(args.rows, truncate=False)
    elif args.action == "restore":
        if args.version is None:
            print("restore requires --version", file=sys.stderr)
            return 2
        v = t.restore(args.version)
        print(f"committed v{v} (restore of v{args.version})")
    elif args.action == "delete":
        if not args.where:
            print("delete requires --where (SQL predicate)", file=sys.stderr)
            return 2
        base = t.version()
        v = t.delete_where(args.where)
        if v == base:
            print("no rows matched; nothing committed")
        else:
            print(f"committed v{v} (deletion-vector delete: {args.where!r})")
    elif args.action == "set-identity":
        if not args.col:
            print("set-identity requires --col", file=sys.stderr)
            return 2
        v = t.set_identity(args.col)
        wm = (t._read_manifest(v).get("identity") or {}).get(args.col)
        print(f"committed v{v} ({args.col} GENERATED ALWAYS AS IDENTITY, watermark {wm})")
    elif args.action == "drop-identity":
        if not args.col:
            print("drop-identity requires --col", file=sys.stderr)
            return 2
        v = t.drop_identity(args.col)
        print(f"committed v{v} (dropped identity on {args.col})")
    elif args.action in ("cdf-on", "cdf-off"):
        enabled = args.action == "cdf-on"
        base = t.version()
        v = t.set_cdf(enabled)
        state = "on" if enabled else "off"
        if v == base:
            print(f"commit-time CDF already {state} (no commit)")
        else:
            print(f"committed v{v} (commit-time CDF {state})")
    return 0


def _cmd_mv(args: argparse.Namespace) -> int:
    """The scheduler-facing CREATE/REFRESH MATERIALIZED VIEW: one verb
    that works on every maintained-table kind, dispatching on the
    sidecar spec (join view -> two cursors; vector index -> repack;
    aggregate view -> tier routing). ``spec`` prints the definition
    without a Spark session; ``create`` defines + seeds a
    single-source aggregate view (two-source kinds are created from
    Python — their arg surface doesn't flatten well into flags)."""
    import json as _json

    if args.action == "create":
        if not args.source:
            print("mv create requires --source", file=sys.stderr)
            return 2
        if not args.group_by:
            print("mv create requires --group-by", file=sys.stderr)
            return 2
        from iotdatapipeline_spark.matview import MaterializedView
        from iotdatapipeline_spark.session import get_spark

        split = lambda v: [c for c in (v or "").split(",") if c]  # noqa: E731
        spark = get_spark("iotdatapipeline-mv")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            mv = MaterializedView.create(
                spark,
                args.root,
                args.source,
                group_by=split(args.group_by),
                sum_cols=split(args.sum),
                min_cols=split(args.min),
                max_cols=split(args.max),
                keys=split(args.keys) or None,
                count_only=args.count_only,
                kmv_col=args.kmv or None,
            )
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
        print(
            f"view at {args.root} created over {args.source}, seeded at "
            f"source version {mv._applied_txn()}"
        )
        return 0

    spec_path = os.path.join(args.root, "_mv_spec.json")
    if not os.path.isfile(spec_path):
        print(f"no materialized view at {args.root} (missing _mv_spec.json)", file=sys.stderr)
        return 2
    with open(spec_path, encoding="utf-8") as fh:
        spec = _json.load(fh)
    if args.action == "spec":
        print(_json.dumps(spec, indent=2))
        return 0

    from iotdatapipeline_spark.matview import (
        AggJoinMaterializedView,
        BqVectorIndex,
        JoinMaterializedView,
        MaterializedView,
    )
    from iotdatapipeline_spark.session import get_spark

    spark = get_spark("iotdatapipeline-mv")
    spark.sparkContext.setLogLevel("ERROR")
    if "a_root" in spec and "group_by" in spec:
        view = AggJoinMaterializedView(spark, args.root)
    elif "a_root" in spec:
        view = JoinMaterializedView(spark, args.root)
    elif "vec_col" in spec:
        view = BqVectorIndex(spark, args.root)
    else:
        view = MaterializedView(spark, args.root)
    if args.action in ("refresh", "reseed"):
        from iotdatapipeline_spark.matview import (
            ViewHistoryExpired,
            ViewSourceSchemaError,
        )

        try:
            applied = view.refresh() if args.action == "refresh" else view.reseed()
        except (ViewHistoryExpired, ViewSourceSchemaError) as e:
            print(str(e), file=sys.stderr)
            return 2
        if isinstance(applied, tuple):  # join view: one cursor per source
            print(
                f"view at {args.root} now reflects source versions "
                f"a={applied[0]}, b={applied[1]}"
            )
        else:
            print(f"view at {args.root} now reflects source version {applied}")
    else:  # show
        view.table().snapshot().show(args.rows, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m iotdatapipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="run the streaming production pipeline")
    run.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    run.add_argument("--out", required=True)
    run.add_argument("--emit-mode", choices=["reference", "row"], default="reference")
    run.add_argument("--chunks", type=int, default=10)
    run.add_argument("--follow", action="store_true", help="keep running at a 1 s trigger")
    run.set_defaults(fn=_cmd_run)

    q = sub.add_parser("query", help="run one registry query and print it")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    q.add_argument("--rows", type=int, default=20)
    q.add_argument("--explain", action="store_true")
    q.set_defaults(fn=_cmd_query)

    sq = sub.add_parser("sql", help="run ad-hoc Spark SQL over the fixture views")
    sq.add_argument("statement")
    sq.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    sq.add_argument("--rows", type=int, default=20)
    sq.add_argument("--explain", action="store_true")
    sq.add_argument(
        "--table",
        action="append",
        default=None,
        help="register a VersionedTable as a SQL view: name=root[@version] (repeatable)",
    )
    sq.set_defaults(fn=_cmd_sql)

    tb = sub.add_parser("table", help="VersionedTable admin: history / show / optimize / vacuum / expire / clone / changes / delete / restore")
    tb.add_argument("action", choices=["history", "describe", "show", "optimize", "vacuum", "expire", "clone", "convert", "widen", "bloom", "changes", "delete", "restore", "set-identity", "drop-identity", "cdf-on", "cdf-off"])
    tb.add_argument("--col", default=None, help="widen: column to widen; set-identity/drop-identity: the column")
    tb.add_argument("--type", dest="new_type", default=None, help="widen: target type (e.g. bigint)")
    tb.add_argument("--cols", default=None, help="bloom: comma-separated columns to index")
    tb.add_argument("--keep-last", type=int, default=None, help="expire: keep only the newest N versions (overrides --retention)")
    tb.add_argument("--dest", default=None, help="clone: destination table root")
    tb.add_argument("--as-of-ts", type=float, default=None, help="show/clone: TIMESTAMP AS OF (epoch seconds)")
    tb.add_argument("--where", default=None, help="delete: SQL predicate (merge-on-read deletion vectors); optimize: compact only files intersecting the predicate")
    tb.add_argument("root")
    tb.add_argument("--version", type=int, default=None, help="show: snapshot version; changes: from-version")
    tb.add_argument("--to-version", type=int, default=None, help="changes: to-version (default latest)")
    tb.add_argument("--n-files", type=int, default=32)
    tb.add_argument("--zorder-by", default=None, help="optimize: comma-separated column pair")
    tb.add_argument("--retention", type=float, default=3600.0)
    tb.add_argument("--dry-run", action="store_true", help="vacuum: report what would be removed without deleting")
    tb.add_argument("--rows", type=int, default=20)
    tb.set_defaults(fn=_cmd_table)

    mv = sub.add_parser(
        "mv",
        help="materialized-view admin: refresh / show / spec "
        "(kind auto-detected from the view's _mv_spec.json sidecar)",
    )
    mv.add_argument("action", choices=["create", "refresh", "reseed", "show", "spec"])
    mv.add_argument("root")
    mv.add_argument("--rows", type=int, default=20)
    mv.add_argument("--source", help="create: source VersionedTable root")
    mv.add_argument("--group-by", help="create: comma-separated group columns")
    mv.add_argument("--sum", help="create: comma-separated SUM columns")
    mv.add_argument("--min", help="create: comma-separated MIN columns")
    mv.add_argument("--max", help="create: comma-separated MAX columns")
    mv.add_argument("--keys", help="create: source row-identity columns (default: its cluster_by)")
    mv.add_argument("--count-only", action="store_true", help="create: COUNT-only tier")
    mv.add_argument("--kmv", help="create: approx-distinct (KMV) column")
    mv.set_defaults(fn=_cmd_mv)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
