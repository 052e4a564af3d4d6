"""``merge_into`` under both write strategies: its Spark-job budget, and
the data and change rows of every clause against a pandas model.

The merge computes its source once (persisted for the call) and its
match set once per attempt, reads its base schema from the manifest,
and launches no emptiness probes; copy-on-write and merge-on-read share
all of it and differ only in how the removed rows leave the table. The
budget tests pin the job counts that follow from that; the clause
matrix pins, for each strategy, the committed snapshot and the commit's
change rows exactly as the merge semantics define them.
"""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import Row

from iotdatapipeline_spark.matview import MaterializedView
from iotdatapipeline_spark.sources.versioned import VersionedTable

LISTING = "Listing leaf files"


def _jobs(spark, fn) -> tuple[object, list[str]]:
    """Run ``fn`` under a fresh job group; returns its result and the
    descriptions of the jobs it launched ("" for undescribed jobs)."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    descs = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(j).description()
        descs.append(d.get() if d.isDefined() else "")
    return out, descs


def _clustered(spark, root, n_rows, n_files):
    """Even keys ``0, 2, ..., 2 * (n_rows - 1)`` in ``n_files`` files
    clustered by ``k``: an odd key inserts inside one file's range."""
    t = VersionedTable(spark, root)
    t.create(
        spark.createDataFrame([Row(k=2 * i, v=i, g=i % 3) for i in range(n_rows)]),
        n_files=n_files,
        cluster_by=["k"],
    )
    return t


class TestMergeJobBudget:
    def test_wide_table_merge_and_refresh_list_no_files(self, spark, tmp_path):
        """On a 40-file table (above Spark's 32-path parallel-listing
        threshold) neither the merge's base schema nor the view
        refresh's source-schema checks list the table's files."""
        src = _clustered(spark, str(tmp_path / "src"), 4000, 40)
        assert len(src._read_manifest(1)["files"]) == 40
        mv = MaterializedView.create(
            spark, str(tmp_path / "mv"), src.root, group_by=["g"], sum_cols=["v"], keys=["k"]
        )
        # keys inside the first file's range: the probe reads one file
        upd = spark.createDataFrame([Row(k=k, v=1, g=k % 3) for k in (5, 6, 7)])
        _, merge_jobs = _jobs(spark, lambda: src.merge_into(upd, ["k"]))
        assert src._read_manifest(2)["metrics"]["files_removed"] == 1
        assert merge_jobs and not [d for d in merge_jobs if d.startswith(LISTING)]
        _, refresh_jobs = _jobs(spark, mv.refresh)
        assert refresh_jobs and not [d for d in refresh_jobs if d.startswith(LISTING)]
        got = {r["g"]: (r["cnt"], r["sum_v"]) for r in mv.snapshot().collect()}
        want = {
            r["g"]: (r["cnt"], r["s"])
            for r in src.snapshot()
            .groupBy("g")
            .agg({"*": "count", "v": "sum"})
            .withColumnRenamed("count(1)", "cnt")
            .withColumnRenamed("sum(v)", "s")
            .collect()
        }
        assert got == want

    def test_touching_merge_job_count(self, spark, tmp_path):
        """A merge that rewrites one file and inserts one row: key
        bounds (3 jobs), match set (2), kept rewrite (3), insert write
        (2) and change files (3)."""
        t = _clustered(spark, str(tmp_path / "t"), 400, 4)
        upd = spark.createDataFrame([Row(k=k, v=-k, g=0) for k in (10, 11, 12, 14)])
        _, jobs = _jobs(spark, lambda: t.merge_into(upd, ["k"]))
        m = t._read_manifest(2)
        assert m["metrics"]["files_removed"] == 1 and m["cdf"]["mode"] == "files"
        assert len(jobs) <= 13, jobs

    def test_changes_plans_without_jobs(self, spark, tmp_path):
        """``changes()`` over files-mode commits reads the change files
        through the commit's schema: building the feed runs nothing."""
        t = _clustered(spark, str(tmp_path / "t"), 40, 2)
        t.merge_into(spark.createDataFrame([Row(k=2, v=7, g=0), Row(k=51, v=5, g=0)]), ["k"])
        t.merge_into(spark.createDataFrame([Row(k=4, v=8, g=0)]), ["k"])
        assert [m["cdf"]["mode"] for m in t.history()[1:]] == ["files", "files"]
        feed, jobs = _jobs(spark, lambda: t.changes(1, 3, ["k"], include_preimages=True))
        assert jobs == []
        assert sorted(map(tuple, feed.collect())) == [
            (2, 1, 1, "update_preimage"),
            (2, 7, 0, "update_postimage"),
            (4, 2, 2, "update_preimage"),
            (4, 8, 0, "update_postimage"),
            (51, 5, 0, "insert"),
        ]

    def test_empty_source_merge_probes_nothing(self, spark, tmp_path, monkeypatch):
        """An empty source into a 4-file clustered table: the key-bounds
        job sees no rows and the merge returns before it reads a data
        file, writes or commits. 5 jobs when NULL bounds kept every file
        in the match probe; the bounds job alone is 2-3 (the source's
        cache, its shuffle and the result)."""
        t = _clustered(spark, str(tmp_path / "t"), 400, 4)
        t.record_txn("app", 1)
        assert len(t._read_manifest(2)["files"]) == 4 and t.txn("app") == (1, 2)
        empty = spark.createDataFrame([], "k long, v long, g long")
        reads = []
        read_data = VersionedTable._read_data

        def counting_read(self, *a, **kw):
            reads.append(a)
            return read_data(self, *a, **kw)

        monkeypatch.setattr(VersionedTable, "_read_data", counting_read)
        v, jobs = _jobs(spark, lambda: t.merge_into(empty, ["k"], txn_app="app", txn_version=2))
        assert v == 2 and t.version() == 2 and t.txn("app") == (1, 2)
        assert reads == []
        assert len(jobs) <= 3, jobs

    def test_fanout_versioned_batch_job_count(self, spark, tmp_path):
        """One ``stream_narrow``-shaped fan-out batch against an existing
        records table: history append, K1 versioned merge and limpieza
        route. 19 jobs while the K1 sink probed its source with
        ``isEmpty()``, the limpieza route probed with ``take(1)`` and the
        records table wrote change files; 13 since the merge's bounds job
        sees an empty source, the history append counts the limpieza
        rows and the table is created without a change feed."""
        import datetime as dt

        from iotdatapipeline_spark.streaming.sinks import fanout_foreach_batch
        from iotdatapipeline_spark.streaming.stateful import OUTPUT_SCHEMA

        day, t0 = dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 9, 0)

        def batch(i):
            rows = [
                (s, "p", t0 + dt.timedelta(seconds=i), 10 * i + s, 0, 1, i, False, 1, day, "update")
                for s in range(6)
            ]
            rows.append((7, "p", t0, 0, 0, 0, 0, False, 1, day, "limpieza"))
            return spark.createDataFrame(rows, OUTPUT_SCHEMA)

        sink = fanout_foreach_batch(
            updates_path=str(tmp_path / "records"),
            updates_keys=["station", "part", "plan_date", "shift_id"],
            history_path=str(tmp_path / "history"),
            limpieza_path=str(tmp_path / "limpieza"),
            txn_app="fanout",
        )
        sink(batch(0), 0)
        _, jobs = _jobs(spark, lambda: sink(batch(1), 1))
        t = VersionedTable(spark, str(tmp_path / "records"))
        assert t.version() == 2 and t.txn("fanout") == (1, 2)
        assert len(jobs) <= 13, jobs

    def test_view_refresh_update_and_delete_job_count(self, spark, tmp_path):
        """One SUM/COUNT ``MaterializedView.refresh`` over a source update
        plus a delete: one group stays live, one dies. 37 jobs when each
        IVM tier ran its own copy of the group lifecycle, the budget kept
        since they share ``_maintain_groups``."""
        src = _clustered(spark, str(tmp_path / "src"), 40, 2)
        mv = MaterializedView.create(
            spark, str(tmp_path / "mv"), src.root, group_by=["k"], sum_cols=["v"], keys=["k"]
        )
        src.merge_into(spark.createDataFrame([Row(k=2, v=7, g=0)]), ["k"])
        src.delete_where("k = 4")
        _, jobs = _jobs(spark, mv.refresh)
        got = {r["k"]: (r["cnt"], r["sum_v"]) for r in mv.snapshot().collect()}
        assert got[2] == (1, 7) and 4 not in got and len(got) == 39
        assert len(jobs) <= 37, jobs

    @pytest.mark.parametrize(
        "case, budget", [("update", 15), ("matched_condition", 19), ("sync_delete_condition", 22)]
    )
    def test_mor_merge_job_count(self, spark, tmp_path, case, budget):
        """A merge-on-read merge of the clause matrix: 21 / 41 / 31 jobs
        for ``update`` / ``matched_condition`` / ``sync_delete_condition``
        when MOR carried its own copy of the clause semantics (a distinct
        source-key frame, two eager key checkpoints, an emptiness probe),
        15 / 19 / 22 since it shares the COW match set and insert frame
        (COW: 13 / 16 / 19)."""
        t, df = _clause_case(spark, str(tmp_path / case), case)
        kw = CASES[case][3]
        _, jobs = _jobs(spark, lambda: t.merge_into(df, ["k"], strategy="mor", **kw))
        assert t._read_manifest(t.version())["op"].endswith(":mor")
        assert len(jobs) <= budget, jobs


# ── clause matrix ────────────────────────────────────────────────────────

BASE = [{"k": k, "v": k * 10, "s": f"s{k}"} for k in range(12)]


def _setup_identity(t):
    t.set_identity("id")


def _setup_generated(t):
    t.set_generated("g", "v * 2")


def _setup_check(t):
    t.add_constraint("nonneg", "v >= 0")


def _setup_renamed(t):
    t.rename_column("s", "label")


#: name -> (extra base columns, setup, source rows, merge kwargs, pandas
#: twins of the SQL conditions)
CASES = {
    "update": ({}, None, [(2, 99, "u2"), (100, 5, "n100")], {}, {}),
    "delete": (
        {},
        None,
        [(3, 0, "x"), (5, 0, "y"), (101, 7, "n101")],
        {"when_matched": "delete"},
        {},
    ),
    "matched_condition": (
        {},
        None,
        [(2, 999, "up"), (6, 1, "stale"), (102, 3, "n102")],
        {"when_matched_condition": "s.v > t.v"},
        {"wm": lambda t, s: s["v"] > t["v"]},
    ),
    "sync_delete": (
        {},
        None,
        [(k, k * 10 + (1 if k == 1 else 0), f"s{k}") for k in range(6)] + [(103, 3, "n103")],
        {"not_matched_by_source": "delete"},
        {"nmbs": lambda r: True},
    ),
    "sync_delete_condition": (
        {},
        None,
        [(1, 11, "u1"), (104, 4, "n104")],
        {"not_matched_by_source": "delete", "not_matched_by_source_condition": "k >= 9"},
        {"nmbs": lambda r: r["k"] >= 9},
    ),
    "insert_condition": (
        {},
        None,
        [(2, -5, "neg"), (105, 1, "ok"), (106, -1, "dropped")],
        {"when_not_matched_condition": "v > 0"},
        {"wnm": lambda r: r["v"] > 0},
    ),
    "identity": (
        {"id": lambda r: 1000 + r["k"]},
        _setup_identity,
        [(2, 77, "u"), (108, 1, "a"), (107, 2, "b")],
        {},
        {},
    ),
    "generated": ({"g": lambda r: r["v"] * 2}, _setup_generated, [(2, 5, "u"), (109, 3, "n")], {}, {}),
    "check_constraint": ({}, _setup_check, [(4, 1, "c"), (110, 0, "n")], {}, {}),
    "schema_evolution": (
        {},
        None,
        [(2, 9, "e", "x2"), (111, 1, "n", "x111")],
        {"schema_evolution": True},
        {},
    ),
    "renamed": ({}, _setup_renamed, [(2, 3, "r"), (112, 1, "rn")], {}, {}),
}


def _model(tgt: pd.DataFrame, src: pd.DataFrame, kw: dict, fns: dict, case: str):
    """The merge's snapshot and change rows (with ``_change_type``), as
    plain pandas set logic over one key column ``k``."""
    update = kw.get("when_matched", "update") == "update"
    src_row = {r["k"]: r for _, r in src.iterrows()}
    matched = tgt[tgt["k"].isin(src_row)]
    if "wm" in fns:
        replaced = {r["k"] for _, r in matched.iterrows() if fns["wm"](r, src_row[r["k"]])}
    else:
        replaced = set(matched["k"])
    dropped = set(matched["k"]) - replaced
    kept = tgt[~tgt["k"].isin(replaced)]
    nmbs_del = kept.iloc[0:0]
    if "nmbs" in fns:
        gone = ~kept["k"].isin(src_row) & kept.apply(fns["nmbs"], axis=1).astype(bool)
        nmbs_del, kept = kept[gone], kept[~gone]
    ins = src[~src["k"].isin(dropped)] if update else src[~src["k"].isin(matched["k"])]
    if "wnm" in fns:
        fresh = ins[~ins["k"].isin(replaced)]
        ins = pd.concat([ins[ins["k"].isin(replaced)], fresh[fresh.apply(fns["wnm"], axis=1).astype(bool)]])
    if case == "identity":
        ids = dict(zip(tgt["k"], tgt["id"]))
        watermark = max(tgt["id"])
        fresh = sorted(k for k in ins["k"] if k not in replaced)
        ids.update({k: watermark + 1 + i for i, k in enumerate(fresh)})
        ins = ins.assign(id=[ids[k] for k in ins["k"]])
    if case == "generated":
        ins = ins.assign(g=[v * 2 for v in ins["v"]])
    cols = list(dict.fromkeys(list(tgt.columns) + list(src.columns)))
    tgt, kept, ins, nmbs_del = (f.reindex(columns=cols).astype(object) for f in (tgt, kept, ins, nmbs_del))
    snapshot = pd.concat([kept, ins])
    pre = tgt[tgt["k"].isin(replaced)]
    if update:
        changes = [
            (pre, "update_preimage"),
            (ins[ins["k"].isin(replaced)], "update_postimage"),
            (ins[~ins["k"].isin(replaced)], "insert"),
            (nmbs_del, "delete"),
        ]
    else:
        changes = [(pre, "delete"), (nmbs_del, "delete"), (ins, "insert")]
    change_rows = pd.concat([f.assign(_change_type=ct) for f, ct in changes])
    return snapshot, change_rows


def _rows(df: pd.DataFrame, cols) -> Counter:
    return Counter(tuple(None if pd.isna(v) else v for v in r) for r in df[cols].itertuples(index=False))


def _clause_case(spark, root, case):
    """The clause-matrix target table of ``case`` and its source frame."""
    extra, setup, src_rows, _, _ = CASES[case]
    base = [{**r, **{c: f(r) for c, f in extra.items()}} for r in BASE]
    t = VersionedTable(spark, root)
    t.create(spark.createDataFrame([Row(**r) for r in base]), n_files=3, cluster_by=["k"])
    if setup is not None:
        setup(t)
    label = "label" if case == "renamed" else "s"
    src_cols = ["k", "v", label] + (["x"] if case == "schema_evolution" else [])
    return t, spark.createDataFrame([Row(**dict(zip(src_cols, r))) for r in src_rows])


# the COW cases keep their bare ids; MOR ones read e.g. ``update-mor``
@pytest.mark.parametrize(
    "case, strategy",
    [
        pytest.param(c, s, id=c if s == "cow" else f"{c}-{s}")
        for s in ("cow", "mor")
        for c in sorted(CASES)
    ],
)
def test_clause_matrix_snapshot_and_change_rows(spark, tmp_path, case, strategy):
    _, _, src_rows, kw, fns = CASES[case]
    t, df = _clause_case(spark, str(tmp_path / case), case)
    tgt = t.snapshot().toPandas().astype(object)
    src = pd.DataFrame(src_rows, columns=df.columns, dtype=object)
    before = t.version()
    t.merge_into(df, ["k"], strategy=strategy, **kw)
    assert t.version() == before + 1
    want_snap, want_changes = _model(tgt, src, kw, fns, case)

    snap = t.snapshot()
    cols = snap.columns
    assert sorted(cols) == sorted(want_snap.columns)
    assert _rows(snap.toPandas(), cols) == _rows(want_snap, cols)

    # every case touches a file, so the commit writes change files
    cdf = t._read_manifest(before + 1)["cdf"]
    assert cdf["mode"] == "files"
    got = spark.read.parquet(*[os.path.join(t._data, f) for f in cdf["files"]]).toPandas()
    assert _rows(got, cols + ["_change_type"]) == _rows(want_changes, cols + ["_change_type"])
