"""The write protocol shared by the ``VersionedTable`` batch sinks.

Every sink bootstraps a missing target through one first-commit helper
and reads its txn cursor through ``VersionedTable.txn``. The matrix
below pins both across the six sink factories: a replayed batch commits
nothing, and a sink that loses the create race to another writer merges
its batch instead of failing. Also here: the K1 fan-out's crash window
between its history append and its record merge, the fan-out gate
query against its DuckDB oracle, the records table being always a
VersionedTable, and a guard that the txn map format stays inside
``sources/versioned.py``.
"""

from __future__ import annotations

import datetime as dt
import pathlib

import duckdb
import pytest
from pyspark.sql import Row

import iotdatapipeline_spark
from iotdatapipeline_spark.plans import ORACLE, QUERIES
from iotdatapipeline_spark.sources.versioned import VersionedTable
from iotdatapipeline_spark.streaming import run_pipeline, sinks
from iotdatapipeline_spark.streaming.stateful import OUTPUT_SCHEMA

_CDF = "k int, v string, _change_type string, _commit_version bigint"
_MM = "g bigint, x bigint, _change_type string, _commit_version bigint"


def _minmax_source(spark, src_root):
    VersionedTable(spark, src_root).create(
        spark.createDataFrame([Row(k=g, g=g, x=5 + g) for g in range(3)]),
        cluster_by=["k"],
    )


#: name -> (factory(root, src_root, app), batch X, batch Y, source setup);
#: a batch is (rows, ddl). X and Y are two consecutive batches of one feed.
CASES = {
    "versioned_upsert": (
        lambda root, src, app: sinks.versioned_upsert_foreach_batch(root, ["k"], txn_app=app),
        ([(1, 1, "a"), (2, 1, "b")], "k int, ts int, v string"),
        ([(2, 2, "c"), (3, 1, "d")], "k int, ts int, v string"),
        None,
    ),
    "cdf_apply": (
        lambda root, src, app: sinks.cdf_apply_foreach_batch(root, ["k"], txn_app=app),
        ([(1, "a", "insert", 1), (2, "b", "insert", 1)], _CDF),
        ([(2, "c", "update_postimage", 2), (3, "d", "insert", 2)], _CDF),
        None,
    ),
    "ivm_sum": (
        lambda root, src, app: sinks.cdf_ivm_foreach_batch(root, ["g"], ["x"], txn_app=app),
        ([(0, 1, "insert"), (1, 2, "insert")], "g bigint, x bigint, _change_type string"),
        ([(1, 3, "insert"), (2, 4, "insert")], "g bigint, x bigint, _change_type string"),
        None,
    ),
    "ivm_minmax": (
        lambda root, src, app: sinks.cdf_ivm_minmax_foreach_batch(
            root, src, ["g"], min_cols=["x"], max_cols=["x"], txn_app=app
        ),
        ([(0, 5, "insert", 1)], _MM),
        ([(1, 6, "insert", 1), (2, 7, "insert", 1)], _MM),
        _minmax_source,
    ),
    "scd2": (
        lambda root, src, app: sinks.cdf_scd2_foreach_batch(root, ["k"], txn_app=app),
        ([(1, "a", "insert", 1)], _CDF),
        ([(1, "b", "update_postimage", 2), (2, "c", "insert", 2)], _CDF),
        None,
    ),
    "ivm_kmv": (
        lambda root, src, app: sinks.cdf_ivm_kmv_foreach_batch(
            root, ["g"], "u", k=4, txn_app=app
        ),
        ([(0, 1, "insert"), (0, 2, "insert")], "g bigint, u bigint, _change_type string"),
        ([(0, 3, "insert"), (1, 4, "insert")], "g bigint, u bigint, _change_type string"),
        None,
    ),
}


def _frame(spark, batch):
    rows, ddl = batch
    return spark.createDataFrame(rows, ddl)


def _rows(spark, root):
    return sorted(repr(tuple(r)) for r in VersionedTable(spark, root).snapshot().collect())


def _setup(spark, tmp_path, case):
    src_root = str(tmp_path / "src")
    if CASES[case][3] is not None:
        CASES[case][3](spark, src_root)
    return src_root


# the other sinks' replays are pinned in test_streaming (TestSinkTxnIsolation,
# TestCdfApply, TestIvmTwoCommitWindow, TestScd2Apply)
@pytest.mark.parametrize("case", ["ivm_minmax", "ivm_kmv"])
def test_replayed_batch_commits_nothing(spark, tmp_path, case):
    make, x, y, _ = CASES[case]
    root = str(tmp_path / "view")
    sink = make(root, _setup(spark, tmp_path, case), "q")
    sink(_frame(spark, x), 0)
    sink(_frame(spark, y), 1)
    t = VersionedTable(spark, root)
    head, rows = t.version(), _rows(spark, root)
    assert t.txn("q") == (1, head)
    sink(_frame(spark, y), 1)
    sink(_frame(spark, x), 0)
    assert t.version() == head
    assert _rows(spark, root) == rows


@pytest.mark.parametrize("case", sorted(CASES))
def test_lost_create_race_merges(spark, tmp_path, monkeypatch, case):
    """Another writer creates the target between this sink's version
    check and its create: the create fails and the sink merges its batch,
    ending where the two writers' batches applied one after the other
    end."""
    make, x, y, _ = CASES[case]
    src_root = _setup(spark, tmp_path, case)
    want_root = str(tmp_path / "sequential")
    make(want_root, src_root, "other")(_frame(spark, x), 0)
    make(want_root, src_root, "ours")(_frame(spark, y), 0)

    root = str(tmp_path / "raced")
    other, ours = make(root, src_root, "other"), make(root, src_root, "ours")
    create = VersionedTable.create
    lost = []

    def racing_create(self, df, *a, **kw):
        if self.root == root and kw.get("txn_app") == "ours":
            other(_frame(spark, x), 0)  # the other writer wins the race
            try:
                return create(self, df, *a, **kw)
            except ValueError:
                lost.append(True)
                raise
        return create(self, df, *a, **kw)

    monkeypatch.setattr(VersionedTable, "create", racing_create)
    ours(_frame(spark, y), 0)
    assert lost == [True]
    assert _rows(spark, root) == _rows(spark, want_root)
    t = VersionedTable(spark, root)
    assert t.txn("ours")[0] == 0 and t.txn("other") == (0, 1)


def _fanout_batch(spark, i, limpieza=(7,)):
    """Fan-out batch ``i``: update rows for stations i..i+2 (so batch 1
    updates two records of batch 0 and inserts one) plus a limpieza row
    per station in ``limpieza``."""
    day, t0 = dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 9, 0)
    rows = [
        (s, "p", t0 + dt.timedelta(seconds=i), 10 * i + s, 0, 1, i, False, 1, day, "update")
        for s in range(i, i + 3)
    ]
    rows += [(s, "p", t0, 0, 0, 0, 0, False, 1, day, "limpieza") for s in limpieza]
    return spark.createDataFrame(rows, OUTPUT_SCHEMA)


_KEYS = ["station", "part", "plan_date", "shift_id"]


def _fanout_sink(tmp_path):
    return sinks.fanout_foreach_batch(
        updates_path=str(tmp_path / "records"),
        updates_keys=_KEYS,
        history_path=str(tmp_path / "history"),
        limpieza_path=str(tmp_path / "limpieza"),
        txn_app="fanout",
    )


def test_fanout_writes_limpieza_only_when_the_batch_has_some(spark, tmp_path):
    """A batch without limpieza rows leaves no partition under the
    limpieza path; a batch with some writes exactly those rows."""
    sink, limpieza = _fanout_sink(tmp_path), tmp_path / "limpieza"
    sink(_fanout_batch(spark, 0, limpieza=()), 0)
    assert not (limpieza / "__batch_id=0").exists()
    sink(_fanout_batch(spark, 1, limpieza=(7, 8)), 1)
    assert not (limpieza / "__batch_id=0").exists()
    got = sinks.read_history(spark, str(limpieza)).collect()
    assert sorted(map(tuple, got)) == [(7, "p"), (8, "p")]
    assert sinks.read_history(spark, str(tmp_path / "history")).count() == 6


def test_fanout_records_table_has_no_change_feed(spark, tmp_path):
    """The fan-out creates its records table with the change feed off:
    its merges write no change files, and ``changes()`` over two merges
    is the diff of the two snapshots."""
    sink = _fanout_sink(tmp_path)
    for i in range(3):
        sink(_fanout_batch(spark, i), i)
    t = VersionedTable(spark, str(tmp_path / "records"))
    assert t.version() == 3 and t.describe()["cdf_enabled"] is False
    assert [m["cdf"]["mode"] for m in t.history()[1:]] == ["derive", "derive"]

    def image(v):
        return {tuple(r[k] for k in _KEYS): tuple(r) for r in t.snapshot(v).collect()}

    old, new = image(1), image(3)
    want = sorted(
        [(*new[k], "insert") for k in new.keys() - old.keys()]
        + [(*old[k], "delete") for k in old.keys() - new.keys()]
        + [(*new[k], "update_postimage") for k in new.keys() & old.keys() if new[k] != old[k]]
    )
    cols = [*t.snapshot(3).columns, "_change_type"]
    feed = t.changes(1, 3, _KEYS)
    assert sorted(feed.columns) == sorted(cols)
    got = sorted(map(tuple, feed.select(*cols).collect()))
    assert got == want and len(got) == 4  # 2 stations updated, 2 inserted


def test_fanout_crash_before_records_merge_replays_once(spark, tmp_path, monkeypatch):
    """A crash after batch 1's history append and before its K1 merge.
    Spark replays the batch: the history partition is overwritten, not
    appended again, the records merge lands once, and a second replay
    commits nothing."""
    keys = ["station", "part", "plan_date", "shift_id"]
    records, history = str(tmp_path / "records"), str(tmp_path / "history")
    sink = sinks.fanout_foreach_batch(
        updates_path=records,
        updates_keys=keys,
        history_path=history,
        limpieza_path=str(tmp_path / "limpieza"),
        txn_app="fanout",
    )
    sink(_fanout_batch(spark, 0), 0)
    merge_into = VersionedTable.merge_into

    def crashing(self, *a, **kw):
        if kw.get("txn_version") == 1:
            raise OSError("injected crash before the K1 merge")
        return merge_into(self, *a, **kw)

    monkeypatch.setattr(VersionedTable, "merge_into", crashing)
    with pytest.raises(OSError, match="injected crash"):
        sink(_fanout_batch(spark, 1), 1)
    monkeypatch.undo()
    t = VersionedTable(spark, records)
    assert sinks.read_history(spark, history).count() == 6  # batch 1 landed
    assert t.txn("fanout") == (0, 1)  # its merge did not

    sink(_fanout_batch(spark, 1), 1)
    v = t.version()
    assert t.txn("fanout") == (1, v)
    sink(_fanout_batch(spark, 1), 1)
    assert t.version() == v

    updates = [
        r for i in (0, 1) for r in _fanout_batch(spark, i).collect() if r["row_kind"] == "update"
    ]
    hist = sinks.read_history(spark, history)
    assert sorted(map(tuple, hist.collect())) == sorted(map(tuple, updates))
    snap = t.snapshot()
    want = sinks.latest_per_key(hist, keys, ("ts", "counter")).select(*snap.columns)
    assert sorted(map(tuple, snap.collect())) == sorted(map(tuple, want.collect()))


def test_fanout_sinks_readback_matches_oracle(spark, sf_small):
    """The fan-out gate query equals its DuckDB oracle: same columns,
    same rows in any order."""
    name = "fanout_sinks_readback"
    got = QUERIES[name](spark, sf_small)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_small}/events.parquet'")
    want = con.sql(ORACLE[name])

    def canon(cols, rows):
        return sorted(tuple(sorted((c, repr(v)) for c, v in zip(cols, r))) for r in rows)

    assert sorted(got.columns) == sorted(want.columns)
    assert canon(got.columns, got.collect()) == canon(want.columns, want.fetchall())


def test_run_pipeline_rejects_plain_records():
    """The records table is always a VersionedTable: asking for anything
    else fails before any Spark work."""
    with pytest.raises(ValueError, match="VersionedTable"):
        run_pipeline(
            None,
            "replay",
            checkpoint_dir="ckpt",
            records_path="records",
            history_path="history",
            versioned_records=False,
        )


def test_txn_map_format_stays_in_versioned():
    """Only ``sources/versioned.py`` indexes the manifest's txn map; the
    sinks and views read it through ``VersionedTable.txn``."""
    pkg = pathlib.Path(iotdatapipeline_spark.__file__).parent
    owner = pkg / "sources" / "versioned.py"
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p != owner and '"txns"' in p.read_text(encoding="utf-8")
    ]
    assert offenders == []
