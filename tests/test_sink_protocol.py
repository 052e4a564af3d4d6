"""The write protocol shared by the ``VersionedTable`` batch sinks.

Every sink bootstraps a missing target through one first-commit helper
and reads its txn cursor through ``VersionedTable.txn``. The matrix
below pins both across the six sink factories: a replayed batch commits
nothing, and a sink that loses the create race to another writer merges
its batch instead of failing. Also here: the plain-parquet overwrite's
crash recovery, and a guard that the txn map format stays inside
``sources/versioned.py``.
"""

from __future__ import annotations

import os
import pathlib

import pytest
from pyspark.sql import Row

import iotdatapipeline_spark
from iotdatapipeline_spark.sources.versioned import VersionedTable
from iotdatapipeline_spark.streaming import sinks

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


@pytest.mark.parametrize("crash", ["second_rename", "cleanup"])
def test_plain_overwrite_crash_keeps_records(spark, tmp_path, monkeypatch, crash):
    """The plain-parquet K1 upsert swaps its table in by renaming the old
    one aside. A crash at either later step loses no record: the replayed
    batch ends at the merged model."""
    path = str(tmp_path / "records")
    sink = sinks.upsert_foreach_batch(path, ["k"])
    ddl = "k int, ts int, v string"
    sink(spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], ddl), 0)
    batch1 = [(2, 2, "c"), (3, 1, "d")]
    old = f"{path}__old"
    if crash == "second_rename":
        rename = os.rename

        def failing(src, dst):
            if dst == path:
                raise OSError("injected crash before the new table takes its name")
            rename(src, dst)

        monkeypatch.setattr(sinks.os, "rename", failing)
    else:
        rmtree = sinks.shutil.rmtree

        def failing(p, *a, **kw):
            if p == old:
                raise OSError("injected crash before the old table is removed")
            rmtree(p, *a, **kw)

        monkeypatch.setattr(sinks.shutil, "rmtree", failing)
    with pytest.raises(OSError, match="injected crash"):
        sink(spark.createDataFrame(batch1, ddl), 1)
    monkeypatch.undo()
    assert os.path.exists(old)
    assert os.path.exists(path) == (crash == "cleanup")
    sink(spark.createDataFrame(batch1, ddl), 1)
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "c", 3: "d"}
    assert not os.path.exists(old)


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
