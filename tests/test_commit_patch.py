"""VersionedTable metadata commits: the one ``_commit_patch`` loop.

Fourteen operations commit a manifest that keeps the base's file list
(ALTERs, ``restore``, ``add_bloom_index``). For each one this pins:

(a) every manifest field the op does not own equals the base's;
(b) a ``merge_into`` that wins the race (injected through a
    ``_try_commit`` hook) makes the op retry, land at ``base + 2`` and
    keep the merge's files;
(c) an always-conflicting commit gives up with the op's own message.

The starting table is clustered and carries a deletion vector, a bloom
index, a txn entry, a CHECK constraint, a generated column and an
identity column, so every carry-forward path is exercised.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row

from iotdatapipeline_spark.sources.versioned import CommitConflict, VersionedTable

#: manifest fields every commit sets for itself
_PER_COMMIT = {"version", "base", "ts", "op", "metrics"}

#: version of the template table right after set_identity (restore target)
_RESTORE_POINT = 4

_RESTORED = {
    "files", "cluster_by", "schema", "stats_file", "dvs", "col_map",
    "retired_cols", "constraints", "bloom_file", "generated", "identity", "cdf",
}

#: op name -> (call, manifest fields the op owns)
OPS = {
    "restore": (lambda t, **kw: t.restore(_RESTORE_POINT, **kw), _RESTORED),
    "add_constraint": (lambda t, **kw: t.add_constraint("c1", "k >= 0", **kw), {"constraints"}),
    "drop_constraint": (lambda t, **kw: t.drop_constraint("c0", **kw), {"constraints"}),
    "set_generated": (
        lambda t, **kw: t.set_generated("w", "CAST(k AS INT)", **kw), {"generated"}
    ),
    "drop_generated": (lambda t, **kw: t.drop_generated("g", **kw), {"generated"}),
    "set_identity": (lambda t, **kw: t.set_identity("w", **kw), {"identity"}),
    "set_cdf": (lambda t, **kw: t.set_cdf(False, **kw), {"cdf_enabled"}),
    "record_txn": (lambda t, **kw: t.record_txn("app", 2, **kw), {"txns"}),
    "drop_identity": (lambda t, **kw: t.drop_identity("id", **kw), {"identity"}),
    "rename_column": (
        lambda t, **kw: t.rename_column("v", "v2", **kw),
        {"schema", "stats_file", "col_map", "bloom_file", "cdf"},
    ),
    "add_column": (lambda t, **kw: t.add_column("x", "bigint", **kw), {"schema"}),
    "widen_column": (lambda t, **kw: t.widen_column("w", "bigint", **kw), {"schema"}),
    "drop_column": (
        lambda t, **kw: t.drop_column("v", **kw),
        {"schema", "stats_file", "col_map", "retired_cols"},
    ),
    "add_bloom_index": (lambda t, **kw: t.add_bloom_index(["w"], **kw), {"bloom_file"}),
}


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("patch") / "tbl")
    t = VersionedTable(spark, root)
    rows = [Row(k=i, v=f"v{i}", w=i, id=i, g=2 * i) for i in range(20)]
    t.create(
        spark.createDataFrame(rows, "k bigint, v string, w int, id bigint, g bigint"),
        n_files=2,
        cluster_by=["k"],
    )
    t.add_constraint("c0", "w >= 0")
    t.set_generated("g", "k * 2")
    t.set_identity("id")
    assert t.version() == _RESTORE_POINT
    t.delete_where("k = 3")
    t.add_bloom_index(["v"])
    t.record_txn("app", 1)
    m = t._read_manifest(t.version())
    assert m["dvs"] and m["bloom_file"] and m["txns"] and m["cluster_by"] == ["k"]
    return root


@pytest.fixture()
def table(spark, template, tmp_path) -> VersionedTable:
    root = str(tmp_path / "tbl")
    shutil.copytree(template, root)
    return VersionedTable(spark, root)


def _orphan_blooms(t: VersionedTable) -> set[str]:
    """Bloom sidecars on disk that no manifest references."""
    on_disk = {f for f in os.listdir(t._log) if f.startswith("bl") and f.endswith(".parquet")}
    used = {t._read_manifest(v).get("bloom_file") for v in range(1, t.version() + 1)}
    return on_disk - used


@pytest.mark.parametrize("name", sorted(OPS))
def test_fields_not_owned_carry_forward(table, name):
    call, owned = OPS[name]
    base = table.version()
    before = table._read_manifest(base)
    assert call(table) == base + 1
    after = table._read_manifest(base + 1)
    assert set(after) == set(before)
    changed = {k for k in before if k not in _PER_COMMIT and after[k] != before[k]}
    assert changed <= owned
    assert not _orphan_blooms(table)


@pytest.mark.parametrize("name", sorted(OPS))
def test_retries_past_racing_merge(spark, table, name):
    call, owned = OPS[name]
    base = table.version()
    other = VersionedTable(spark, table.root)
    real = table._try_commit
    fired = []

    def racing(b, files, op, *a, **kw):
        if not fired:
            fired.append(op)
            src = spark.createDataFrame([(100, "new", 100)], "k bigint, v string, w int")
            other.merge_into(src, ["k"])
        return real(b, files, op, *a, **kw)

    table.__dict__["_try_commit"] = racing
    try:
        assert call(table) == base + 2
    finally:
        del table.__dict__["_try_commit"]
    assert fired and table.version() == base + 2
    merged = table._read_manifest(base + 1)
    landed = table._read_manifest(base + 2)
    assert merged["op"].startswith("merge")
    if "files" in owned:
        assert landed["files"] == table._read_manifest(_RESTORE_POINT)["files"]
    else:
        assert landed["files"] == merged["files"]
        assert landed["dvs"] == merged["dvs"]
    assert not _orphan_blooms(table)


@pytest.mark.parametrize("name", sorted(OPS))
def test_gives_up_after_max_retries(table, name):
    call, _ = OPS[name]
    base = table.version()

    def always_conflict(*a, **kw):
        raise CommitConflict("nope")

    table.__dict__["_try_commit"] = always_conflict
    with pytest.raises(CommitConflict, match=rf"^{name} on .* gave up after 2 conflicts$"):
        call(table, max_retries=2)
    assert table.version() == base
    assert not _orphan_blooms(table)
