"""Commit-time CDF (r12): every mutating commit records its change
feed in the manifest — explicit ``cdf-*.parquet`` change files for
merges/DV deletes, mode ``data`` for insert-only commits, mode
``none`` for metadata DDL — and ``changes()`` prefers netting those
records over the snapshot-diff derivation (the r11 CDC bench measured
the derivation DOMINATING the apply pipeline: 7–8.7 s/batch vs the
2.3 s apply floor). The contract: both paths emit the identical
netted feed, and ranges crossing a pre-CDF / restore / rename
boundary fall back to the derivation transparently.
"""

from __future__ import annotations

import json
import os
import types

import pytest
from pyspark.sql import Row, functions as F

from iotdatapipeline_spark.sources.versioned import VersionedTable


def _derived(spark, root, v_from, v_to, keys, pre=False):
    """changes() with the fast path disabled — the snapshot-diff oracle."""
    t = VersionedTable(spark, root)
    t._changes_from_commits = types.MethodType(lambda self, *a, **k: None, t)
    return t.changes(v_from, v_to, keys, include_preimages=pre)


def _no_fallback(t):
    """Make any derivation fallback explode (proves the fast path ran)."""

    def boom(self, *a, **k):
        raise AssertionError("changes() fell back to snapshot-diff")

    t.snapshot = types.MethodType(boom, t)
    return t


class TestCommitTimeCDF:
    @pytest.fixture()
    def table(self, spark, tmp_path):
        root = str(tmp_path / "cdf")
        t = VersionedTable(spark, root)
        t.create(
            spark.createDataFrame([Row(k=i, v=i * 10, s=f"s{i}") for i in range(12)]),
            n_files=3,
            cluster_by=["k"],
        )
        return t

    def test_modes_recorded_per_op(self, spark, table):
        table.merge_into(spark.createDataFrame([Row(k=2, v=99, s="u")]), ["k"])
        table.merge_into(
            spark.createDataFrame([Row(k=3, v=77, s="m")]), ["k"], strategy="mor"
        )
        table.delete_matching(spark.createDataFrame([Row(k=5)]), ["k"])
        table.delete_where("k >= 10 AND k <= 11")
        table.add_constraint("pos", "v >= -1")
        table.optimize(n_files=2)
        # pure append (all-new keys, COW): no change file written at all
        table.merge_into(spark.createDataFrame([Row(k=100, v=1, s="a")]), ["k"])
        modes = [(m["op"], (m.get("cdf") or {}).get("mode")) for m in table.history()]
        assert modes == [
            ("create", "data"),
            ("merge:update", "files"),
            ("merge:update:mor", "files"),
            ("delete", "files"),
            ("delete", "files"),
            ("alter:constraint:pos", "none"),
            ("optimize", "none"),
            ("merge:update", "data"),
        ]
        # append commits reference their added data files — zero extra bytes
        last = table.history()[-1]
        assert last["cdf"]["files"] and all(
            f in last["files"] for f in last["cdf"]["files"]
        )

    @pytest.mark.parametrize("strategy", ["cow", "mor"])
    def test_fast_path_matches_derivation(self, spark, table, strategy):
        table.merge_into(
            spark.createDataFrame([Row(k=2, v=999, s="u2"), Row(k=100, v=5, s="new")]),
            ["k"],
            strategy=strategy,
        )
        table.delete_matching(spark.createDataFrame([Row(k=5)]), ["k"])
        table.merge_into(
            spark.createDataFrame([Row(k=3, v=777, s="u3")]), ["k"], strategy=strategy
        )
        head = table.version()
        root = table.root
        for rng in [(1, 2), (2, 3), (1, head), (2, head)]:
            for pre in (False, True):
                fast = sorted(
                    map(
                        tuple,
                        _no_fallback(VersionedTable(spark, root))
                        .changes(*rng, keys=["k"], include_preimages=pre)
                        .collect(),
                    )
                )
                ref = sorted(
                    map(tuple, _derived(spark, root, *rng, ["k"], pre).collect())
                )
                assert fast == ref, (rng, pre)

    def test_netting_cancels_roundtrips(self, spark, table):
        """A→B→A updates and insert-then-delete keys net to NOTHING
        over the range — the same as the snapshot diff."""
        orig = {r["k"]: (r["v"], r["s"]) for r in table.snapshot().collect()}
        table.merge_into(spark.createDataFrame([Row(k=1, v=111, s="tmp")]), ["k"])
        table.merge_into(
            spark.createDataFrame([Row(k=1, v=orig[1][0], s=orig[1][1])]), ["k"]
        )  # back to original
        table.merge_into(spark.createDataFrame([Row(k=200, v=1, s="x")]), ["k"])
        table.delete_matching(spark.createDataFrame([Row(k=200)]), ["k"])
        head = table.version()
        out = _no_fallback(table).changes(1, head, ["k"]).collect()
        assert out == []

    def test_postimage_equal_to_preimage_nets_away(self, spark, table):
        """A merge whose source row equals the target row writes change
        files (the writer over-records) but the feed emits nothing —
        matching the derivation's struct compare."""
        row = table.snapshot().filter(F.col("k") == 4).collect()[0]
        v0 = table.version()
        table.merge_into(
            spark.createDataFrame([Row(k=4, v=row["v"], s=row["s"])]), ["k"]
        )
        head = table.version()
        assert head == v0 + 1  # the merge DID commit (it touched the file)
        assert _no_fallback(table).changes(v0, head, ["k"]).collect() == []

    def test_merge_condition_and_sync_delete_feed(self, spark, tmp_path):
        root = str(tmp_path / "wmc_cdf")
        t = VersionedTable(spark, root)
        t.create(
            spark.createDataFrame(
                [Row(k=i, vid=100 + i, v=f"t{i}") for i in range(8)]
            ),
            n_files=2,
            cluster_by=["k"],
        )
        src = spark.createDataFrame(
            [Row(k=2, vid=999, v="fresh"), Row(k=3, vid=1, v="stale")]
        )
        t.merge_into(
            src,
            ["k"],
            when_matched_condition="s.vid > t.vid",
            not_matched_by_source="delete",
            not_matched_by_source_condition="k >= 6",
        )
        fast = sorted(
            map(
                tuple,
                _no_fallback(t).changes(1, 2, ["k"], include_preimages=True).collect(),
            )
        )
        ref = sorted(
            map(tuple, _derived(spark, root, 1, 2, ["k"], True).collect())
        )
        assert fast == ref
        types_seen = {r[-1] for r in fast}
        assert types_seen == {
            "delete",
            "update_preimage",
            "update_postimage",
        }  # stale row contributed nothing

    def test_pre_cdf_manifest_falls_back(self, spark, table):
        table.merge_into(spark.createDataFrame([Row(k=2, v=99, s="u")]), ["k"])
        # simulate a pre-CDF commit: strip the record from the manifest
        path = table._manifest_path(2)
        m = json.load(open(path))
        del m["cdf"]
        json.dump(m, open(path, "w"))
        table._manifest_cache.pop(2, None)
        table.merge_into(spark.createDataFrame([Row(k=3, v=88, s="w")]), ["k"])
        head = table.version()
        # range covering the stripped commit derives; later range is fast
        out = sorted(map(tuple, table.changes(1, head, ["k"]).collect()))
        ref = sorted(
            map(tuple, _derived(spark, table.root, 1, head, ["k"]).collect())
        )
        assert out == ref
        fast_only = _no_fallback(VersionedTable(spark, table.root))
        assert fast_only.changes(2, head, ["k"]).count() == 1
        with pytest.raises(AssertionError, match="fell back"):
            fast_only.changes(1, head, ["k"]).count()

    def test_restore_and_rename_boundaries_fall_back(self, spark, table):
        table.merge_into(spark.createDataFrame([Row(k=2, v=99, s="u")]), ["k"])
        table.restore(1)
        assert (table.history()[-1].get("cdf") or {}).get("mode") == "derive"
        head = table.version()
        out = sorted(map(tuple, table.changes(1, head, ["k"]).collect()))
        assert out == []  # restored to v1: no net change
        table.rename_column("s", "label")
        assert (table.history()[-1].get("cdf") or {}).get("mode") == "derive"
        got = table.changes(1, table.version(), ["k"]).collect()
        assert got == []  # rename is value-preserving

    def test_schema_evolution_boundary_aligns(self, spark, table):
        """Change files written BEFORE a schema-evolution merge lack
        the added column; the netting reader fills typed nulls exactly
        like the derivation aligns snapshots."""
        table.merge_into(spark.createDataFrame([Row(k=2, v=99, s="u")]), ["k"])
        table.merge_into(
            spark.createDataFrame([Row(k=3, v=88, s="w", extra=7)]),
            ["k"],
            schema_evolution=True,
        )
        head = table.version()
        fast = sorted(
            map(tuple, _no_fallback(table).changes(1, head, ["k"]).collect())
        )
        ref = sorted(
            map(tuple, _derived(spark, table.root, 1, head, ["k"]).collect())
        )
        assert fast == ref

    def test_change_files_read_across_add_and_widen(self, spark, tmp_path):
        """Change files are read through their own commit's manifest
        schema: those written before an ``add_column`` lack the column,
        those written before a ``widen_column`` hold the narrow type,
        and the feed over either boundary equals the derivation."""
        root = str(tmp_path / "evo")
        t = VersionedTable(spark, root)
        t.create(
            spark.createDataFrame([(i, i * 10) for i in range(8)], "k long, v int"),
            n_files=2,
            cluster_by=["k"],
        )
        t.merge_into(spark.createDataFrame([(1, 11), (20, 1)], "k long, v int"), ["k"])
        t.add_column("w", "string")
        t.merge_into(spark.createDataFrame([(2, 22, "x")], "k long, v int, w string"), ["k"])
        t.widen_column("v", "bigint")
        t.merge_into(
            spark.createDataFrame([(3, 2**40, "y"), (5, 5, None)], "k long, v long, w string"),
            ["k"],
        )
        modes = [(m.get("cdf") or {}).get("mode") for m in t.history()]
        assert modes == ["data", "files", "none", "files", "none", "files"]
        head = t.version()
        for rng in [(1, head), (2, head), (1, 4), (3, head)]:
            for pre in (False, True):
                fast = _no_fallback(VersionedTable(spark, root)).changes(
                    *rng, keys=["k"], include_preimages=pre
                )
                ref = _derived(spark, root, *rng, ["k"], pre)
                assert fast.schema.simpleString() == ref.schema.simpleString(), rng
                assert sorted(map(tuple, fast.collect())) == sorted(
                    map(tuple, ref.collect())
                ), (rng, pre)

    def test_vacuum_keeps_cdf_files_expire_reclaims(self, spark, table):
        table.merge_into(spark.createDataFrame([Row(k=2, v=99, s="u")]), ["k"])
        cdf_files = set(table.history()[-1]["cdf"]["files"])
        assert cdf_files and all(f.startswith("cdf-") for f in cdf_files)
        assert set(table.vacuum(retention_s=0)) & cdf_files == set()
        for f in cdf_files:
            assert os.path.exists(os.path.join(table._data, f))
        # expire the version, then vacuum reclaims its now-orphaned feed
        table.merge_into(spark.createDataFrame([Row(k=3, v=88, s="w")]), ["k"])
        table.expire_versions(keep_last=1)
        removed = set(table.vacuum(retention_s=0))
        assert cdf_files <= removed

    def test_vacuum_reclaims_stale_stream_spills(self, spark, table):
        """A CDF stream query that dies before committing its offsets
        leaks its spill namespace; vacuum sweeps it under the same
        retention horizon as data-file orphans (fresh spills survive)."""
        spill = os.path.join(table.root, "_cdf_spill", "q-deadbeef")
        os.makedirs(spill)
        with open(os.path.join(spill, "v2.parquet"), "wb") as fh:
            fh.write(b"x")
        old = os.path.join(table.root, "_cdf_spill", "q-old")
        os.makedirs(old)
        with open(os.path.join(old, "v1.parquet"), "wb") as fh:
            fh.write(b"y")
        past = 1.0
        os.utime(os.path.join(old, "v1.parquet"), (past, past))
        os.utime(old, (past, past))
        dry = table.vacuum(retention_s=3600, dry_run=True)
        assert os.path.join("_cdf_spill", "q-old") in dry
        assert os.path.exists(old)  # dry run deletes nothing
        removed = table.vacuum(retention_s=3600)
        assert os.path.join("_cdf_spill", "q-old") in removed
        assert not os.path.exists(old)
        assert os.path.exists(spill)  # fresh namespace kept

    def test_cdf_property_toggle(self, spark, tmp_path):
        """set_cdf(False) makes row-mutating commits derive-mode (no
        change files written); re-enabling takes effect on the next
        commit; changes() stays correct through the off window via the
        derivation; clone carries the property."""
        root = str(tmp_path / "prop")
        t = VersionedTable(spark, root)
        t.create(
            spark.createDataFrame([Row(k=i, v=i) for i in range(6)]),
            cluster_by=["k"],
            cdf=False,
        )
        t.merge_into(spark.createDataFrame([Row(k=2, v=99)]), ["k"])
        m = t.history()[-1]
        assert m["cdf"]["mode"] == "derive" and m["cdf_enabled"] is False
        assert not any(f.startswith("cdf-") for f in os.listdir(t._data))
        t.set_cdf(True)
        t.merge_into(spark.createDataFrame([Row(k=3, v=88)]), ["k"])
        assert t.history()[-1]["cdf"]["mode"] == "files"
        # range spanning the off window derives but is correct
        got = sorted(map(tuple, t.changes(1, t.version(), ["k"]).collect()))
        ref = sorted(
            map(tuple, _derived(spark, root, 1, t.version(), ["k"]).collect())
        )
        assert got == ref
        # the post-enable range serves fast
        assert _no_fallback(VersionedTable(spark, root)).changes(
            3, t.version(), ["k"]
        ).count() == 1
        clone = t.clone_to(str(tmp_path / "prop_clone"))
        assert clone.history()[-1]["cdf_enabled"] is True
        assert t.set_cdf(True) == t.version()  # no-op toggle commits nothing

    def test_stream_source_rides_fast_path(self, spark, table, tmp_path):
        """The versioned_cdf stream derives each micro-batch through
        changes() — with commit files present the spill planning never
        touches the snapshots."""
        pytest.importorskip("pyspark.sql.datasource")
        from iotdatapipeline_spark.sources.versioned import (
            cdf_schema_ddl,
            register_versioned_cdf,
        )

        register_versioned_cdf(spark)
        table.merge_into(
            spark.createDataFrame([Row(k=2, v=99, s="u"), Row(k=300, v=1, s="n")]),
            ["k"],
        )
        stream = (
            spark.readStream.format("versioned_cdf")
            .option("root", table.root)
            .option("keys", "k")
            .option("schema_ddl", cdf_schema_ddl(table))
            .option("starting_version", 1)
            .option("spill_dir", str(tmp_path / "spill"))
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("cdf_fast_t")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {
            (r["k"], r["_change_type"])
            for r in spark.sql("select * from cdf_fast_t").collect()
        }
        assert (2, "update_postimage") in rows and (300, "insert") in rows
