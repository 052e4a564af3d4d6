"""CLI surface (K6 console rendering + the ad-hoc SQL surface)."""

from __future__ import annotations

import re

from iotdatapipeline_spark.__main__ import main


class TestCli:
    def test_run_subcommand(self, spark, sf_small, tmp_path, capsys):
        """``run`` drains the replay into the VersionedTable records and
        prints the snapshot's count; the snapshot is the per-key latest
        update row of the history, written as one create and then only
        merges."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.sources.versioned import VersionedTable
        from iotdatapipeline_spark.streaming.sinks import latest_per_key, read_history

        out = str(tmp_path / "out")
        assert main(["run", "--sf-dir", sf_small, "--out", out, "--chunks", "4"]) == 0
        printed = re.search(r"^records: (\d+) rows", capsys.readouterr().out, re.M)
        table = VersionedTable(spark, f"{out}/records")
        snap = table.snapshot()
        assert printed and int(printed[1]) == snap.count() > 0
        updates = read_history(spark, f"{out}/history").filter(F.col("row_kind") == "update")
        keys = ["station", "part", "plan_date", "shift_id"]
        want = latest_per_key(updates, keys, ("ts", "counter")).select(*snap.columns)
        assert sorted(map(tuple, snap.collect())) == sorted(map(tuple, want.collect()))
        ops = [m["op"] for m in table.history()]
        assert ops[0] == "create" and set(ops[1:]) <= {"merge:update"}

    def test_query_subcommand_prints_table(self, spark, sf_small, capsys):
        rc = main(["query", "latest_snapshot", "--sf-dir", sf_small, "--rows", "5"])
        assert rc == 0
        out = capsys.readouterr().out
        assert "|" in out and "station" in out  # the K6-style console table

    def test_query_subcommand_unknown_name(self, sf_small, capsys):
        rc = main(["query", "no_such_query", "--sf-dir", sf_small])
        assert rc == 2
        assert "unknown query" in capsys.readouterr().err

    def test_sql_subcommand_joins_fixture_views(self, spark, sf_small, capsys):
        rc = main(
            [
                "sql",
                "SELECT r_name, count(*) AS n FROM region JOIN nation"
                " ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name",
                "--sf-dir",
                sf_small,
            ]
        )
        assert rc == 0
        out = capsys.readouterr().out
        assert "r_name" in out and "AFRICA" in out

    def test_table_subcommand_admin_cycle(self, spark, tmp_path, capsys):
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable

        root = str(tmp_path / "t")
        t = VersionedTable(spark, root)
        t.create(
            spark.createDataFrame([Row(k=i, v=f"a{i}") for i in range(50)]),
            n_files=4, cluster_by=["k"],
        )
        t.merge_into(spark.createDataFrame([Row(k=3, v="B")]), ["k"])

        assert main(["table", "history", root]) == 0
        out = capsys.readouterr().out
        assert "create" in out and "merge:update" in out

        assert main(["table", "changes", root, "--version", "1"]) == 0
        out = capsys.readouterr().out
        assert "update_postimage" in out

        assert main(["table", "optimize", root, "--n-files", "2"]) == 0
        assert "committed v3" in capsys.readouterr().out

        assert main(["table", "show", root, "--rows", "3"]) == 0
        assert "|" in capsys.readouterr().out

        assert main(["table", "vacuum", root, "--retention", "0"]) == 0
        assert "orphaned" in capsys.readouterr().out

        assert main(["table", "delete", root, "--where", "k % 10 = 0"]) == 0
        assert "deletion-vector delete" in capsys.readouterr().out
        assert t.snapshot().filter("k % 10 = 0").count() == 0
        # no matching rows left -> no-op, no new version
        v = t.version()
        assert main(["table", "delete", root, "--where", "k % 10 = 0"]) == 0
        assert "nothing committed" in capsys.readouterr().out
        assert t.version() == v
        assert main(["table", "delete", root]) == 2
        assert "requires --where" in capsys.readouterr().err

        n_now = t.snapshot().count()
        assert main(["table", "restore", root, "--version", "1"]) == 0
        assert "restore of v1" in capsys.readouterr().out
        assert t.snapshot().count() == 50 != n_now
        assert main(["table", "restore", root]) == 2
        assert "requires --version" in capsys.readouterr().err

        # zero-copy clone at a version, then at a timestamp
        clone_root = str(tmp_path / "t_clone")
        assert main(["table", "clone", root, "--dest", clone_root, "--version", "1"]) == 0
        assert "zero-copy" in capsys.readouterr().out
        assert main(["table", "history", clone_root]) == 0
        assert "clone" in capsys.readouterr().out
        assert main(["table", "clone", root]) == 2
        assert "requires --dest" in capsys.readouterr().err
        ts1 = t.commit_timestamp(1)
        assert main(["table", "show", root, "--as-of-ts", str(ts1), "--rows", "2"]) == 0
        assert "|" in capsys.readouterr().out

        # r12: CDF table-property verbs — idempotent toggles
        assert main(["table", "cdf-off", root]) == 0
        assert "CDF off" in capsys.readouterr().out
        assert main(["table", "cdf-off", root]) == 0
        assert "already off" in capsys.readouterr().out
        assert main(["table", "cdf-on", root]) == 0
        assert "CDF on" in capsys.readouterr().out

        # type widening + bloom index DDL verbs
        assert main(["table", "widen", root]) == 2
        assert "requires --col" in capsys.readouterr().err
        assert main(["table", "bloom", root, "--cols", "k"]) == 0
        assert "bloom index on k" in capsys.readouterr().out
        assert main(["table", "bloom", root, "--cols", "k"]) == 0
        assert "nothing committed" in capsys.readouterr().out

        # manifest log hygiene: expire all but the newest 2 versions
        head = t.version()
        assert main(["table", "expire", root, "--keep-last", "2"]) == 0
        out = capsys.readouterr().out
        assert f"earliest readable is now v{head - 1}" in out
        assert t.earliest_version() == head - 1
        assert t.snapshot().count() == 50  # head intact
        # nothing young enough to expire further by the default horizon
        assert main(["table", "expire", root]) == 0
        assert "expired 0 versions" in capsys.readouterr().out

    def test_sql_registers_versioned_tables_with_time_travel(
        self, spark, sf_small, tmp_path, capsys
    ):
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable

        root = str(tmp_path / "tv")
        t = VersionedTable(spark, root)
        t.create(spark.createDataFrame([Row(k=1, v="old")]))
        t.merge_into(spark.createDataFrame([Row(k=1, v="new")]), ["k"])
        rc = main(
            ["sql", "SELECT a.v AS now_v, b.v AS then_v FROM tv a, tv1 b",
             "--sf-dir", sf_small,
             "--table", f"tv={root}", "--table", f"tv1={root}@1"]
        )
        assert rc == 0
        out = capsys.readouterr().out
        assert "new" in out and "old" in out
        assert main(["sql", "SELECT 1", "--sf-dir", sf_small, "--table", "nope"]) == 2
        assert "name=root" in capsys.readouterr().err
        # r12 advice: malformed version gets the same friendly 2-exit,
        # not an uncaught ValueError traceback
        rc = main(
            ["sql", "SELECT 1", "--sf-dir", sf_small, "--table", f"tv={root}@latest"]
        )
        assert rc == 2
        assert "integer version" in capsys.readouterr().err

    def test_table_identity_verbs(self, spark, tmp_path, capsys):
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable

        root = str(tmp_path / "ti")
        t = VersionedTable(spark, root)
        t.create(spark.createDataFrame([Row(k=i, rid=i + 1) for i in range(5)]))
        assert main(["table", "set-identity", root]) == 2
        assert "requires --col" in capsys.readouterr().err
        assert main(["table", "set-identity", root, "--col", "rid"]) == 0
        assert "watermark 5" in capsys.readouterr().out
        assert main(["table", "describe", root]) == 0
        assert '"rid": 5' in capsys.readouterr().out
        assert main(["table", "drop-identity", root, "--col", "rid"]) == 0
        assert "dropped identity" in capsys.readouterr().out

    def test_table_changes_requires_version(self, spark, tmp_path, capsys):
        from pyspark.sql import Row

        from iotdatapipeline_spark.sources.versioned import VersionedTable

        root = str(tmp_path / "t2")
        VersionedTable(spark, root).create(spark.createDataFrame([Row(k=1, v="a")]))
        assert main(["table", "changes", root]) == 2
        assert "requires --version" in capsys.readouterr().err


class TestCliMv:
    def test_mv_refresh_show_spec(self, spark, tmp_path, capsys):
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"))
        src.create(
            spark.range(40).select(
                F.col("id").alias("k"), (F.col("id") % 4).alias("g"),
                F.lit(1).alias("v"),
            ),
            cluster_by=["k"],
        )
        MaterializedView.create(
            spark, str(tmp_path / "mv"), str(tmp_path / "src"),
            group_by=["g"], sum_cols=["v"], keys=["k"],
        )
        src.delete_where("k < 8")
        rc = main(["mv", "refresh", str(tmp_path / "mv")])
        assert rc == 0
        assert "source version 2" in capsys.readouterr().out
        rc = main(["mv", "show", str(tmp_path / "mv"), "--rows", "10"])
        assert rc == 0
        assert "sum_v" in capsys.readouterr().out
        rc = main(["mv", "spec", str(tmp_path / "mv")])
        assert rc == 0
        assert "group_by" in capsys.readouterr().out

    def test_mv_refresh_agg_join_dispatch(self, spark, tmp_path, capsys):
        """r13: the mv verb dispatches specs with a_root + group_by to
        the aggregate-over-join kind and prints both cursors."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import AggJoinMaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        A = VersionedTable(spark, str(tmp_path / "a"))
        A.create(
            spark.range(30).select(
                F.col("id").alias("rid"), (F.col("id") % 3).alias("j"),
                F.lit(1).alias("x"),
            ),
            cluster_by=["rid"],
        )
        B = VersionedTable(spark, str(tmp_path / "b"))
        B.create(
            spark.range(3).select(F.col("id").alias("j"), (F.col("id") % 2).alias("g")),
            cluster_by=["j"],
        )
        AggJoinMaterializedView.create(
            spark, str(tmp_path / "v"), str(tmp_path / "a"), str(tmp_path / "b"),
            join_keys=["j"], group_by=["g"], sum_cols=["x"],
            a_key="rid", b_key="j",
        )
        A.delete_where("rid < 6")
        rc = main(["mv", "refresh", str(tmp_path / "v")])
        assert rc == 0
        assert "versions a=2, b=1" in capsys.readouterr().out

    def test_mv_create_verb(self, spark, tmp_path, capsys):
        """r13: `mv create` defines + seeds a single-source aggregate
        view end-to-end from flags; the created view refreshes."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "csrc"))
        src.create(
            spark.range(60).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
                F.lit(2).alias("v"),
            ),
            cluster_by=["k"],
        )
        rc = main([
            "mv", "create", str(tmp_path / "cmv"),
            "--source", str(tmp_path / "csrc"),
            "--group-by", "g", "--sum", "v", "--keys", "k",
        ])
        assert rc == 0
        assert "seeded at source version 1" in capsys.readouterr().out
        src.delete_where("k < 9")
        rc = main(["mv", "refresh", str(tmp_path / "cmv")])
        assert rc == 0
        got = {
            (r["g"], r["cnt"], r["sum_v"])
            for r in MaterializedView(spark, str(tmp_path / "cmv"))
            .snapshot()
            .collect()
        }
        assert got == {(0, 17, 34), (1, 17, 34), (2, 17, 34)}
        # missing required flags exit 2 with guidance
        rc = main(["mv", "create", str(tmp_path / "cmv2")])
        assert rc == 2
        assert "--source" in capsys.readouterr().err
        # mixed-tier spec errors surface as exit 2, not a traceback
        rc = main([
            "mv", "create", str(tmp_path / "cmv3"),
            "--source", str(tmp_path / "csrc"),
            "--group-by", "g", "--sum", "v", "--min", "v",
        ])
        assert rc == 2
        assert "tier" in capsys.readouterr().err

    def test_mv_missing_spec_is_friendly(self, tmp_path, capsys):
        rc = main(["mv", "refresh", str(tmp_path / "nope")])
        assert rc == 2
        assert "_mv_spec.json" in capsys.readouterr().err

    def test_mv_expired_history_surfaces_and_reseed_recovers(
        self, spark, tmp_path, capsys
    ):
        """r13: `mv refresh` against expired source history exits 2
        with the reseed guidance; `mv reseed` recovers."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import MaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"))
        src.create(
            spark.range(40).select(
                F.col("id").alias("k"), (F.col("id") % 4).alias("g"),
                F.lit(1).alias("v"),
            ),
            cluster_by=["k"],
        )
        MaterializedView.create(
            spark, str(tmp_path / "mv"), str(tmp_path / "src"),
            group_by=["g"], sum_cols=["v"], keys=["k"],
        )
        src.delete_where("k < 8")
        src.delete_where("k >= 36")
        src.expire_versions(keep_last=1)
        rc = main(["mv", "refresh", str(tmp_path / "mv")])
        assert rc == 2
        assert "reseed" in capsys.readouterr().err
        rc = main(["mv", "reseed", str(tmp_path / "mv")])
        assert rc == 0
        assert f"source version {src.version()}" in capsys.readouterr().out
        got = {
            (r["g"], r["cnt"], r["sum_v"])
            for r in MaterializedView(spark, str(tmp_path / "mv"))
            .snapshot()
            .collect()
        }
        want = {
            (r["g"], r["cnt"], r["s"])
            for r in src.snapshot().groupBy("g").agg(
                F.count("*").cast("long").alias("cnt"),
                F.sum("v").cast("long").alias("s"),
            ).collect()
        }
        assert got == want

    def test_mv_reseed_on_two_source_view(self, spark, tmp_path, capsys):
        """r13: two-source views reseed in place too — the CLI prints
        both re-anchored cursors."""
        from pyspark.sql import functions as F

        from iotdatapipeline_spark.matview import JoinMaterializedView
        from iotdatapipeline_spark.sources.versioned import VersionedTable

        A = VersionedTable(spark, str(tmp_path / "a"))
        A.create(
            spark.range(6).select(
                F.col("id").alias("rid"), (F.col("id") % 2).alias("j"),
                F.col("id").alias("x"),
            ),
            cluster_by=["rid"],
        )
        B = VersionedTable(spark, str(tmp_path / "b"))
        B.create(
            spark.range(2).select(F.col("id").alias("j"), F.col("id").alias("y")),
            cluster_by=["j"],
        )
        mv = JoinMaterializedView.create(
            spark, str(tmp_path / "v"), str(tmp_path / "a"), str(tmp_path / "b"),
            join_keys=["j"], a_key="rid", b_key="j",
        )
        A.delete_where("rid = 0")
        A.delete_where("rid = 5")
        A.expire_versions(keep_last=1)
        rc = main(["mv", "refresh", str(tmp_path / "v")])
        assert rc == 2
        assert "reseed" in capsys.readouterr().err
        rc = main(["mv", "reseed", str(tmp_path / "v")])
        assert rc == 0
        assert f"a={A.version()}, b={B.version()}" in capsys.readouterr().out
        got = {r["rid"] for r in mv.snapshot().collect()}
        assert got == {1, 2, 3, 4}
