"""Gate queries for the transactional MERGE target
(sources/versioned.py) — the K1/K2/K5 upsert semantics executed
through a REAL multi-version commit path (copy-on-write files,
optimistic concurrency) instead of whole-table overwrite, then
hash-checked against an ANSI twin of the same set semantics.

The reference applies these merges row-at-a-time over pyodbc against a
transactional RDBMS (Prensas.py:216-223, 319-331); VersionedTable is
the Spark-idiomatic equivalent this environment can host (no
Delta/Iceberg packages available).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iotdatapipeline_spark.plans._registry import drain, register, scratch
from iotdatapipeline_spark.sources import load_table
from iotdatapipeline_spark.sources.versioned import VersionedTable


def _latest_per_station(df: DataFrame) -> DataFrame:
    """One row per station: the payload of its max event_id (unique, so
    deterministic on both engines without tie-break rules)."""
    return df.groupBy("station").agg(
        F.max_by(F.struct("part", "ts_us", "v_cents"), F.col("event_id")).alias("__s"),
        F.max("event_id").cast("long").alias("version_id"),
    ).select("station", "__s.part", "__s.ts_us", "__s.v_cents", "version_id")


def _readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("station"),
        F.col("event_type").alias("part"),
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
        "event_id",
    )


@register(
    "events_merge_upsert_cow",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    merged AS (
        SELECT coalesce(s.station, b.station) AS station,
               coalesce(s.part, b.part) AS part,
               coalesce(s.ts_us, b.ts_us) AS ts_us,
               coalesce(s.v_cents, b.v_cents) AS v_cents,
               coalesce(s.version_id, b.version_id) AS version_id
        FROM b FULL JOIN s ON b.station = s.station
    )
    SELECT station, part, ts_us, v_cents, version_id
    FROM merged WHERE station % 7 <> 0
    """,
)
def events_merge_upsert_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2/K5 through the transactional table: (1) CREATE the
    per-station latest-record dim from the odd-thirds of events in 8
    copy-on-write files; (2) MERGE-upsert the even-thirds source,
    restricted to stations ≡ 0 (mod 5) so most files are carried by
    reference, not rewritten (the COW path the test suite pins); (3)
    MERGE-delete stations ≡ 0 (mod 7) — the reference's
    limpieza-by-reset shape as a keyed delete. The returned frame is
    the final committed snapshot, read back through the version-3
    manifest; the oracle recomputes all three effects as pure set
    algebra (full-join coalesce + filter). A merge that rewrites the
    wrong files, loses carried files, or commits non-atomically
    hash-mismatches — and the three-version history is asserted so a
    silently-degenerate single-version path can't pass.

    Scale shape: every data-moving step is a distributed join/agg; the
    only collects are the bounded touched-FILE lists inside
    merge_into. The gate's table is small, but the protocol is the
    scale design: at 100 TB the same MERGE rewrites only the files
    holding matched keys."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    root = os.path.join(scratch("iotdp_cow_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.merge_into(src, ["station"])
    dele = table.snapshot().filter(F.col("station") % 7 == 0)
    table.merge_into(dele, ["station"], when_matched="delete")
    # guard against a silently-degenerate single-version path, but
    # tolerate merge_into's documented no-op return (an empty %5 or %7
    # cohort at a tiny SF commits nothing rather than an empty version)
    ops = [m["op"] for m in table.history()]
    if ops[0] != "create" or not all(
        op in ("create", "merge:update", "merge:delete") for op in ops
    ):
        raise RuntimeError(f"unexpected table history: {ops}")
    return table.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_changes",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    )
    SELECT s.station AS station, s.part, s.ts_us, s.v_cents, s.version_id,
           CASE WHEN b.station IS NULL THEN 'insert'
                ELSE 'update_postimage' END AS _change_type
    FROM s LEFT JOIN b ON s.station = b.station
    WHERE b.station IS NULL
       OR NOT (s.part    IS NOT DISTINCT FROM b.part
           AND s.ts_us   IS NOT DISTINCT FROM b.ts_us
           AND s.v_cents IS NOT DISTINCT FROM b.v_cents
           AND s.version_id IS NOT DISTINCT FROM b.version_id)
    """,
)
def events_versioned_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed (Delta CDF's read contract) over the
    transactional table: CREATE the per-station dim from the odd-thirds
    of events, MERGE-upsert the even-thirds source, then read
    ``changes(1, 2)`` — one row per key whose presence or payload
    changed between the two committed snapshots, tagged insert /
    update_postimage with the post-merge image. The oracle recomputes
    the same diff as pure set algebra (left join + null-safe column
    compare). A change feed that misses a carried file, tags an
    unchanged key, or emits the pre-image hash-mismatches.

    Scale shape: state-diff CDC — two immutable snapshot scans plus one
    co-partitioned full-outer join on the key, independent of how many
    commits separate the versions."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    root = os.path.join(scratch("iotdp_cdf_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.merge_into(src, ["station"])
    return table.changes(1, 2, ["station"]).select(
        "station", "part", "ts_us", "v_cents", "version_id", "_change_type"
    )


@register(
    "events_versioned_cdf_stream",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    v2_state AS (
        SELECT coalesce(s.station, b.station) AS station,
               coalesce(s.part, b.part) AS part,
               coalesce(s.ts_us, b.ts_us) AS ts_us,
               coalesce(s.v_cents, b.v_cents) AS v_cents,
               coalesce(s.version_id, b.version_id) AS version_id
        FROM b FULL JOIN s ON b.station = s.station
    )
    SELECT station, part, ts_us, v_cents, version_id,
           'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
    FROM b
    UNION ALL
    SELECT s.station, s.part, s.ts_us, s.v_cents, s.version_id,
           CASE WHEN b.station IS NULL THEN 'insert'
                ELSE 'update_postimage' END AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM s LEFT JOIN b ON s.station = b.station
    WHERE b.station IS NULL
       OR NOT (s.part IS NOT DISTINCT FROM b.part
           AND s.ts_us IS NOT DISTINCT FROM b.ts_us
           AND s.v_cents IS NOT DISTINCT FROM b.v_cents
           AND s.version_id IS NOT DISTINCT FROM b.version_id)
    UNION ALL
    SELECT station, part, ts_us, v_cents, version_id,
           'delete' AS _change_type, CAST(3 AS BIGINT) AS _commit_version
    FROM v2_state WHERE station % 7 = 0
    """,
)
def events_versioned_cdf_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING the change feed (Delta's ``readChangeFeed`` streaming
    mode on this table format): the cow gate's three-commit history
    (create → upsert → delete) is replayed through
    ``readStream.format("versioned_cdf")`` — the offset is the table
    VERSION, each micro-batch emits one commit's state-diff tagged
    insert / update_postimage / delete with its ``_commit_version``,
    and a restarted query resumes from the checkpointed version. The
    drained stream must equal the three per-version diffs the oracle
    reconstructs relationally — a feed that skips a commit, re-emits
    one, or tags the wrong image mismatches.

    Scale shape: fully distributed — each commit's diff is computed as
    a Spark job at planning time and spilled to parquet, partitions map
    one-per-spill-file, and executors stream them back as Arrow
    batches; no diff row ever materializes in the planning process, so
    a bulk commit (backfill, wide MERGE) scales with cluster I/O, not
    driver memory (pinned by the bulk-commit test in
    tests/test_versioned.py)."""
    from iotdatapipeline_spark.sources.versioned import (
        cdf_schema_ddl,
        register_versioned_cdf,
    )

    register_versioned_cdf(spark)
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    root = os.path.join(scratch("iotdp_cdfs_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.merge_into(src, ["station"])
    dele = table.snapshot().filter(F.col("station") % 7 == 0)
    table.merge_into(dele, ["station"], when_matched="delete")
    n_versions = table.version()

    stream = (
        spark.readStream.format("versioned_cdf")
        .option("root", root)
        .option("keys", "station")
        .option("schema_ddl", cdf_schema_ddl(table))
        .load()
    )

    def done(sink: DataFrame) -> bool:
        last = sink.agg(F.max("_commit_version")).collect()[0][0]
        return last is not None and last >= n_versions

    return drain(stream, "cdf_stream", done).select(
        "station", "part", "ts_us", "v_cents", "version_id",
        "_change_type", "_commit_version",
    )


@register(
    "events_versioned_evolution",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents
        FROM events WHERE event_id % 3 = 0 AND user_id % 4 = 0 GROUP BY user_id
    )
    SELECT coalesce(s.station, b.station) AS station,
           coalesce(s.part, b.part) AS part,
           coalesce(s.ts_us, b.ts_us) AS ts_us,
           s.v_cents AS v_cents
    FROM b FULL JOIN s ON b.station = s.station
    """,
)
def events_versioned_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the transactional table: the base dim
    is created WITHOUT the money column, then a source carrying the
    extra ``v_cents`` merges with ``schema_evolution=True`` — the
    evolved schema is committed, carried old-schema files read back
    with typed nulls (Delta mergeSchema semantics without rewriting
    history), and ONLY the merged stations have values. The oracle is
    the full-join-coalesce with the source's column null for
    non-merged keys; a read path that drops the added column, fills
    the wrong default, or rewrites carried files mismatches."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0)).select(
        "station", "part", "ts_us"
    )
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 4 == 0))
    ).select("station", "part", "ts_us", "v_cents")
    root = os.path.join(scratch("iotdp_evo_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.merge_into(src, ["station"], schema_evolution=True)
    return table.snapshot().select("station", "part", "ts_us", "v_cents")


@register(
    "events_versioned_zorder_scan",
    """
    WITH r AS (
        SELECT user_id AS station,
               CAST(floor(value * 100) AS BIGINT) % 512 AS vbucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(event_id) AS BIGINT) AS id_sum
        FROM events GROUP BY user_id, CAST(floor(value * 100) AS BIGINT) % 512
    )
    SELECT station, vbucket, n, id_sum
    FROM r WHERE station BETWEEN 0 AND 9 AND vbucket BETWEEN 0 AND 63
    """,
)
def events_versioned_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER BY through the transactional table: a (station, vbucket)
    aggregate is committed linearly clustered, re-laid-out with
    ``optimize(zorder_by=("station", "vbucket"))``, then scanned with a
    RECTANGLE predicate on both dimensions. The gate hard-fails unless
    the z-ordered manifest stats prune files on BOTH columns — the
    property linear clustering cannot deliver (its trailing column's
    per-file range spans everything) — and the returned rows hash-check
    against the plain filtered oracle, so the layout rewrite can never
    change query results.

    Scale shape: this is the standing layout decision for 2-D-selective
    workloads on a 100 TB fact table — each file owns a compact
    rectangle of the key space, so min/max skipping works for
    predicates on either column or both."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.col("user_id").alias("station"),
        (F.floor(F.col("value") * 100).cast("long") % 512).alias("vbucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )
    root = os.path.join(scratch("iotdp_zorder_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(agg, n_files=16, cluster_by=["station"])
    table.optimize(16, zorder_by=("station", "vbucket"))
    where = {"station": (0, 9), "vbucket": (0, 63)}
    kept, total = table.pruned_files(where)
    if total > 1 and kept >= total:
        raise RuntimeError(f"z-order skipping did not engage: {kept}/{total} files kept")
    return table.scan(where).select("station", "vbucket", "n", "id_sum")


@register(
    "events_versioned_dv_delete",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events GROUP BY user_id
    )
    SELECT station, part, ts_us, v_cents, version_id
    FROM b WHERE NOT (station % 3 = 0) AND NOT (v_cents < 2500)
    """,
)
def events_versioned_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (r8): two stacked
    ``delete_where`` commits — an arbitrary SQL predicate
    (``station % 3 = 0``) and a structured range (``v_cents < 2500``)
    — must make the rows disappear from the committed snapshot while
    the DATA FILE SET STAYS BYTE-IDENTICAL across all three versions
    (the gate hard-fails if any delete rewrote, added, or dropped a
    data file, and hard-fails if no DV mapping was committed). The
    returned frame is the final snapshot read through the DV
    anti-join; the oracle recomputes both deletes as plain WHERE NOT
    filters, so a DV that misses a row, resurrects one, or mis-
    addresses a physical position hash-mismatches.

    Scale shape: copy-on-write rewrites every touched file — correct
    but O(touched bytes); the DV path writes O(deleted rows) and
    defers materialization to the next optimize/merge rewrite, which
    is the Delta/Iceberg-v2 answer for sparse deletes on a 100 TB
    table. Time travel still sees version 1 intact (asserted)."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r)
    root = os.path.join(scratch("iotdp_dv_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    files_v1 = table.history()[0]["files"]
    n_before = table.snapshot(1).count()
    table.delete_where("station % 3 = 0")
    table.delete_where({"v_cents": (None, 2499)})
    m = table.history()[-1]
    ops = [h["op"] for h in table.history()]
    if ops != ["create", "delete", "delete"]:
        raise RuntimeError(f"unexpected table history: {ops}")
    if m["files"] != files_v1:
        raise RuntimeError("deletion-vector delete rewrote the data file set")
    if not m.get("dvs"):
        raise RuntimeError("no deletion vectors committed")
    if table.snapshot(1).count() != n_before:
        raise RuntimeError("time travel to the pre-delete version lost rows")
    return table.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_column_mapping",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    )
    SELECT coalesce(s.station, b.station) AS station,
           coalesce(s.part, b.part) AS part,
           coalesce(s.v_cents, b.v_cents) AS value_cents,
           coalesce(s.version_id, b.version_id) AS version_id
    FROM b FULL JOIN s ON b.station = s.station
    """,
)
def events_versioned_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping (r9): ALTER RENAME + DROP without rewriting a
    byte, then a MERGE through the renamed schema. CREATE the
    per-station dim (odd-thirds, 8 clustered files), RENAME
    ``v_cents -> value_cents``, DROP ``ts_us``, then MERGE-upsert the
    even-thirds %5 source expressed in the NEW logical schema — the
    appended/rewritten files store PHYSICAL names, so a reader of any
    version sees exactly that version's logical columns. The gate
    hard-fails if either ALTER touched the data file set, if the
    manifest lost the mapping/retired records, or if time travel to v1
    shows the new names. Oracle: the same set algebra with the rename
    applied in the projection — values must be bit-identical, proving
    the mapped write/read round-trip loses nothing.

    100 TB: a rename on a petabyte table is one manifest commit plus an
    O(files) stats-sidecar re-key — data, DV files and layout carried
    by reference (Delta/Iceberg column mapping; files keep physical
    names forever, ``optimize`` clears the debt)."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    root = os.path.join(scratch("iotdp_cmap_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    files_v1 = table.history()[0]["files"]
    table.rename_column("v_cents", "value_cents")
    table.drop_column("ts_us")
    m = table.history()[-1]
    if m["files"] != files_v1:
        raise RuntimeError("ALTER rewrote the data file set")
    if m.get("col_map") != {"value_cents": "v_cents"} or m.get("retired_cols") != ["ts_us"]:
        raise RuntimeError(f"mapping not recorded: {m.get('col_map')}/{m.get('retired_cols')}")
    if "v_cents" not in table.snapshot(1).columns:
        raise RuntimeError("time travel lost the pre-rename schema")
    src = (
        _latest_per_station(
            r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
        )
        .select("station", "part", F.col("v_cents").alias("value_cents"), "version_id")
    )
    table.merge_into(src, ["station"])
    return table.snapshot().select("station", "part", "value_cents", "version_id")


@register(
    "events_versioned_dv_upsert",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    merged AS (
        SELECT coalesce(s.station, b.station) AS station,
               coalesce(s.part, b.part) AS part,
               coalesce(s.ts_us, b.ts_us) AS ts_us,
               coalesce(s.v_cents, b.v_cents) AS v_cents,
               coalesce(s.version_id, b.version_id) AS version_id
        FROM b FULL JOIN s ON b.station = s.station
    )
    SELECT station, part, ts_us, v_cents, version_id
    FROM merged WHERE station % 7 <> 0
    """,
)
def events_versioned_dv_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPSERT via deletion vectors (r9, verdict r8 item
    3): the SAME three-step pipeline as ``events_merge_upsert_cow`` —
    CREATE, MERGE-upsert the even-thirds %5 source, MERGE-delete the
    %7 stations — but with ``strategy="mor"``: each merge is ONE
    commit writing DV entries for the matched preimages plus appended
    postimage files, never rewriting a data file. Identical oracle to
    the COW gate (the logical snapshot must be the same set-algebra
    result); the gate additionally hard-fails if either merge rewrote
    or dropped a pre-existing data file (append-only file sets — the
    property that makes MOR O(changed rows)), if no DV mapping was
    committed, if time travel to v1 lost rows, or if the CDF across
    the MOR upsert fails to pair update_pre/postimages. A final
    ``compact_dv_stacked`` materializes the stacked DVs and must not
    change the snapshot (never-resurrect through targeted compaction).

    Scale shape: the reference's K1 record-update (Prensas.py:216-223)
    updates a scattered key every tick; COW rewrites every touched
    file (r8 measured 64/64 files, 36.3 MB for a scattered 1% delete)
    where this writes O(changed rows) (0.051 MB same shape) — the
    Delta DV / Iceberg-v2 answer at 100 TB. The read tax (DV
    anti-join) is bounded by dv_stacking + compact_dv_stacked."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    root = os.path.join(scratch("iotdp_dvu_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    files_v1 = set(table.history()[0]["files"])
    n_v1 = table.snapshot(1).count()
    v2 = table.merge_into(src, ["station"], strategy="mor")
    if v2 > 1:
        m2 = table.history()[-1]
        if not files_v1 <= set(m2["files"]):
            raise RuntimeError("MOR upsert rewrote or dropped a base data file")
        # CDF across the MOR commit: every update must carry a paired
        # pre/postimage (insert-only sources at tiny SFs yield zero
        # updates — pairing still holds vacuously)
        ch = table.changes(1, v2, keys=["station"], include_preimages=True)
        kinds = dict(ch.groupBy("_change_type").count().collect())
        if kinds.get("update_preimage", 0) != kinds.get("update_postimage", 0):
            raise RuntimeError(f"unpaired update images across MOR: {kinds}")
    dele = table.snapshot().filter(F.col("station") % 7 == 0)
    pre_files = set(table.history()[-1]["files"])
    v3 = table.merge_into(dele, ["station"], when_matched="delete", strategy="mor")
    if v3 > v2 and not pre_files <= set(table.history()[-1]["files"]):
        raise RuntimeError("MOR delete rewrote or dropped a data file")
    ops = [m["op"] for m in table.history()]
    allowed = ("create", "merge:update:mor", "merge:delete:mor")
    if ops[0] != "create" or not all(op in allowed for op in ops):
        raise RuntimeError(f"unexpected table history: {ops}")
    if any(op != "create" for op in ops) and not table.history()[-1].get("dvs"):
        raise RuntimeError("no deletion vectors committed by the MOR merges")
    if table.snapshot(1).count() != n_v1:
        raise RuntimeError("time travel to the pre-merge version lost rows")
    v_before = table.version()
    table.compact_dv_stacked(threshold=1)
    # distributed equality (r10 verdict nit: no driver-side collects) —
    # the pre-compaction snapshot reads THROUGH the old manifest, so
    # both sides stay plans until the exceptAll jobs
    before, after = table.snapshot(v_before), table.snapshot()
    if not before.exceptAll(after).isEmpty() or not after.exceptAll(before).isEmpty():
        raise RuntimeError("compact_dv_stacked changed the snapshot")
    return table.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_skipping",
    """
    SELECT user_id AS station,
           max_by(event_type, event_id) AS part,
           max_by(epoch_us(ts), event_id) AS ts_us,
           max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
           CAST(max(event_id) AS BIGINT) AS version_id
    FROM events WHERE user_id BETWEEN 0 AND 1 GROUP BY user_id
    """,
)
def events_versioned_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping on manifest file-stats: the table is created
    range-clustered on station (8 files, per-file [min, max] recorded
    in the manifest at commit time), then ``scan`` with a narrow
    station range must open only the file(s) whose recorded range
    intersects — Delta/Iceberg min/max skipping on plain parquet. The
    gate HARD-FAILS if pruning does not engage (kept == total), so a
    regression that stops recording or consulting stats cannot pass,
    and the returned rows are hash-checked against the plain filtered
    oracle, so pruning can never drop a matching row.

    Scale shape: a key-range query on a clustered 100 TB table reads
    O(range) files; the manifest stats make the file list a driver-side
    metadata decision, no footer reads at plan time.

    The gate drives BOTH predicate forms — the structured dict and the
    ordinary SQL string (``scan("station BETWEEN 0 AND 1")``, bounds
    extracted by the conjunctive-range parser) — and hard-fails unless
    they prune identically, so the no-plumbing path can never silently
    regress to a full scan."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r)
    root = os.path.join(scratch("iotdp_skip_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    kept, total = table.pruned_files({"station": (0, 1)})
    if total > 1 and kept >= total:
        raise RuntimeError(f"stats skipping did not engage: {kept}/{total} files kept")
    kept_sql, total_sql = table.pruned_files("station BETWEEN 0 AND 1")
    if (kept_sql, total_sql) != (kept, total):
        raise RuntimeError(
            f"SQL-string pruning diverged: {kept_sql}/{total_sql} vs {kept}/{total}"
        )
    return table.scan("station BETWEEN 0 AND 1").select(
        "station", "part", "ts_us", "v_cents", "version_id"
    )


@register(
    "events_versioned_check_constraints",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    merged AS (
        SELECT coalesce(s.station, b.station) AS station,
               coalesce(s.part, b.part) AS part,
               coalesce(s.ts_us, b.ts_us) AS ts_us,
               coalesce(s.v_cents, b.v_cents) AS v_cents,
               coalesce(s.version_id, b.version_id) AS version_id
        FROM b FULL JOIN s ON b.station = s.station
    )
    SELECT station,
           CASE WHEN station % 11 = 0 THEN NULL ELSE part END AS part,
           ts_us, v_cents,
           CASE WHEN station % 11 = 0 THEN version_id + 1000000
                ELSE version_id END AS version_id
    FROM merged
    """,
)
def events_versioned_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints as a hard driver gate (r10, verdict r9 item 2
    — r4's K3/T2 precedent: an enforcement surface whose silent failure
    IS a data bug gets a CORRECTNESS row, not just pytest pins).

    Round-trip: (1) CREATE the per-station dim from the odd-thirds of
    events; (2) ADD CONSTRAINT ``length(part) > 0`` — the add itself
    validates EXISTING rows; (3) a VALID merge (even-thirds %5 source)
    commits; (4) a VIOLATING merge (same stations %13 with part='')
    must raise ConstraintViolation and leave NO commit — the gate
    hard-fails if it lands or if the version moved; (5) a NULL-part
    merge (stations %11, version bumped by 1e6) commits — SQL-standard
    CHECK: NULL is unknown and PASSES. The returned snapshot is
    hash-checked against the oracle computing steps 1+3+5 as pure set
    algebra; step 4 contributing anything, or step 5 being rejected,
    value-hash-mismatches. The manifest must carry the constraint
    forward across all commits.

    100 TB: constraint validation is one distributed ``filter(NOT
    expr).isEmpty()`` over only the NEW rows of each write — O(write),
    never O(table); the add-time full-table validation is the one
    O(table) scan, same as Delta."""
    from iotdatapipeline_spark.sources.versioned import ConstraintViolation

    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    root = os.path.join(scratch("iotdp_chk_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.add_constraint("part_nonempty", "length(part) > 0")
    table.merge_into(src, ["station"])  # valid: commits
    v_ok = table.version()
    bad = table.snapshot().filter(F.col("station") % 13 == 0).withColumn(
        "part", F.lit("")
    )
    try:
        table.merge_into(bad, ["station"])
        raise RuntimeError("constraint did not reject a violating merge")
    except ConstraintViolation:
        pass
    if table.version() != v_ok:
        raise RuntimeError("violating merge moved the table version")
    nulls = (
        table.snapshot()
        .filter(F.col("station") % 11 == 0)
        .withColumn("part", F.lit(None).cast("string"))
        .withColumn("version_id", F.col("version_id") + F.lit(1000000))
    )
    table.merge_into(nulls, ["station"])  # NULL is unknown: passes
    m = table.history()[-1]
    if "part_nonempty" not in (m.get("constraints") or {}):
        raise RuntimeError("constraint lost from the manifest chain")
    return table.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_clone_travel",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    merged AS (
        SELECT coalesce(s.station, b.station) AS station,
               coalesce(s.part, b.part) AS part,
               coalesce(s.ts_us, b.ts_us) AS ts_us,
               coalesce(s.v_cents, b.v_cents) AS v_cents,
               coalesce(s.version_id, b.version_id) AS version_id
        FROM b FULL JOIN s ON b.station = s.station
    )
    SELECT station,
           CASE WHEN station % 9 = 0 THEN 'cloned' ELSE part END AS part,
           ts_us, v_cents,
           CASE WHEN station % 9 = 0 THEN version_id + 7000000
                ELSE version_id END AS version_id
    FROM merged
    """,
)
def events_versioned_clone_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy CLONE + TIMESTAMP AS OF as one hard driver gate (r10).

    Round-trip: (1) CREATE the per-station dim (odd-thirds of events) —
    v1; (2) a valid merge (even-thirds %5) — v2, commit time recorded;
    (3) a poisoning merge (stations %7, v_cents bumped by +55555) — v3;
    (4) ``clone_to(dest, timestamp=ts2)`` — the clone must materialize
    the v2 state via timestamp resolution, NOT the head: any of the %7
    bump leaking into the clone value-hash-mismatches; (5) the clone
    diverges (stations %9 relabeled 'cloned', version bumped by 7e6) —
    its own history, its own files; the SOURCE head must not move.
    Returned: the clone's final snapshot; oracle = steps 1+2+5 as set
    algebra with step 3 absent.

    100 TB: the clone hard-links immutable files (no bytes move; the
    object-store form is manifest-only absolute references), timestamp
    resolution is O(versions-scanned) over cached manifests, and the
    clone is immediately writable with the source's constraints and
    clustering carried. Clone/travel machinery: sources/versioned.py
    (clone_to, version_at_timestamp, commit_timestamp)."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    stem = scratch("iotdp_clone_")
    table = VersionedTable(spark, os.path.join(stem, "src"))
    table.create(base, n_files=8, cluster_by=["station"])
    table.merge_into(src, ["station"])  # v2 — the clone point
    ts2 = table.commit_timestamp(2)
    poison = (
        table.snapshot()
        .filter(F.col("station") % 7 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(55555))
    )
    table.merge_into(poison, ["station"])  # v3 — must NOT reach the clone
    if table.commit_timestamp(3) <= ts2:
        raise RuntimeError("commit clock anomaly: v3 not after v2")
    clone = table.clone_to(os.path.join(stem, "dst"), timestamp=ts2)
    if clone._read_manifest(1)["op"] != f"clone:{table.root}@v2":
        raise RuntimeError("timestamp did not resolve to v2")
    relabel = (
        clone.snapshot()
        .filter(F.col("station") % 9 == 0)
        .withColumn("part", F.lit("cloned"))
        .withColumn("version_id", F.col("version_id") + F.lit(7000000))
    )
    clone.merge_into(relabel, ["station"])  # diverges the clone only
    if table.version() != 3:
        raise RuntimeError("clone write leaked into the source table")
    return clone.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_bloom_point_lookup",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    )
    SELECT station, part, ts_us, v_cents, version_id
    FROM b
    WHERE version_id = (SELECT version_id FROM b WHERE station = 7)
    """,
)
def events_versioned_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter-index point lookup as a hard driver gate (r10).

    The per-station dim is CLUSTERED BY station, so a point lookup on
    ``version_id`` (each station's latest event id — high-cardinality,
    scattered across the station-range files) is the case range stats
    cannot help: the probe value lives in exactly ONE file, but file
    [min, max] ranges overlap. ``add_bloom_index(["version_id"])``
    builds the per-file blooms in one distributed pass; the gate
    hard-fails unless the indexed ``scan`` provably skips files
    (kept < total), and the returned row is value-hashed against the
    subquery oracle — a bloom that wrongly prunes the TRUE file would
    return zero rows and hash-mismatch (the one failure mode a Bloom
    index must never have; false positives only read more).

    100 TB: the index is m·rows bits/file built JVM-side (md5 double
    hashing folded to 63-bit words via bit_or), the sidecar rides
    manifests by reference, and a needle-in-haystack lookup opens
    O(1 + fpp·files) files instead of O(table). Machinery:
    sources/versioned.py (add_bloom_index, _bloom_of, _keep_files)."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    root = os.path.join(scratch("iotdp_bloom_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.add_bloom_index(["version_id"])
    probe = table.snapshot().filter(F.col("station") == 7).select("version_id").collect()
    if len(probe) != 1:
        raise RuntimeError(f"expected exactly one station-7 row, got {len(probe)}")
    probe_val = probe[0]["version_id"]
    kept, total = table.pruned_files(f"version_id = {probe_val}")
    if total > 1 and kept >= total:
        raise RuntimeError(f"bloom skipping did not engage: {kept}/{total} files kept")
    return table.scan(f"version_id = {probe_val}").select(
        "station", "part", "ts_us", "v_cents", "version_id"
    )


@register(
    "events_versioned_widen_upsert",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS INTEGER), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    )
    SELECT station, part, ts_us,
           CASE WHEN station % 6 = 0
                THEN CAST(v_cents AS BIGINT) + 4294967296
                ELSE CAST(v_cents AS BIGINT) END AS v_cents,
           CASE WHEN station % 6 = 0 THEN version_id + 5000000
                ELSE version_id END AS version_id
    FROM b
    """,
)
def events_versioned_widen_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening as a hard driver gate (r10): a silent widening
    failure IS a data bug — beyond-int32 values truncated, or old
    narrow files unreadable — so the surface gets a CORRECTNESS row
    (the r4 K3/T2 precedent), not just pytest pins.

    Round-trip: (1) CREATE the per-station dim with v_cents as INT
    (narrow physical files); (2) ``widen_column('v_cents','bigint')``
    — manifest-only, no file rewritten; (3) MERGE values beyond int32
    (+2^32 on stations %6) THROUGH the widened schema — these land in
    new wide files; (4) the returned snapshot reads BOTH generations:
    old int32 files widened at scan, new int64 files natively. The
    oracle computes the same set algebra in BIGINT; truncation,
    overflow, or a failed narrow-file read all value-hash-mismatch.
    Time-travel behavior and refusal of lossy conversions are pinned
    in tests/test_versioned.py::TestWidenColumn."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0)).withColumn(
        "v_cents", F.col("v_cents").cast("int")
    )
    root = os.path.join(scratch("iotdp_widen_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    if dict(table.snapshot().dtypes)["v_cents"] != "int":
        raise RuntimeError("fixture did not start narrow")
    table.widen_column("v_cents", "bigint")
    files_before = set(table._read_manifest(1)["files"])
    files_after = set(table._read_manifest(2)["files"])
    if files_before != files_after:
        raise RuntimeError("widen_column rewrote data files")
    wide = (
        table.snapshot()
        .filter(F.col("station") % 6 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(4294967296))
        .withColumn("version_id", F.col("version_id") + F.lit(5000000))
    )
    table.merge_into(wide, ["station"])
    return table.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_cdf_apply",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    merged AS (
        SELECT coalesce(s.station, b.station) AS station,
               coalesce(s.part, b.part) AS part,
               coalesce(s.ts_us, b.ts_us) AS ts_us,
               coalesce(s.v_cents, b.v_cents) AS v_cents,
               coalesce(s.version_id, b.version_id) AS version_id
        FROM b FULL JOIN s ON b.station = s.station
    )
    SELECT station, part, ts_us, v_cents, version_id
    FROM merged WHERE station % 9 <> 0
    """,
)
def events_versioned_cdf_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replication as a hard driver gate (r10): a MIRROR table is
    maintained purely from the SOURCE's change feed — initial snapshot
    as insert rows, then ``changes()`` between sync points — through
    ``cdf_apply_foreach_batch`` (terminal-state reduction, keyed DV
    deletes, txn-deduped merges). Source history: create (odd-thirds
    dim, v1) -> upsert (even-thirds %5, v2) -> delete (stations %9,
    v3). The mirror sees two micro-batches (the v1 snapshot, then the
    collapsed v1->v3 diff) and its final snapshot is value-hashed
    against the oracle computing the source's end state as set
    algebra — the replication converging to anything else (lost
    delete, double-applied update, preimage leaking in) hash-fails.
    The streamed twin over the real ``versioned_cdf`` source is pinned
    in tests/test_streaming.py::TestCdfApply.

    100 TB: mirrors follow the O(changed rows) feed — never a source
    rescan; deletes land as deletion vectors, upserts prune through
    the mirror's own stats (sources/versioned.py changes(),
    streaming/sinks.py cdf_apply_foreach_batch)."""
    from iotdatapipeline_spark.streaming.sinks import cdf_apply_foreach_batch

    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src_upd = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    stem = scratch("iotdp_cdfapply_")
    src = VersionedTable(spark, os.path.join(stem, "src"))
    src.create(base, n_files=8, cluster_by=["station"])
    src.merge_into(src_upd, ["station"])  # v2
    src.delete_where("station % 9 = 0")  # v3 (deletion vectors)
    sink = cdf_apply_foreach_batch(os.path.join(stem, "mirror"), ["station"], txn_app="gate")
    # micro-batch 0: the initial snapshot as insert rows (what the
    # versioned_cdf stream emits from its starting offset)
    sink(
        src.snapshot(1)
        .withColumn("_change_type", F.lit("insert"))
        .withColumn("_commit_version", F.lit(1).cast("long")),
        0,
    )
    # micro-batch 1: everything since, collapsed by changes()
    sink(
        src.changes(1, 3, keys=["station"]).withColumn(
            "_commit_version", F.lit(3).cast("long")
        ),
        1,
    )
    mirror = VersionedTable(spark, os.path.join(stem, "mirror"))
    got, want = mirror.snapshot(), src.snapshot()
    if got.count() != want.count():
        raise RuntimeError("mirror row count diverged from source")
    return mirror.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_bloom_merge",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    )
    SELECT station, part, ts_us,
           CASE WHEN station < (SELECT min(station)
                                + CAST(ceil((max(station) - min(station) + 1) / 8.0) AS BIGINT)
                                FROM b)
                THEN v_cents + 111111 ELSE v_cents END AS v_cents,
           version_id
    FROM b
    """,
)
def events_versioned_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-refined MERGE candidates as a hard driver gate (r10): the
    riskiest failure of the bloom merge probe is a false NEGATIVE — a
    pruned file that actually held a source key would silently LOSE
    that update — so the path gets a value-hashed row, not just pytest
    pins. Setup: station-clustered dim, bloom index on ``version_id``
    (each station's latest event id — scattered, so the global
    [min, max] key-bounds prune keeps every file); MERGE keyed on
    ``version_id`` updates the first eighth of the station range
    (+111111 cents; sf-relative, so the band stays one-file-narrow at
    every fixture scale) — keys that LIVE in one or two station-range
    files, but whose version_id values span the whole domain, so only
    the bloom can localize the merge. The gate
    hard-fails unless the commit metrics show FEWER files rewritten
    than the table holds (the bloom probe engaged — without it the
    scattered keys force a full rewrite) and the snapshot must
    hash-match the set-algebra oracle: any lost update (false
    negative) or spurious change mismatches.

    100 TB: this is the reference's per-tick scattered-key K1 shape —
    the probe turns 'rewrite every file each tick' into 'rewrite the
    files that hold the keys' (sources/versioned.py
    _candidates_by_key_bounds)."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    root = os.path.join(scratch("iotdp_bmerge_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.add_bloom_index(["version_id"])
    bounds = table.snapshot().agg(
        F.min("station").alias("lo"), F.max("station").alias("hi")
    ).collect()[0]
    band_hi = bounds["lo"] + -(-(bounds["hi"] - bounds["lo"] + 1) // 8)  # ceil div
    src = (
        table.snapshot()
        .filter(F.col("station") < band_hi)
        .withColumn("v_cents", F.col("v_cents") + F.lit(111111))
    )
    v = table.merge_into(src, ["version_id"])
    mt = table._read_manifest(v).get("metrics") or {}
    n_before = len(table._read_manifest(v - 1)["files"])
    if n_before > 2 and mt.get("files_removed", n_before) >= n_before:
        raise RuntimeError(
            f"bloom merge probe did not engage: {mt.get('files_removed')}/{n_before} "
            "files rewritten by a scattered-key merge"
        )
    return table.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_generated_column",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    after AS (
        SELECT station, part, ts_us,
               CASE WHEN station % 4 = 1 THEN v_cents + 2222 ELSE v_cents END AS v_cents,
               version_id
        FROM b
    )
    SELECT station, part, ts_us, v_cents,
           CAST(floor(v_cents / 1000) AS BIGINT) AS v_kilo,
           version_id
    FROM after
    """,
)
def events_versioned_generated_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated columns as a hard driver gate (r10): a writer that
    silently stops COMPUTING the column (stale/null derived values) or
    stops VALIDATING it (a contradicting precomputed value landing) is
    a data bug, so the surface gets a value-hashed row (the CHECK-
    constraint precedent).

    Round-trip: (1) CREATE the per-station dim with
    ``v_kilo = floor(v_cents/1000)`` precomputed; (2) ``set_generated``
    — the declaration itself validates every live row; (3) a merge
    whose source OMITS v_kilo (stations %4==1, +2222 cents) — the
    writer must compute the new derived values; (4) a merge carrying a
    CONTRADICTING v_kilo must refuse with no commit (hard-fail if it
    lands or moves the version). The returned snapshot is hash-checked
    against the oracle deriving v_kilo in SQL — stale, null, or wrong
    derived values all mismatch.

    100 TB: generation is one projection on the write frame and one
    combined validation filter over only the new rows — O(write),
    never O(table); add-time validation is the one full scan, same as
    CHECK (sources/versioned.py set_generated/_apply_generated)."""
    from iotdatapipeline_spark.sources.versioned import ConstraintViolation

    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0)).withColumn(
        "v_kilo", F.floor(F.col("v_cents") / 1000).cast("long")
    )
    root = os.path.join(scratch("iotdp_gen_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.set_generated("v_kilo", "CAST(floor(v_cents / 1000) AS BIGINT)")
    src = (
        table.snapshot()
        .filter(F.col("station") % 4 == 1)
        .withColumn("v_cents", F.col("v_cents") + F.lit(2222))
        .drop("v_kilo")  # the writer must derive it
    )
    table.merge_into(src, ["station"])
    v_ok = table.version()
    bad = (
        table.snapshot()
        .filter(F.col("station") % 4 == 2)
        .withColumn("v_kilo", F.col("v_kilo") + F.lit(500))
    )
    try:
        table.merge_into(bad, ["station"])
        raise RuntimeError("contradicting generated value was not refused")
    except ConstraintViolation:
        pass
    if table.version() != v_ok:
        raise RuntimeError("refused merge moved the table version")
    return table.snapshot().select(
        "station", "part", "ts_us", "v_cents", "v_kilo", "version_id"
    )


@register(
    "events_versioned_convert",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    merged AS (
        SELECT coalesce(s.station, b.station) AS station,
               coalesce(s.part, b.part) AS part,
               coalesce(s.ts_us, b.ts_us) AS ts_us,
               coalesce(s.v_cents, b.v_cents) AS v_cents,
               coalesce(s.version_id, b.version_id) AS version_id
        FROM b FULL JOIN s ON b.station = s.station
    )
    SELECT station, part, ts_us, v_cents, version_id
    FROM merged
    WHERE station <= (SELECT min(station)
                      + CAST(floor((max(station) - min(station)) / 2.0) AS BIGINT)
                      FROM merged)
    """,
)
def events_versioned_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT as a hard driver gate (r11, verdict r10 missing #1):
    importing an existing parquet lake is a user's FIRST contact with
    the engine, and a conversion that mis-links files, double-links an
    append, or mis-records the schema is a silent data bug — so the
    path gets a value-hashed row (the r10 CHECK-constraint precedent),
    not just pytest pins (tests/test_versioned.py TestConvert).

    Round-trip: (1) write the per-station dim as a PLAIN parquet dir in
    two appends with different partition counts (multiple files, mixed
    row counts — the realistic shape of a grown lake); (2)
    ``convert_parquet_dir`` registers it as v1 WITHOUT rewriting a byte;
    the guard branches are exercised (convert onto an existing table
    and convert of an empty dir must both refuse); (3) a follow-up
    MERGE commits v2 — the converted files must participate as
    first-class committed files; (4) TIME TRAVEL to v1 must equal the
    source dir exactly (distributed exceptAll both ways — a convert
    that dropped or duplicated a file diverges here); the source dir
    itself must still read untouched. The returned frame is a ``scan``
    with a range predicate over the lower half of the station domain
    (sf-relative) — scan's pruning path runs with NO reconstructed
    stats, so it must conservatively keep every file and still filter
    exactly; the oracle recomputes create+merge+filter as set algebra.

    100 TB: conversion is O(files) hard links + one schema read — no
    data job at all; the follow-up optimize()/add_bloom_index are the
    documented opt-ins for stats-pruned layout."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    stem = scratch("iotdp_cvt_")
    lake = os.path.join(stem, "lake")
    # a grown lake: two appends, different partitioning, disjoint rows
    base.filter(F.col("station") % 2 == 0).repartition(3).write.parquet(lake)
    base.filter(F.col("station") % 2 == 1).repartition(2).write.mode(
        "append"
    ).parquet(lake)
    root = os.path.join(stem, "tbl")
    table = VersionedTable.convert_parquet_dir(spark, lake, root)
    if table.version() != 1:
        raise RuntimeError(f"convert committed v{table.version()}, expected v1")
    try:
        VersionedTable.convert_parquet_dir(spark, lake, root)
        raise RuntimeError("convert onto an existing table did not refuse")
    except ValueError:
        pass
    empty = os.path.join(stem, "empty")
    os.makedirs(empty, exist_ok=True)
    try:
        VersionedTable.convert_parquet_dir(spark, empty, os.path.join(stem, "t2"))
        raise RuntimeError("convert of an empty dir did not refuse")
    except ValueError:
        pass
    table.merge_into(src, ["station"])
    # time travel below the merge must equal the converted source dir
    v1, lake_df = table.snapshot(1), spark.read.parquet(lake)
    if not v1.exceptAll(lake_df).isEmpty() or not lake_df.exceptAll(v1).isEmpty():
        raise RuntimeError("time travel to the converted version diverged from the source dir")
    bounds = table.snapshot().agg(
        F.min("station").alias("lo"), F.max("station").alias("hi")
    ).collect()[0]
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) // 2
    return table.scan(f"station <= {mid}").select(
        "station", "part", "ts_us", "v_cents", "version_id"
    )


@register(
    "events_merge_guarded_update",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 GROUP BY user_id
    )
    SELECT coalesce(s.station, b.station) AS station,
           CASE WHEN s.station IS NOT NULL
                     AND (b.station IS NULL OR s.version_id > b.version_id)
                THEN s.part ELSE b.part END AS part,
           CASE WHEN s.station IS NOT NULL
                     AND (b.station IS NULL OR s.version_id > b.version_id)
                THEN s.ts_us ELSE b.ts_us END AS ts_us,
           CASE WHEN s.station IS NOT NULL
                     AND (b.station IS NULL OR s.version_id > b.version_id)
                THEN s.v_cents ELSE b.v_cents END AS v_cents,
           CASE WHEN s.station IS NOT NULL
                     AND (b.station IS NULL OR s.version_id > b.version_id)
                THEN s.version_id ELSE b.version_id END AS version_id
    FROM b FULL JOIN s ON b.station = s.station
    """,
)
def events_merge_guarded_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN MATCHED AND <cond> THEN UPDATE as a hard driver gate
    (r11): the out-of-order upsert guard — ``s.version_id >
    t.version_id`` — that makes late or replayed batches unable to
    regress state, the invariant the reference's tick writer enforces
    row-at-a-time with UPDATE ... WHERE (Prensas.py:216-223) and a
    distributed merge must enforce set-wise.

    Round-trip: (1) CREATE the per-station dim from the odd-thirds of
    events; (2) MERGE the even-thirds' per-station latest with the
    version guard — per station the even-third max event_id is
    NATURALLY newer or older than the odd-third one, so the source is
    a realistic fresh/stale mix: stale rows must leave the target row
    untouched, fresh ones must replace it, source-only stations
    insert; (3) REPLAYING the same merge must commit NOTHING (every
    pair now compares equal — the guard's idempotence, hard-fail if
    the version moves). Oracle = the FULL JOIN with the version CASE
    replayed as set algebra; a guard that regresses one stale station
    or skips one fresh one hash-mismatches.

    100 TB: the condition is evaluated inside the same key-pruned
    probe join the merge already runs; only cond-TRUE matches count
    as touched, so a mostly-stale batch (the replay/backfill case)
    rewrites almost nothing."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = _latest_per_station(r.filter(F.col("event_id") % 3 == 0))
    root = os.path.join(scratch("iotdp_gup_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.merge_into(src, ["station"], when_matched_condition="s.version_id > t.version_id")
    v = table.version()
    table.merge_into(src, ["station"], when_matched_condition="s.version_id > t.version_id")
    if table.version() != v:
        raise RuntimeError("replaying the guarded merge was not a no-op")
    return table.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_ivm",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT station,
               CASE WHEN station % 4 = 0 THEN v_cents + 5000 ELSE v_cents END AS v_cents
        FROM b
    ),
    final AS (SELECT * FROM s WHERE station % 7 <> 0)
    SELECT station % 8 AS bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(v_cents) AS BIGINT) AS sum_v_cents
    FROM final GROUP BY station % 8
    """,
)
def events_versioned_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the change feed as a hard
    driver gate (r11): a GROUP BY view (per station-bucket count +
    cents sum) is maintained ONLY from signed CDF deltas
    (``cdf_ivm_foreach_batch`` — +1 for insert/update_postimage, -1
    for delete/update_preimage) while the SOURCE takes a merge
    (+5000 cents on the mod-4 stations) and a keyed delete (mod-7
    stations). The oracle aggregates the source's FINAL state
    directly — a sign error, a double-applied batch, or a missed
    preimage leaves the view irreconcilably off and hash-mismatches.
    The view's history must show it was maintained, not recomputed.

    100 TB: per batch the view pays O(batch) for the delta aggregate
    plus a key-pruned merge of the AFFECTED groups — the source is
    never re-read and the view is never re-scanned; SUM/COUNT are the
    self-maintainable tier (MIN/MAX need source repair reads — the
    r12 tier-2 sink, gated by ``events_versioned_ivm_minmax``)."""
    from iotdatapipeline_spark.streaming.sinks import cdf_ivm_foreach_batch

    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0)).select(
        "station", "v_cents"
    )
    stem = scratch("iotdp_ivm_")
    src = VersionedTable(spark, os.path.join(stem, "src"))
    src.create(base, n_files=8, cluster_by=["station"])
    upd = (
        src.snapshot()
        .filter(F.col("station") % 4 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(5000))
    )
    src.merge_into(upd, ["station"])  # v2
    dele = src.snapshot().filter(F.col("station") % 7 == 0)
    src.merge_into(dele, ["station"], when_matched="delete")  # v3

    ivm = cdf_ivm_foreach_batch(os.path.join(stem, "view"), ["bucket"], ["v_cents"])
    bucket = (F.col("station") % 8).alias("bucket")
    # batch 0: the initial state as inserts; batches 1..2: real CDF
    # slices WITH preimages (updates must subtract their old values)
    seed = src.snapshot(1).select(bucket, "v_cents").withColumn(
        "_change_type", F.lit("insert")
    )
    ivm(seed, 0)
    for i, (lo, hi) in enumerate([(1, 2), (2, 3)], start=1):
        ch = src.changes(lo, hi, keys=["station"], include_preimages=True).select(
            bucket, "v_cents", "_change_type"
        )
        ivm(ch, i)
    view = VersionedTable(spark, os.path.join(stem, "view"))
    ops = [m["op"] for m in view.history()]
    if not any(op.startswith("merge:") for op in ops):
        raise RuntimeError(f"view was not incrementally maintained: {ops}")
    return view.snapshot().select("bucket", "cnt", "sum_v_cents")


@register(
    "events_versioned_identity",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    bid AS (
        SELECT station, part, ts_us, v_cents, version_id,
               row_number() OVER (ORDER BY station) AS rid
        FROM b
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    upd AS (
        SELECT s.station, s.part, s.ts_us, s.v_cents, s.version_id, bid.rid
        FROM s JOIN bid ON bid.station = s.station
    ),
    keep AS (
        SELECT * FROM bid WHERE station NOT IN (SELECT station FROM s)
    ),
    newr AS (
        SELECT s.station, s.part, s.ts_us, s.v_cents, s.version_id,
               (SELECT max(rid) FROM bid)
               + row_number() OVER (ORDER BY s.station) AS rid
        FROM s LEFT JOIN bid ON bid.station = s.station
        WHERE bid.station IS NULL
    )
    SELECT station, part, ts_us, v_cents, version_id, CAST(rid AS BIGINT) AS rid
    FROM (
        SELECT * FROM keep UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM newr
    )
    """,
)
def events_versioned_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity columns as a hard driver gate (r11): GENERATED ALWAYS
    AS IDENTITY with DETERMINISTIC key-ordered assignment — a writer
    that reassigns matched rows' ids, reissues a watermark, or accepts
    user-supplied values is a silent data bug, so the surface gets a
    value-hashed row (the generated-column precedent).

    Round-trip: (1) CREATE the per-station dim with ``rid`` =
    row_number by station; (2) ``set_identity('rid')`` — the
    declaration validates uniqueness and records max() as the
    watermark; (3) a MERGE whose source OMITS rid (even-thirds %5
    stations): matched stations must KEEP their rid, new stations get
    watermark + station-ordered rank; (4) a merge CARRYING rid must
    refuse with no commit (ALWAYS semantics — hard-fail if it lands).
    The returned snapshot is hash-checked against the oracle replaying
    the same assignment in SQL — churned ids, gaps in the wrong place,
    or accepted user values all mismatch.

    100 TB: assignment is a row_number over ONLY the write batch's new
    rows plus one count for the watermark bump — O(write), never
    O(table); the declaration's uniqueness scan is the one full pass
    (same as add_constraint). Deterministic ids are the reproducible-
    ingest property Delta's identity (unique-with-gaps) does not
    give."""
    r = _readings(spark, sf_dir)
    from pyspark.sql import Window

    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0)).withColumn(
        "rid", F.row_number().over(Window.orderBy("station")).cast("long")
    )
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    root = os.path.join(scratch("iotdp_id_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.set_identity("rid")
    table.merge_into(src, ["station"])
    v_ok = table.version()
    carrying = table.snapshot().limit(1).withColumn("rid", F.lit(999999).cast("long"))
    try:
        table.merge_into(carrying, ["station"])
        raise RuntimeError("a source carrying the identity column was not refused")
    except ValueError:
        pass
    if table.version() != v_ok:
        raise RuntimeError("refused merge moved the table version")
    return table.snapshot().select(
        "station", "part", "ts_us", "v_cents", "version_id", "rid"
    )


@register(
    "events_merge_sync_delete",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT station, part, ts_us, v_cents + 5000 AS v_cents, version_id
        FROM b WHERE station % 3 <> 0
    )
    SELECT station, part, ts_us, v_cents, version_id FROM s
    UNION ALL
    SELECT station, part, ts_us, v_cents, version_id
    FROM b WHERE station % 3 = 0 AND station % 4 <> 0
    """,
)
def events_merge_sync_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN NOT MATCHED BY SOURCE THEN DELETE as a hard driver gate
    (r11): the full-sync merge clause (Delta's third WHEN branch) —
    target rows whose key is absent from the source are removed,
    scoped by a condition. A clause that silently deletes too much,
    too little, or ignores the condition is a data bug, so it gets a
    value-hashed row (the CHECK-constraint precedent).

    Round-trip: (1) CREATE the per-station dim from the odd-thirds of
    events; (2) one MERGE whose source is the stations NOT ≡0 (mod 3)
    with +5000 cents, with ``not_matched_by_source="delete"`` and
    condition ``station % 4 = 0`` — matched stations update, the
    mod-3 stations are unmatched and only their mod-4 subset deletes,
    the rest must SURVIVE (a condition-ignoring implementation
    hash-mismatches on the missing survivors); (3) the commit op
    string must record the sync clause. Oracle = the same set algebra
    (updated source UNION the surviving unmatched band).

    100 TB: the delete scope is stats-pruned by the condition exactly
    like scan() — without a condition every file is in scope (any
    file may hold a now-absent key), which is Delta's own documented
    caveat for this clause; the MOR twin (pytest-pinned) records the
    deletes as DV entries, O(changed rows)."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = (
        base.filter(F.col("station") % 3 != 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(5000))
    )
    root = os.path.join(scratch("iotdp_sync_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.merge_into(
        src,
        ["station"],
        not_matched_by_source="delete",
        not_matched_by_source_condition="station % 4 = 0",
    )
    if table.history()[-1]["op"] != "merge:update+syncdel":
        raise RuntimeError(f"unexpected op {table.history()[-1]['op']!r}")
    return table.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_cdf_commitfiles",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s1 AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    s2 AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 1 GROUP BY user_id
    ),
    v2 AS (
        SELECT coalesce(s1.station, b.station) AS station,
               coalesce(s1.part, b.part) AS part,
               coalesce(s1.ts_us, b.ts_us) AS ts_us,
               coalesce(s1.v_cents, b.v_cents) AS v_cents,
               coalesce(s1.version_id, b.version_id) AS version_id
        FROM b FULL JOIN s1 ON b.station = s1.station
    ),
    v3 AS (SELECT * FROM v2 WHERE station % 7 <> 0),
    f AS (
        SELECT coalesce(s2.station, v3.station) AS station,
               coalesce(s2.part, v3.part) AS part,
               coalesce(s2.ts_us, v3.ts_us) AS ts_us,
               coalesce(s2.v_cents, v3.v_cents) AS v_cents,
               coalesce(s2.version_id, v3.version_id) AS version_id
        FROM v3 FULL JOIN s2 ON v3.station = s2.station
    )
    SELECT coalesce(b.station, f.station) AS station,
           CASE WHEN f.station IS NULL THEN b.part ELSE f.part END AS part,
           CASE WHEN f.station IS NULL THEN b.ts_us ELSE f.ts_us END AS ts_us,
           CASE WHEN f.station IS NULL THEN b.v_cents ELSE f.v_cents END AS v_cents,
           CASE WHEN f.station IS NULL THEN b.version_id ELSE f.version_id
                END AS version_id,
           CASE WHEN b.station IS NULL THEN 'insert'
                WHEN f.station IS NULL THEN 'delete'
                ELSE 'update_postimage' END AS _change_type
    FROM b FULL JOIN f ON b.station = f.station
    WHERE b.station IS NULL OR f.station IS NULL
       OR NOT (b.part    IS NOT DISTINCT FROM f.part
           AND b.ts_us   IS NOT DISTINCT FROM f.ts_us
           AND b.v_cents IS NOT DISTINCT FROM f.v_cents
           AND b.version_id IS NOT DISTINCT FROM f.version_id)
    """,
)
def events_versioned_cdf_commitfiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMIT-TIME change data feed (r12 — Delta's
    enableChangeDataFeed shape): every mutating commit writes its
    change files alongside its data (COW merge, MOR merge and a keyed
    DV delete all exercised here), and ``changes()`` serves the range
    by NETTING those per-commit records — O(changed rows in range),
    never a snapshot scan. The gate asserts the fast path is actually
    serving the read (``_changes_from_commits`` non-None) and
    hash-checks the netted four-commit feed against pure set algebra:
    create ← odd-thirds; COW merge ← mod-5≡0 source; keyed DV delete
    ← mod-7 stations; MOR merge ← mod-5≡1 source (re-inserting the
    deleted 21-mod-35 stations, so delete-then-insert keys must net to
    updates/inserts vs v1, and A-identical keys to nothing).

    100 TB: this is the feed shape the r11 CDC bench demanded —
    snapshot-diff derivation measured 7–8.7 s/batch (O(table))
    DOMINATING the 2.3 s apply floor; commit files make the feed
    O(changed rows) and both the IVM sink and APPLY CHANGES inherit
    it. Cites Prensas.py:216-223 (the reference's per-tick UPDATE
    stream this feed replays)."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    s1 = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    s2 = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 1))
    )
    root = os.path.join(scratch("iotdp_cdfc_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.merge_into(s1, ["station"])
    dele = table.snapshot().filter(F.col("station") % 7 == 0).select("station")
    table.delete_matching(dele, ["station"])
    table.merge_into(s2, ["station"], strategy="mor")
    head = table.version()
    for m in table.history()[1:]:
        if (m.get("cdf") or {}).get("mode") not in ("files", "data", "none"):
            raise RuntimeError(f"commit without CDF record: {m['op']}")
    ch = table._changes_from_commits(1, head, ["station"], False)
    if ch is None and head > 1:
        raise RuntimeError("commit-time CDF fast path unavailable")
    if ch is None:
        ch = table.changes(1, head, ["station"])
    return ch.select(
        "station", "part", "ts_us", "v_cents", "version_id", "_change_type"
    )


@register(
    "events_merge_concurrent_rebase",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    merged AS (
        SELECT coalesce(s.station, b.station) AS station,
               coalesce(s.part, b.part) AS part,
               coalesce(s.ts_us, b.ts_us) AS ts_us,
               coalesce(s.v_cents, b.v_cents) AS v_cents,
               coalesce(s.version_id, b.version_id) AS version_id
        FROM b FULL JOIN s ON b.station = s.station
    )
    SELECT * FROM merged
    UNION ALL
    SELECT station + 10000000 AS station, part, ts_us, v_cents, version_id
    FROM b WHERE station % 9 = 0
    """,
)
def events_merge_concurrent_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCURRENT WRITERS (r12): writer A's MERGE-upsert loses its
    commit race — deterministically injected — to writer B's append of
    new stations (shifted by 10M, provably outside A's source key
    bounds). A's conflict path validates its read set against B's
    commit (probe files untouched, added files' stats ranges disjoint
    from A's source bounds) and REBASES: re-commits its finished files
    against the new head, metadata-only, instead of re-running the
    merge — Delta's logical conflict detection on this table format.
    The gate asserts the rebase op actually landed (a silently
    re-running implementation fails the assert, not the hash) and
    hash-checks the final snapshot against both writers' set algebra.

    100 TB: the difference between a backfill merge re-reading and
    re-writing O(touched bytes) because a 1-row streaming upsert beat
    it to the manifest, and re-linking finished files under the next
    version. Overlapping reads / maybe-match added files / NMBS /
    metadata changes all still take the full optimistic retry
    (TestConcurrentWriters pins each)."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src_a = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    src_b = base.filter(F.col("station") % 9 == 0).withColumn(
        "station", F.col("station") + F.lit(10000000)
    )
    root = os.path.join(scratch("iotdp_ccw_"), "tbl")
    a = VersionedTable(spark, root)
    a.create(base, n_files=8, cluster_by=["station"])
    b = VersionedTable(spark, root)
    orig = type(a)._try_commit
    state = {"fired": False}

    def hooked(self, *args, **kw):
        if not state["fired"]:
            state["fired"] = True
            b.merge_into(src_b, ["station"])
        return orig(self, *args, **kw)

    a._try_commit = hooked.__get__(a)
    a.merge_into(src_a, ["station"])
    last = a.history()[-1]
    if not last["op"].endswith(":rebase"):
        raise RuntimeError(f"expected a rebased merge, got {last['op']!r}")
    return a.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_delete_concurrent_rebase",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    m AS (SELECT (max(station) * 4) // 5 AS thr FROM b)
    SELECT station, part, ts_us,
           CASE WHEN station % 7 = 0 AND station < (SELECT thr FROM m) // 2
                THEN v_cents + 1234 ELSE v_cents END AS v_cents,
           version_id
    FROM b WHERE station < (SELECT thr FROM m)
    """,
)
def events_delete_concurrent_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV DELETE REBASE (r13): writer A's ``delete_where`` on the top
    station band loses its commit race — deterministically injected —
    to writer B's upsert of LOW stations (a COW rewrite of files whose
    stats ranges are provably disjoint from A's predicate). A's
    conflict path validates its read set (candidate files carried
    unchanged, B's added files outside the predicate ranges) and
    REBASES: its finished DV and change files re-commit against the
    new head as ``delete:rebase`` — metadata only, zero re-written
    files. The gate asserts the rebase op landed (a silently
    re-running implementation fails the assert, not the hash) and
    hash-checks the final snapshot against both writers' set algebra.

    100 TB: a retention delete sweeping a cold band races the live
    stream's 1-row upserts constantly; re-linking finished DV parquet
    versus re-running the O(candidate files) probe join is the
    difference between the sweep converging and starving."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    smax = base.agg(F.max("station")).collect()[0][0]
    thr = (int(smax) * 4) // 5
    src_b = (
        base.filter((F.col("station") % 7 == 0) & (F.col("station") < thr // 2))
        .withColumn("v_cents", F.col("v_cents") + F.lit(1234))
    )
    root = os.path.join(scratch("iotdp_dcr_"), "tbl")
    a = VersionedTable(spark, root)
    a.create(base, n_files=8, cluster_by=["station"])
    b = VersionedTable(spark, root)
    orig = type(a)._try_commit
    state = {"fired": False}

    def hooked(self, *args, **kw):
        if not state["fired"]:
            state["fired"] = True
            b.merge_into(src_b, ["station"])
        return orig(self, *args, **kw)

    a._try_commit = hooked.__get__(a)
    a.delete_where(f"station >= {thr}")
    last = a.history()[-1]
    if last["op"] != "delete:rebase":
        raise RuntimeError(f"expected a rebased delete, got {last['op']!r}")
    return a.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_mv_reseed",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT station,
               CASE WHEN station % 4 = 0 THEN v_cents + 5000 ELSE v_cents END AS v_cents
        FROM b
    ),
    f1 AS (SELECT * FROM s WHERE station % 7 <> 0),
    f2 AS (
        SELECT station,
               CASE WHEN station % 6 = 0 THEN v_cents + 11 ELSE v_cents END AS v_cents
        FROM f1
    )
    SELECT station % 8 AS bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(v_cents) AS BIGINT) AS sum_v_cents
    FROM f2 GROUP BY station % 8
    """,
)
def events_versioned_mv_reseed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV LIFECYCLE UNDER EXPIRED HISTORY (r13): the source takes an
    update and a delete, then ``expire_versions(keep_last=1)`` drops
    the history the view's applied cursor needs. ``refresh()`` must
    raise the TYPED ``ViewHistoryExpired`` (asserted — a raw
    VersionExpired or a silent wrong answer fails the gate), and
    ``reseed()`` must recompute the view at the source's current
    version AND re-anchor the cursor so the NEXT source commit
    refreshes incrementally again (asserted via the view history's
    final op being a merge, not another recompute). The oracle
    aggregates the source's final state — a reseed that loses a group
    or double-counts hash-mismatches.

    100 TB: log retention and view maintenance are owned by different
    teams; the first time retention outruns a paused view's cursor is
    an operational certainty, and the difference between a typed
    'reseed me' error and a stack trace from deep inside a feed read
    is the difference between a runbook and an incident."""
    from iotdatapipeline_spark.matview import MaterializedView, ViewHistoryExpired

    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0)).select(
        "station", (F.col("station") % 8).alias("bucket"), "v_cents"
    )
    stem = scratch("iotdp_mvrs_")
    src = VersionedTable(spark, os.path.join(stem, "src"))
    src.create(base, n_files=8, cluster_by=["station"])
    mv = MaterializedView.create(
        spark, os.path.join(stem, "mv"), os.path.join(stem, "src"),
        group_by=["bucket"], sum_cols=["v_cents"], keys=["station"],
    )
    src.merge_into(
        src.snapshot()
        .filter(F.col("station") % 4 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(5000)),
        ["station"],
    )  # v2
    src.merge_into(
        src.snapshot().filter(F.col("station") % 7 == 0),
        ["station"],
        when_matched="delete",
    )  # v3
    src.expire_versions(keep_last=1)
    try:
        mv.refresh()
        raise RuntimeError("refresh over expired history did not raise")
    except ViewHistoryExpired:
        pass
    if mv.reseed() != src.version():
        raise RuntimeError("reseed did not land on the source head")
    # the cursor is re-anchored: the next commit refreshes INCREMENTALLY
    src.merge_into(
        src.snapshot()
        .filter(F.col("station") % 6 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(11)),
        ["station"],
    )  # v4
    if mv.refresh() != src.version():
        raise RuntimeError("post-reseed refresh did not reach the head")
    ops = [m["op"] for m in mv.table().history()]
    if not ops[-1].startswith("merge:"):
        raise RuntimeError(f"post-reseed refresh was not incremental: {ops}")
    return mv.snapshot().select("bucket", "cnt", "sum_v_cents")


@register(
    "events_versioned_ivm_minmax",
    """
    WITH b AS (
        SELECT event_id, user_id AS station,
               CAST(floor(value * 100) AS BIGINT) AS v_cents
        FROM events WHERE event_id % 3 <> 0
    ),
    u AS (
        SELECT event_id, station,
               CASE WHEN event_id % 4 = 0 THEN v_cents + 5000
                    ELSE v_cents END AS v_cents
        FROM b
    ),
    f AS (SELECT * FROM u WHERE event_id % 7 <> 0)
    SELECT station, CAST(count(*) AS BIGINT) AS cnt,
           min(v_cents) AS min_v_cents, max(v_cents) AS max_v_cents
    FROM f GROUP BY station
    """,
)
def events_versioned_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM TIER 2 (r12 verdict #5): a per-station (cnt, MIN, MAX) view
    maintained from the change feed by ``cdf_ivm_minmax_foreach_batch``
    while the source takes an UPDATE (+5000 cents on mod-4 events —
    preimages leave, postimages arrive) and a keyed DELETE (mod-7
    events — including rows HOLDING group extremes). MIN/MAX are not
    self-maintainable: the sink applies the incremental bound where a
    deleted value provably cannot beat the stored extreme and REPAIRS
    only the groups where it can, re-aggregated from the source AS OF
    the batch's commit version through a key-pruned scan. The oracle
    aggregates the final state directly — a wrong repair scope, a
    torn repair version, or a missed preimage hash-mismatches.

    100 TB: per batch O(batch) + O(affected groups) + O(source rows of
    REPAIRED groups) — never O(source), never O(view); the repair read
    is the honest price of the MIN/MAX tier and is paid only by groups
    whose extreme-holding row actually left (measured per batch in
    BASELINE.md "IVM at scale")."""
    from iotdatapipeline_spark.streaming.sinks import cdf_ivm_minmax_foreach_batch

    r = _readings(spark, sf_dir)
    base = r.filter(F.col("event_id") % 3 != 0).select("event_id", "station", "v_cents")
    stem = scratch("iotdp_ivmmm_")
    src = VersionedTable(spark, os.path.join(stem, "src"))
    src.create(base, n_files=8, cluster_by=["station"])
    upd = (
        src.snapshot()
        .filter(F.col("event_id") % 4 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(5000))
    )
    src.merge_into(upd, ["event_id"])  # v2
    dele = src.snapshot().filter(F.col("event_id") % 7 == 0)
    src.merge_into(dele, ["event_id"], when_matched="delete")  # v3

    ivm = cdf_ivm_minmax_foreach_batch(
        os.path.join(stem, "view"),
        os.path.join(stem, "src"),
        ["station"],
        min_cols=["v_cents"],
        max_cols=["v_cents"],
    )
    seed = src.snapshot(1).withColumns(
        {
            "_change_type": F.lit("insert"),
            "_commit_version": F.lit(1).cast("long"),
        }
    )
    ivm(seed, 0)
    for i, (lo, hi) in enumerate([(1, 2), (2, 3)], start=1):
        ch = src.changes(lo, hi, keys=["event_id"], include_preimages=True).withColumn(
            "_commit_version", F.lit(hi).cast("long")
        )
        ivm(ch, i)
    view = VersionedTable(spark, os.path.join(stem, "view"))
    ops = [m["op"] for m in view.history()]
    if not any(op.startswith("merge:") for op in ops):
        raise RuntimeError(f"view was not incrementally maintained: {ops}")
    return view.snapshot().select("station", "cnt", "min_v_cents", "max_v_cents")


@register(
    "events_versioned_ivm_join",
    """
    WITH af AS (
        SELECT event_id, user_id AS station,
               CAST(floor(value * 100) AS BIGINT) AS v_cents
        FROM events WHERE event_id % 3 <> 0
    ),
    au AS (
        SELECT event_id, station,
               CASE WHEN event_id % 4 = 0 THEN v_cents + 5000
                    ELSE v_cents END AS v_cents
        FROM af
    ),
    a_final AS (SELECT * FROM au WHERE event_id % 7 <> 0),
    b0 AS (SELECT DISTINCT station, station % 8 AS grp FROM af),
    bu AS (
        SELECT station,
               CASE WHEN station % 5 = 0 THEN grp + 100 ELSE grp END AS grp
        FROM b0
    ),
    b_final AS (SELECT * FROM bu WHERE station % 9 <> 0)
    SELECT a.event_id, a.station, a.v_cents, b.grp
    FROM a_final a JOIN b_final b ON a.station = b.station
    """,
)
def events_versioned_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM TIER 2, JOIN VIEW (r12): ``V = fact ⋈ dim`` maintained by
    ``cdf_ivm_join_apply`` — the differential delta-join (ΔA⋈B_old ∪
    A_old⋈ΔB ∪ ΔA⋈ΔB, signs multiplying) over both tables'
    commit-time change feeds — while the FACT takes an update (+5000
    on mod-4 events) and a delete (mod-7 events), and the DIM takes a
    payload refresh (mod-5 stations: every joined pair of the station
    must refresh) and a delete (mod-9 stations: every pair leaves).
    The oracle joins both FINAL states directly — a missed cross
    term, a wrong-version old-side read, or a pair that survived its
    dim row hash-mismatches. The view's history must show incremental
    merges, never a recompute.

    100 TB: each step is O(Δ ⋈ affected) — the old-side snapshots are
    read AS OF the step's from-versions through stats pruning bounded
    by the OTHER side's delta keys, so a small dim change joins
    against O(affected fact rows), never O(fact). This is the join
    tier of IVM (what DBSP/Materialize call the bilinear case), on
    top of the SUM/COUNT and MIN/MAX aggregate tiers."""
    from iotdatapipeline_spark.streaming.sinks import cdf_ivm_join_apply

    r = _readings(spark, sf_dir)
    base = r.filter(F.col("event_id") % 3 != 0).select(
        "event_id", "station", "v_cents"
    )
    dim = base.select("station").distinct().withColumn(
        "grp", F.col("station") % 8
    )
    stem = scratch("iotdp_ivmj_")
    a_root, b_root = os.path.join(stem, "fact"), os.path.join(stem, "dim")
    v_root = os.path.join(stem, "view")
    A = VersionedTable(spark, a_root)
    A.create(base, n_files=8, cluster_by=["station"])
    B = VersionedTable(spark, b_root)
    B.create(dim, n_files=2, cluster_by=["station"])
    cdf_ivm_join_apply(
        spark, v_root, a_root, b_root, ["station"], "event_id", "station",
        (1, 1), (1, 1),
    )  # seed
    # fact-side step
    upd = (
        A.snapshot()
        .filter(F.col("event_id") % 4 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(5000))
    )
    A.merge_into(upd, ["event_id"])
    A.merge_into(
        A.snapshot().filter(F.col("event_id") % 7 == 0),
        ["event_id"],
        when_matched="delete",
    )
    cdf_ivm_join_apply(
        spark, v_root, a_root, b_root, ["station"], "event_id", "station",
        (1, A.version()), (1, 1),
    )
    # dim-side step
    B.merge_into(
        B.snapshot()
        .filter(F.col("station") % 5 == 0)
        .withColumn("grp", F.col("grp") + F.lit(100)),
        ["station"],
    )
    B.merge_into(
        B.snapshot().filter(F.col("station") % 9 == 0),
        ["station"],
        when_matched="delete",
    )
    cdf_ivm_join_apply(
        spark, v_root, a_root, b_root, ["station"], "event_id", "station",
        (A.version(), A.version()), (1, B.version()),
    )
    view = VersionedTable(spark, v_root)
    ops = [m["op"] for m in view.history()]
    if not any(op.startswith("merge:") for op in ops):
        raise RuntimeError(f"join view was not incrementally maintained: {ops}")
    return view.snapshot().select("event_id", "station", "v_cents", "grp")


@register(
    "events_versioned_ivm_agg_join",
    """
    WITH af AS (
        SELECT event_id, user_id AS station,
               CAST(floor(value * 100) AS BIGINT) AS v_cents
        FROM events WHERE event_id % 3 <> 0
    ),
    au AS (
        SELECT event_id, station,
               CASE WHEN event_id % 4 = 0 THEN v_cents + 5000
                    ELSE v_cents END AS v_cents
        FROM af
    ),
    a3 AS (SELECT * FROM au WHERE event_id % 7 <> 0),
    a_final AS (
        SELECT event_id, station,
               CASE WHEN event_id % 11 = 0 THEN v_cents + 70000
                    ELSE v_cents END AS v_cents
        FROM a3
    ),
    b0 AS (SELECT DISTINCT station, station % 8 AS grp FROM af),
    bu AS (
        SELECT station,
               CASE WHEN station % 5 = 0 THEN grp + 100 ELSE grp END AS grp
        FROM b0
    ),
    b_final AS (SELECT * FROM bu WHERE station % 9 <> 0)
    SELECT b.grp,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(a.v_cents) AS BIGINT) AS sum_v_cents
    FROM a_final a JOIN b_final b ON a.station = b.station
    GROUP BY b.grp
    """,
)
def events_versioned_ivm_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM TIER 3 (r13): a maintained AGGREGATE-OVER-JOIN view —
    ``SELECT grp, COUNT(*), SUM(v_cents) FROM fact ⋈ dim GROUP BY
    grp`` — kept exact through ``AggJoinMaterializedView`` WITHOUT
    ever materializing the join, while the FACT takes an update
    (+5000 on mod-4 events) and a delete (mod-7 events), and then
    BOTH sides move before one refresh (fact +70000 on mod-11; dim
    regroups mod-5 stations and deletes mod-9 stations) — so the
    final step exercises all three bilinear terms including ΔA⋈ΔB.
    The oracle aggregates the joined FINAL states directly — a missed
    cross term, a wrong-version old-side read, or a group whose rows
    moved between buckets without both signed legs hash-mismatches.
    The view's history must show incremental merges, never a
    recompute, and the stored state is the AGGREGATE only (one row
    per group — asserted), where the stacked
    JoinMaterializedView-under-aggregate form would store every
    joined row.

    100 TB: the delta rule δ(γ(A⋈B)) = γ(ΔA⋈B_old ∪ A_old⋈ΔB ∪
    ΔA⋈ΔB) folds the expansion straight into the signed per-group
    merge — per step the joined fact is touched O(Δ ⋈ affected)
    through stats-pruned AS-OF scans, the view O(affected groups);
    the O(|A⋈B|) intermediate mart (often the biggest table in the
    house) is never written. Cites Prensas.py:300-302 (the reference
    recomputes its joined probe per tick)."""
    from iotdatapipeline_spark.matview import AggJoinMaterializedView

    r = _readings(spark, sf_dir)
    base = r.filter(F.col("event_id") % 3 != 0).select(
        "event_id", "station", "v_cents"
    )
    dim = base.select("station").distinct().withColumn(
        "grp", F.col("station") % 8
    )
    stem = scratch("iotdp_ivmaj_")
    a_root, b_root = os.path.join(stem, "fact"), os.path.join(stem, "dim")
    v_root = os.path.join(stem, "view")
    A = VersionedTable(spark, a_root)
    A.create(base, n_files=8, cluster_by=["station"])
    B = VersionedTable(spark, b_root)
    B.create(dim, n_files=2, cluster_by=["station"])
    mv = AggJoinMaterializedView.create(
        spark, v_root, a_root, b_root,
        join_keys=["station"], group_by=["grp"], sum_cols=["v_cents"],
        a_key="event_id", b_key="station",
    )
    # fact-side step alone
    A.merge_into(
        A.snapshot()
        .filter(F.col("event_id") % 4 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(5000)),
        ["event_id"],
    )
    A.merge_into(
        A.snapshot().filter(F.col("event_id") % 7 == 0),
        ["event_id"],
        when_matched="delete",
    )
    assert mv.refresh() == (A.version(), 1)
    # BOTH sides move before the next refresh: the ΔA⋈ΔB cross term
    A.merge_into(
        A.snapshot()
        .filter(F.col("event_id") % 11 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(70000)),
        ["event_id"],
    )
    B.merge_into(
        B.snapshot()
        .filter(F.col("station") % 5 == 0)
        .withColumn("grp", F.col("grp") + F.lit(100)),
        ["station"],
    )
    B.merge_into(
        B.snapshot().filter(F.col("station") % 9 == 0),
        ["station"],
        when_matched="delete",
    )
    assert mv.refresh() == (A.version(), B.version())
    view = VersionedTable(spark, v_root)
    ops = [m["op"] for m in view.history()]
    if not any(op.startswith("merge:") for op in ops):
        raise RuntimeError(f"agg-join view was not incrementally maintained: {ops}")
    # the stored state is the AGGREGATE, not the join: one row per grp
    n_rows = view.snapshot().count()
    n_grps = view.snapshot().select("grp").distinct().count()
    if n_rows != n_grps:
        raise RuntimeError(f"view stores {n_rows} rows for {n_grps} groups")
    return view.snapshot().select("grp", "cnt", "sum_v_cents")


@register(
    "events_merge_insert_condition",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    )
    SELECT coalesce(s.station, b.station) AS station,
           coalesce(s.part, b.part) AS part,
           coalesce(s.ts_us, b.ts_us) AS ts_us,
           coalesce(s.v_cents, b.v_cents) AS v_cents,
           coalesce(s.version_id, b.version_id) AS version_id
    FROM b FULL JOIN s ON b.station = s.station
    WHERE b.station IS NOT NULL OR s.v_cents % 2 = 0
    """,
)
def events_merge_insert_condition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN NOT MATCHED AND <cond> THEN INSERT (r12 — the last of
    Delta's clause conditions): the MERGE-upsert's FRESH rows are
    gated by a source predicate (even v_cents insert, odd drop) while
    matched rows update unconditionally — the condition must split
    only the not-matched side. An implementation filtering the whole
    source drops updates (hash-mismatch on odd-cent matched
    stations); one filtering nothing inserts the odd fresh rows.
    Oracle = the full-join set algebra with the insert gate on the
    source-only side.

    100 TB: the condition is a row-local filter on the insert frame —
    no extra scan, no shuffle; the merge's touched-file probe and
    pruning are untouched. Completes the clause matrix: matched
    update/delete (+condition), not-matched insert (+condition),
    not-matched-by-source delete (+condition)."""
    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    root = os.path.join(scratch("iotdp_wnm_"), "tbl")
    table = VersionedTable(spark, root)
    table.create(base, n_files=8, cluster_by=["station"])
    table.merge_into(src, ["station"], when_not_matched_condition="v_cents % 2 = 0")
    return table.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")


@register(
    "events_versioned_scd2_apply",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    s AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(epoch_us(ts), event_id) AS ts_us,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents,
               CAST(max(event_id) AS BIGINT) AS version_id
        FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0 GROUP BY user_id
    ),
    recs AS (
        SELECT b.*, CAST(1 AS BIGINT) AS scd_start,
               CASE WHEN b.station IN (SELECT station FROM s) THEN CAST(2 AS BIGINT)
                    WHEN b.station % 9 = 0 THEN CAST(3 AS BIGINT) END AS scd_end
        FROM b
        UNION ALL
        SELECT s.*, CAST(2 AS BIGINT) AS scd_start,
               CASE WHEN s.station % 9 = 0 THEN CAST(3 AS BIGINT) END AS scd_end
        FROM s
    )
    SELECT station, part, ts_us, v_cents, version_id, scd_start, scd_end,
           scd_end IS NULL AS is_current
    FROM recs
    """,
)
def events_versioned_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2 apply as a hard driver gate (r12): a HISTORY table is
    maintained from the source's change feed through
    ``cdf_scd2_foreach_batch`` — every state a key ever held becomes a
    (key, scd_start, scd_end, is_current) record. Source history:
    create (odd-thirds dim, v1) -> upsert (even-thirds %5, v2) ->
    delete (stations %9, v3). The sink sees two micro-batches — the v1
    snapshot, then v2 and v3 TOGETHER (per-commit rows, not netted) —
    so the intra-batch chain is exercised: a station updated at v2 and
    deleted at v3 must yield a (2, 3) record that was never current.
    The oracle rebuilds the full interval algebra from the raw events:
    base records close at 2 when updated / 3 when deleted / stay open;
    update records close at 3 when deleted. A netted apply (losing the
    v2 state of a v3-deleted station), a double-close, or a
    preimage-leak all hash-fail.

    100 TB: each batch is O(changed rows) — the close-read is
    stats-pruned to the batch's key bounds and only ``is_current``
    rows of affected keys are rewritten; closed history is never
    revisited (streaming/sinks.py cdf_scd2_foreach_batch)."""
    from iotdatapipeline_spark.streaming.sinks import cdf_scd2_foreach_batch

    r = _readings(spark, sf_dir)
    base = _latest_per_station(r.filter(F.col("event_id") % 3 != 0))
    src_upd = _latest_per_station(
        r.filter((F.col("event_id") % 3 == 0) & (F.col("station") % 5 == 0))
    )
    stem = scratch("iotdp_scd2_")
    src = VersionedTable(spark, os.path.join(stem, "src"))
    src.create(base, n_files=8, cluster_by=["station"])
    src.merge_into(src_upd, ["station"])  # v2
    src.delete_where("station % 9 = 0")  # v3 (deletion vectors)
    sink = cdf_scd2_foreach_batch(os.path.join(stem, "hist"), ["station"], txn_app="gate")
    sink(
        src.snapshot(1)
        .withColumn("_change_type", F.lit("insert"))
        .withColumn("_commit_version", F.lit(1).cast("long")),
        0,
    )
    sink(
        src.changes(1, 2, keys=["station"])
        .withColumn("_commit_version", F.lit(2).cast("long"))
        .unionByName(
            src.changes(2, 3, keys=["station"]).withColumn(
                "_commit_version", F.lit(3).cast("long")
            )
        ),
        1,
    )
    hist = VersionedTable(spark, os.path.join(stem, "hist"))
    cur = hist.snapshot().filter(F.col("is_current")).select(
        "station", "part", "ts_us", "v_cents", "version_id"
    )
    want = src.snapshot().select("station", "part", "ts_us", "v_cents", "version_id")
    if not cur.exceptAll(want).isEmpty() or not want.exceptAll(cur).isEmpty():
        raise RuntimeError("SCD2 current slice diverged from the source snapshot")
    return hist.snapshot().select(
        "station", "part", "ts_us", "v_cents", "version_id",
        "scd_start", "scd_end", "is_current",
    )


@register(
    "events_versioned_mv_refresh",
    """
    WITH b AS (
        SELECT user_id AS station,
               max_by(event_type, event_id) AS part,
               max_by(CAST(floor(value * 100) AS BIGINT), event_id) AS v_cents
        FROM events WHERE event_id % 3 <> 0 GROUP BY user_id
    ),
    f AS (
        SELECT part,
               CASE WHEN station % 4 = 0 THEN v_cents + 5000 ELSE v_cents END AS v_cents
        FROM b WHERE station % 7 <> 0
    )
    SELECT part, CAST(count(*) AS BIGINT) AS cnt,
           min(v_cents) AS min_v_cents, max(v_cents) AS max_v_cents
    FROM f GROUP BY part
    """,
)
def events_versioned_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE MATERIALIZED VIEW / REFRESH as a hard driver gate (r12):
    the MIN/MAX-tier view (per event-type cnt + v_cents extremes) is
    DEFINED once over the source, seeded at v1, then the source takes
    a merge (+5000 cents on mod-4 stations — moves maxima) and a
    keyed delete (mod-7 stations — removes extreme-holding rows, the
    repair path) and ONE ``refresh()`` call absorbs both commits as a
    single netted feed batch: the orchestrator itself reads the
    last-applied version from the view's txn map, computes the range,
    threads ``_commit_version`` for the AS OF repair reads, and
    routes the tier. A second refresh must be a metadata no-op. The
    oracle aggregates the source's final state directly; the gate
    additionally asserts the view was MAINTAINED (merge commits in
    its history), not recomputed.

    100 TB: refresh cost is O(changed rows) + O(affected groups) via
    the commit-time feed — the warehouse REFRESH MATERIALIZED VIEW
    that re-runs the defining query is exactly what this replaces
    (iotdatapipeline_spark/matview.py)."""
    from iotdatapipeline_spark.matview import MaterializedView

    r = _readings(spark, sf_dir)
    base = (
        r.filter(F.col("event_id") % 3 != 0)
        .groupBy("station")
        .agg(
            F.max_by("part", F.col("event_id")).alias("part"),
            F.max_by("v_cents", F.col("event_id")).alias("v_cents"),
        )
    )
    stem = scratch("iotdp_mv_")
    src = VersionedTable(spark, os.path.join(stem, "src"))
    src.create(base, n_files=8, cluster_by=["station"])
    mv = MaterializedView.create(
        spark,
        os.path.join(stem, "view"),
        os.path.join(stem, "src"),
        group_by=["part"],
        min_cols=["v_cents"],
        max_cols=["v_cents"],
    )
    upd = (
        src.snapshot()
        .filter(F.col("station") % 4 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(5000))
    )
    src.merge_into(upd, ["station"])  # v2
    dele = src.snapshot().filter(F.col("station") % 7 == 0)
    src.merge_into(dele, ["station"], when_matched="delete")  # v3
    if mv.refresh() != 3:
        raise RuntimeError("refresh did not reach the source head")
    v_after = mv.table().version()
    if mv.refresh() != 3 or mv.table().version() != v_after:
        raise RuntimeError("no-change refresh was not a metadata no-op")
    ops = [m["op"] for m in mv.table().history()]
    if not any(op.startswith("merge:") for op in ops):
        raise RuntimeError(f"view was not incrementally maintained: {ops}")
    return mv.snapshot().select("part", "cnt", "min_v_cents", "max_v_cents")


@register(
    "events_versioned_mv_join_refresh",
    """
    WITH base AS (
        SELECT event_id, user_id AS station,
               CAST(floor(value * 100) AS BIGINT) AS v_cents
        FROM events WHERE event_id % 3 <> 0
    ),
    fact AS (
        SELECT event_id, station,
               CASE WHEN event_id % 4 = 0 THEN v_cents + 5000 ELSE v_cents END AS v_cents
        FROM base WHERE event_id % 7 <> 0
    ),
    dim AS (
        SELECT station,
               CASE WHEN station % 5 = 0 THEN station % 8 + 100
                    ELSE station % 8 END AS grp
        FROM (SELECT DISTINCT station FROM base)
        WHERE station % 9 <> 0
    )
    SELECT f.event_id, f.station, f.v_cents, d.grp
    FROM fact f JOIN dim d ON d.station = f.station
    """,
)
def events_versioned_mv_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-view REFRESH orchestration as a hard driver gate (r12):
    ``JoinMaterializedView`` recovers BOTH source cursors from the
    view's packed txn record, so one ``refresh()`` absorbs a fact-side
    step (update mod-4 events, delete mod-7) AND a dim-side step
    (payload-refresh mod-5 stations, delete mod-9) that landed
    TOGETHER since the seed — the differential expansion must include
    the ΔA⋈ΔB cross term (a mod-4 event of a mod-5 station changed on
    both sides at once; applying only the one-sided terms double-counts
    or tears it). The step-function gate (`events_versioned_ivm_join`)
    advances one side per call and never exercises simultaneous
    movement. Oracle = the direct join of both final states; the gate
    also asserts a second refresh is a metadata no-op and the view was
    maintained, never recomputed.

    100 TB: the orchestrated refresh is what a scheduler calls — no
    caller-side version bookkeeping to get wrong across crashes
    (iotdatapipeline_spark/matview.py JoinMaterializedView)."""
    from iotdatapipeline_spark.matview import JoinMaterializedView

    r = _readings(spark, sf_dir)
    base = r.filter(F.col("event_id") % 3 != 0).select(
        "event_id", "station", "v_cents"
    )
    dim = base.select("station").distinct().withColumn("grp", F.col("station") % 8)
    stem = scratch("iotdp_mvj_")
    A = VersionedTable(spark, os.path.join(stem, "fact"))
    A.create(base, n_files=8, cluster_by=["station"])
    B = VersionedTable(spark, os.path.join(stem, "dim"))
    B.create(dim, n_files=2, cluster_by=["station"])
    mv = JoinMaterializedView.create(
        spark, os.path.join(stem, "view"),
        os.path.join(stem, "fact"), os.path.join(stem, "dim"),
        ["station"], "event_id", "station",
    )
    # both sides move before ONE refresh
    A.merge_into(
        A.snapshot().filter(F.col("event_id") % 4 == 0)
        .withColumn("v_cents", F.col("v_cents") + F.lit(5000)),
        ["event_id"],
    )
    A.merge_into(
        A.snapshot().filter(F.col("event_id") % 7 == 0),
        ["event_id"], when_matched="delete",
    )
    B.merge_into(
        B.snapshot().filter(F.col("station") % 5 == 0)
        .withColumn("grp", F.col("grp") + F.lit(100)),
        ["station"],
    )
    B.merge_into(
        B.snapshot().filter(F.col("station") % 9 == 0),
        ["station"], when_matched="delete",
    )
    if mv.refresh() != (A.version(), B.version()):
        raise RuntimeError("refresh did not reach both source heads")
    v_after = mv.table().version()
    if mv.refresh() != (A.version(), B.version()) or mv.table().version() != v_after:
        raise RuntimeError("no-change refresh was not a metadata no-op")
    ops = [m["op"] for m in mv.table().history()]
    if not any(op.startswith("merge:") for op in ops):
        raise RuntimeError(f"join view was not incrementally maintained: {ops}")
    return mv.snapshot().select("event_id", "station", "v_cents", "grp")


@register(
    "events_versioned_ivm_distinct",
    """
    WITH base AS (
        SELECT event_id, user_id AS station, event_type AS part
        FROM events WHERE event_id % 3 <> 0
    ),
    f AS (
        SELECT station,
               CASE WHEN event_id % 4 = 0 THEN 'retargeted' ELSE part END AS part
        FROM base WHERE event_id % 7 <> 0
    )
    SELECT station, CAST(count(DISTINCT part) AS BIGINT) AS distinct_parts
    FROM f GROUP BY station
    """,
)
def events_versioned_ivm_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT COUNT DISTINCT view via the two-level IVM construction
    (r12): tier A = count-only view grouped by (station, part) — the
    SUPPORT table; tier B = count-only view grouped by (station)
    following A's change feed. B's ``cnt`` IS the per-station distinct
    part count, with full delete support: when the last event of a
    (station, part) pair leaves, A's support row dies and emits a
    delete into B's feed — the construction every IVM engine uses
    because COUNT DISTINCT is not self-maintainable in one level
    (an arriving duplicate must not increment; only the support table
    knows). Source takes a part-retargeting merge (mod-4 events — a
    value MOVING between distinct sets) and a delete (mod-7); one
    refresh per tier absorbs both commits. Oracle = DuckDB's
    COUNT(DISTINCT) over the final state; a duplicate-counted arrival,
    a lost last-support delete, or a tier applied twice all hash-fail.

    100 TB: both tiers are O(changed rows) + O(affected groups) per
    refresh; the support table is the only state that scales with
    |distinct pairs| — exactly the memory an exact distinct count
    costs anywhere (iotdatapipeline_spark/matview.py count_only;
    the approx alternative at user-id cardinality is the HLL gate
    ``station_distinct_users_hll``)."""
    from iotdatapipeline_spark.matview import MaterializedView

    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 != 0)
        .select(
            "event_id",
            F.col("user_id").alias("station"),
            F.col("event_type").alias("part"),
        )
    )
    stem = scratch("iotdp_ivmdc_")
    src = VersionedTable(spark, os.path.join(stem, "src"))
    src.create(base, n_files=8, cluster_by=["event_id"])
    a = MaterializedView.create(
        spark, os.path.join(stem, "a"), os.path.join(stem, "src"),
        group_by=["station", "part"], count_only=True, keys=["event_id"],
    )
    b = MaterializedView.create(
        spark, os.path.join(stem, "b"), os.path.join(stem, "a"),
        group_by=["station"], count_only=True, keys=["station", "part"],
    )
    src.merge_into(
        src.snapshot()
        .filter(F.col("event_id") % 4 == 0)
        .withColumn("part", F.lit("retargeted")),
        ["event_id"],
    )  # v2
    src.delete_where("event_id % 7 = 0")  # v3
    a.refresh()
    b.refresh()
    ops = [m["op"] for m in b.table().history()]
    if not any(op.startswith("merge:") for op in ops):
        raise RuntimeError(f"distinct view was not incrementally maintained: {ops}")
    return b.snapshot().select(
        "station", F.col("cnt").alias("distinct_parts")
    )


@register(
    "events_versioned_ivm_kmv",
    """
    WITH h AS (
        SELECT event_type AS part,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
        FROM events
    ),
    r AS (
        SELECT part, hv, row_number() OVER (PARTITION BY part ORDER BY hv) AS rn
        FROM (SELECT DISTINCT part, hv FROM h)
    ),
    stats AS (
        SELECT part,
               count(*) FILTER (WHERE rn <= 64) AS n_kept,
               max(CASE WHEN rn = 64 THEN hv END) AS h_k
        FROM r GROUP BY part
    ),
    tot AS (SELECT event_type AS part, count(*) AS cnt FROM events GROUP BY 1)
    SELECT s.part,
           CAST(CASE WHEN s.n_kept < 64 THEN s.n_kept
                     ELSE (63 * 4294967296) // greatest(s.h_k, 1) END AS BIGINT)
               AS approx_stations,
           CAST(t.cnt AS BIGINT) AS cnt
    FROM stats s JOIN tot t USING (part)
    """,
)
def events_versioned_ivm_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTAINED approx-distinct view (r12): per-event-type KMV
    sketch of distinct stations kept current from an INSERT-ONLY
    change feed — the sketch tier next to the exact two-level COUNT
    DISTINCT gate, for user-id-grade cardinalities where the support
    table is itself the problem. Source: create with the odd-thirds
    events (v1, seeds the view), then an append-merge of the
    even-thirds (v2, fresh keys — pure inserts); one ``refresh()``
    absorbs it. KMV union is an idempotent monoid
    (keep_k(A ∪ B) = keep_k(keep_k(A) ∪ keep_k(B))), so the
    maintained sketch must equal the from-scratch sketch of the FINAL
    state hash-for-hash — which is exactly what the DuckDB oracle
    rebuilds (same md5-prefix construction as the r4
    ``station_distinct_users_hll`` gate). A dropped batch, a
    double-applied union, or a wrong keep-k boundary all hash-fail on
    either the estimate or the row count.

    100 TB: per batch the view pays O(batch) hashing plus a set-union
    on the key-pruned affected groups — 512 B of state per group at
    any cardinality; deletes raise by design (a sketch cannot
    subtract; streaming/sinks.py cdf_ivm_kmv_foreach_batch)."""
    from iotdatapipeline_spark.matview import MaterializedView, kmv_estimate

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("event_type").alias("part"),
        F.col("user_id").alias("station"),
    )
    stem = scratch("iotdp_ivmkmv_")
    src = VersionedTable(spark, os.path.join(stem, "src"))
    src.create(ev.filter(F.col("event_id") % 3 != 0), n_files=8, cluster_by=["event_id"])
    mv = MaterializedView.create(
        spark, os.path.join(stem, "view"), os.path.join(stem, "src"),
        group_by=["part"], kmv_col="station", keys=["event_id"],
    )
    src.merge_into(ev.filter(F.col("event_id") % 3 == 0), ["event_id"])  # v2: pure appends
    if mv.refresh() != 2:
        raise RuntimeError("refresh did not reach the source head")
    ops = [m["op"] for m in mv.table().history()]
    if not any(op.startswith("merge:") for op in ops):
        raise RuntimeError(f"sketch view was not incrementally maintained: {ops}")
    return mv.snapshot().select(
        "part", kmv_estimate(64).alias("approx_stations"), "cnt"
    )
