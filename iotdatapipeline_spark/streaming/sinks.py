"""K1-K8 sinks as pure set computations + thin foreachBatch executors.

The reference upserts row-at-a-time over pyodbc (Prensas.py:224, 334,
392). Here each micro-batch computes its effect functionally
(insert-set / update-set / reject-set — oracle-testable, SURVEY.md §7
step 5) and a ``foreachBatch`` executor applies it. The K1 record
upsert is one txn-stamped ``MERGE WHEN MATCHED UPDATE / WHEN NOT
MATCHED INSERT`` per micro-batch into a VersionedTable
(:func:`versioned_upsert_foreach_batch`). The VersionedTable executors
share one write protocol: :func:`_first_commit`, :func:`_applied`,
:func:`_maintain_groups` and :func:`_delta_join`.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from iotdatapipeline_spark.sources.versioned import CommitConflict, VersionedTable


def latest_per_key(
    df: DataFrame, keys: Sequence[str], order_col: str | Sequence[str]
) -> DataFrame:
    """Deterministic last-write-wins: per key, keep the row with the
    max ``order_col`` (hash aggregate, no window shuffle-sort).

    ``order_col`` may be a tuple of columns; ties on the first are
    broken by the next, so two emits sharing a timestamp still resolve
    the same way on every run/distribution (struct comparison is
    lexicographic).
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    others = [c for c in df.columns if c not in keys]
    agg = df.groupBy(*keys).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in others]),
            F.struct(*[F.col(c) for c in order_cols]),
        ).alias("__s")
    )
    return agg.select(*keys, *[F.col(f"__s.{c}").alias(c) for c in others])


def _applied(t: VersionedTable, app: str, txn_version: int) -> bool:
    """Whether ``app`` already committed ``txn_version`` (or a later
    one) to ``t`` — the replay guard of every txn-stamped sink."""
    seen = t.txn(app)
    return seen is not None and seen[0] >= int(txn_version)


def _first_commit(
    t: VersionedTable,
    seed: Callable[[], DataFrame],
    cluster_by: Sequence[str],
    app: str,
    txn_version: int,
    cdf: bool = True,
) -> bool:
    """First-commit bootstrap of a sink's target: while ``t`` does not
    exist, commit ``seed()`` (built only then) as version 1 stamped
    (``app``, ``txn_version``), so a replay of the creating batch is
    recognized by later idempotence checks. An empty seed commits
    nothing: a zero-file version would burn the app's txn slot.
    ``cdf`` is the created table's change-feed property
    (:meth:`~.versioned.VersionedTable.create`).
    ``True`` when the batch is settled here; ``False`` when the caller
    must apply it to the existing table — including one another writer
    created after the version check."""
    if t.version() != 0:
        return False
    frame = seed()
    if frame.isEmpty():
        return True
    try:
        t.create(
            frame, cluster_by=list(cluster_by), txn_app=app, txn_version=txn_version, cdf=cdf
        )
        return True
    except (CommitConflict, ValueError):
        return False  # another writer created the table first — merge


def versioned_upsert_foreach_batch(
    root: str,
    keys: Sequence[str],
    txn_app: str | None = None,
    strategy: str = "cow",
    compact_dv_threshold: int | None = None,
    compact_files_threshold: int | None = None,
    expire_keep_last: int | None = None,
    vacuum_retention_s: float | None = None,
    when_matched_condition: str | None = None,
):
    """K1/K2 executor against the transactional MERGE target
    (sources/versioned.py): each micro-batch becomes one committed
    MERGE — atomic, and concurrent writers (another stream, a batch
    backfill) are serialized by optimistic concurrency instead of
    clobbering each other the way whole-table overwrite would.

    ``strategy``: ``"cow"`` (default) rewrites only the files holding
    matched keys; ``"mor"`` commits deletion-vector preimage kills +
    postimage appends — O(changed rows) per batch, the right cost for
    the reference's per-tick scattered-key updates (K1, Prensas.py:
    216-223) where every micro-batch touches a different key in every
    file. With ``"mor"``, pass ``compact_dv_threshold=N`` to run
    :meth:`~.versioned.VersionedTable.compact_dv_stacked` after each
    merge: a no-op until some file stacks N DVs, then a targeted
    rewrite of just the stacked files — bounding the read tax without
    a scheduled optimize job. (The compaction is its own commit and is
    intentionally NOT txn-deduped: replaying it is harmless — it
    converges to no-op.)

    ``txn_app`` is the Delta ``txnAppId`` convention: the idempotence
    check dedupes on (txn_app, batch_id), so every logically distinct
    streaming query writing this table MUST use a distinct, stable app
    id — and a query restarted from a FRESH checkpoint (batch ids reset
    to 0) needs a NEW app id, or its merges silently no-op until
    batch_id passes the recorded version. Default ``None`` generates a
    unique id per factory call: safe against cross-query collisions,
    exactly-once within one process lifetime, but replay dedup does NOT
    survive a restart — pass a stable per-(query, checkpoint) id to get
    that.

    The remaining MAINTENANCE knobs make the sink fully
    self-maintaining — a year-long 1 s-micro-batch pipeline needs no
    scheduled jobs at all:

    * ``compact_files_threshold=N``: when the head manifest's file
      count exceeds N, run ``optimize(n_files=N // 2)`` — bounds the
      small-insert-file accretion that otherwise degrades scans and
      merge pruning. The check is one O(1) manifest read per batch;
      the compaction amortizes to rare.
    * ``expire_keep_last=N``: after each merge, drop manifests beyond
      the newest N (``expire_versions``) — bounds log growth (the
      ~100k-manifests-a-week problem). Time travel keeps a rolling
      window of N versions.
    * ``vacuum_retention_s=S``: after each merge, delete unreferenced
      data files older than S — reclaims conflict orphans and, once
      expire has run, files exclusive to expired versions. The
      referenced-set scan is checkpoint-bounded (O(K), not
      O(versions)).

    Like the DV compaction, maintenance commits are intentionally NOT
    txn-deduped — replaying any of them converges to a no-op.

    ``when_matched_condition`` (t./s. aliases, e.g. ``"s.ts >= t.ts"``)
    forwards the per-row out-of-order guard to every batch's merge:
    on top of the txn map's whole-batch replay dedup, it stops a LATE
    batch (distinct batch_id, older data — a backfill racing the live
    stream, or two writers with different lags) from regressing newer
    rows. Within-batch last-write-wins still runs first.

    The sink creates its target with the change feed OFF
    (``create(cdf=False)``): a merge that rewrites rows then writes no
    change files, and ``changes()`` on the table falls back to its
    snapshot diff, which yields the same rows. A consumer that tails
    the table turns the feed on with
    :meth:`~.versioned.VersionedTable.set_cdf` ``(True)``; a target
    that already exists keeps its own setting.

    An empty micro-batch commits nothing and leaves the app's txn
    unrecorded: ``merge_into`` sees the empty source in its key-bounds
    job and returns before any probe, write or commit."""
    app = txn_app if txn_app is not None else f"stream-{uuid.uuid4().hex[:12]}"

    def apply(
        batch_df: DataFrame, batch_id: int, order_col: str | Sequence[str] = "ts"
    ) -> None:
        if not batch_df.columns:
            return
        latest = latest_per_key(batch_df, keys, order_col)
        table = VersionedTable(batch_df.sparkSession, root)
        # txn (app, batch_id): a replayed micro-batch (failure
        # between sink write and offset commit) must not apply twice —
        # including a replay of the CREATING batch, whose txn the
        # create commit records for merge_into's idempotence check.
        if _first_commit(table, lambda: latest, keys, app, batch_id, cdf=False):
            return
        table.merge_into(
            latest,
            keys,
            txn_app=app,
            txn_version=batch_id,
            strategy=strategy,
            when_matched_condition=when_matched_condition,
        )
        if strategy == "mor" and compact_dv_threshold is not None:
            table.compact_dv_stacked(threshold=compact_dv_threshold)
        if compact_files_threshold is not None:
            m = table._read_manifest(table.version())  # O(1), cached
            if len(m["files"]) > compact_files_threshold:
                table.optimize(n_files=max(1, compact_files_threshold // 2))
        if expire_keep_last is not None:
            table.expire_versions(keep_last=expire_keep_last)
        if vacuum_retention_s is not None:
            table.vacuum(retention_s=vacuum_retention_s)

    return apply


def _idempotent_append(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """Exactly-once append under micro-batch RETRY: rows land in a
    ``__batch_id=N`` partition via dynamic partition overwrite, so a
    replayed batch overwrites its own partition instead of duplicating
    it. Readers see plain rows (the partition column is engine
    metadata, pruned on read).

    The overwrite mode is set per-write (``.option``) rather than on
    the shared session conf: two streaming queries in one session must
    not race a session-global toggle, or a concurrent write could run
    in static mode and wipe other batches' partitions."""
    (
        batch_df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def read_history(spark: SparkSession, path: str) -> DataFrame:
    """Read an idempotent-append table without the batch bookkeeping."""
    return spark.read.parquet(path).drop("__batch_id")


def append_foreach_batch(path: str):
    """K3 executor: immutable history append, idempotent per batch."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        _idempotent_append(batch_df, batch_id, path)

    return apply


def fanout_foreach_batch(
    *,
    updates_path: str,
    updates_keys: Sequence[str],
    history_path: str,
    limpieza_path: str | None = None,
    txn_app: str | None = None,
):
    """The reference's per-batch effect fan-out (Prensas.py:794-818):
    history append (K3) for every update row, record upsert (K1) keyed
    per (station, part, plan_date, shift), limpieza rows (K5) routed
    to their own sink. One pass over a cached batch: the history
    append also counts the limpieza rows (an observation ahead of its
    filter), and the limpieza append runs only when there are any.

    The K1 upsert runs through :func:`versioned_upsert_foreach_batch`
    (``updates_path`` is a VersionedTable root): copy-on-write
    rewrites, atomic commits, and txn-exactly-once under batch replay.
    A key's last row wins by ``ts``, ties broken by ``counter``.

    ``txn_app`` follows the same contract as
    :func:`versioned_upsert_foreach_batch`: distinct stable id per
    logical query; new checkpoint ⇒ new app id. Default ``None`` =
    unique per factory call (collision-safe, replay-dedup within this
    process only)."""

    app = txn_app if txn_app is not None else f"pipeline-{uuid.uuid4().hex[:12]}"
    upsert = versioned_upsert_foreach_batch(updates_path, updates_keys, txn_app=app)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            is_update = F.col("row_kind") == "update"
            is_limp = F.col("row_kind") == "limpieza"
            limp_seen = Observation()
            _idempotent_append(
                batch_df.observe(limp_seen, F.count_if(is_limp).alias("n")).filter(is_update),
                batch_id,
                history_path,
            )
            upsert(batch_df.filter(is_update), batch_id, order_col=("ts", "counter"))
            if limpieza_path is not None and limp_seen.get["n"] > 0:
                limp = batch_df.filter(is_limp).select("station", "part")
                _idempotent_append(limp, batch_id, limpieza_path)
        finally:
            batch_df.unpersist()

    return apply


def cdf_apply_foreach_batch(
    target_root: str,
    keys: Sequence[str],
    txn_app: str | None = None,
):
    """APPLY CHANGES INTO — maintain a downstream MIRROR table from an
    upstream VersionedTable's change feed (the ``versioned_cdf``
    stream, or any frame shaped ``data columns + _change_type +
    _commit_version``). The table-to-table replication primitive: the
    mirror converges to the source snapshot at every sync point
    without ever scanning the source table — cost is O(changed rows).

    Per micro-batch: (1) collapse to the TERMINAL state per key by
    ``_commit_version`` (a key updated in v2 and deleted in v4 within
    one batch must end deleted — ``latest_per_key``, the same
    last-write-wins reduction the upsert sink runs on timestamps);
    (2) apply terminal deletes as one keyed DV delete (idempotent by
    value: re-deleting absent keys commits nothing); (3) apply
    terminal upserts as one txn-deduped MERGE (replays of the batch
    no-op). ``update_preimage`` rows are informational and skipped.

    100 TB: the mirror never rewrites cold data — deletes are
    deletion-vector commits and upserts prune through the mirror's own
    stats/blooms; a fleet of mirrors (per-region serving copies,
    BI extracts) each follow the one change stream instead of
    re-scanning the source."""
    app = txn_app if txn_app is not None else f"cdf-apply-{uuid.uuid4().hex[:12]}"

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        rows = batch_df.filter(F.col("_change_type") != "update_preimage")
        latest = latest_per_key(rows, keys, "_commit_version")
        data_cols = [
            c for c in latest.columns if c not in ("_change_type", "_commit_version")
        ]
        dels = latest.filter(F.col("_change_type") == "delete").select(*keys)
        ups = latest.filter(F.col("_change_type") != "delete").select(*data_cols)
        t = VersionedTable(batch_df.sparkSession, target_root)
        # a batch without upserts has nothing to seed the mirror with
        if _first_commit(t, lambda: ups, keys, app, batch_id):
            return
        ups_empty = ups.isEmpty()
        if not dels.isEmpty():
            # a DELETE-ONLY batch must still record its txn on its
            # final commit (the IVM sinks' live_empty convention):
            # without the stamp the applied cursor never advances, so
            # every later refresh re-derives the same range and
            # re-runs the delete — correct (re-deleting absent keys
            # commits nothing) but O(range) instead of a metadata read
            before = t.version()
            t.delete_matching(
                dels,
                keys,
                txn_app=app if ups_empty else None,
                txn_version=batch_id if ups_empty else None,
            )
            if ups_empty and t.version() == before:
                # every delete missed (keys already absent — a replayed
                # range): the DV commit no-oped, so stamp the cursor
                # with a metadata-only commit instead
                t.record_txn(app, batch_id)
        if not ups_empty:
            t.merge_into(ups, keys, txn_app=app, txn_version=batch_id)

    return apply


def _bounded_read(
    t: VersionedTable, frame: DataFrame, cols: Sequence[str], version: int | None = None
) -> DataFrame:
    """``t`` at ``version`` (default: head) through a ``scan`` file-pruned
    to ``frame``'s integer ``[lo, hi]`` on each of ``cols`` — the whole
    snapshot (no pruning, still exact) when any column is NULL-bearing
    or non-integer. One 1-row aggregate job."""
    cs = list(cols)
    b = frame.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in cs],
        *[F.max(c).alias(f"__hi_{c}") for c in cs],
        *[F.max(F.col(c).isNull().cast("int")).alias(f"__n_{c}") for c in cs],
    ).collect()[0]
    preds = []
    for c in cs:
        lo, hi = b[f"__lo_{c}"], b[f"__hi_{c}"]
        if b[f"__n_{c}"] == 0 and type(lo) is int and type(hi) is int:
            preds.append(f"{c} >= {lo} AND {c} <= {hi}")
        else:
            return t.snapshot(version)
    return t.scan(" AND ".join(preds), version=version) if preds else t.snapshot(version)


def _signed():
    """+1 for rows a change adds (insert, update_postimage), -1 for rows
    it removes (delete, update_preimage)."""
    return F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))


def _maintain_groups(
    t: VersionedTable,
    app: str,
    batch_id: int,
    gk: list[str],
    merge_groups: Callable[[], DataFrame],
    who: str,
    repair: Callable[[DataFrame, DataFrame], DataFrame | None] | None = None,
) -> None:
    """The IVM group lifecycle of the SUM/COUNT and MIN/MAX tiers on an
    existing view ``t``: a batch applies as TWO commits, dead-group
    delete then live merge. ``merge_groups()`` returns the affected
    groups' new totals (``gk``, ``cnt``, aggregates, ``__had_cur``) as
    one materialized frame; ``repair(merged, live)`` may rework the
    live rows, or return ``None`` to back off from a lost race."""
    # exactly-once guard BEFORE computing against the current view:
    # merge_into would no-op a replayed batch, but the delete step
    # below must not run for it either
    if _applied(t, app, batch_id):
        return
    merged = merge_groups()
    # crash recovery (r13): a crash between the delete and the merge
    # leaves #del recorded without the final stamp; on replay the
    # deleted groups read no current row, so their recomputed totals
    # are the EXPECTED negatives — drop them and re-run only the merge.
    del_applied = _applied(t, app + "#del", batch_id)
    if del_applied:
        merged = merged.filter(F.col("__had_cur") | (F.col("cnt") >= 0))
    # cnt < 0 is IMPOSSIBLE under a correct feed: it means a sign
    # error, a feed wired without preimages (include_preimages
    # dropped), or a skipped batch. Silently deleting the group
    # would mask exactly the divergence exactly-once exists to
    # prevent — fail loudly instead (r11 advice); only cnt == 0
    # (all rows of the group deleted) removes the group. But
    # before declaring divergence, re-check the txn map: a
    # CONCURRENT refresh that committed this batch while we were
    # computing makes our arithmetic stale, not wrong — the loser
    # backs off quietly (r13 advice).
    neg = merged.filter(F.col("cnt") < 0).limit(1).collect()
    if neg:
        if _applied(t, app, batch_id):
            return
        raise ValueError(
            f"{who}: negative maintained count for group "
            f"{ {k: neg[0][k] for k in gk} } in batch {batch_id} — the change "
            "feed is missing update preimages or a batch was skipped; the "
            "view has diverged from the source"
        )
    live = merged.filter(F.col("cnt") > 0).drop("__had_cur")
    if repair is not None:
        live = repair(merged, live)
        if live is None:
            return
    dead = merged.filter(F.col("cnt") == 0).select(*gk)
    live_empty = live.isEmpty()
    if not del_applied and not dead.isEmpty():
        # last-moment replay re-check: the merge's commit path is
        # txn-guarded on its own, the delete commit is not
        if _applied(t, app, batch_id):
            return
        # a DELETE-ONLY batch's final commit IS the delete — it
        # carries the app stamp; otherwise stamp app#del so a
        # crash before the merge is recoverable (above)
        t.delete_matching(
            dead,
            gk,
            txn_app=app if live_empty else app + "#del",
            txn_version=batch_id,
        )
    if not live_empty:
        t.merge_into(live, gk, txn_app=app, txn_version=batch_id)


def cdf_ivm_foreach_batch(
    target_root: str,
    group_keys: Sequence[str],
    sum_cols: Sequence[str],
    txn_app: str | None = None,
):
    """Incremental view maintenance over a change feed — keep a
    GROUP BY aggregate table (``group_keys`` → ``cnt`` + one ``sum_X``
    per sum column) exactly equal to aggregating the source's current
    snapshot, by applying SIGNED DELTAS from the CDF instead of ever
    re-aggregating the source (the DBSP/differential-dataflow move,
    and what Materialize/Delta Live Tables do for SUM/COUNT views).

    Per micro-batch: each change row contributes sign +1
    (insert/update_postimage) or -1 (delete/update_preimage); one
    aggregate over the BATCH yields per-group (d_cnt, d_sum...); the
    affected groups' current totals are read through the merge's own
    key pruning, added, and written back as one txn-deduped MERGE —
    groups whose count reaches zero are removed (keyed DV delete).
    SUM/COUNT are the self-maintainable aggregates (no per-group
    history needed); MIN/MAX need source repair reads and live in
    :func:`cdf_ivm_minmax_foreach_batch` (tier 2, r12).

    Cost per batch is O(batch) + O(affected groups), never O(source)
    and never O(view): the view table is key-pruned to the touched
    groups. Replays are exactly-once via the txn map — an applied
    batch's deltas can never double-count, which for IVM is the
    difference between convergent and silently wrong."""
    app = txn_app if txn_app is not None else f"cdf-ivm-{uuid.uuid4().hex[:12]}"
    gk = list(group_keys)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        deltas = (
            batch_df.withColumn("__s", _signed())
            .groupBy(*gk)
            .agg(
                F.sum("__s").cast("long").alias("__d_cnt"),
                *[
                    F.sum(F.col("__s") * F.col(c)).cast("long").alias(f"__d_{c}")
                    for c in sum_cols
                ],
            )
        )
        t = VersionedTable(batch_df.sparkSession, target_root)

        def seed() -> DataFrame:
            return deltas.filter(F.col("__d_cnt") > 0).select(
                *gk,
                F.col("__d_cnt").alias("cnt"),
                *[F.col(f"__d_{c}").alias(f"sum_{c}") for c in sum_cols],
            )

        if _first_commit(t, seed, gk, app, batch_id):
            return

        def merge_groups() -> DataFrame:
            # read the affected groups' totals through a RANGE-bounded
            # scan: the view is clustered by the group keys, so the
            # delta keys' [min, max] per key file-prunes the read to
            # the touched band — O(affected range), never O(view).
            # Non-integer or NULL group keys fall back to the full
            # snapshot (still correct, just unpruned — the predicate
            # path must never lose a group).
            cur = _bounded_read(t, deltas, gk).select(
                *gk, "cnt", *[f"sum_{c}" for c in sum_cols]
            )
            merged = deltas.join(cur, gk, "left").select(
                *gk,
                F.col("cnt").isNotNull().alias("__had_cur"),
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("__d_cnt")).alias("cnt"),
                *[
                    (F.coalesce(F.col(f"sum_{c}"), F.lit(0)) + F.col(f"__d_{c}")).alias(
                        f"sum_{c}"
                    )
                    for c in sum_cols
                ],
            )
            # one materialization of the O(affected groups) frame: the
            # sanity probe + dead/live splits + both writes would
            # otherwise each re-run the key-pruned view scan and join
            return merged.localCheckpoint(eager=True)

        _maintain_groups(t, app, batch_id, gk, merge_groups, "cdf_ivm_foreach_batch")

    return apply


def cdf_ivm_minmax_foreach_batch(
    target_root: str,
    source_root: str,
    group_keys: Sequence[str],
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    txn_app: str | None = None,
):
    """IVM TIER 2 (r12): maintain a GROUP BY view of ``cnt`` plus
    MIN/MAX aggregates from the change feed. MIN/MAX are NOT
    self-maintainable — deleting the row that holds a group's minimum
    says nothing about the runner-up — so this sink does what every
    production IVM engine's second tier does: apply the cheap
    incremental bound where it is provably exact, and REPAIR from the
    source only for the groups where it is not.

    Per batch: one aggregate yields each affected group's signed count
    delta, inserted-side extremes and deleted-side extremes. A group
    is exact incrementally when no deleted value ties-or-beats its
    stored extreme (then ``new_min = least(stored, inserted_min)``;
    symmetric for max) — the common case, since most deletes don't
    touch the extreme-holding row. The REPAIR set — deleted value ≤
    stored min (or ≥ stored max), or a brand-new group whose batch
    contains intra-batch deletes — is re-aggregated from the SOURCE
    table ``AS OF`` the batch's ``_commit_version`` (required on the
    feed: repairing against a source that has already moved past the
    batch would tear the view), through a key-pruned ``scan`` on the
    view's group keys, so repair cost is O(source rows of the repaired
    groups), never O(source). Counts drive group lifecycle through
    :func:`_maintain_groups`, shared with the SUM/COUNT tier: negative
    count raises (a preimage-less feed), zero deletes the group,
    replays are txn-exactly-once.

    Group keys must be SOURCE columns (a repaired group is re-read by
    key); expression-keyed views (bucket = station % 8) stay in the
    self-maintainable tier."""
    app = txn_app if txn_app is not None else f"cdf-ivm-mm-{uuid.uuid4().hex[:12]}"
    gk, mnc, mxc = list(group_keys), list(min_cols), list(max_cols)
    if not mnc and not mxc:
        raise ValueError("cdf_ivm_minmax_foreach_batch needs min_cols or max_cols")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        if "_commit_version" not in batch_df.columns:
            raise ValueError(
                "cdf_ivm_minmax_foreach_batch needs a _commit_version column "
                "on the feed: MIN/MAX repair must read the source AS OF the "
                "batch's end version, not wherever the source is now"
            )
        spark = batch_df.sparkSession
        src = VersionedTable(spark, source_root)
        t = VersionedTable(spark, target_root)
        ver = batch_df.agg(F.max("_commit_version")).collect()[0][0]
        if ver is None:
            return  # empty batch
        ver = int(ver)
        b = batch_df.withColumn("__s", _signed())
        aggs = [F.sum("__s").cast("long").alias("__d_cnt")]
        for c in mnc:
            aggs.append(F.min(F.when(F.col("__s") == 1, F.col(c))).alias(f"__i_mn_{c}"))
            aggs.append(F.min(F.when(F.col("__s") == -1, F.col(c))).alias(f"__d_mn_{c}"))
        for c in mxc:
            aggs.append(F.max(F.when(F.col("__s") == 1, F.col(c))).alias(f"__i_mx_{c}"))
            aggs.append(F.max(F.when(F.col("__s") == -1, F.col(c))).alias(f"__d_mx_{c}"))
        deltas = b.groupBy(*gk).agg(*aggs).localCheckpoint(eager=True)

        def repair_agg(groups: DataFrame) -> DataFrame:
            rows = _bounded_read(src, groups, gk, ver).join(groups, gk, "left_semi")
            return rows.groupBy(*gk).agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                *[F.min(c).alias(f"min_{c}") for c in mnc],
                *[F.max(c).alias(f"max_{c}") for c in mxc],
            )

        # seed = exact re-aggregate of the batch's groups at the batch
        # version: signed arithmetic cannot seed extremes when an
        # intra-batch delete removes an intra-batch insert
        if _first_commit(t, lambda: repair_agg(deltas.select(*gk)), gk, app, batch_id):
            return
        view_cols = ["cnt"] + [f"min_{c}" for c in mnc] + [f"max_{c}" for c in mxc]

        def merge_groups() -> DataFrame:
            cur = _bounded_read(t, deltas, gk).select(*gk, *view_cols)
            j = deltas.join(cur, gk, "left")
            # repair when a deleted value ties-or-beats a stored extreme,
            # or when a NEW group's batch contains deletes (its extremes
            # can't be read off the insert side alone)
            beaten = [(f"__d_mn_{c}", F.col(f"__d_mn_{c}") <= F.col(f"min_{c}")) for c in mnc]
            beaten += [(f"__d_mx_{c}", F.col(f"__d_mx_{c}") >= F.col(f"max_{c}")) for c in mxc]
            rep = F.lit(False)
            has_del = F.lit(False)
            for d, beats in beaten:
                rep = rep | (F.col(d).isNotNull() & F.col("cnt").isNotNull() & beats)
                has_del = has_del | F.col(d).isNotNull()
            rep = rep | (F.col("cnt").isNull() & has_del)
            return j.select(
                *gk,
                F.col("cnt").isNotNull().alias("__had_cur"),
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("__d_cnt")).alias("cnt"),
                rep.alias("__rep"),
                *[
                    F.least(F.col(f"min_{c}"), F.col(f"__i_mn_{c}")).alias(f"min_{c}")
                    for c in mnc
                ],
                *[
                    F.greatest(F.col(f"max_{c}"), F.col(f"__i_mx_{c}")).alias(f"max_{c}")
                    for c in mxc
                ],
            ).localCheckpoint(eager=True)

        def repair(merged: DataFrame, live: DataFrame) -> DataFrame | None:
            # the repair set's groups are re-aggregated from the source
            need = merged.filter(F.col("__rep") & (F.col("cnt") > 0)).select(*gk)
            live = live.drop("__rep")
            n_need = need.count()
            if not n_need:
                return live
            fixed = repair_agg(need).localCheckpoint(eager=True)
            if fixed.count() != n_need:
                if _applied(t, app, batch_id):
                    return None  # stale arithmetic from a lost refresh race
                raise ValueError(
                    "cdf_ivm_minmax_foreach_batch: repair read found no rows "
                    "for a group whose maintained count is positive — the "
                    "view has diverged from the source"
                )
            return (
                live.join(need.withColumn("__f", F.lit(1)), gk, "left")
                .filter(F.col("__f").isNull())
                .drop("__f")
                .unionByName(fixed)
            )

        _maintain_groups(
            t, app, batch_id, gk, merge_groups, "cdf_ivm_minmax_foreach_batch", repair
        )

    return apply


#: radix of a two-source view's packed txn cursor ``to_a·10⁹ + to_b``
#: (monotone when steps apply in order); b's version must stay below it
CURSOR_RADIX = 10**9


def _two_source_step(
    who: str, A: VersionedTable, B: VersionedTable, va1: int, vb1: int, jk: list[str]
) -> tuple[int, list[str], list[str]]:
    """A two-source step's packed txn version for its TO versions, and
    both sources' column names there — read from the manifests (no
    listing job), refusing a name the sides share outside the join
    keys."""
    if not 0 <= int(vb1) < CURSOR_RADIX:  # b must fit below the packing radix
        raise ValueError(
            f"{who}: source b version {vb1} exceeds the packed-cursor radix 10^9"
        )
    a_cols = [f.name for f in A._fields_at(va1)]
    b_cols = [f.name for f in B._fields_at(vb1)]
    overlap = (set(a_cols) & set(b_cols)) - set(jk)
    if overlap:
        raise ValueError(
            f"{who}: column collision outside join keys: {sorted(overlap)}"
        )
    return int(va1) * CURSOR_RADIX + int(vb1), a_cols, b_cols


def _delta_join(
    jk: list[str], out_cols: list[str], a_side: tuple, b_side: tuple
) -> DataFrame | None:
    """The signed rows of one delta-join step,

        ΔV = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    projected to ``out_cols`` plus their sign ``__net`` (signs multiply:
    the (A_old+ΔA)(B_old+ΔB) expansion). Each side is ``(table, row
    key, (from, to), contributed columns)``. ΔA/ΔB come from each
    table's commit-time change feed over ``(from, to]``; A_old/B_old
    are the FROM-version snapshots via time travel, stats-pruned by the
    OTHER side's delta join-key bounds: a 10-row ΔB joins against
    O(affected) of A, never O(A). ``None`` when neither side advanced."""

    def delta(side: tuple, sign: str) -> DataFrame | None:
        t, key, (v0, v1), cols = side
        if v1 <= v0:
            return None
        return (
            t.changes(v0, v1, keys=[key], include_preimages=True)
            .withColumn(sign, _signed())
            .select(*cols, sign)
            .localCheckpoint(eager=True)
        )

    def old(side: tuple, other_delta: DataFrame) -> DataFrame:
        t, _, (v0, _), cols = side
        return _bounded_read(t, other_delta.select(*jk), jk, v0).select(*cols)

    da, db = delta(a_side, "__sa"), delta(b_side, "__sb")
    terms = []
    if da is not None:
        terms.append(
            da.join(old(b_side, da), jk).select(*out_cols, F.col("__sa").alias("__net"))
        )
    if db is not None:
        terms.append(
            old(a_side, db).join(db, jk).select(*out_cols, F.col("__sb").alias("__net"))
        )
    if da is not None and db is not None:
        terms.append(
            da.join(db, jk).select(
                *out_cols, (F.col("__sa") * F.col("__sb")).alias("__net")
            )
        )
    return reduce(DataFrame.unionByName, terms) if terms else None


def cdf_ivm_join_apply(
    spark: SparkSession,
    view_root: str,
    a_root: str,
    b_root: str,
    join_keys: Sequence[str],
    a_key: str,
    b_key: str,
    v_a: tuple[int, int],
    v_b: tuple[int, int],
    txn_app: str | None = None,
    force_seed: bool = False,
) -> int:
    """IVM TIER 2, join views (r12): one maintenance step for
    ``V = A ⋈ B`` on ``join_keys`` — the differential delta-join.
    Instead of re-running the join, the view absorbs exactly the signed
    rows :func:`_delta_join` expands over ``v_a = (from, to)`` /
    ``v_b = (from, to)``, so a step is exact no matter how far either
    side advanced. Net effects are reduced per output ROW (sum of signs), upserts merged and
    disappearing pairs keyed-DV-deleted on the (``a_key``, ``b_key``)
    pair identity; both tables' rows must be unique in their own key
    (the lakehouse norm this module assumes everywhere).

    A missing view is seeded with the full join at the TO versions
    (the one non-incremental step every IVM engine pays once).
    ``force_seed=True`` replays that seed against an EXISTING (emptied)
    view — the two-source ``reseed()`` recovery from expired history:
    one txn-stamped merge of the full join at the TO versions, which
    re-anchors the packed cursor.
    Exactly-once: the applied (to_a, to_b) pair is packed into the txn
    version (``to_a·10⁹ + to_b`` — monotone when steps are applied in
    order), so replaying a step is a no-op. Column names of A and B
    must be disjoint outside ``join_keys``.

    Returns the view's committed version. Cites Prensas.py:300-302
    (the reference recomputes its record⋈parts⋈work_centers probe per
    tick; this maintains the joined state instead)."""
    who = "cdf_ivm_join_apply"
    jk = list(join_keys)
    A, B = VersionedTable(spark, a_root), VersionedTable(spark, b_root)
    vt = VersionedTable(spark, view_root)
    app = txn_app if txn_app is not None else "cdf-ivm-join"
    va1, vb1 = v_a[1], v_b[1]
    packed, a_cols, b_cols = _two_source_step(who, A, B, va1, vb1, jk)
    out_cols = a_cols + [c for c in b_cols if c not in jk]

    if vt.version() == 0 or force_seed:
        seed = A.snapshot(va1).join(B.snapshot(vb1), jk).select(*out_cols)
        # reseed: the caller emptied the view, so the merge re-inserts
        # every pair and stamps the cursor at the TO versions
        if not _first_commit(vt, lambda: seed, [a_key, b_key], app, packed):
            vt.merge_into(seed, [a_key, b_key], txn_app=app, txn_version=packed)
        return vt.version()
    seen = vt.txn(app)
    if seen is not None and seen[0] >= packed:
        return seen[1]  # already applied

    expanded = _delta_join(jk, out_cols, (A, a_key, v_a, a_cols), (B, b_key, v_b, b_cols))
    if expanded is None:
        return vt.version()  # neither side advanced
    # reduce per OUTPUT ROW: crossing update pairs cancel exactly here
    # (the ±(a_old,b_old)/(a_new,b_old)/(a_old,b_new) cross terms), so
    # what survives is precisely the rows whose multiplicity changes
    rows = (
        expanded.groupBy(*out_cols)
        .agg(F.sum("__net").cast("long").alias("__net"))
        .filter(F.col("__net") != 0)
        .localCheckpoint(eager=True)
    )
    bad = rows.filter(~F.col("__net").isin(-1, 1)).limit(1).collect()
    if bad:
        raise ValueError(
            "cdf_ivm_join_apply: a joined row's multiplicity moved by "
            f"{bad[0]['__net']} — a table key is not unique, or a feed "
            "batch was skipped/duplicated"
        )
    upserts = rows.filter(F.col("__net") > 0).drop("__net")
    # a (a_key, b_key) pair leaves the view only when its key-level
    # total is negative (a payload-refresh nets 0 at key level and is
    # fully handled by the upsert merge)
    dead = (
        rows.groupBy(a_key, b_key)
        .agg(F.sum("__net").alias("__t"))
        .filter(F.col("__t") < 0)
        .select(a_key, b_key)
    )
    up_empty = upserts.isEmpty()
    if not dead.isEmpty():
        vt.delete_matching(
            dead,
            [a_key, b_key],
            txn_app=app if up_empty else None,
            txn_version=packed if up_empty else None,
        )
    if not up_empty:
        vt.merge_into(upserts, [a_key, b_key], txn_app=app, txn_version=packed)
    return vt.version()


def cdf_ivm_agg_join_apply(
    spark: SparkSession,
    view_root: str,
    a_root: str,
    b_root: str,
    join_keys: Sequence[str],
    group_by: Sequence[str],
    sum_cols: Sequence[str],
    a_key: str,
    b_key: str,
    v_a: tuple[int, int],
    v_b: tuple[int, int],
    txn_app: str | None = None,
    force_seed: bool = False,
) -> int:
    """IVM TIER 3 (r13): maintain
    ``SELECT group_by, COUNT(*), SUM(sum_col)... FROM A ⋈ B GROUP BY
    group_by`` directly from both sources' change feeds — WITHOUT ever
    materializing the join. The stacked alternative
    (:class:`~iotdatapipeline_spark.matview.JoinMaterializedView`
    under an aggregate view over its CDF) is correct but stores the
    FULL A⋈B as an intermediate mart: O(|A⋈B|) storage plus write
    amplification on every step — at 100 TB the joined fact is usually
    the biggest table in the house. Here the classic delta rule and
    the aggregate's linearity compose, δ(γ(A ⋈ B)) = γ(ΔV): the join
    tier's signed, bounds-pruned expansion ΔV (:func:`_delta_join`)
    folds STRAIGHT into the per-group (d_cnt, d_sum) merge — the joined
    rows exist only transiently inside one batch's shuffle. The
    group-level apply delegates to the hardened SUM/COUNT
    tier (:func:`cdf_ivm_foreach_batch`): key-pruned view merge, then
    :func:`_maintain_groups` — negative-count divergence guard,
    crash-recoverable two-commit protocol, txn exactly-once on the packed ``to_a·10⁹ + to_b``
    cursor — a replayed step is a clean no-op.

    ``group_by``/``sum_cols`` may come from either side (dim
    attributes group fact measures — the star-schema shape). A and B
    must be row-unique in ``a_key``/``b_key`` respectively and share
    no column names outside ``join_keys``. A missing view is seeded
    with the aggregate of the full join at the TO versions (the one
    non-incremental step every IVM engine pays once); the join is
    streamed through the aggregation even then — never stored.
    ``force_seed=True`` replays the seed against an EXISTING (emptied)
    view — the ``reseed()`` recovery from expired history.

    Returns the view's committed version. Cites Prensas.py:300-302
    (the reference recomputes its joined per-tick probe; this
    maintains the aggregate of the join at O(Δ) per step)."""
    who = "cdf_ivm_agg_join_apply"
    jk, gb, sc = list(join_keys), list(group_by), list(sum_cols)
    A, B = VersionedTable(spark, a_root), VersionedTable(spark, b_root)
    vt = VersionedTable(spark, view_root)
    app = txn_app if txn_app is not None else "cdf-ivm-aggjoin"
    va1, vb1 = v_a[1], v_b[1]
    packed, a_cols, b_cols = _two_source_step(who, A, B, va1, vb1, jk)
    missing = (set(gb) | set(sc)) - set(a_cols) - set(b_cols)
    if missing:
        raise ValueError(
            f"{who}: group/sum columns not in either source: {sorted(missing)}"
        )
    # column pruning at the source: each side contributes its join
    # keys plus only the group/sum columns it owns
    need = set(gb) | set(sc)
    a_need = list(dict.fromkeys(jk + [c for c in a_cols if c in need]))
    b_need = list(dict.fromkeys(jk + [c for c in b_cols if c in need]))
    out_cols = list(dict.fromkeys(gb + sc))
    sink = cdf_ivm_foreach_batch(view_root, gb, sc, txn_app=app)

    if vt.version() == 0 or force_seed:
        # seed: aggregate the full join at the TO versions — streamed
        # through the sink's delta aggregation, never stored
        seed = (
            A.snapshot(va1)
            .select(*a_need)
            .join(B.snapshot(vb1).select(*b_need), jk)
            .select(*out_cols)
            .withColumn("_change_type", F.lit("insert"))
        )
        sink(seed, packed)
        return vt.version()
    seen = vt.txn(app)
    if seen is not None and seen[0] >= packed:
        return seen[1]  # already applied

    expanded = _delta_join(jk, out_cols, (A, a_key, v_a, a_need), (B, b_key, v_b, b_need))
    if expanded is None:
        return vt.version()  # neither side advanced
    # each expansion row is one signed joined row: encode the sign as
    # the change type the SUM/COUNT tier folds back into ±1 — the
    # group-level merge, lifecycle and exactly-once all inherit
    feed = expanded.withColumn(
        "_change_type",
        F.when(F.col("__net") > 0, F.lit("insert")).otherwise(F.lit("delete")),
    ).drop("__net")
    sink(feed, packed)
    return vt.version()


def cdf_scd2_foreach_batch(
    target_root: str,
    keys: Sequence[str],
    txn_app: str | None = None,
):
    """APPLY CHANGES ... STORED AS SCD TYPE 2 — maintain a slowly-
    changing-dimension HISTORY table from an upstream VersionedTable's
    change feed. Where :func:`cdf_apply_foreach_batch` keeps a mirror
    of the source's CURRENT state, this keeps every state a key ever
    held: one record per (key, version interval), columns
    ``scd_start`` (the commit version that produced the state),
    ``scd_end`` (the commit version that replaced it; NULL while
    live) and ``is_current``. The record identity is
    ``keys + scd_start`` — immutable once closed, so the table is an
    append-mostly audit log the mirror can never offer.

    Per micro-batch (feed = data columns + ``_change_type`` +
    ``_commit_version``; ``update_preimage`` rows are informational
    and skipped; at most one change per key per commit version — what
    ``changes()`` and the ``versioned_cdf`` stream both guarantee):

    1. CHAIN the batch's changes per key by ``_commit_version``: each
       insert/update_postimage opens a record at its version, closed
       by the key's NEXT change in the batch (``lead`` over a keyed
       window) or left current; deletes open nothing — they only
       close their predecessor. A key updated at v2 and deleted at v3
       inside one batch yields a (v2, v3) record that was never
       current — intra-batch history is preserved, not netted.
    2. CLOSE the target's open records for keys seen in the batch:
       the stored ``is_current`` row gets ``scd_end`` = the key's
       FIRST batch version. The read is stats-pruned to the batch's
       key bounds (O(affected files), never O(history)).
    3. One txn-deduped MERGE on ``keys + scd_start`` applies closed
       records and new records together — replays no-op at the
       manifest txn check, so a retried batch can never double-close
       or fork a key's timeline.

    100 TB: history tables only grow, but every write here is
    O(batch) — closed records are never revisited, the close-read
    prunes to current rows of affected keys, and the merge prunes
    through the table's own file stats. Dimension-table SCD2 (the
    classic warehouse load) and GDPR-grade "what did we believe at
    version v" audits both read as ``scd_start <= v AND (scd_end > v
    OR scd_end IS NULL)`` — a stats-prunable predicate.

    Cites Prensas.py:224,334 (the reference UPDATEs records in place,
    destroying prior state; this keeps the lineage)."""
    from pyspark.sql.window import Window

    app = txn_app if txn_app is not None else f"cdf-scd2-{uuid.uuid4().hex[:12]}"
    ks = list(keys)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        rows = batch_df.filter(F.col("_change_type") != "update_preimage")
        if rows.isEmpty():
            return
        w = Window.partitionBy(*ks).orderBy(F.col("_commit_version"))
        seq = rows.withColumn(
            "__next_v", F.lead("_commit_version").over(w)
        ).localCheckpoint(eager=True)
        data_cols = [
            c
            for c in rows.columns
            if c not in ("_change_type", "_commit_version")
        ]
        new_recs = seq.filter(F.col("_change_type") != "delete").select(
            *data_cols,
            F.col("_commit_version").cast("long").alias("scd_start"),
            F.col("__next_v").cast("long").alias("scd_end"),
            F.col("__next_v").isNull().alias("is_current"),
        )
        t = VersionedTable(batch_df.sparkSession, target_root)
        # an all-delete batch cannot seed a history
        if _first_commit(t, lambda: new_recs, ks, app, batch_id):
            return
        first_v = seq.groupBy(*ks).agg(
            F.min("_commit_version").cast("long").alias("__first_v")
        )
        cur = _bounded_read(t, first_v, ks).filter(F.col("is_current"))
        closed = (
            cur.join(first_v, ks, "inner")
            .withColumn("scd_end", F.col("__first_v"))
            .withColumn("is_current", F.lit(False))
            .drop("__first_v")
        )
        src = closed.unionByName(new_recs)
        t.merge_into(src, ks + ["scd_start"], txn_app=app, txn_version=batch_id)

    return apply


def cdf_ivm_kmv_foreach_batch(
    target_root: str,
    group_keys: Sequence[str],
    value_col: str,
    k: int = 64,
    txn_app: str | None = None,
):
    """IVM, APPROX-DISTINCT tier (r12): maintain a per-group KMV
    (k-minimum-values) distinct-count sketch of ``value_col`` from an
    INSERT-ONLY change feed — the sketch twin of the exact two-level
    COUNT DISTINCT construction, for when |distinct| is user-id-grade
    and the support table itself would be the problem.

    KMV is the same engine-reproducible construction the
    ``station_distinct_users_hll`` gate pinned in r4: per value keep
    the md5-prefix hash over a 2³² space; a group's sketch is the k
    smallest DISTINCT hashes (512 B at k=64, any cardinality);
    estimate = (k−1)·M / h_k, ~13% standard error. The sketch union
    (distinct-union-then-keep-k) is an idempotent, commutative monoid,
    so maintenance is exact-over-batching: the maintained sketch
    equals the sketch of the final distinct set NO MATTER how the
    inserts were batched — which is what lets a DuckDB oracle rebuild
    it hash-for-hash from the final state.

    INSERT-ONLY by construction: a sketch cannot subtract (the classic
    Druid/Pinot rollup constraint). Any delete/update row in the feed
    raises — silently skipping one would leave the estimate
    permanently high, the divergence exactly-once exists to prevent.
    View schema: group_keys + ``kmv`` (array<bigint>) + ``cnt`` (rows
    seen). Per batch: O(batch) hash + per-group set-union against the
    key-pruned affected groups; replays no-op at the txn check."""
    app = txn_app if txn_app is not None else f"cdf-ivm-kmv-{uuid.uuid4().hex[:12]}"
    gk = list(group_keys)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        bad = (
            batch_df.filter(F.col("_change_type") != "insert").limit(1).collect()
        )
        if bad:
            raise ValueError(
                f"cdf_ivm_kmv_foreach_batch: change type "
                f"'{bad[0]['_change_type']}' in batch {batch_id} — a distinct "
                "sketch cannot subtract; this tier is insert-only (append "
                "sources / rollup feeds)"
            )
        hv = F.conv(
            F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        deltas = (
            batch_df.select(*gk, hv.alias("__hv"))
            .groupBy(*gk)
            .agg(
                F.slice(F.array_sort(F.collect_set("__hv")), 1, k).alias("__b_kmv"),
                F.count(F.lit(1)).cast("long").alias("__b_cnt"),
            )
            .localCheckpoint(eager=True)
        )
        t = VersionedTable(batch_df.sparkSession, target_root)

        def seed() -> DataFrame:
            return deltas.select(
                *gk,
                F.col("__b_kmv").alias("kmv"),
                F.col("__b_cnt").alias("cnt"),
            )

        if _first_commit(t, seed, gk, app, batch_id) or _applied(t, app, batch_id):
            return
        cur = _bounded_read(t, deltas, gk).select(*gk, "kmv", "cnt")
        merged = deltas.join(cur, gk, "left").select(
            *gk,
            F.slice(
                F.array_sort(
                    F.array_distinct(
                        F.concat(
                            F.coalesce("kmv", F.array().cast("array<bigint>")),
                            F.col("__b_kmv"),
                        )
                    )
                ),
                1,
                k,
            ).alias("kmv"),
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("__b_cnt")).alias("cnt"),
        )
        t.merge_into(merged, gk, txn_app=app, txn_version=batch_id)

    return apply


def scd2_as_of(history: DataFrame, version: int) -> DataFrame:
    """The SCD2 read: the dimension AS THE SOURCE STOOD at commit
    ``version`` — records whose interval covers it
    (``scd_start <= v AND (scd_end IS NULL OR scd_end > v)``), with
    the bookkeeping columns dropped. Against a
    :func:`cdf_scd2_foreach_batch` table this is time travel WITHOUT
    retaining the source's versions: the history table alone answers
    "what did we believe when", and the predicate is stats-prunable
    on ``scd_start`` at 100 TB."""
    v = int(version)
    return history.filter(
        (F.col("scd_start") <= F.lit(v))
        & (F.col("scd_end").isNull() | (F.col("scd_end") > F.lit(v)))
    ).drop("scd_start", "scd_end", "is_current")
