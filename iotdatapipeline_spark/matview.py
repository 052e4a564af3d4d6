"""Materialized views with incremental refresh — the front door over
the IVM tiers.

The r11/r12 IVM sinks (``cdf_ivm_foreach_batch``,
``cdf_ivm_minmax_foreach_batch``) maintain an aggregate table from a
change feed, but the CALLER has to wire the batches: slice
``changes()`` ranges, thread ``_commit_version``, pick monotone batch
ids. :class:`MaterializedView` is the CREATE MATERIALIZED VIEW /
REFRESH surface every warehouse exposes on top of that machinery:

* ``create()`` seeds the view from the source's current snapshot and
  persists the view DEFINITION (source root, group keys, aggregate
  spec) in a sidecar next to the view's log — a fresh process can
  ``MaterializedView(spark, root).refresh()`` with nothing but the
  path.
* ``refresh()`` reads the last APPLIED source version from the view
  table's own transaction map (the same manifest txn protocol the
  streaming sinks use — crash-safe, replay-idempotent), pulls ONE
  netted change batch over ``(applied, current]`` from the source's
  commit-time feed, and routes it to the right maintenance tier:
  SUM/COUNT (self-maintainable, pure signed deltas) or MIN/MAX
  (incremental-where-exact, source-repaired AS OF the refresh version
  where not). Cost is O(changed rows) + O(affected groups), never
  O(source) or O(view) — the measured r11/r12 rows in BASELINE.md.

A refresh that finds nothing new is a version-pointer read — no job.
Concurrency (r13, stated precisely): replays of an APPLIED refresh
no-op at the txn check, and a crash between a refresh's dead-group
delete commit and its live merge commit is recoverable (the delete is
stamped ``app#del``; the replay detects it and re-runs only the
merge). Two refreshes running the SAME step concurrently converge —
the loser's merge no-ops at the commit-time txn check, and a loser
that computed against the winner's committed state backs off at the
re-checks instead of raising — but the intended deployment is ONE
refresher per view (the ``mv`` CLI / scheduler convention): the sinks
make a lost race safe, not a throughput feature.
The view is an ordinary :class:`VersionedTable` — time
travel, CDF, constraints and ``scan`` pruning all apply, so views can
stack (a second view can follow the first view's change feed).

Cites Prensas.py:300-302 (the reference recomputes its joined probe
on every 1 s tick — the polling analogue of a view it cannot
maintain incrementally)."""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iotdatapipeline_spark.sources.versioned import VersionedTable
from iotdatapipeline_spark.streaming.sinks import CURSOR_RADIX

_SPEC_NAME = "_mv_spec.json"
_TXN_APP = "mv-refresh"

_KMV_M = 1 << 32  # md5-prefix hash space (plans/sketches.py convention)


class ViewSourceSchemaError(ValueError):
    """The source's CURRENT schema no longer carries a column the view
    DEFINITION depends on (a fed group/aggregate column, or an
    explicit feed key, was renamed or dropped). Raised by ``refresh()``
    BEFORE any feed read, naming the view and the missing columns —
    the lifecycle contract (r13): additive source evolution
    (add_column, widen of unfed columns) refreshes cleanly; breaking
    evolution of a fed column refuses with this typed error instead of
    a raw AnalysisException mid-plan. Recover by renaming the column
    back, or by dropping and re-creating the view against the new
    schema."""


class ViewHistoryExpired(RuntimeError):
    """The source's retained history no longer reaches the view's
    applied cursor (``expire_versions()`` advanced past it), so an
    incremental refresh cannot read its change range. Raised by
    ``refresh()`` with the cursor and the earliest readable source
    version; recover with ``reseed()`` — a full recompute at the
    source's current version that re-anchors the cursor (O(source),
    the one non-incremental step) — or retain more history."""


def kmv_estimate(k: int = 64):
    """Distinct-count estimate Column over a maintained ``kmv`` sketch
    column (the APPROX-DISTINCT view tier): exact below k kept hashes,
    else the classic (k−1)·M / h_k — the same read the
    ``station_distinct_users_hll`` gate value-hashes."""
    return (
        F.when(F.size("kmv") < k, F.size("kmv").cast("long"))
        .otherwise(
            F.expr(
                f"CAST({(k - 1) * _KMV_M} AS BIGINT) div "
                f"greatest(element_at(kmv, {k}), CAST(1 AS BIGINT))"
            )
        )
        .cast("long")
    )


class _MaintainedTable:
    """Shared plumbing for every maintained-table kind: the sidecar
    spec (the persisted DEFINITION) and the applied-cursor read from
    the table's own txn map (the crash-safe bookkeeping every
    ``refresh()`` recovers its range from)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _spec_path(self) -> str:
        return os.path.join(self.root, _SPEC_NAME)

    def spec(self) -> dict:
        with open(self._spec_path(), encoding="utf-8") as fh:
            return json.load(fh)

    def _write_spec(self, spec: dict) -> None:
        if os.path.exists(self._spec_path()):
            raise ValueError(f"materialized view already defined at {self.root}")
        os.makedirs(self.root, exist_ok=True)
        tmp = self._spec_path() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(spec, fh)
        os.replace(tmp, self._spec_path())

    def table(self) -> VersionedTable:
        return VersionedTable(self.spark, self.root)

    def snapshot(self, version: int | None = None) -> DataFrame:
        return self.table().snapshot(version)

    def _applied_txn(self) -> int | None:
        seen = self.table().txn(_TXN_APP)
        return None if seen is None else seen[0]

    def _refresh_step(self, step: Callable[[], object], cursor: int) -> None:
        """Run one incremental refresh ``step`` toward ``cursor``. A
        range that nets to ZERO changes (source ``optimize`` and other
        layout-only commits) makes the step commit nothing to the view,
        so stamp the cursor with a metadata-only txn commit — otherwise
        every later refresh re-derives the same no-op range, and a
        source ``expire_versions`` past it forces a reseed although
        nothing changed."""
        t = self.table()
        before = t.version()
        step()
        if t.version() == before:
            t.record_txn(_TXN_APP, cursor)


class MaterializedView(_MaintainedTable):
    """A maintained GROUP BY view over one VersionedTable source."""

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        source_root: str,
        group_by: Sequence[str],
        sum_cols: Sequence[str] = (),
        min_cols: Sequence[str] = (),
        max_cols: Sequence[str] = (),
        keys: Sequence[str] | None = None,
        count_only: bool = False,
        kmv_col: str | None = None,
        kmv_k: int = 64,
    ) -> "MaterializedView":
        """Define the view and seed it at the source's CURRENT version.

        ``group_by``/aggregate columns must be source columns.
        ``sum_cols`` selects the SUM/COUNT tier; ``min_cols``/
        ``max_cols`` the MIN/MAX tier — mixing the two in one view is
        refused (a MIN/MAX view's repair reads cannot restore a SUM,
        so a mixed view would need the worst of both tiers; stack two
        views instead). ``count_only=True`` keeps just ``cnt`` per
        group — the SUPPORT table of the classic two-level COUNT
        DISTINCT construction: stack a count-only view grouped by
        (g, v) under a count-only view grouped by (g) and the upper
        ``cnt`` IS the exact per-g distinct count of v, deletes
        included (a support row leaving tier A emits a delete into
        tier B's feed). ``kmv_col`` selects the APPROX-DISTINCT tier:
        a per-group KMV sketch of that column (insert-only — the feed
        must never carry deletes; see ``cdf_ivm_kmv_foreach_batch``),
        read back through :func:`kmv_estimate`. ``keys`` are the
        SOURCE's row-identity columns for its change feed (default:
        the source's cluster_by)."""
        tiers = [
            bool(sum_cols),
            bool(min_cols or max_cols),
            bool(count_only),
            kmv_col is not None,
        ]
        if sum(tiers) > 1:
            raise ValueError(
                "MaterializedView: sum_cols / min-max / count_only / kmv_col "
                "are separate maintenance tiers — define one view per tier "
                "over the same source instead of one mixed view"
            )
        if not any(tiers):
            raise ValueError("MaterializedView needs an aggregate spec")
        mv = cls(spark, root)
        src = VersionedTable(spark, source_root)
        v_src = src.version()
        if v_src == 0:
            raise ValueError("source table does not exist; create() it first")
        mv._write_spec(
            {
                "source_root": source_root,
                "group_by": list(group_by),
                "sum_cols": list(sum_cols),
                "min_cols": list(min_cols),
                "max_cols": list(max_cols),
                "keys": list(keys) if keys is not None else None,
                "count_only": bool(count_only),
                "kmv_col": kmv_col,
                "kmv_k": int(kmv_k),
            }
        )
        mv._apply_seed(src, v_src, mv.spec())
        return mv

    # -- maintenance ---------------------------------------------------
    def _sink(self, spec: dict):
        from iotdatapipeline_spark.streaming.sinks import (
            cdf_ivm_foreach_batch,
            cdf_ivm_kmv_foreach_batch,
            cdf_ivm_minmax_foreach_batch,
        )

        if spec.get("kmv_col"):
            return cdf_ivm_kmv_foreach_batch(
                self.root,
                spec["group_by"],
                spec["kmv_col"],
                k=spec.get("kmv_k", 64),
                txn_app=_TXN_APP,
            )
        if spec["sum_cols"] or spec.get("count_only"):
            return cdf_ivm_foreach_batch(
                self.root, spec["group_by"], spec["sum_cols"], txn_app=_TXN_APP
            )
        return cdf_ivm_minmax_foreach_batch(
            self.root,
            spec["source_root"],
            spec["group_by"],
            spec["min_cols"],
            spec["max_cols"],
            txn_app=_TXN_APP,
        )

    def _feed_cols(self, spec: dict) -> list[str]:
        return list(
            dict.fromkeys(
                spec["group_by"]
                + spec["sum_cols"]
                + spec["min_cols"]
                + spec["max_cols"]
                + ([spec["kmv_col"]] if spec.get("kmv_col") else [])
            )
        )

    def _apply_seed(self, src: VersionedTable, v_src: int, spec: dict) -> None:
        seed = (
            src.snapshot(v_src)
            .select(*self._feed_cols(spec))
            .withColumns(
                {
                    "_change_type": F.lit("insert"),
                    "_commit_version": F.lit(v_src).cast("long"),
                }
            )
        )
        self._sink(spec)(seed, v_src)

    def _check_source_schema(
        self, src: VersionedTable, v_src: int, spec: dict
    ) -> None:
        """Refuse BEFORE any feed read when the source no longer
        carries a column the definition depends on (r13 lifecycle
        pin). Additive evolution — add_column, widen of unfed columns
        — passes untouched; a renamed/dropped fed column or explicit
        feed key raises the typed error instead of surfacing a raw
        AnalysisException mid-plan."""
        have = {f.name for f in src._fields_at(v_src)}
        needed = self._feed_cols(spec) + list(spec.get("keys") or [])
        missing = sorted({c for c in needed if c not in have})
        if missing:
            raise ViewSourceSchemaError(
                f"materialized view at {self.root}: source "
                f"{spec['source_root']} (version {v_src}) no longer has "
                f"column(s) {missing} the view definition feeds on — the "
                "source renamed or dropped them. Rename the column back, "
                "or drop and re-create the view against the new schema."
            )

    def _adapt_widened_types(
        self, src: VersionedTable, v_src: int, spec: dict
    ) -> None:
        """When the source WIDENED a fed column (``widen_column``),
        widen the view's corresponding column in kind before the feed
        merges — otherwise the merge's type reconciliation refuses the
        now-wider source (r13 lifecycle pin: additive source evolution
        refreshes cleanly). Applies to group keys (stored under their
        own name) and MIN/MAX value columns; SUM/COUNT aggregates
        already live in long."""
        t = self.table()
        if t.version() == 0:
            return
        src_types = {f.name: f.dataType.simpleString() for f in src._fields_at(v_src)}
        view_types = {f.name: f.dataType.simpleString() for f in t._fields_at()}
        pairs = [(g, g) for g in spec["group_by"]]
        pairs += [(c, f"min_{c}") for c in spec.get("min_cols") or []]
        pairs += [(c, f"max_{c}") for c in spec.get("max_cols") or []]
        for s_col, v_col in pairs:
            st, vt_ = src_types.get(s_col), view_types.get(v_col)
            if (
                st
                and vt_
                and st != vt_
                and st in VersionedTable._WIDENINGS.get(vt_, ())
            ):
                t.widen_column(v_col, st)

    def refresh(self) -> int:
        """Bring the view up to the source's current version; returns
        the source version the view now reflects. O(changed rows in
        range) via the commit-time feed; a no-change refresh is a
        metadata read. Raises :class:`ViewSourceSchemaError` when the
        source dropped/renamed a fed column, and
        :class:`ViewHistoryExpired` when ``expire_versions()`` on the
        source advanced past the view's applied cursor."""
        from iotdatapipeline_spark.sources.versioned import VersionExpired

        spec = self.spec()
        src = VersionedTable(self.spark, spec["source_root"])
        v_src = src.version()
        applied = self._applied_txn()
        if applied is not None and applied >= v_src:
            return applied  # nothing new
        self._check_source_schema(src, v_src, spec)
        self._adapt_widened_types(src, v_src, spec)
        if applied is None:
            # create() crashed between the spec write and the seed —
            # seed now, at the source's current version
            self._apply_seed(src, v_src, spec)
            return v_src
        try:
            feed = (
                src.changes(
                    applied, v_src, keys=spec["keys"], include_preimages=True
                )
                .select(*self._feed_cols(spec), "_change_type")
                .withColumn("_commit_version", F.lit(v_src).cast("long"))
            )
        except VersionExpired as e:
            raise ViewHistoryExpired(
                f"materialized view at {self.root}: source history needed "
                f"for an incremental refresh has expired (applied cursor "
                f"{applied}, earliest readable source version "
                f"{src.earliest_version()}). Run reseed() to recompute the "
                "view at the source's current version, or retain more "
                "source history (expire_versions keep_last/retention)."
            ) from e
        self._refresh_step(lambda: self._sink(spec)(feed, v_src), v_src)
        return v_src

    def reseed(self) -> int:
        """Full recompute at the source's CURRENT version — the
        documented recovery from :class:`ViewHistoryExpired` (and the
        general escape hatch when incremental maintenance is no longer
        possible). O(source) + O(view), the one non-incremental step:
        (1) empty the view (keyed DV delete of every current group —
        idempotent, so a crashed reseed re-runs from here), (2) replay
        the seed feed at the current version; its merge re-anchors the
        applied cursor, after which ``refresh()`` is incremental
        again. No-op when the cursor already stands at the source's
        current version (a reseed must never leave the view EMPTIED
        behind an already-applied cursor). Returns the source version
        the view now reflects."""
        spec = self.spec()
        src = VersionedTable(self.spark, spec["source_root"])
        v_src = src.version()
        applied = self._applied_txn()
        if applied is not None and applied >= v_src:
            return applied  # already current — nothing to rebuild
        self._check_source_schema(src, v_src, spec)
        self._adapt_widened_types(src, v_src, spec)
        t = self.table()
        if t.version() > 0:
            gk = spec["group_by"]
            t.delete_matching(t.snapshot().select(*gk), gk)
        self._apply_seed(src, v_src, spec)
        return v_src


class BqVectorIndex(_MaintainedTable):
    """An incrementally MAINTAINED ANN index: the stored sign-bit
    (binary-quantization) tier of a vector store, kept in sync with a
    VersionedTable of embeddings from its change feed.

    The r11 stored-BQ gate pays packing once but must REBUILD when the
    corpus changes (its cache keys on a dataset fingerprint). Real
    vector stores don't rebuild — the BQ tier has NO trained state
    (no codebook, no centroids), so maintenance is exact and row-local:
    a changed vector's packed words are recomputed from that vector
    alone, a delete drops its row. ``refresh()`` composes the three
    existing primitives — ``changes()`` for the O(changed rows) feed,
    :func:`~iotdatapipeline_spark.analytics.similarity.binary_quantize`
    for the transform, and ``cdf_apply_foreach_batch`` for the
    terminal-state/keyed-delete/txn-exactly-once apply — so index
    maintenance inherits every property the CDC mirror already pinned
    (replays no-op, deletes are DVs, merges stats-prune).

    PQ/IVF tiers stay rebuild-on-retrain by design: their codebooks
    ARE trained state — encoding fresh vectors against a frozen
    codebook is the standard production move, but recall drift under
    distribution shift makes the retrain policy a modeling decision,
    not an engine one. The BQ tier has no such caveat.

    100 TB: a 1-row embedding correction never touches the other
    10^9 index rows — the feed is O(changed), the merge prunes to the
    files holding the changed ids, and search reads d/32 ints per
    vector exactly as before."""

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        source_root: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "BqVectorIndex":
        idx = cls(spark, root)
        src = VersionedTable(spark, source_root)
        v_src = src.version()
        if v_src == 0:
            raise ValueError("source table does not exist; create() it first")
        idx._write_spec(
            {"source_root": source_root, "id_col": id_col, "vec_col": vec_col}
        )
        idx._apply(idx._seed_feed(src, v_src, idx.spec()), v_src)
        return idx

    def _apply(self, feed: DataFrame, v_src: int) -> None:
        from iotdatapipeline_spark.streaming.sinks import cdf_apply_foreach_batch

        spec = self.spec()
        cdf_apply_foreach_batch(
            self.root, [spec["id_col"]], txn_app=_TXN_APP
        )(feed, v_src)

    def _seed_feed(self, src: VersionedTable, v_src: int, spec: dict) -> DataFrame:
        from iotdatapipeline_spark.analytics.similarity import binary_quantize

        return binary_quantize(
            src.snapshot(v_src), id_col=spec["id_col"], vec_col=spec["vec_col"]
        ).withColumns(
            {
                "_change_type": F.lit("insert"),
                "_commit_version": F.lit(v_src).cast("long"),
            }
        )

    def _check_source_schema(
        self, src: VersionedTable, v_src: int, spec: dict
    ) -> None:
        have = {f.name for f in src._fields_at(v_src)}
        missing = sorted(
            {c for c in (spec["id_col"], spec["vec_col"]) if c not in have}
        )
        if missing:
            raise ViewSourceSchemaError(
                f"vector index at {self.root}: source {spec['source_root']} "
                f"(version {v_src}) no longer has column(s) {missing} the "
                "index feeds on — the source renamed or dropped them. "
                "Rename the column back, or drop and re-create the index."
            )

    def refresh(self) -> int:
        """Bring the index up to the source's current version —
        O(changed vectors); a no-change refresh is a metadata read.
        Raises :class:`ViewSourceSchemaError` /
        :class:`ViewHistoryExpired` under the same lifecycle contract
        as :class:`MaterializedView`."""
        from iotdatapipeline_spark.sources.versioned import VersionExpired

        spec = self.spec()
        src = VersionedTable(self.spark, spec["source_root"])
        v_src = src.version()
        applied = self._applied_txn()
        id_col = spec["id_col"]
        if applied is not None and applied >= v_src:
            return applied
        self._check_source_schema(src, v_src, spec)
        if applied is None:
            self._apply(self._seed_feed(src, v_src, spec), v_src)
            return v_src
        from iotdatapipeline_spark.analytics.similarity import bq_words

        try:
            ch = src.changes(applied, v_src, keys=[id_col])
        except VersionExpired as e:
            raise ViewHistoryExpired(
                f"vector index at {self.root}: source history needed for "
                f"an incremental refresh has expired (applied cursor "
                f"{applied}, earliest readable source version "
                f"{src.earliest_version()}). Run reseed() to repack at the "
                "source's current version, or retain more source history."
            ) from e
        # row-local repack of the changed vectors, feed tags kept
        ups = ch.filter(F.col("_change_type") != "delete").select(
            F.col(id_col),
            bq_words(spec["vec_col"]).alias("bq"),
            F.col("_change_type"),
        )
        dels = ch.filter(F.col("_change_type") == "delete").select(
            F.col(id_col),
            F.lit(None).cast("array<bigint>").alias("bq"),
            F.col("_change_type"),
        )
        feed = ups.unionByName(dels).withColumn(
            "_commit_version", F.lit(v_src).cast("long")
        )
        self._refresh_step(lambda: self._apply(feed, v_src), v_src)
        return v_src

    def reseed(self) -> int:
        """Full repack at the source's CURRENT version — the recovery
        from :class:`ViewHistoryExpired`: empty the index (keyed DV
        delete — idempotent, crash-safe to re-run), then replay the
        seed feed; its merge re-anchors the applied cursor. No-op when
        the cursor is already current. O(source) — the one
        non-incremental step."""
        spec = self.spec()
        src = VersionedTable(self.spark, spec["source_root"])
        v_src = src.version()
        applied = self._applied_txn()
        if applied is not None and applied >= v_src:
            return applied
        self._check_source_schema(src, v_src, spec)
        t = self.table()
        if t.version() > 0:
            t.delete_matching(
                t.snapshot().select(spec["id_col"]), [spec["id_col"]]
            )
        self._apply(self._seed_feed(src, v_src, spec), v_src)
        return v_src

    def search(self, queries: DataFrame, *, k: int) -> DataFrame:
        """Hamming top-k of each query vector (``id_col``, ``vec_col``
        frame) against the STORED words — the float column is never
        touched on the corpus side."""
        from iotdatapipeline_spark.analytics.similarity import (
            binary_quantize,
            hamming_topk,
        )

        spec = self.spec()
        qbq = binary_quantize(
            queries, id_col=spec["id_col"], vec_col=spec["vec_col"]
        ).withColumnRenamed(spec["id_col"], "vec_id")
        corpus = self.table().snapshot().select(
            F.col(spec["id_col"]).alias("vec_id"), "bq"
        )
        return hamming_topk(corpus, qbq, k=k)


class _TwoSourceView(_MaintainedTable):
    """Shared cursor plumbing for views maintained over TWO sources:
    both applied versions live in the view's own txn map packed as
    ``to_a·10⁹ + to_b`` (monotone when steps apply in order), and
    ``refresh()`` recovers the pair, reads both heads, and runs ONE
    differential step — subclasses define :meth:`_step`."""

    def _step(
        self, v_a: tuple[int, int], v_b: tuple[int, int], force_seed: bool = False
    ) -> int:
        raise NotImplementedError

    def _row_identity(self, spec: dict) -> list[str]:
        """The view table's row-identity columns (what ``reseed()``
        empties by)."""
        raise NotImplementedError

    def _applied_pair(self) -> tuple[int, int] | None:
        packed = self._applied_txn()
        if packed is None:
            return None
        return packed // CURSOR_RADIX, packed % CURSOR_RADIX

    def _fed_cols(self, spec: dict) -> list[str]:
        """Columns the definition feeds on beyond the join keys —
        subclasses refine (the agg kind adds its group/sum columns)."""
        return []

    def _check_source_schema(self, spec: dict, va: int, vb: int) -> None:
        """The two-source twin of the single-source lifecycle check:
        join keys and per-side row keys must exist on their sides, and
        every fed column somewhere across the union — else the typed
        error, BEFORE any feed read (r13)."""
        a_cols = {f.name for f in VersionedTable(self.spark, spec["a_root"])._fields_at(va)}
        b_cols = {f.name for f in VersionedTable(self.spark, spec["b_root"])._fields_at(vb)}
        missing = sorted(
            {
                c
                for c in spec["join_keys"]
                if c not in a_cols or c not in b_cols  # join on BOTH sides
            }
            | {
                c
                for c in self._fed_cols(spec)
                if c not in a_cols and c not in b_cols
            }
        )
        if spec["a_key"] not in a_cols:
            missing.append(f"{spec['a_key']} (a-side key)")
        if spec["b_key"] not in b_cols:
            missing.append(f"{spec['b_key']} (b-side key)")
        if missing:
            raise ViewSourceSchemaError(
                f"view at {self.root}: sources no longer carry column(s) "
                f"{missing} the view definition feeds on — a source renamed "
                "or dropped them. Rename back, or drop and re-create the "
                "view against the new schemas."
            )

    def reseed(self) -> tuple[int, int]:
        """Full rebuild at both sources' CURRENT versions — the
        recovery from :class:`ViewHistoryExpired`: empty the view
        (keyed DV delete — idempotent, crash-safe to re-run), then
        replay the seed step; its txn-stamped merge re-anchors the
        packed cursor, after which ``refresh()`` is incremental again.
        No-op when the cursor is already current. O(A ⋈ B) — the one
        non-incremental step."""
        spec = self.spec()
        now_a = VersionedTable(self.spark, spec["a_root"]).version()
        now_b = VersionedTable(self.spark, spec["b_root"]).version()
        applied = self._applied_txn()
        packed = now_a * CURSOR_RADIX + now_b
        if applied is not None and applied >= packed:
            return self._applied_pair()  # already current
        self._check_source_schema(spec, now_a, now_b)
        t = self.table()
        if t.version() > 0:
            ident = self._row_identity(spec)
            t.delete_matching(t.snapshot().select(*ident), ident)
        self._step((now_a, now_a), (now_b, now_b), force_seed=True)
        return now_a, now_b

    def refresh(self) -> tuple[int, int]:
        """Bring the view up to both sources' current versions; returns
        the (a_version, b_version) pair the view now reflects. Raises
        :class:`ViewHistoryExpired` when either source's retained
        history no longer reaches its applied cursor."""
        from iotdatapipeline_spark.sources.versioned import VersionExpired

        spec = self.spec()
        now_a = VersionedTable(self.spark, spec["a_root"]).version()
        now_b = VersionedTable(self.spark, spec["b_root"]).version()
        applied = self._applied_pair()
        if applied is not None and applied == (now_a, now_b):
            return applied  # nothing new on either side
        self._check_source_schema(spec, now_a, now_b)
        if applied is None:
            self._step((now_a, now_a), (now_b, now_b))  # seed at current
            return now_a, now_b
        va, vb = applied
        try:
            self._refresh_step(
                lambda: self._step((va, now_a), (vb, now_b)),
                now_a * CURSOR_RADIX + now_b,
            )
        except VersionExpired as e:
            raise ViewHistoryExpired(
                f"view at {self.root}: source history needed for an "
                f"incremental step has expired (applied cursors a={va}, "
                f"b={vb}). Run reseed() to rebuild at both sources' "
                "current versions, or retain more source history "
                "(expire_versions keep_last/retention)."
            ) from e
        return now_a, now_b


class AggJoinMaterializedView(_TwoSourceView):
    """A maintained AGGREGATE-OVER-JOIN view
    ``V = SELECT g, COUNT(*), SUM(x)... FROM A ⋈ B GROUP BY g`` over
    two VersionedTable sources — the front door of
    :func:`~iotdatapipeline_spark.streaming.sinks.cdf_ivm_agg_join_apply`
    (IVM tier 3, r13). The join is NEVER materialized: each refresh
    folds the bilinear delta expansion straight into the per-group
    signed merge, so the stored state is O(groups) and the step cost
    is O(Δ ⋈ affected), where the stacked
    :class:`JoinMaterializedView`-under-aggregate form pays
    O(|A⋈B|) intermediate storage and write amplification. Cursor
    bookkeeping matches the join view: both sources' applied versions
    live in the view's own txn map, packed ``to_a·10⁹ + to_b``."""

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        a_root: str,
        b_root: str,
        join_keys: Sequence[str],
        group_by: Sequence[str],
        sum_cols: Sequence[str],
        a_key: str,
        b_key: str,
    ) -> "AggJoinMaterializedView":
        mv = cls(spark, root)
        va = VersionedTable(spark, a_root).version()
        vb = VersionedTable(spark, b_root).version()
        if va == 0 or vb == 0:
            raise ValueError("both source tables must exist; create() them first")
        mv._write_spec(
            {
                "a_root": a_root,
                "b_root": b_root,
                "join_keys": list(join_keys),
                "group_by": list(group_by),
                "sum_cols": list(sum_cols),
                "a_key": a_key,
                "b_key": b_key,
            }
        )
        mv._step((va, va), (vb, vb))
        return mv

    def _step(
        self, v_a: tuple[int, int], v_b: tuple[int, int], force_seed: bool = False
    ) -> int:
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_agg_join_apply

        spec = self.spec()
        return cdf_ivm_agg_join_apply(
            self.spark,
            self.root,
            spec["a_root"],
            spec["b_root"],
            spec["join_keys"],
            spec["group_by"],
            spec["sum_cols"],
            spec["a_key"],
            spec["b_key"],
            v_a,
            v_b,
            txn_app=_TXN_APP,
            force_seed=force_seed,
        )

    def _row_identity(self, spec: dict) -> list[str]:
        return list(spec["group_by"])

    def _fed_cols(self, spec: dict) -> list[str]:
        return list(spec["group_by"]) + list(spec["sum_cols"])


class JoinMaterializedView(_TwoSourceView):
    """A maintained JOIN view ``V = A ⋈ B`` over two VersionedTable
    sources — the orchestrated form of
    :func:`~iotdatapipeline_spark.streaming.sinks.cdf_ivm_join_apply`.

    The step function is exact for any (from, to] version pair per
    side, but the CALLER has to remember where each cursor stands.
    Here both cursors live in the view's own txn map (the step already
    packs them as ``to_a·10⁹ + to_b``), so ``refresh()`` recovers
    (applied_a, applied_b), reads both sources' current versions, and
    runs ONE differential step — including the ΔA⋈ΔB cross term when
    both sides moved since the last refresh. Crash-safe and
    replay-idempotent for the same reason the aggregate tiers are: a
    re-run of an applied step no-ops at the txn check.

    100 TB: the nightly 'rebuild the joined mart' job this replaces is
    O(A + B + shuffle) every run; a refresh is O(ΔA ⋈ affected-B +
    ΔB ⋈ affected-A), with the old-side reads stats-pruned by the
    other side's delta key bounds (streaming/sinks.py
    cdf_ivm_join_apply; BASELINE.md 'IVM tier 2')."""

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        a_root: str,
        b_root: str,
        join_keys: Sequence[str],
        a_key: str,
        b_key: str,
    ) -> "JoinMaterializedView":
        mv = cls(spark, root)
        va = VersionedTable(spark, a_root).version()
        vb = VersionedTable(spark, b_root).version()
        if vb >= CURSOR_RADIX:  # packed cursor: b must fit below the radix
            raise ValueError(
                f"JoinMaterializedView: source b at version {vb} exceeds the "
                f"packed-cursor radix {CURSOR_RADIX}"
            )
        if va == 0 or vb == 0:
            raise ValueError("both source tables must exist; create() them first")
        mv._write_spec(
            {
                "a_root": a_root,
                "b_root": b_root,
                "join_keys": list(join_keys),
                "a_key": a_key,
                "b_key": b_key,
            }
        )
        mv._step((va, va), (vb, vb))
        return mv

    def _step(
        self, v_a: tuple[int, int], v_b: tuple[int, int], force_seed: bool = False
    ) -> int:
        from iotdatapipeline_spark.streaming.sinks import cdf_ivm_join_apply

        spec = self.spec()
        return cdf_ivm_join_apply(
            self.spark,
            self.root,
            spec["a_root"],
            spec["b_root"],
            spec["join_keys"],
            spec["a_key"],
            spec["b_key"],
            v_a,
            v_b,
            txn_app=_TXN_APP,
            force_seed=force_seed,
        )

    def _row_identity(self, spec: dict) -> list[str]:
        return [spec["a_key"], spec["b_key"]]
