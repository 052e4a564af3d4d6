"""A transactional MERGE target on plain parquet: versioned manifests,
optimistic concurrency, copy-on-write file rewrites.

Closes the reference's last fidelity gap (VERDICT "missing #3"): the
reference applies K1/K2/K5 upserts row-at-a-time over pyodbc against a
transactional RDBMS (Prensas.py:216-223); this environment has no
Delta/Iceberg, so the repo previously offered only whole-table atomic
overwrite (streaming/sinks.py). ``VersionedTable`` supplies the real
thing on nothing but parquet + POSIX:

* **Versioned snapshots** — every commit writes an immutable manifest
  ``_log/v{N:010d}.json`` listing the data files of that version.
  Readers resolve the latest manifest and read exactly those files:
  writers never mutate a committed file, so reads are consistent
  without locks, and any past version stays readable (time travel).
* **Atomic commit, optimistic concurrency** — the commit point is
  ``open(manifest, O_CREAT|O_EXCL)``: POSIX guarantees exactly one of
  two racing writers creates ``v{N+1}``; the loser re-reads the new
  snapshot, re-applies its logical operation, and retries — the same
  protocol Delta Lake uses with its log store (on an object store the
  O_EXCL create would be a conditional PUT / commit service; the
  protocol is unchanged).
* **Copy-on-write MERGE** — ``merge_into`` rewrites ONLY the data
  files that contain matched keys: matched files are found exactly by
  joining the snapshot (tagged with ``input_file_name()``) against the
  source keys — a distributed join whose collected result is the
  bounded FILE list, never rows. Untouched files carry into the new
  manifest by reference. Pruning only bites when files are
  key-clustered (``cluster_by`` range-partitions them and the manifest
  preserves the property across merges); a scattered source degrades
  to full rewrite exactly as in any COW format. At 100 TB this is the
  difference between a MERGE that rewrites gigabytes and one that
  rewrites the table.

The MERGE effect itself reuses the pure set computations that the K1
sinks are built on (update = replace matched rows, insert = unmatched
source rows), so the semantics stay single-sourced and
oracle-testable.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class CommitConflict(Exception):
    """Another writer committed the version this transaction targeted."""


class ConstraintViolation(Exception):
    """A write contained rows that definitively violate a table CHECK
    constraint (SQL-standard semantics: NULL/unknown passes)."""


class VersionExpired(Exception):
    """Time travel to a version whose manifest was removed by
    :meth:`VersionedTable.expire_versions` — the data may be gone too
    (a later vacuum collects files no surviving version references),
    so the only correct answer is a loud error naming the earliest
    still-readable version."""


def _guard_constraint_refs(m: dict, col: str, action: str) -> None:
    """ALTERing a column a CHECK constraint references would silently
    break (rename) or orphan (drop) the stored expression — refuse,
    like Delta; drop the constraint first. Matching is CASE-INSENSITIVE
    because Spark resolves identifiers case-insensitively: a constraint
    written ``V_CENTS > 0`` must still block ``rename_column('v_cents')``
    or every later write dies with an unresolved-column error instead of
    a meaningful refusal here."""
    import re as _re

    hits = [
        n
        for n, expr in (m.get("constraints") or {}).items()
        if _re.search(rf"\b{_re.escape(col)}\b", expr, _re.IGNORECASE)
    ]
    if hits:
        raise ValueError(
            f"cannot {action} column {col!r}: referenced by CHECK constraint(s) "
            f"{sorted(hits)}; drop_constraint first"
        )
    # generated columns have the same hazard on BOTH sides: altering
    # the generated column itself, or a column its expression reads
    ghits = [
        n
        for n, expr in (m.get("generated") or {}).items()
        if n.lower() == col.lower()
        or _re.search(rf"\b{_re.escape(col)}\b", expr, _re.IGNORECASE)
    ]
    if ghits:
        raise ValueError(
            f"cannot {action} column {col!r}: involved in generated column(s) "
            f"{sorted(ghits)}; drop_generated first"
        )
    # identity columns: renaming/dropping the column would orphan the
    # recorded watermark (or resurrect it under a re-added name)
    if any(n.lower() == col.lower() for n in (m.get("identity") or {})):
        raise ValueError(
            f"cannot {action} column {col!r}: it is GENERATED ALWAYS AS "
            "IDENTITY; drop_identity first"
        )


def _loosen_nullability(a, b):
    """The nullability-union of two DataTypes with equal simpleString:
    same shape, every containsNull/valueContainsNull/field-nullable
    flag OR'd — the type that admits both sides' values (used when a
    merge reconciles types differing only in nullability metadata)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(a, ArrayType):
        return ArrayType(
            _loosen_nullability(a.elementType, b.elementType),
            a.containsNull or b.containsNull,
        )
    if isinstance(a, MapType):
        return MapType(
            _loosen_nullability(a.keyType, b.keyType),
            _loosen_nullability(a.valueType, b.valueType),
            a.valueContainsNull or b.valueContainsNull,
        )
    if isinstance(a, StructType):
        return StructType(
            [
                StructField(
                    fa.name,
                    _loosen_nullability(fa.dataType, fb.dataType),
                    fa.nullable or fb.nullable,
                    fa.metadata,
                )
                for fa, fb in zip(a.fields, b.fields)
            ]
        )
    return a


def _phys_conflicts(m: dict) -> set[str]:
    """Physical parquet-column names that differ from their logical
    names (non-identity col_map entries). A NEW logical column is
    always written under its own name as its physical name, so a new
    name colliding with one of these would put two physical fields
    named X in the table: the reverse alias on read renames both (the
    new column silently vanishes) and ``_to_physical`` writes files
    with duplicate columns — corruption from a legal DDL sequence like
    ``rename_column('a','b'); add_column('a', ...)``. Every surface
    that introduces a column name (add_column, rename_column's new
    name, schema-evolution merges) must reject names in this set."""
    return {p for l, p in (m.get("col_map") or {}).items() if l != p}


def _session_tz():
    """The active Spark session's ``spark.sql.session.timeZone`` as a
    tzinfo, or None when unknown. Cheap enough to resolve per call —
    it is only consulted for naive-datetime canonicalization."""
    try:
        from zoneinfo import ZoneInfo

        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        return ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    except Exception:
        return None


def _canon(v):
    """Canonicalize a stats/bound value for cross-source comparison:
    JSON-native scalars pass through, datetimes/dates become ISO-8601
    strings (lexicographic order == chronological order). Returns None
    for types we refuse to compare — the caller must treat None as
    "unknown" and keep the file (pruning must only ever be an
    optimization, never a correctness hazard).

    Datetimes are normalized to UTC before formatting: parquet footer
    stats for Spark-written timestamps arrive tz-aware (UTC), while
    ``collect()`` bounds arrive naive in the SESSION timezone —
    comparing their raw isoformats lexicographically would be
    semantically wrong for any non-UTC session and could over-prune
    (drop matches) in merge_into. Tz-aware values convert to UTC and
    drop the offset; naive values are localized with the session
    timezone first. A naive value whose session timezone cannot be
    resolved returns None (keep the file — conservative)."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            return v.astimezone(datetime.timezone.utc).replace(tzinfo=None).isoformat()
        tz = _session_tz()
        if tz is None:
            return None
        return (
            v.replace(tzinfo=tz)
            .astimezone(datetime.timezone.utc)
            .replace(tzinfo=None)
            .isoformat()
        )
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


_TOKEN_RE = re.compile(
    r"""\s*(
        '(?:[^']|'')*'                 # quoted string literal
      | [A-Za-z_][A-Za-z_0-9.]*        # identifier / keyword
      | \d+\.\d+ | \.\d+ | \d+         # number
      | >= | <= | <> | != | = | > | < | \( | \) | ,
      | \S                             # anything else: bail marker
    )""",
    re.VERBOSE,
)


def _parse_literal(toks: list[str]):
    """(ok, value) for a literal token run: NUMBER, 'string' (date-like
    strings become date/datetime so stats comparison is semantic, not
    lexicographic), or DATE/TIMESTAMP 'x'. Anything else → (False, _)."""
    import datetime

    if len(toks) == 2 and toks[0].upper() in ("DATE", "TIMESTAMP") and toks[1].startswith("'"):
        toks = toks[1:]
    if len(toks) != 1:
        return False, None
    t = toks[0]
    if re.fullmatch(r"\d+", t):
        return True, int(t)
    if re.fullmatch(r"\d+\.\d+|\.\d+", t):
        return True, float(t)
    if t.startswith("'") and t.endswith("'") and len(t) >= 2:
        s = t[1:-1].replace("''", "'")
        if re.fullmatch(r"\d{4}-\d{2}-\d{2}", s):
            return True, datetime.date.fromisoformat(s)
        if re.fullmatch(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?", s):
            return True, datetime.datetime.fromisoformat(s)
        return True, s
    return False, None


def _extract_ranges(predicate: str) -> dict[str, tuple]:
    """Conjunctive [lo, hi] column bounds recognized in a SQL predicate
    string — the file-pruning side of ``scan(where="...")``. STRICTLY
    an under-approximation: a conjunct we cannot read contributes no
    bound (that file set stays un-pruned), any OR/NOT disables pruning
    wholesale, and strict inequalities widen to inclusive bounds. The
    full predicate is ALWAYS applied to the surviving rows, so a parser
    miss costs I/O, never correctness. Recognized per conjunct:
    ``col <op> literal`` / ``literal <op> col`` (op ∈ >=, >, <=, <, =)
    and ``col BETWEEN a AND b``; literals are numbers, strings, and
    DATE/TIMESTAMP values."""
    toks = _TOKEN_RE.findall(predicate)
    upper = [t.upper() for t in toks]
    if "OR" in upper or "NOT" in upper:
        return {}
    # split top-level AND conjuncts; an AND directly following a
    # BETWEEN (same depth) belongs to the BETWEEN, not the conjunction
    conjuncts: list[list[str]] = [[]]
    depth = 0
    between_pending = 0
    for t in toks:
        u = t.upper()
        if t == "(":
            depth += 1
        elif t == ")":
            depth = max(0, depth - 1)
        if u == "AND" and depth == 0:
            if between_pending > 0:
                between_pending -= 1
                conjuncts[-1].append(t)
            else:
                conjuncts.append([])
            continue
        if u == "BETWEEN" and depth == 0:
            between_pending += 1
        conjuncts[-1].append(t)

    def tighten(cur, lo, hi):
        c_lo, c_hi = cur
        if lo is not None:
            try:
                c_lo = lo if c_lo is None else max(c_lo, lo)
            except TypeError:
                pass  # incomparable: keep the existing (still-valid) bound
        if hi is not None:
            try:
                c_hi = hi if c_hi is None else min(c_hi, hi)
            except TypeError:
                pass
        return (c_lo, c_hi)

    ident = re.compile(r"[A-Za-z_][A-Za-z_0-9.]*")
    keywords = {"AND", "OR", "NOT", "BETWEEN", "DATE", "TIMESTAMP", "IS", "NULL",
                "LIKE", "IN", "TRUE", "FALSE"}
    ranges: dict[str, tuple] = {}
    for c in conjuncts:
        # strip one layer of fully-enclosing parens
        while len(c) >= 2 and c[0] == "(" and c[-1] == ")":
            depth = 0
            enclosing = True
            for i, t in enumerate(c):
                depth += t == "("
                depth -= t == ")"
                if depth == 0 and i < len(c) - 1:
                    enclosing = False
                    break
            if not enclosing:
                break
            c = c[1:-1]
        if not c:
            continue

        def is_col(t):
            return ident.fullmatch(t) and t.upper() not in keywords

        got = None  # (col, lo, hi)
        if len(c) >= 3 and is_col(c[0]) and c[1] in (">=", ">", "<=", "<", "="):
            ok, v = _parse_literal(c[2:])
            if ok:
                op = c[1]
                got = (
                    c[0],
                    v if op in (">=", ">", "=") else None,
                    v if op in ("<=", "<", "=") else None,
                )
        elif len(c) >= 3 and is_col(c[-1]) and c[-2] in (">=", ">", "<=", "<", "="):
            ok, v = _parse_literal(c[:-2])
            if ok:
                op = {">": "<", "<": ">", ">=": "<=", "<=": ">=", "=": "="}[c[-2]]
                got = (
                    c[-1],
                    v if op in (">=", ">", "=") else None,
                    v if op in ("<=", "<", "=") else None,
                )
        elif len(c) >= 5 and is_col(c[0]) and c[1].upper() == "BETWEEN":
            body = c[2:]
            for i, t in enumerate(body):
                if t.upper() == "AND":
                    ok1, lo = _parse_literal(body[:i])
                    ok2, hi = _parse_literal(body[i + 1:])
                    if ok1 and ok2:
                        got = (c[0], lo, hi)
                    break
        if got is not None:
            col, lo, hi = got
            ranges[col] = tighten(ranges.get(col, (None, None)), lo, hi)
    return ranges


_DATE_CANON = re.compile(r"\d{4}-\d{2}-\d{2}")
_DATETIME_CANON = re.compile(r"\d{4}-\d{2}-\d{2}T.*")


def _canon_comparable(a, b) -> bool:
    """False when one canon is a bare date ('YYYY-MM-DD') and the other
    a datetime ('...T...'): their lexicographic order is NOT their SQL
    order. SQL compares a date bound against a timestamp column by
    casting the date to (session-tz) MIDNIGHT, so ``ts <= '2024-01-01'``
    admits ``2024-01-01T00:00:00`` — but lexicographically
    '2024-01-01' < '2024-01-01T00:00:00' and the file holding exactly
    midnight would be pruned; under a non-UTC session tz the over-prune
    window widens to the full offset (stats canonicalize to UTC, the
    cast does not). Incomparable ⇒ the caller keeps the file."""
    if not (isinstance(a, str) and isinstance(b, str)):
        return True
    a_date, b_date = _DATE_CANON.fullmatch(a), _DATE_CANON.fullmatch(b)
    a_dt, b_dt = _DATETIME_CANON.fullmatch(a), _DATETIME_CANON.fullmatch(b)
    return not ((a_date and b_dt) or (a_dt and b_date))


def _range_intersects(file_range, lo, hi) -> bool:
    """True unless the file's [min, max] provably misses [lo, hi].
    Any missing/None/mistyped/shape-incomparable endpoint keeps the
    file (conservative)."""
    if not file_range:
        return True
    fmin, fmax = _canon(file_range[0]), _canon(file_range[1])
    lo, hi = _canon(lo), _canon(hi)
    try:
        if (
            lo is not None
            and fmax is not None
            and _canon_comparable(fmax, lo)
            and fmax < lo
        ):
            return False
        if (
            hi is not None
            and fmin is not None
            and _canon_comparable(fmin, hi)
            and fmin > hi
        ):
            return False
    except TypeError:
        return True
    return True


#: Bloom probes per value. fpp ≈ 0.5^k at the sized m (bits_per_row=16
#: gives ~11 effective bits/element after k=6 probes → fpp ≈ 0.2%).
BLOOM_K = 6


def _bloom_positions(value, m_bits: int) -> list[int]:
    """The BLOOM_K bit positions for ``value`` in an ``m_bits`` filter —
    md5-derived double hashing (Kirsch-Mitzenmacher), bit-identical to
    the Spark-side expression in add_bloom_index: canonical form is
    ``str(value)`` == Spark's CAST(col AS STRING) for the integral and
    string column types the index admits."""
    import hashlib

    d = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    h1 = int(d[0:15], 16)
    h2 = int(d[16:31], 16) | 1
    return [(h1 + i * h2) % m_bits for i in range(BLOOM_K)]


def _bloom_maybe_contains(entry: dict, value) -> bool:
    """Membership probe against one (file, col) bloom entry
    ({"m": bits, "words": {word_index: 63-bit word}}). False means
    PROVABLY absent; True means maybe-present (keep the file)."""
    words = entry["words"]
    for pos in _bloom_positions(value, entry["m"]):
        if not (words.get(pos // 63, 0) >> (pos % 63)) & 1:
            return False
    return True


class VersionedTable:
    """Versioned parquet table rooted at ``root`` (local/NFS path)."""

    #: a referenced-files checkpoint is rolled up every this many commits
    CKPT_EVERY = 32

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._log = os.path.join(root, "_log")
        self._data = os.path.join(root, "data")
        # committed manifests are immutable, so parsed JSON is cached for
        # the lifetime of this handle: snapshot/scan/history/vacuum on a
        # warm handle hit disk once per version ever (manifests are small
        # commit records — stats live in the parquet sidecar)
        self._manifest_cache: dict[int, dict] = {}
        # parsed bloom sidecars by file name (sidecars are immutable)
        self._bloom_cache: dict[str, dict] = {}

    # ── log plumbing ────────────────────────────────────────────────────

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._log, f"v{version:010d}.json")

    def version(self) -> int:
        """Latest committed version (0 = table does not exist yet).

        O(1) in commit count via the ``_log/_last`` checkpoint pointer
        (Delta's ``_last_checkpoint``): the pointer is written AFTER
        every successful commit, so it can only LAG (crashed writer,
        concurrent committer) — a bounded forward probe of
        ``exists(v+1)`` closes the gap. Without the pointer this
        degraded to a listdir of every manifest ever committed —
        linear in table age, the first thing to fall over on a
        1000-commit streaming table. A missing/corrupt pointer falls
        back to one listdir, so pre-pointer tables stay readable."""
        ptr = os.path.join(self._log, "_last")
        v = 0
        try:
            with open(ptr) as f:
                v = int(f.read().strip())
            if v > 0 and not os.path.exists(self._manifest_path(v)):
                raise ValueError("stale pointer: manifest missing")
        except (FileNotFoundError, ValueError, OSError):
            if not os.path.isdir(self._log):
                return 0
            versions = [
                int(f[1:11]) for f in os.listdir(self._log)
                if f.startswith("v") and f.endswith(".json")
            ]
            v = max(versions, default=0)
        # pointer (or a racing lister) may lag the true head: probe
        while os.path.exists(self._manifest_path(v + 1)):
            v += 1
        return v

    def _advance_pointer(self, version: int) -> None:
        """Best-effort post-commit update of ``_log/_last`` (atomic
        replace; losing the race or crashing here only leaves the
        pointer lagging, which version()'s forward probe absorbs)."""
        ptr = os.path.join(self._log, "_last")
        tmp = os.path.join(self._log, f".ptr-{uuid.uuid4().hex[:12]}")
        try:
            with open(tmp, "w") as f:
                f.write(str(version))
            os.replace(tmp, ptr)
        except OSError:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def earliest_version(self) -> int:
        """Oldest still-readable version — 1 unless
        :meth:`expire_versions` has removed a manifest prefix. O(1)
        via the ``_log/_first`` pointer (written atomically by
        expire_versions BEFORE any manifest is unlinked, so it can
        only claim too-early, never too-late); a missing/corrupt
        pointer falls back to one listdir."""
        ptr = os.path.join(self._log, "_first")
        try:
            with open(ptr) as f:
                v = int(f.read().strip())
            if v >= 1 and os.path.exists(self._manifest_path(v)):
                return v
        except (FileNotFoundError, ValueError, OSError):
            pass
        if not os.path.isdir(self._log):
            return 1
        versions = [
            int(f[1:11]) for f in os.listdir(self._log)
            if f.startswith("v") and f.endswith(".json")
        ]
        return min(versions, default=1)

    def _read_manifest(self, version: int) -> dict:
        m = self._manifest_cache.get(version)
        if m is None:
            try:
                with open(self._manifest_path(version)) as f:
                    m = json.load(f)
            except FileNotFoundError:
                first = self.earliest_version()
                if 1 <= version < first:
                    raise VersionExpired(
                        f"version {version} of {self.root} was expired by "
                        f"expire_versions(); earliest readable version is v{first}"
                    ) from None
                raise
            self._manifest_cache[version] = m
        return m

    # ── referenced-files checkpoint ─────────────────────────────────────
    #
    # vacuum() needs the union of data files referenced by ANY committed
    # version.  Reading every manifest is O(commit count) — fine at gate
    # scale, the Delta-without-checkpoints failure mode on a long-lived
    # streaming table (100k commits a week is normal at 1 s micro-batches).
    # Every CKPT_EVERY commits the committer rolls the union forward into
    # ``_log/_ckpt`` (previous checkpoint + the ≤CKPT_EVERY manifests since
    # it), so a cold vacuum reads ONE checkpoint plus the tail: O(K), not
    # O(versions).  The checkpoint is derived data — best-effort, written
    # after the commit point, atomic-replaced; missing or stale only means
    # falling back toward more manifest reads, never wrong answers.

    def _ckpt_path(self) -> str:
        return os.path.join(self._log, "_ckpt")

    def _read_ckpt(self) -> tuple[int, set[str]]:
        """(checkpoint version, referenced files) — (0, ∅) if absent or
        unusable.  A checkpoint claiming a version beyond the head (torn
        copy of a foreign log, clock games) is ignored."""
        try:
            with open(self._ckpt_path()) as f:
                c = json.load(f)
            v = int(c["version"])
            if v < 1 or not os.path.exists(self._manifest_path(v)):
                return 0, set()
            return v, set(c["referenced"])
        except (FileNotFoundError, ValueError, KeyError, OSError, TypeError):
            return 0, set()

    def _referenced_files(self, head: int) -> set[str]:
        """Union of data files referenced by versions 1..head, using the
        checkpoint for the prefix when available."""
        base_v, referenced = self._read_ckpt()
        if base_v > head:  # checkpoint ahead of our view — rebuild
            base_v, referenced = 0, set()
        # expire_versions() always leaves a fresh checkpoint at head,
        # but if that checkpoint was later lost/corrupted the fallback
        # scan must not trip over the expired prefix: versions below
        # the floor are unreachable, so their exclusive files need no
        # retention (shared files are referenced by survivors too)
        for v in range(max(base_v, self.earliest_version() - 1) + 1, head + 1):
            m = self._read_manifest(v)
            referenced |= set(m["files"])
            # DV parquet lives in data/ too and older versions' time
            # travel needs it — a DV is referenced as long as any
            # manifest maps a data file to it
            for dv_list in (m.get("dvs") or {}).values():
                referenced |= set(dv_list)
            # commit-time CDF change files live in data/ too; changes()
            # over any retained range may read them
            if (m.get("cdf") or {}).get("mode") == "files":
                referenced |= set((m.get("cdf") or {}).get("files") or [])
        return referenced

    def _maybe_write_ckpt(self, version: int) -> None:
        if version % self.CKPT_EVERY != 0:
            return
        try:
            referenced = self._referenced_files(version)
            tmp = os.path.join(self._log, f".ckpt-{uuid.uuid4().hex[:12]}")
            with open(tmp, "w") as f:
                json.dump(
                    {"version": version, "referenced": sorted(referenced)}, f
                )
            os.replace(tmp, self._ckpt_path())
        except OSError:
            try:
                os.unlink(tmp)
            except (OSError, UnboundLocalError):
                pass

    def _read_data(
        self,
        m: dict,
        files: Sequence[str],
        with_file: bool = False,
        with_pos: bool = False,
    ) -> DataFrame:
        """Read ``files`` THROUGH the manifest's recorded schema.

        Every data read inside the table must go through here: after
        schema_evolution the table holds mixed-schema files, and an
        inferred read lets Spark pick one arbitrary (UUID-random,
        sorted-first) file's footer as THE schema — evolved columns
        then silently vanish or lose values depending on which file
        wins. The explicit schema does a by-name read that fills
        missing columns with null, so old-schema and evolved files
        coexist losslessly; for non-evolved tables it is identical to
        the inferred read (minus one footer probe)."""
        paths = [os.path.join(self._data, f) for f in files]
        schema_json = m.get("schema")
        if not paths:
            if schema_json is None:
                raise ValueError(
                    f"version {m.get('version')} has no files and no recorded schema"
                )
            from pyspark.sql.types import StructType

            empty = self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )
            if with_file or with_pos:
                empty = empty.withColumn("__file", F.lit(None).cast("string"))
            if with_pos:
                empty = empty.withColumn("__pos", F.lit(None).cast("bigint"))
            return empty
        cmap = m.get("col_map") or {}
        if schema_json is not None:
            from pyspark.sql.types import StructField, StructType

            logical = StructType.fromJson(json.loads(schema_json))
            if cmap:
                # files store PHYSICAL names (stable across renames —
                # Delta column mapping's contract): read physically,
                # alias back to the logical schema afterwards
                physical = StructType(
                    [StructField(cmap.get(f.name, f.name), f.dataType, f.nullable) for f in logical]
                )
            else:
                physical = logical
            df = self.spark.read.schema(physical).parquet(*paths)
        else:
            df = self.spark.read.parquet(*paths)
        dvs = m.get("dvs") or {}
        cols = df.columns
        if with_pos:
            cols = cols + ["__file", "__pos"]
        elif with_file:
            cols = cols + ["__file"]
        if any(f in dvs for f in files):
            # merge-on-read: subtract deletion-vector positions without
            # touching the data files (see delete_where). The helper
            # columns must be materialized straight off the scan —
            # Spark's hidden _metadata column does not survive a join
            # (and neither does input_file_name(): callers needing file
            # identity pass with_file/with_pos instead of re-deriving).
            df = self._with_pos(df).join(
                self._dv_rows(m, files), ["__file", "__pos"], "left_anti"
            ).select(*cols)
        elif with_file or with_pos:
            df = self._with_pos(df).select(*cols)
        if cmap and schema_json is not None:
            rev = {p: l for l, p in cmap.items()}
            df = df.select(*[F.col(c).alias(rev.get(c, c)) for c in df.columns])
        return df

    @staticmethod
    def _to_physical(df: DataFrame, m: dict) -> DataFrame:
        """Rename a LOGICAL-named frame to the manifest's physical
        column names before writing — every data file must carry
        physical names so renames/drops never require rewrites. No-op
        for unmapped tables."""
        cmap = m.get("col_map") or {}
        if not cmap:
            return df
        return df.select(*[F.col(c).alias(cmap.get(c, c)) for c in df.columns])

    def _write_files_mapped(
        self,
        df: DataFrame,
        m: dict,
        n_files: int | None = None,
        cluster_by: Sequence[str] | None = None,
    ) -> list[str]:
        """_write_files for LOGICAL-named table rows under a mapped
        manifest: translates both the frame and the clustering columns
        to physical names. Identity when the table has no mapping."""
        cmap = m.get("col_map") or {}
        pcluster = [cmap.get(c, c) for c in cluster_by] if cluster_by else None
        return self._write_files(self._to_physical(df, m), n_files=n_files, cluster_by=pcluster)

    def _write_cdf_files(
        self,
        parts: Sequence[tuple[DataFrame | None, str]],
        committed_schema: str | None,
        n_files: int = 1,
    ) -> list[str]:
        """Write a commit's change rows as ``cdf-*.parquet`` under
        ``data/`` and return the names — the commit-time change feed
        (Delta's ``enableChangeDataFeed`` file shape). ``parts`` pairs
        each change frame with its ``_change_type`` tag; every frame is
        aligned to the COMMITTED logical schema (missing columns as
        typed nulls across a schema-evolution boundary, extra helper
        columns like ``__file`` dropped, narrower preimage types cast
        up) so one commit's change files always share one schema.
        Change files carry LOGICAL column names — they are a logical
        feed, deliberately outside the col_map physical mapping.

        Writers record preimages unconditionally: the range-netting
        reader (:meth:`_changes_from_commits`) needs the first
        preimage of every key to classify net inserts vs updates and
        to serve ``include_preimages`` without ever touching the
        snapshots. Over-recording is safe — a postimage identical to
        its preimage nets away at read."""
        from pyspark.sql.types import StructType

        fields = (
            StructType.fromJson(json.loads(committed_schema)).fields
            if committed_schema
            else None
        )
        frames = []
        for df, ct in parts:
            if df is None:
                continue
            if fields is not None:
                have = {f.name: f.dataType for f in df.schema.fields}
                df = df.select(
                    *[
                        (
                            F.col(f.name).cast(f.dataType)
                            if f.name in have and have[f.name] != f.dataType
                            else F.col(f.name)
                            if f.name in have
                            else F.lit(None).cast(f.dataType)
                        ).alias(f.name)
                        for f in fields
                    ]
                )
            frames.append(df.withColumn("_change_type", F.lit(ct)))
        if not frames:
            return []
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return self._write_files(out, n_files=max(1, n_files), prefix="cdf")

    def _collect_stats_mapped(self, names: list[str], cols: Sequence[str] | None, m: dict) -> dict:
        """_collect_stats over freshly-written PHYSICAL files, re-keyed
        to LOGICAL column names so the stats sidecar (and therefore
        pruning lookups) stay logical-named end to end."""
        cmap = m.get("col_map") or {}
        if not cmap or not cols:
            return self._collect_stats(names, cols)
        phys = [cmap.get(c, c) for c in cols]
        rev = {p: l for l, p in cmap.items()}
        raw = self._collect_stats(names, phys)
        return {
            f: {rev.get(c, c): v for c, v in s.items()} for f, s in raw.items()
        }

    @staticmethod
    def _with_pos(df: DataFrame) -> DataFrame:
        """Attach (__file, __pos): parquet file basename + physical row
        index — the coordinates deletion vectors address. Must be
        called on the raw file-source frame (the _metadata column is
        only resolvable there)."""
        return df.select(
            "*",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )

    def _dv_rows(self, m: dict, files: Sequence[str]) -> DataFrame:
        """Deleted (__file, __pos) pairs recorded for ``files`` in
        manifest ``m`` — empty frame when none. DV parquet may cover
        files outside the selection; extraneous rows never match the
        anti-join, and the file filter below keeps the build side
        minimal (Catalyst broadcasts it when small — the common case;
        a mass delete falls back to a shuffled anti-join, which is the
        right plan for it)."""
        dvs = m.get("dvs") or {}
        sel = [f for f in files if f in dvs]
        names = sorted({d for f in sel for d in dvs[f]})
        if not names:
            return self.spark.createDataFrame([], "__file string, __pos bigint")
        dv = self.spark.read.schema("file string, pos bigint").parquet(
            *[os.path.join(self._data, d) for d in names]
        )
        # no distinct: duplicate (file, pos) rows (a position re-deleted
        # by a later DV) are harmless on an anti-join build side, and
        # deduplication would cost a shuffle
        covered = {f for f in dvs if any(d in names for d in dvs[f])}
        if covered - set(sel):
            # some DV rows target unselected files — restrict via a
            # broadcast semi-join against the selected names (NOT a
            # literal IN list: at the many-thousand-file scale this
            # module targets, embedding every name bloats the plan)
            sel_df = self.spark.createDataFrame([(s,) for s in sel], "file string")
            dv = dv.join(F.broadcast(sel_df), "file", "left_semi")
        return dv.select(F.col("file").alias("__file"), F.col("pos").alias("__pos"))

    def _try_commit(
        self,
        base_version: int,
        files: list[str],
        op: str,
        cluster_by: Sequence[str] | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
        schema_json: str | None = None,
        stats: dict | None = None,
        dvs: dict[str, list[str]] | None = None,
        stats_file_ref: str | None = None,
        col_map: dict[str, str] | None = None,
        retired: list[str] | None = None,
        constraints: dict[str, str] | None = None,
        bloom_file_ref: str | None = None,
        generated: dict[str, str] | None = None,
        identity: dict[str, int] | None = None,
        cdf: dict | None = None,
        cdf_enabled: bool | None = None,
    ) -> None:
        """Atomically commit manifest ``base_version + 1``; raise
        :class:`CommitConflict` if another writer got there first.

        The manifest is FULLY WRITTEN to a temp file first and the
        commit point is ``os.link`` of that file to the versioned name
        — atomic and exclusive on POSIX. Creating the final name
        directly with O_EXCL and then writing would make the crash
        window between create and write a table-bricking state (an
        empty v{N} that every reader and every future committer trips
        over); link-after-write means the versioned name either does
        not exist or is a complete manifest.

        ``txn_app``/``txn_version`` (Delta's txn protocol): each commit
        carries forward a per-app latest-txn map so idempotence checks
        are O(1) reads of the latest manifest, not a scan of history.

        Per-file min/max stats do NOT ride the JSON manifest: they go
        to a parquet SIDECAR (``_log/s{N}-*.parquet``, one row per
        (file, column) range) written before the commit point and
        referenced by name. At gate scale this is cosmetic; at 100 TB
        with millions of files an inline-stats manifest is megabytes of
        JSON parsed on the driver per plan — the Delta-without-
        checkpoints failure mode. The sidecar is columnar, loads via
        pyarrow, and can be read/filtered by executors. The manifest
        itself stays the small atomic commit record (file list, schema,
        txns, sidecar pointer)."""
        os.makedirs(self._log, exist_ok=True)
        txns: dict = {}
        if base_version > 0:
            base_m = self._read_manifest(base_version)
            txns = dict(base_m.get("txns") or {})
            if schema_json is None:
                # carry the schema forward so an all-rows merge-delete
                # that commits zero files still leaves a readable
                # (empty) version instead of bricking the table
                schema_json = base_m.get("schema")
            # column mapping carries forward unless the committer sets
            # it explicitly (None = inherit; {} / [] = explicit reset,
            # e.g. optimize rewriting every file under logical names)
            if col_map is None:
                col_map = base_m.get("col_map") or {}
            if retired is None:
                retired = base_m.get("retired_cols") or []
            if constraints is None:
                constraints = base_m.get("constraints") or {}
            if generated is None:
                generated = base_m.get("generated") or {}
            if identity is None:
                identity = base_m.get("identity") or {}
            # the bloom sidecar carries forward by reference: entries
            # are keyed by (immutable, never-reused) file name, so
            # entries for files a commit drops are dead weight, never
            # wrong; files a commit adds simply lack entries (kept
            # conservatively by the probe) until add_bloom_index reruns
            if bloom_file_ref is None:
                bloom_file_ref = base_m.get("bloom_file")
            # the CDF table property carries forward unless the
            # committer (set_cdf) changes it; absent = enabled
            if cdf_enabled is None:
                cdf_enabled = bool(base_m.get("cdf_enabled", True))
        if txn_app is not None:
            txns[txn_app] = [int(txn_version), base_version + 1]
        # stats_file_ref: reuse an existing sidecar by name — sidecars
        # are immutable, so a commit whose file set (and therefore file
        # stats) is unchanged (delete_where) points at its base's
        # sidecar instead of rewriting identical bytes
        stats_file = stats_file_ref
        if stats and stats_file is None:
            stats_file = f"s{base_version + 1:010d}-{uuid.uuid4().hex[:12]}.parquet"
            self._write_stats_sidecar(stats_file, stats)
        # operation metrics (Delta history parity), derived here so no
        # committer has to thread counts through: added/removed file
        # sets come from the manifest diff, added ROWS from the parquet
        # footers the writer just produced (hot metadata, one read per
        # added file; skipped beyond a cap so a huge convert/optimize
        # never stalls on the driver)
        base_files = set(base_m["files"]) if base_version > 0 else set()
        added = [f for f in files if f not in base_files]
        removed = sorted(base_files - set(files))
        # commit-time CDF record (Delta's enableChangeDataFeed shape):
        #   {"mode": "files", "files": [...]}  explicit change parquet
        #       (insert/update_pre/postimage/delete rows) written by the
        #       committer BEFORE this call — merge / DV deletes
        #   {"mode": "data"}   every row of this commit's ADDED data
        #       files is an insert (create/convert/clone) — the reader
        #       reads the data files themselves, no duplication
        #   {"mode": "none"}   provably no logical row changed
        #       (metadata DDL, optimize, DV compaction)
        #   {"mode": "derive"} no commit-time record; changes() falls
        #       back to the snapshot-diff derivation across any range
        #       containing this version (restore, rename boundaries,
        #       pre-CDF manifests)
        if cdf is not None and cdf.get("mode") == "data":
            cdf = {"mode": "data", "files": added}
        cdf = cdf or {"mode": "derive"}
        metrics: dict = {"files_added": len(added), "files_removed": len(removed)}
        if len(added) <= 4096:
            try:
                metrics["rows_added"] = sum(
                    self._parquet_num_rows(os.path.join(self._data, f)) for f in added
                )
            except OSError:
                pass
        manifest = {
            "version": base_version + 1,
            "base": base_version,
            "op": op,
            # commit wall-clock (seconds): TIMESTAMP AS OF resolution
            # (version_at_timestamp). Readers fall back to manifest
            # mtime for pre-field tables.
            "ts": time.time(),
            "files": sorted(files),
            "cluster_by": list(cluster_by) if cluster_by else [],
            "txns": txns,
            "schema": schema_json,
            # data-skipping stats live in the parquet sidecar named
            # here; readers go through _stats_of (which also accepts
            # legacy inline-"stats" manifests)
            "stats_file": stats_file,
            # merge-on-read deletes: data file -> DV parquet names whose
            # (file, pos) rows are subtracted at read (delete_where)
            "dvs": dvs or {},
            # column mapping (rename/drop without rewrites): logical
            # column name -> physical name in the parquet files; absent
            # entries are identity. retired_cols = physical names of
            # dropped columns (guards re-add resurrection until an
            # optimize clears the mapping debt).
            "col_map": col_map or {},
            "retired_cols": retired or [],
            # CHECK constraints: name -> SQL expression; every writer
            # validates its NEW rows before committing (add_constraint)
            "constraints": constraints or {},
            # per-file Bloom filter sidecar (point-lookup skipping on
            # non-clustered columns): parquet of (file, col, m, word,
            # bits) in _log, referenced by name (add_bloom_index)
            "bloom_file": bloom_file_ref,
            # generated columns: name -> SQL expression; writers compute
            # the column when a source omits it and refuse sources that
            # contradict it (set_generated / _apply_generated)
            "generated": generated or {},
            # identity columns: name -> high watermark; merges assign
            # watermark + row_number to INSERTED rows (matched rows
            # keep their value) and refuse sources carrying the column
            # (set_identity / _assign_identity)
            "identity": identity or {},
            # operation metrics (history observability; see above)
            "metrics": metrics,
            # commit-time change-data-feed record (see above)
            "cdf": cdf,
            # table property (Delta's enableChangeDataFeed): when False,
            # row-mutating writers skip their change files and commit
            # derive-mode — write-only tables don't pay the feed
            "cdf_enabled": True if cdf_enabled is None else bool(cdf_enabled),
        }
        path = self._manifest_path(base_version + 1)
        tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex[:12]}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # atomic commit point
        except FileExistsError as exc:
            # clean up a sidecar THIS attempt wrote; never a reused one
            # (the base version still references it)
            if stats_file is not None and stats_file_ref is None:
                try:
                    os.unlink(os.path.join(self._log, stats_file))
                except OSError:
                    pass
            # change files are NOT eagerly unlinked on conflict: the
            # merge rebase path re-commits the same change files
            # against the new head; a genuinely abandoned attempt's
            # files are unreferenced orphans that vacuum reclaims,
            # exactly like its data files
            raise CommitConflict(f"version {base_version + 1} already committed") from exc
        finally:
            os.unlink(tmp)
        self._advance_pointer(base_version + 1)
        self._maybe_write_ckpt(base_version + 1)

    def _commit_patch(
        self, name: str, mutate: Callable[[int, dict], dict | None], max_retries: int
    ) -> int:
        """The one commit loop of the metadata operations (ALTERs,
        restore, add_bloom_index). Each attempt calls ``mutate(base, m)``
        on the head manifest, so validation re-runs against the new head
        after a lost race. ``mutate`` returns None for a no-op, or a
        patch: ``op`` plus the ``_try_commit`` keywords that change.
        Everything else carries forward from ``m``: file list,
        clustering, schema, stats sidecar by reference (legacy inline
        stats are rewritten to one) and the DV map, with a ``"none"``
        change record. A patch's ``bloom_rows`` become a new bloom
        sidecar, unlinked again if the commit loses its race."""
        for _ in range(max_retries):
            base = self.version()
            if base == 0:
                raise ValueError(f"{name} target does not exist; create() it first")
            m = self._read_manifest(base)
            patch = mutate(base, m)
            if patch is None:
                return base
            op = patch.pop("op")
            files = patch.pop("files", list(m["files"]))
            kw: dict = {
                "cluster_by": m.get("cluster_by") or None,
                "schema_json": m.get("schema"),
                "dvs": {f: list(v) for f, v in (m.get("dvs") or {}).items()},
                "cdf": {"mode": "none"},
            }
            if "stats" not in patch:
                kw["stats"] = None if m.get("stats_file") else (m.get("stats") or None)
                kw["stats_file_ref"] = m.get("stats_file")
            written = None
            if "bloom_rows" in patch:
                written = self._write_bloom_sidecar(patch.pop("bloom_rows"), base + 1)
                patch["bloom_file_ref"] = written
            kw.update(patch)
            try:
                self._try_commit(base, files, op, **kw)
                return base + 1
            except CommitConflict:
                if written:
                    try:
                        os.unlink(os.path.join(self._log, written))
                    except OSError:
                        pass
        raise CommitConflict(f"{name} on {self.root} gave up after {max_retries} conflicts")

    def _write_stats_sidecar(self, name: str, stats: dict) -> None:
        """One row per (file, column): JSON-encoded lo/hi preserve the
        canonicalized type (int/float/str) across the parquet round
        trip."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files, cols, los, his = [], [], [], []
        for f, f_stats in stats.items():
            for c, (lo, hi) in f_stats.items():
                files.append(f)
                cols.append(c)
                los.append(json.dumps(lo))
                his.append(json.dumps(hi))
        tbl = pa.table(
            {
                "file": pa.array(files, pa.string()),
                "col": pa.array(cols, pa.string()),
                "lo_json": pa.array(los, pa.string()),
                "hi_json": pa.array(his, pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(self._log, name))

    def _stats_of(self, m: dict) -> dict:
        """Data-skipping stats of a manifest: loads the parquet sidecar
        (or returns legacy inline stats) as {file: {col: [lo, hi]}}."""
        inline = m.get("stats")
        if inline:
            return inline
        name = m.get("stats_file")
        if not name:
            return {}
        import pyarrow.parquet as pq

        try:
            tbl = pq.read_table(os.path.join(self._log, name))
        except Exception:
            return {}  # unreadable sidecar: no pruning, still correct
        out: dict = {}
        for f, c, lo, hi in zip(
            tbl["file"].to_pylist(),
            tbl["col"].to_pylist(),
            tbl["lo_json"].to_pylist(),
            tbl["hi_json"].to_pylist(),
        ):
            out.setdefault(f, {})[c] = [json.loads(lo), json.loads(hi)]
        return out

    # ── data-file plumbing ──────────────────────────────────────────────

    def _write_files(
        self,
        df: DataFrame,
        n_files: int | None = None,
        cluster_by: Sequence[str] | None = None,
        prearranged: bool = False,
        prefix: str = "f",
    ) -> list[str]:
        """Materialize ``df`` as immutable uniquely-named parquet files
        under ``data/``; returns their names. Uses a throwaway staging
        dir so a failed write leaves no partial state behind.

        ``cluster_by`` range-partitions the files on those columns —
        the property file-level MERGE pruning depends on: a key-local
        source (a day's stations, one plant's range) then overlaps few
        files. Without clustering, ``repartition(n)`` round-robins
        every key range into every file and ANY source touches ALL
        files (measured: 2% of keys → 64/64 files rewritten), exactly
        as in any copy-on-write table format."""
        os.makedirs(self._data, exist_ok=True)
        stage = os.path.join(self.root, f"_stage_{uuid.uuid4().hex[:8]}")
        if prearranged:
            # caller already partitioned/sorted (e.g. z-order layout)
            out = df
        elif cluster_by:
            # clustering must never silently drop: without n_files,
            # keep the incoming parallelism but still range-partition
            out = df.repartitionByRange(
                n_files or df.rdd.getNumPartitions() or 1, *cluster_by
            )
        elif n_files:
            out = df.repartition(n_files)
        else:
            out = df
        out.write.mode("overwrite").parquet(stage)
        names = []
        for part in sorted(os.listdir(stage)):
            if not part.endswith(".parquet"):
                continue
            # zero-row part files (empty partitions of the incoming
            # frame) are dropped: they carry no data, no stats, and
            # would accumulate one per micro-batch forever
            if self._parquet_num_rows(os.path.join(stage, part)) == 0:
                continue
            name = f"{prefix}-{uuid.uuid4().hex}.parquet"
            os.rename(os.path.join(stage, part), os.path.join(self._data, name))
            names.append(name)
        shutil.rmtree(stage)
        return names

    @staticmethod
    def _parquet_num_rows(path: str) -> int:
        try:
            import pyarrow.parquet as pq

            return pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return -1  # unreadable footer: keep the file

    def _collect_stats(
        self, names: list[str], cols: Sequence[str] | None
    ) -> dict:
        """Per-file [min, max] for ``cols`` from the parquet footers the
        write already produced — no data read, no Spark job. Columns
        whose footer lacks usable stats are simply absent (readers keep
        the file). Driver-side footer reads are bounded by the files of
        ONE commit; on an object store this is the same O(files)
        metadata pass every table format pays at commit time."""
        if not cols:
            return {}
        import pyarrow.parquet as pq

        stats: dict = {}
        for name in names:
            f_stats: dict = {}
            try:
                meta = pq.ParquetFile(os.path.join(self._data, name)).metadata
            except Exception:
                continue
            schema = meta.schema.to_arrow_schema()
            idx = {schema.names[i]: i for i in range(len(schema.names))}
            for col in cols:
                i = idx.get(col)
                if i is None:
                    continue
                mins, maxs = [], []
                ok = True
                for rg in range(meta.num_row_groups):
                    s = meta.row_group(rg).column(i).statistics
                    if s is None or not s.has_min_max:
                        ok = False
                        break
                    mins.append(s.min)
                    maxs.append(s.max)
                if not ok or not mins:
                    continue
                lo, hi = _canon(min(mins)), _canon(max(maxs))
                if lo is None or hi is None:
                    continue
                f_stats[col] = [lo, hi]
            if f_stats:
                stats[name] = f_stats
        return stats

    # ── public API ──────────────────────────────────────────────────────

    def create(
        self,
        df: DataFrame,
        n_files: int | None = None,
        cluster_by: Sequence[str] | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
        cdf: bool = True,
    ) -> int:
        """Commit ``df`` as version 1 of a new table. ``cluster_by``
        (usually the merge keys) range-clusters the data files and is
        remembered by the manifest, so every later MERGE preserves the
        clustering and key-local sources rewrite few files.
        ``txn_app``/``txn_version`` record the creating transaction so
        a replayed first micro-batch is recognized by merge_into's
        idempotence check instead of applying twice.

        ``cdf=False`` creates the table with the commit-time change
        feed OFF (Delta's enableChangeDataFeed property, default on
        here): row-mutating commits then skip their change files —
        O(changed rows) of extra write saved on tables nobody tails —
        and ``changes()`` falls back to the snapshot-diff derivation.
        Toggle later with :meth:`set_cdf`."""
        if self.version() != 0:
            raise ValueError(f"table already exists at {self.root}")
        files = self._write_files(df, n_files, cluster_by)
        self._try_commit(
            0, files, "create", cluster_by, txn_app, txn_version,
            schema_json=df.schema.json(),
            stats=self._collect_stats(files, cluster_by),
            cdf={"mode": "data"},
            cdf_enabled=cdf,
        )
        return 1

    def commit_timestamp(self, version: int) -> float:
        """Wall-clock commit time (epoch seconds) of ``version`` — the
        manifest's recorded ``ts``, falling back to the manifest file's
        mtime for tables written before the field existed."""
        m = self._read_manifest(version)
        ts = m.get("ts")
        if ts is not None:
            return float(ts)
        return os.path.getmtime(self._manifest_path(version))

    def version_at_timestamp(self, ts) -> int:
        """Delta's TIMESTAMP AS OF resolution: the LATEST version whose
        commit time is <= ``ts`` (epoch seconds or a datetime). A
        timestamp after the head resolves to the head; one before the
        first readable commit raises (ValueError, or the expired-prefix
        message when older history existed but was expired). Scans from
        the head down, so non-monotone commit clocks (NTP step, restored
        logs) still resolve to the largest qualifying version."""
        if hasattr(ts, "timestamp"):
            ts = ts.timestamp()
        ts = float(ts)
        head = self.version()
        if head == 0:
            raise ValueError("version_at_timestamp: table does not exist; create() it first")
        first = self.earliest_version()
        for v in range(head, first - 1, -1):
            if self.commit_timestamp(v) <= ts:
                return v
        if first > 1:
            raise VersionExpired(
                f"no readable version of {self.root} committed at or before "
                f"{ts}: versions below v{first} were expired by expire_versions()"
            )
        raise ValueError(
            f"no version of {self.root} committed at or before {ts} "
            f"(first commit was at {self.commit_timestamp(first)})"
        )

    def snapshot(self, version: int | None = None, timestamp=None) -> DataFrame:
        """The table at ``version`` (default: latest) — time travel is
        just reading an older manifest's file list. ``timestamp``
        (epoch seconds or datetime) is TIMESTAMP AS OF: mutually
        exclusive with ``version``, resolved via
        :meth:`version_at_timestamp`."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        v = self.version() if version is None else version
        m = self._read_manifest(v)
        # an all-rows merge-delete legitimately commits zero files; the
        # manifest's recorded schema keeps the version readable, and the
        # explicit-schema read makes evolved tables lossless (_read_data)
        return self._read_data(m, m["files"])

    def history(self) -> list[dict]:
        """Every commit record, oldest first.  Inherently O(versions) —
        it RETURNS one record per version — but each manifest is a small
        JSON commit record (stats live in the sidecar) and the parsed
        form is cached on the handle, so repeated calls are memory-speed
        and a long-lived handle pays disk once per version ever.
        Starts at :meth:`earliest_version` — records expired by
        :meth:`expire_versions` are gone, not errors."""
        return [
            self._read_manifest(v)
            for v in range(self.earliest_version(), self.version() + 1)
        ]

    def describe(self) -> dict:
        """DESCRIBE DETAIL: one dict of the table's live metadata —
        head/earliest version, commit time, schema, clustering, CHECK
        constraints, column-mapping debt, bloom-indexed columns, file/
        DV counts and the head commit's metrics. Pure manifest reads
        (no data job); the CLI ``table describe`` prints it."""
        head = self.version()
        if head == 0:
            return {"version": 0}
        m = self._read_manifest(head)
        import json as _json

        schema = {
            f["name"]: f["type"] if isinstance(f["type"], str) else "<complex>"
            for f in _json.loads(m["schema"]).get("fields", [])
        }
        cmap = {l: p for l, p in (m.get("col_map") or {}).items() if l != p}
        return {
            "version": head,
            "earliest_version": self.earliest_version(),
            "committed_at": self.commit_timestamp(head),
            "op": m.get("op"),
            "n_files": len(m["files"]),
            "n_dv_files": sum(len(v) for v in (m.get("dvs") or {}).values()),
            "cluster_by": m.get("cluster_by") or [],
            "schema": schema,
            "constraints": dict(m.get("constraints") or {}),
            "generated": dict(m.get("generated") or {}),
            "identity": dict(m.get("identity") or {}),
            "column_mapping": cmap,
            "retired_cols": list(m.get("retired_cols") or []),
            "bloom_indexed": sorted(self._bloom_of(m)),
            "metrics": dict(m.get("metrics") or {}),
            "cdf_enabled": bool(m.get("cdf_enabled", True)),
        }

    def history_df(self) -> DataFrame:
        """DESCRIBE HISTORY as a DataFrame — version, op, commit time,
        file count and operation metrics per commit, queryable with
        the full DataFrame/SQL surface (window the metrics, join
        against monitoring, etc.)."""
        rows = [
            (
                int(m["version"]),
                str(m.get("op")),
                float(self.commit_timestamp(int(m["version"]))),
                len(m["files"]),
                int((m.get("metrics") or {}).get("files_added", -1)),
                int((m.get("metrics") or {}).get("files_removed", -1)),
                int((m.get("metrics") or {}).get("rows_added", -1)),
            )
            for m in self.history()
        ]
        return self.spark.createDataFrame(
            rows,
            "version bigint, op string, committed_at double, n_files int, "
            "files_added int, files_removed int, rows_added bigint",
        )

    def _keep_files(self, m: dict, ranges: dict[str, tuple]) -> list[str]:
        """Files of manifest ``m`` whose stats ranges intersect every
        bound in ``ranges`` (missing stats keep the file). EQUALITY
        bounds (lo == hi) additionally probe the per-file Bloom index
        when one exists for the column — the point-lookup complement to
        range skipping: on a column uncorrelated with the clustering,
        every file's [min, max] spans the domain (ranges prune nothing)
        while the bloom proves absence per file. A missing bloom entry
        (file written after the index, un-indexed column) keeps the
        file; false positives only read more, never less."""
        stats = self._stats_of(m)
        blooms = self._bloom_of(m)
        # declared column types: the probe must be SAME-TYPE as the
        # indexed column, not just canonical on its own side
        col_types = {
            f["name"]: f["type"]
            for f in json.loads(m["schema"]).get("fields", [])
            if isinstance(f.get("type"), str)
        }

        def keep(f: str) -> bool:
            for c, (lo, hi) in ranges.items():
                if not _range_intersects((stats.get(f) or {}).get(c), lo, hi):
                    return False
                # Only probe the bloom when str(literal) is GUARANTEED to
                # equal the indexed CAST(col AS STRING) canon: plain ints
                # ('5') and strings (identity). float ('5.0' vs '5'),
                # bool, and the date/datetime objects _parse_literal makes
                # from date-like strings (str() uses ' ' where the column
                # text may use 'T', drops :00 seconds, …) can mismatch and
                # would FALSE-NEGATIVE prune the file holding the true
                # match. CROSS-TYPE equality has the same hazard under
                # SQL coercion ("k = '05'" on an int column is TRUE for
                # k=5 but '05' != the indexed '5'), so the literal's type
                # must also MATCH the column's declared type; anything
                # else conservatively keeps the file.
                # schema-JSON type names: integer/long/short/byte, string
                lt = col_types.get(c)
                type_ok = (
                    type(lo) is int and lt in ("byte", "short", "integer", "long")
                ) or (isinstance(lo, str) and lt == "string")
                if lo is not None and lo == hi and type_ok:
                    entry = (blooms.get(c) or {}).get(f)
                    if entry is not None and not _bloom_maybe_contains(entry, lo):
                        return False
            return True

        return [f for f in m["files"] if keep(f)]

    def _bloom_of(self, m: dict) -> dict:
        """Parsed bloom sidecar of manifest ``m`` as
        {col: {file: {"m": bits, "words": {word: int}}}} — {} when the
        table has no bloom index. Sidecars are immutable, so the parse
        is cached by name on the handle."""
        name = m.get("bloom_file")
        if not name:
            return {}
        cached = self._bloom_cache.get(name)
        if cached is not None:
            return cached
        import pyarrow.parquet as pq

        try:
            t = pq.read_table(os.path.join(self._log, name))
        except FileNotFoundError:
            return {}
        data: dict = {}
        for f, c, mm, w, b in zip(
            t.column("file").to_pylist(),
            t.column("col").to_pylist(),
            t.column("m").to_pylist(),
            t.column("word").to_pylist(),
            t.column("bits").to_pylist(),
        ):
            entry = data.setdefault(c, {}).setdefault(f, {"m": int(mm), "words": {}})
            entry["words"][int(w)] = int(b)
        self._bloom_cache[name] = data
        return data

    def _write_bloom_sidecar(self, rows: DataFrame, version: int) -> str:
        """Write bloom rows (file, col, m, word, bits) as ONE parquet
        sidecar in _log and return its name. Spark writes a directory;
        the single part file is moved under the sidecar name so the
        manifest keeps its one-name-per-sidecar contract."""
        name = f"bl{version:010d}-{uuid.uuid4().hex[:12]}.parquet"
        tmp_dir = os.path.join(self._log, f".bltmp-{uuid.uuid4().hex[:12]}")
        rows.select("file", "col", "m", "word", "bits").coalesce(1).write.parquet(tmp_dir)
        part = next(
            f for f in os.listdir(tmp_dir) if f.endswith(".parquet") and not f.startswith(".")
        )
        os.replace(os.path.join(tmp_dir, part), os.path.join(self._log, name))
        shutil.rmtree(tmp_dir, ignore_errors=True)
        return name

    def add_bloom_index(
        self, cols: Sequence[str], bits_per_row: int = 16, max_retries: int = 5
    ) -> int:
        """Delta's Bloom filter index: per-(file, column) Bloom filters
        in a parquet sidecar, probed by ``scan`` for EQUALITY
        predicates. Range stats (cluster_by + min/max) answer "which
        files can hold this range"; blooms answer the question ranges
        cannot — "which files can hold this exact value" on a column
        UNCORRELATED with the clustering, where every file's [min, max]
        spans the whole domain. A point lookup then opens O(1 + fpp ·
        files) files instead of all of them.

        INCREMENTAL: only files lacking an entry for a requested column
        are scanned and hashed (one distributed pass — md5 double
        hashing folded to 63-bit words via bit_or, all JVM-side);
        existing entries for still-live files are carried into the new
        sidecar. Writers need no bloom awareness: the sidecar rides
        manifests by reference (file names are never reused, so stale
        entries can never lie — see _try_commit), new files are simply
        unprunable until the next add_bloom_index run. Columns must be
        integral or string (the canonical-form contract of
        ``_bloom_positions``); NULLs are not indexed (SQL equality
        never matches NULL). Sizing: ``m = bits_per_row · rows`` per
        file (min 1024), k = BLOOM_K probes → fpp ≈ 0.2% at the
        default 16. Returns the committed version."""
        from pyspark.sql.types import StructType

        cols = list(dict.fromkeys(cols))
        allowed = {"tinyint", "smallint", "int", "bigint", "string"}

        def mutate(base: int, m: dict) -> dict | None:
            schema = StructType.fromJson(json.loads(m["schema"]))
            types = {f.name: f.dataType.simpleString() for f in schema.fields}
            for c in cols:
                if c not in types:
                    raise ValueError(f"no such column {c!r} (have {sorted(types)})")
                if types[c] not in allowed:
                    raise ValueError(
                        f"bloom index needs an integral or string column; {c!r} is {types[c]}"
                    )
            live = set(m["files"])
            old = self._bloom_of(m)
            missing = {
                c: sorted(live - set(old.get(c) or ())) for c in cols
            }
            build_files = sorted(set().union(*missing.values()))
            if not build_files and m.get("bloom_file"):
                return None  # every (file, col) already indexed — no-op
            new_rows = None
            if build_files:
                df = self._read_data(m, build_files, with_file=True)
                sizes = {
                    r["__file"]: max(1024, bits_per_row * r["cnt"])
                    for r in df.groupBy("__file").agg(F.count(F.lit(1)).alias("cnt")).collect()
                }
                size_df = self.spark.createDataFrame(
                    [(f, int(mb)) for f, mb in sizes.items()], "__file string, __m long"
                )
                df = df.join(F.broadcast(size_df), "__file")
                per_col = []
                for c in (c for c in cols if missing[c]):
                    digest = F.md5(F.col(c).cast("string").cast("binary"))
                    h1 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
                    h2 = F.conv(F.substring(digest, 17, 15), 16, 10).cast("long").bitwiseOR(
                        F.lit(1).cast("long")
                    )
                    positions = F.array(
                        *[F.pmod(h1 + F.lit(i) * h2, F.col("__m")) for i in range(BLOOM_K)]
                    )
                    per_col.append(
                        df.filter(F.col("__file").isin(missing[c]) & F.col(c).isNotNull())
                        .select(
                            F.col("__file").alias("file"),
                            F.lit(c).alias("col"),
                            F.col("__m").alias("m"),
                            F.explode(positions).alias("pos"),
                        )
                        .groupBy("file", "col", "m", (F.col("pos") / 63).cast("long").alias("word"))
                        .agg(
                            F.bit_or(
                                # shiftleft's PySpark wrapper takes a
                                # literal shift only; the column form
                                # needs the SQL expression
                                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 63) AS INT))")
                            ).alias("bits")
                        )
                    )
                new_rows = per_col[0]
                for p in per_col[1:]:
                    new_rows = new_rows.unionAll(p)
            # carry surviving old entries (live files, any col) that we
            # did not just rebuild
            carry = None
            if m.get("bloom_file") and os.path.exists(os.path.join(self._log, m["bloom_file"])):
                carry = self.spark.read.parquet(os.path.join(self._log, m["bloom_file"]))
                carry = carry.filter(F.col("file").isin(sorted(live)))
                if build_files:
                    rebuilt = {(f, c) for c in cols for f in missing[c]}
                    if rebuilt:
                        pairs = self.spark.createDataFrame(
                            [(f, c) for f, c in sorted(rebuilt)], "file string, col string"
                        )
                        carry = carry.join(F.broadcast(pairs), ["file", "col"], "left_anti")
            out = new_rows if carry is None else (carry if new_rows is None else carry.unionAll(new_rows))
            if out is None:
                return None  # nothing to index and nothing carried
            return {"op": f"index:bloom:{','.join(cols)}", "bloom_rows": out}

        return self._commit_patch("add_bloom_index", mutate, max_retries)

    def scan(
        self,
        where: dict[str, tuple] | str | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned read. ``where`` is either the structured form —
        column → ``(lo, hi)`` inclusive bounds (``None`` = open end) —
        or an ordinary SQL predicate STRING (``"ts BETWEEN x AND y AND
        station = 's'"``): conjunctive range predicates are extracted
        for file pruning (:func:`_extract_ranges`, strictly an
        under-approximation) and the FULL predicate is applied to the
        surviving rows, so ``scan(s)`` ≡ ``snapshot().filter(s)`` with
        fewer files opened — no caller-side bound plumbing. Files whose
        manifest [min, max] provably misses a bound are never opened —
        Delta/Iceberg data skipping on the manifest stats written at
        commit time. On a clustered table a narrow key range reads
        O(range) files instead of O(table)."""
        v = self.version() if version is None else version
        m = self._read_manifest(v)
        if isinstance(where, str):
            df = self._read_data(m, self._keep_files(m, _extract_ranges(where)))
            return df.filter(F.expr(where))
        where = where or {}
        # manifest-schema read: on an evolved table an inferred read of
        # the pruned file subset could pick an old-schema footer and
        # drop the evolved column, diverging from snapshot().filter()
        df = self._read_data(m, self._keep_files(m, where))
        for c, (lo, hi) in where.items():
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        return df

    def pruned_files(
        self, where: dict[str, tuple] | str, version: int | None = None
    ) -> tuple[int, int]:
        """(kept, total) file counts for a ``scan(where)`` — the
        observable the skipping tests pin. Accepts the same dict or
        SQL-string predicate forms as ``scan``."""
        v = self.version() if version is None else version
        m = self._read_manifest(v)
        ranges = _extract_ranges(where) if isinstance(where, str) else where
        return len(self._keep_files(m, ranges)), len(m["files"])

    def _changes_from_commits(
        self,
        v_from: int,
        v_to: int,
        keys: list[str],
        include_preimages: bool,
    ) -> DataFrame | None:
        """Change feed from COMMIT-TIME change files — the fast path
        :meth:`changes` prefers. Returns ``None`` when any version in
        ``(v_from, v_to]`` lacks a usable CDF record (pre-CDF manifest,
        restore, rename boundary), which sends the caller to the
        snapshot-diff derivation.

        Cost is O(changed rows in range): read the per-commit change
        files (plus the added data files of insert-only commits), then
        NET them per key with one keyed aggregate — first event by
        (commit, preimage-first) gives presence-before and the v_from
        image, last event by (commit, postimage-last) gives
        presence-after and the v_to image. The r11 CDC bench measured
        the derivation it replaces DOMINATING the apply pipeline (flat
        7–8.7 s/batch vs the 2.3 s apply floor, BASELINE.md "CDC APPLY
        at scale") because it re-scans and full-outer-joins two whole
        snapshots regardless of churn; this path never touches the
        snapshots. Netting also reconciles over-recording: an A→B→A
        key or a postimage equal to its preimage nets to nothing,
        exactly like the derivation's struct compare.

        Frames are aligned to ``v_to``'s logical schema the same way
        the derivation aligns snapshots: missing columns (recorded
        before an add_column/schema evolution) become typed nulls,
        extra columns (recorded before a drop_column) are projected
        away, narrower types (recorded before a widen_column) cast up
        — all value-preserving. Rename and restore commits record mode
        ``derive`` precisely because name realignment is not."""
        if v_to <= v_from:
            return None
        from pyspark.sql.types import StringType, StructField, StructType

        mt = self._read_manifest(v_to)
        schema_json = mt.get("schema")
        if schema_json is None:
            return None
        target = StructType.fromJson(json.loads(schema_json))
        tnames = [f.name for f in target.fields]
        if not set(keys) <= set(tnames):
            return None
        frames = []
        for v in range(v_from + 1, v_to + 1):
            m = self._read_manifest(v)
            c = m.get("cdf") or {}
            mode = c.get("mode")
            if mode not in ("none", "data", "files"):
                return None  # pre-CDF or derive-marked commit: fall back
            names = c.get("files") or []
            if mode == "none" or not names:
                continue
            if mode == "data":
                # insert-only commit: the added data files ARE the feed
                # (no duplication); _read_data applies the manifest's
                # schema/col_map/DVs so clone'd tables read correctly
                df = self._read_data(m, names).withColumn(
                    "_change_type", F.lit("insert")
                )
            else:
                df = self.spark.read.parquet(
                    *[os.path.join(self._data, n) for n in names]
                )
            have = {f.name: f.dataType for f in df.schema.fields}
            if "_change_type" not in have:
                return None  # unreadable/foreign change file: fall back
            df = df.select(
                *[
                    (
                        F.col(f.name).cast(f.dataType)
                        if f.name in have and have[f.name] != f.dataType
                        else F.col(f.name)
                        if f.name in have
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in target.fields
                ],
                "_change_type",
            )
            frames.append(df.withColumn("_commit_version", F.lit(v)))
        val_cols = [c for c in tnames if c not in keys]
        if not frames:
            # no data-changing commit in range: empty feed, contract schema
            by_name = {f.name: f for f in target.fields}
            return self.spark.createDataFrame(
                [],
                StructType(
                    [by_name[k] for k in keys]
                    + [by_name[c] for c in val_cols]
                    + [StructField("_change_type", StringType())]
                ),
            )
        allc = frames[0]
        for f in frames[1:]:
            allc = allc.unionByName(f)
        # net per key: order events by (commit, type-rank) where a
        # commit's update_preimage sorts before everything and its
        # update_postimage after — min_by then yields the FIRST
        # preimage (or the lone insert/delete), max_by the LAST
        # postimage. One keyed SortAggregate over O(changed rows).
        rank = (
            F.when(F.col("_change_type") == "update_preimage", F.lit(0))
            .when(F.col("_change_type") == "update_postimage", F.lit(2))
            .otherwise(F.lit(1))
        )
        ordc = F.struct(F.col("_commit_version"), rank.alias("__r"))
        payload = F.struct(
            F.col("_change_type").alias("__t"),
            F.struct(*[F.col(c) for c in val_cols]).alias("__v"),
        )
        agg = allc.groupBy(*keys).agg(
            F.min_by(payload, ordc).alias("__first"),
            F.max_by(payload, ordc).alias("__last"),
        )
        before = F.col("__first.__t") != F.lit("insert")
        after = F.col("__last.__t") != F.lit("delete")
        pre_img, post_img = F.col("__first.__v"), F.col("__last.__v")
        change = (
            F.when(~before & after, F.lit("insert"))
            .when(before & ~after, F.lit("delete"))
            .when(before & after & ~pre_img.eqNullSafe(post_img), F.lit("update_postimage"))
        )
        tagged = agg.withColumn("_change_type", change).filter(
            F.col("_change_type").isNotNull()
        )
        img = F.when(F.col("_change_type") == "delete", pre_img).otherwise(post_img)
        post = tagged.select(
            *keys,
            *[img.getField(c).alias(c) for c in val_cols],
            "_change_type",
        )
        if not include_preimages:
            return post
        pre = tagged.filter(F.col("_change_type") == "update_postimage").select(
            *keys,
            *[pre_img.getField(c).alias(c) for c in val_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        return post.unionByName(pre)

    def changes(
        self,
        v_from: int,
        v_to: int | None = None,
        keys: Sequence[str] | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Change data feed between two committed versions: one row per
        key whose presence or payload differs, tagged ``_change_type``
        ∈ {insert, update_postimage, delete}. Inserts/updates carry the
        ``v_to`` image, deletes the ``v_from`` image — Delta CDF's
        read-side contract. Computed as a distributed full-outer join
        of the two snapshots on ``keys`` (defaults to the manifest's
        cluster_by) with a null-safe struct comparison of the non-key
        columns; both snapshots are immutable file lists, so the diff
        is reproducible forever. State-diff CDC, not log-replay: cost
        is two scans + one co-partitioned join, independent of how many
        commits separate the versions.

        COMMIT-TIME FAST PATH (r12): when every version in the range
        carries a commit-time CDF record (every mutating commit writes
        its change files alongside its data — Delta's
        enableChangeDataFeed shape), the feed is read from those files
        and netted per key instead: O(changed rows in range), never a
        snapshot scan — the derivation below measured 7–8.7 s/batch
        DOMINATING the CDC apply pipeline at x160 while the apply floor
        was 2.3 s (BASELINE.md "CDC APPLY at scale"). Ranges crossing
        a pre-CDF version, a restore, or a rename boundary fall back
        to the derivation transparently; both paths emit the identical
        netted contract.

        ``include_preimages=True`` additionally emits one
        ``update_preimage`` row (the ``v_from`` image) per update —
        Delta CDF's full four-type contract, needed by consumers that
        reverse or audit updates. Works identically across COW and
        merge-on-read commits: the diff reads snapshots, which already
        subtract deletion vectors."""
        v_to = self.version() if v_to is None else v_to
        if keys is None:
            keys = self._read_manifest(v_to).get("cluster_by") or []
        keys = list(keys)
        if not keys:
            raise ValueError("changes() needs key columns (table has no cluster_by)")
        fast = self._changes_from_commits(v_from, v_to, keys, include_preimages)
        if fast is not None:
            return fast
        old, new = self.snapshot(v_from), self.snapshot(v_to)
        # across a RENAME boundary the same physical column carries two
        # logical names: align the old snapshot to v_to's logical names
        # by PHYSICAL identity (the column-mapping contract), so a
        # renamed-but-unchanged row is not misreported as updated
        cmap_from = self._read_manifest(v_from).get("col_map") or {}
        cmap_to = self._read_manifest(v_to).get("col_map") or {}
        if cmap_from or cmap_to:
            to_logical = {cmap_to.get(c, c): c for c in new.columns}
            # an old column whose PHYSICAL name no longer exists in v_to
            # was dropped — keep it only if its logical name does not
            # collide with a mapped target (drop a; rename x->a would
            # otherwise alias two old columns to one name and break the
            # select); dropped columns are absent from val_cols anyway
            mapped = {
                c: to_logical[cmap_from.get(c, c)]
                for c in old.columns
                if cmap_from.get(c, c) in to_logical
            }
            taken = set(mapped.values())
            old = old.select(
                *[
                    F.col(c).alias(mapped.get(c, c))
                    for c in old.columns
                    if c in mapped or c not in taken
                ]
            )
        val_cols = [c for c in new.columns if c not in keys]
        # across a schema-evolution boundary the older snapshot lacks
        # the added columns: align by name with typed nulls so the
        # struct compare sees "column appeared with a value" as an
        # update, not a schema error
        old_have = set(old.columns)
        for fld in new.schema.fields:
            if fld.name not in old_have:
                old = old.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        # across a TYPE boundary the two snapshots disagree on a
        # column's type. Cast BOTH sides to the WIDER of the two —
        # value-preserving in either direction of time: a plain
        # widen_column leaves v_to wider (old casts up, as before),
        # but a RESTORE below a widen point leaves v_from wider, and
        # casting the old side DOWN to v_to's narrower type would
        # ANSI-overflow on real values (found by the r12 lifecycle
        # fuzz: a 2^40 bigint written post-widen, then restore, then
        # changes() across the boundary) — and a delete row's v_from
        # image could not be represented in the narrow type at all.
        # The feed's schema is therefore the per-column widest of the
        # endpoints, which can be wider than v_to's.
        new_types = {f.name: f.dataType for f in new.schema.fields}
        old_types = {f.name: f.dataType for f in old.schema.fields}

        def _wider(a, b):
            if a == b:
                return a
            if b.simpleString() in self._WIDENINGS.get(a.simpleString(), ()):
                return b  # b is wider
            if a.simpleString() in self._WIDENINGS.get(b.simpleString(), ()):
                return a  # a is wider
            return b  # incomparable: keep the old contract (v_to wins)

        target = {
            c: _wider(old_types[c], new_types[c])
            for c in new_types
            if c in old_types
        }
        old = old.select(
            *[
                F.col(c).cast(target[c]).alias(c)
                if c in target and old_types[c] != target[c]
                else F.col(c)
                for c in old.columns
            ]
        )
        new = new.select(
            *[
                F.col(c).cast(target[c]).alias(c)
                if c in target and new_types[c] != target[c]
                else F.col(c)
                for c in new.columns
            ]
        )
        o = old.select(*keys, F.struct(*val_cols).alias("__old"))
        n = new.select(*keys, F.struct(*val_cols).alias("__new"))
        j = o.join(n, keys, "full_outer")
        change = (
            F.when(F.col("__old").isNull(), F.lit("insert"))
            .when(F.col("__new").isNull(), F.lit("delete"))
            .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update_postimage"))
        )
        img = F.coalesce(F.col("__new"), F.col("__old"))
        tagged = j.withColumn("_change_type", change).filter(F.col("_change_type").isNotNull())
        post = tagged.select(
            *keys,
            *[img.getField(c).alias(c) for c in val_cols],
            "_change_type",
        )
        if not include_preimages:
            return post
        pre = tagged.filter(F.col("_change_type") == "update_postimage").select(
            *keys,
            *[F.col("__old").getField(c).alias(c) for c in val_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        return post.unionByName(pre)

    def _rebase_merge_commit(
        self,
        base: int,
        probe_files: Sequence[str],
        src_keys: DataFrame,
        keys: list[str],
        *,
        nmbs_on: bool,
        txn_app: str | None,
        txn_version: int | None,
        op: str,
        cluster_by: Sequence[str] | None,
        committed_schema: str | None,
        new_identity: dict | None,
        cdf_rec: dict | None,
        touched: set[str] | frozenset = frozenset(),
        new_files: Sequence[str] = (),
        new_file_stats: dict | None = None,
        dv_delta: dict[str, list[str]] | None = None,
        added_probe=None,
        max_attempts: int = 3,
    ) -> int | None:
        """Delta-style LOGICAL conflict resolution for a merge that
        lost its commit race: validate the merge's READ SET against the
        intervening commits and, when they are provably disjoint,
        re-commit the already-written files against the new head —
        a metadata-only rebase — instead of re-reading and re-writing
        the whole merge (the optimistic-retry fallback). At 100 TB the
        difference is a backfill merge losing a race to a 1-row
        streaming upsert re-running O(touched bytes) of work versus
        re-linking its finished files under a new version.

        Returns the committed version, the already-applied version for
        a txn replay detected at the new head, or ``None`` when the
        conflict is LOGICAL and the caller must re-run (any of:
        table metadata changed — schema / column mapping / constraints
        / generated / identity / clustering / CDF property; a file this
        merge READ (``probe_files``, which includes every touched file
        and the not-matched-by-source scope) was removed, rewritten or
        DV-modified; an intervening commit ADDED a file whose stats or
        bloom cannot rule out holding one of this merge's source keys —
        a maybe-match the finished computation never saw; or the clause
        set includes NOT MATCHED BY SOURCE, where ANY added file could
        hold a row that should now delete). Every check is
        driver-side manifest/stats work except the added-file key probe,
        which reuses the same stats+bloom pruning as the merge itself
        (a stats-less added file is conservatively a conflict).

        ``touched``/``new_files``/``dv_delta`` describe the finished
        physical result: the rebased manifest carries the head's files
        minus ``touched`` plus ``new_files``, the head's DVs minus the
        touched files' plus this merge's new entries, and the head's
        stats for carried files plus ``new_file_stats``. The commit's
        change files (``cdf_rec``) re-commit verbatim — they were never
        unlinked on conflict."""
        base_m = self._read_manifest(base)
        touched = set(touched)
        for _ in range(max_attempts):
            head = self.version()
            if head <= base:
                return None
            head_m = self._read_manifest(head)
            if txn_app is not None:
                seen = (head_m.get("txns") or {}).get(txn_app)
                if seen is not None and int(seen[0]) >= int(txn_version):
                    return int(seen[1])  # applied by the racing writer
            for fld in (
                "schema",
                "col_map",
                "retired_cols",
                "constraints",
                "generated",
                "identity",
                "cluster_by",
            ):
                if (base_m.get(fld) or None) != (head_m.get(fld) or None):
                    return None
            if bool(base_m.get("cdf_enabled", True)) != bool(
                head_m.get("cdf_enabled", True)
            ):
                return None
            head_files = set(head_m["files"])
            b_dvs = base_m.get("dvs") or {}
            h_dvs = head_m.get("dvs") or {}
            for f in probe_files:
                if f not in head_files or list(b_dvs.get(f) or []) != list(
                    h_dvs.get(f) or []
                ):
                    return None
            added = sorted(head_files - set(base_m["files"]))
            if added:
                if nmbs_on:
                    return None
                if added_probe is not None:
                    # caller-supplied conflict test for this write's
                    # read scope (the DV deletes pass a predicate-range
                    # probe); True = an added file may hold rows this
                    # write should have seen
                    if added_probe(head_m, added):
                        return None
                else:
                    maybe = self._candidates_by_key_bounds(
                        {**head_m, "files": added}, src_keys, keys
                    )
                    if maybe:
                        return None
            files_set = (head_files - touched) | set(new_files)
            stats = {
                f: s for f, s in self._stats_of(head_m).items() if f in files_set
            }
            stats.update(new_file_stats or {})
            dvs = {f: list(v) for f, v in h_dvs.items() if f not in touched}
            for f, extra in (dv_delta or {}).items():
                if extra:
                    dvs.setdefault(f, []).extend(extra)
            try:
                self._try_commit(
                    head,
                    sorted(files_set),
                    op + ":rebase",
                    cluster_by,
                    txn_app,
                    txn_version,
                    schema_json=committed_schema,
                    stats=stats,
                    dvs=dvs,
                    identity=new_identity,
                    cdf=cdf_rec,
                )
                return head + 1
            except CommitConflict:
                continue  # head moved again: revalidate against it
        return None

    def merge_into(
        self,
        source: DataFrame,
        keys: Sequence[str],
        *,
        when_matched: str = "update",
        max_retries: int = 5,
        txn_app: str | None = None,
        txn_version: int | None = None,
        schema_evolution: bool = False,
        strategy: str = "cow",
        not_matched_by_source: str | None = None,
        not_matched_by_source_condition: str | None = None,
        when_matched_condition: str | None = None,
        when_not_matched_condition: str | None = None,
    ) -> int:
        """MERGE: ``when_matched="update"`` replaces matched rows with
        the source row (K1/K2 upsert; ``when_not_matched`` is always
        INSERT), ``"delete"`` removes matched rows (K5's
        reset-by-delete shape). Returns the committed version. Retries
        the whole read-apply-commit cycle on :class:`CommitConflict` —
        optimistic concurrency.

        ``not_matched_by_source="delete"`` adds Delta's third clause —
        WHEN NOT MATCHED BY SOURCE THEN DELETE: TARGET rows whose key
        is absent from the source are removed, making the merge a
        FULL SYNC (after it, the table is exactly the transformed
        source). ``not_matched_by_source_condition`` (a SQL predicate
        over target columns) bounds which target rows are delete-
        eligible — a row is removed only when it is unmatched AND the
        condition is TRUE (NULL keeps the row, SQL-style). At scale
        the condition is what keeps the clause O(scope) instead of
        O(table): without one every file is in scope (any file may
        hold a now-absent key), with one the same stats/range pruning
        as ``scan`` drops files that provably cannot satisfy it —
        exactly Delta's documented guidance for this clause. Works
        under both strategies: COW rewrites the in-scope files, MOR
        records the deletes as DV entries.

        ``when_matched_condition`` adds WHEN MATCHED AND <cond> THEN
        UPDATE: a SQL predicate over BOTH sides, target columns as
        ``t.<col>`` and source columns as ``s.<col>`` (Delta's alias
        convention). A matched pair where the condition is not TRUE
        leaves the target row UNCHANGED and drops the source row —
        the out-of-order guard (``"s.version_id > t.version_id"``)
        that makes replayed or late micro-batches unable to regress
        state, which row-at-a-time writers get from careful UPDATE
        ... WHERE clauses. Only rows whose condition passes count as
        touched, so a fully-stale batch rewrites nothing. Requires
        ``when_matched="update"``.

        ``when_not_matched_condition`` adds WHEN NOT MATCHED AND
        <cond> THEN INSERT — Delta's conditioned insert clause, the
        last of its clause set: a predicate over SOURCE columns
        (unqualified names — only the source side exists for an
        unmatched row) that gates which FRESH rows insert; NULL and
        FALSE drop the row (SQL-style). Matched rows are untouched by
        it: an update's postimage flows through regardless — the
        condition splits only the not-matched side, exactly Delta's
        semantics. Composes with every other clause (a guarded
        upsert-with-quality-floor is ``when_matched_condition`` +
        ``when_not_matched_condition`` in one MERGE).

        ``strategy`` picks the physical write: ``"cow"``
        (copy-on-write, default) rewrites every file holding a matched
        key — zero read-side overhead afterwards, right when updates
        cluster with the file layout; ``"mor"`` (merge-on-read) writes
        deletion-vector entries for the matched preimages and APPENDS
        the postimages in one commit — O(changed rows) write cost,
        right for scattered keys on a large table (see
        :meth:`_merge_into_mor` for the measured trade). Both commit
        the identical logical snapshot.

        ``txn_app``/``txn_version`` make the merge EXACTLY-ONCE under
        replay — Delta's txn protocol: each commit carries a per-app
        latest-txn-version map forward in its manifest, so the check
        is one O(1) read of the latest manifest (not a history scan),
        and a writer whose versions increase monotonically (the
        streaming sink passes ``("stream", batch_id)``) can never
        apply a batch twice: if the recorded version for the app is
        already >= this one, the merge is a no-op returning the table
        version that applied it.

        The source must be key-unique (SQL MERGE's multiple-match case
        is an error there; here duplicate source keys would simply both
        insert). The streaming sink guarantees it via
        ``latest_per_key`` before every merge; batch callers should do
        the same."""
        if when_matched not in ("update", "delete"):
            raise ValueError(f"when_matched must be 'update' or 'delete', got {when_matched!r}")
        if strategy not in ("cow", "mor"):
            raise ValueError(f"strategy must be 'cow' or 'mor', got {strategy!r}")
        if not_matched_by_source not in (None, "delete"):
            raise ValueError(
                "not_matched_by_source must be None or 'delete', "
                f"got {not_matched_by_source!r}"
            )
        if not_matched_by_source_condition is not None and not_matched_by_source is None:
            raise ValueError(
                "not_matched_by_source_condition requires not_matched_by_source='delete'"
            )
        if when_matched_condition is not None and when_matched != "update":
            raise ValueError(
                "when_matched_condition requires when_matched='update'"
            )
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version must be passed together")
        keys = list(keys)
        nmbs_cond = (
            not_matched_by_source_condition if not_matched_by_source == "delete" else None
        )
        if strategy == "mor":
            return self._merge_into_mor(
                source,
                keys,
                when_matched,
                max_retries,
                txn_app,
                txn_version,
                schema_evolution,
                not_matched_by_source,
                nmbs_cond,
                when_matched_condition,
                when_not_matched_condition,
            )
        src_keys = source.select(*keys).distinct()
        for _ in range(max_retries):
            base = self.version()
            if base == 0:
                raise ValueError("merge_into target does not exist; create() it first")
            m = self._read_manifest(base)
            if txn_app is not None:
                seen = (m.get("txns") or {}).get(txn_app)
                if seen is not None and int(seen[0]) >= int(txn_version):
                    return int(seen[1])  # already applied (batch replay)
            base_df = self.snapshot(base)
            # stats pre-prune (data skipping): files whose manifest
            # [min, max] range provably misses the source's key bounds
            # cannot hold a match, so the exact semi-join below never
            # reads them AT ALL. Without this, the "which files are
            # touched" probe scans the whole table — the step that
            # turns a key-local MERGE into a full-table read at 100 TB.
            stats = self._stats_of(m)
            candidates = self._candidates_by_key_bounds(m, src_keys, keys)
            # WHEN NOT MATCHED BY SOURCE scope: files that might hold a
            # delete-eligible row — the condition's range bounds prune
            # exactly like scan(); no condition puts every file in scope
            # (any file may hold a now-absent key)
            nmbs_scope: list[str] = []
            nmbs_pred = None
            if not_matched_by_source == "delete":
                nmbs_scope = self._keep_files(
                    m, _extract_ranges(nmbs_cond) if nmbs_cond else {}
                )
                # delete only when the condition is TRUE (NULL keeps)
                nmbs_pred = (
                    F.coalesce(F.expr(nmbs_cond).cast("boolean"), F.lit(False))
                    if nmbs_cond
                    else F.lit(True)
                )
            # WHEN MATCHED AND <cond>: a matched pair updates only when
            # the predicate (over t.<col> / s.<col>) is TRUE; NULL and
            # FALSE leave the target row untouched AND drop the source
            # row. Keys with any passing pair are "matched-true".
            wm_pred = None
            if when_matched_condition is not None:
                wm_pred = F.coalesce(
                    F.expr(when_matched_condition).cast("boolean"), F.lit(False)
                )
            # exact file-level pruning over the candidates: the
            # collected result is the bounded list of touched FILES,
            # never data rows. plain join (no forced broadcast):
            # Catalyst/AQE broadcasts the key set when it is small —
            # the common dim-merge case — and falls back to a shuffle
            # join for huge sources
            touched: set[str] = set()
            matched_true_keys = None
            matched_false_keys = None
            probe_files = sorted(set(candidates) | set(nmbs_scope))
            if probe_files:
                # manifest-schema read (_read_data): candidates can mix
                # old-schema and evolved files after schema_evolution.
                # with_file=True: file identity comes from the read
                # itself (input_file_name() cannot resolve once the DV
                # anti-join makes the frame multi-source), and only
                # LIVE rows probe — a file whose every matching row is
                # DV-deleted is correctly not touched
                snap = self._read_data(m, probe_files, with_file=True)
                if wm_pred is None:
                    touched = {
                        r["__file"]
                        for r in snap.join(src_keys, keys, "left_semi")
                        .select("__file")
                        .distinct()
                        .collect()
                    }
                else:
                    from functools import reduce as _reduce

                    eq = _reduce(
                        lambda a, b: a & b,
                        [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
                    )
                    pairs = snap.alias("t").join(source.alias("s"), eq, "inner")
                    tkeys = [F.col(f"t.{k}").alias(k) for k in keys]
                    # localCheckpoint: these tiny key frames gate the
                    # touched collect, the kept rewrite AND the insert —
                    # without it each job re-runs the probe×source join
                    matched_true_keys = (
                        pairs.filter(wm_pred)
                        .select(*tkeys)
                        .distinct()
                        .localCheckpoint(eager=True)
                    )
                    matched_false_keys = (
                        pairs.select(*tkeys)
                        .distinct()
                        .join(matched_true_keys, keys, "left_anti")
                        .localCheckpoint(eager=True)
                    )
                    # files holding ANY live row of a matched-true KEY
                    # touch — not just the file of the cond-TRUE row: a
                    # duplicate key split across files must have ALL its
                    # rows replaced (the kept rewrite anti-joins at key
                    # level), else the cond-FALSE row's file survives
                    # untouched and leaves a stale duplicate. A fully-
                    # stale batch (no matched-true keys) still touches
                    # nothing
                    touched = {
                        r["__file"]
                        for r in snap.join(matched_true_keys, keys, "left_semi")
                        .select("__file")
                        .distinct()
                        .collect()
                    }
                if nmbs_pred is not None:
                    touched |= {
                        r["__file"]
                        for r in snap.filter(nmbs_pred)
                        .join(src_keys, keys, "left_anti")
                        .select("__file")
                        .distinct()
                        .collect()
                    }
            cluster_by = m.get("cluster_by") or None
            untouched = [f for f in m["files"] if f not in touched]
            cols = base_df.columns  # parquet footer only, no job
            rewritten: list[str] = []
            touched_df = None
            cdf_replaced = None
            cdf_nmbs_del = None
            if touched:
                # manifest-schema read: when a merge touches BOTH an
                # old-schema and an evolved file, an inferred read that
                # picked the old footer would rewrite the kept rows of
                # the evolved file WITHOUT their evolved-column values —
                # permanent data loss committed into the new version
                touched_df = self._read_data(m, sorted(touched))
                replace_keys = (
                    matched_true_keys if matched_true_keys is not None else src_keys
                )
                kept = touched_df.join(replace_keys, keys, "left_anti")
                # commit-time CDF capture: the rows the rewrite REMOVES
                # — replaced rows (update preimages / matched deletes)
                # and the not-matched-by-source deletions — computed as
                # the exact complement of `kept`, lazily (they feed one
                # change-file write job before the commit)
                cdf_replaced = touched_df.join(replace_keys, keys, "left_semi")
                if nmbs_pred is not None:
                    if wm_pred is None:
                        # matched rows are already gone (anti src_keys):
                        # every survivor is key-unmatched, filter direct
                        cdf_nmbs_del = kept.filter(nmbs_pred)
                        kept = kept.filter(~nmbs_pred)
                    else:
                        # matched-false rows survive the anti above but
                        # are NOT "not matched by source" — only rows
                        # whose key is absent from the source delete
                        cdf_nmbs_del = kept.join(src_keys, keys, "left_anti").filter(
                            nmbs_pred
                        )
                        kept = (
                            kept.join(
                                src_keys.withColumn("__in_src", F.lit(1)),
                                keys,
                                "left",
                            )
                            .filter(~(F.col("__in_src").isNull() & nmbs_pred))
                            .drop("__in_src")
                        )
                rewritten += self._write_files_mapped(
                    kept, m, n_files=max(1, len(touched)), cluster_by=cluster_by
                )
            if when_matched == "update":
                # with a matched-condition, cond-false source rows are
                # dropped (neither update nor insert)
                inserted = (
                    source
                    if matched_false_keys is None
                    else source.join(matched_false_keys, keys, "left_anti")
                )
            else:
                # delete matched; still insert the not-matched source
                # rows. Matched keys can only live in touched files, so
                # the full snapshot need not be re-read.
                if touched_df is not None:
                    matched_keys = touched_df.select(*keys).distinct()
                    inserted = source.join(matched_keys, keys, "left_anti")
                else:
                    inserted = source
            if when_not_matched_condition is not None:
                # WHEN NOT MATCHED AND <cond> THEN INSERT: the condition
                # gates FRESH rows only — an update's postimage (a
                # matched key) flows through untouched (Delta semantics)
                wnm_pred = F.coalesce(
                    F.expr(when_not_matched_condition).cast("boolean"), F.lit(False)
                )
                if when_matched == "update" and touched_df is not None:
                    mkeys = (
                        matched_true_keys
                        if matched_true_keys is not None
                        else touched_df.select(*keys)
                        .distinct()
                        .join(src_keys, keys, "left_semi")
                    )
                    inserted = inserted.join(mkeys, keys, "left_semi").unionByName(
                        inserted.join(mkeys, keys, "left_anti").filter(wnm_pred)
                    )
                else:
                    # delete-mode (already all-fresh) or no matches at all
                    inserted = inserted.filter(wnm_pred)
            # identity columns: matched rows inherit their value from
            # the touched target rows, fresh rows get watermark + rank
            # (before generated/alignment so the column exists for both)
            inserted, new_identity = self._assign_identity(inserted, m, keys, touched_df)
            # generated columns: compute the ones the source omits,
            # refuse sources that contradict one (before alignment, so
            # a computed column exists for the schema projection)
            inserted = self._apply_generated(inserted, m)
            ins, committed_schema = self._align_insert(
                base_df,
                source,
                inserted,
                schema_evolution,
                m.get("retired_cols") or (),
                sorted(_phys_conflicts(m)),
            )
            ins_empty = ins.isEmpty()  # one job, reused below
            if not ins_empty:
                self._check_constraints(ins, m)
            if ins_empty and not touched:
                return base  # no-op merge
            if not ins_empty:
                if cluster_by:
                    # keep the INSERT files clustered too: without this
                    # every merge appends one unclustered file per
                    # source partition (measured: 32 tiny files per
                    # micro-batch), and future merges/scans cannot
                    # prune them. File count follows the merge's own
                    # locality (like the kept-rewrite), with optimize()
                    # as the long-run compactor.
                    rewritten += self._write_files_mapped(
                        ins, m, n_files=max(1, len(touched)), cluster_by=cluster_by
                    )
                else:
                    rewritten += self._write_files_mapped(ins, m)
            # commit-time CDF: a pure append's added files ARE the feed
            # (mode "data", zero extra write — the streaming-sink common
            # case); anything touching existing rows writes explicit
            # change files (O(changed rows), one job)
            if not touched:
                cdf_rec: dict | None = {"mode": "data"}
            elif not m.get("cdf_enabled", True):
                cdf_rec = None  # property off: commit derive-mode, no write
            else:
                ins_live = None if ins_empty else ins
                if when_matched == "update":
                    mk = cdf_replaced.select(*keys).distinct()
                    parts = [
                        (cdf_replaced, "update_preimage"),
                        (
                            None
                            if ins_live is None
                            else ins_live.join(mk, keys, "left_semi"),
                            "update_postimage",
                        ),
                        (
                            None
                            if ins_live is None
                            else ins_live.join(mk, keys, "left_anti"),
                            "insert",
                        ),
                        (cdf_nmbs_del, "delete"),
                    ]
                else:
                    parts = [
                        (cdf_replaced, "delete"),
                        (cdf_nmbs_del, "delete"),
                        (ins_live, "insert"),
                    ]
                cdf_names = self._write_cdf_files(
                    parts, committed_schema, n_files=max(1, len(touched))
                )
                cdf_rec = (
                    {"mode": "files", "files": cdf_names}
                    if cdf_names
                    else {"mode": "none"}
                )
            stat_cols = list(dict.fromkeys((cluster_by or []) + keys))
            rewritten_stats = self._collect_stats_mapped(rewritten, stat_cols, m)
            new_stats = {f: stats[f] for f in untouched if f in stats}
            new_stats.update(rewritten_stats)
            # rewritten files were read THROUGH their DVs (_read_data),
            # so the rewrite materializes pending deletes and the new
            # files start DV-free; untouched files keep their mappings
            m_dvs = m.get("dvs") or {}
            new_dvs = {f: list(m_dvs[f]) for f in untouched if f in m_dvs}
            op = f"merge:{when_matched}" + (
                "+syncdel" if not_matched_by_source == "delete" else ""
            )
            try:
                self._try_commit(
                    base,
                    untouched + rewritten,
                    op,
                    cluster_by,
                    txn_app,
                    txn_version,
                    schema_json=committed_schema,
                    stats=new_stats,
                    dvs=new_dvs,
                    identity=new_identity,
                    cdf=cdf_rec,
                )
                return base + 1
            except CommitConflict:
                # logical conflict check first: when the intervening
                # commits are provably disjoint from this merge's read
                # set, re-commit the finished files against the new
                # head (metadata-only) instead of re-running the merge
                rb = self._rebase_merge_commit(
                    base,
                    probe_files,
                    src_keys,
                    keys,
                    nmbs_on=not_matched_by_source == "delete",
                    txn_app=txn_app,
                    txn_version=txn_version,
                    op=op,
                    cluster_by=cluster_by,
                    committed_schema=committed_schema,
                    new_identity=new_identity,
                    cdf_rec=cdf_rec,
                    touched=touched,
                    new_files=rewritten,
                    new_file_stats=rewritten_stats,
                )
                if rb is not None:
                    return rb
                # orphaned files from the failed attempt are cleaned by
                # vacuum(); re-read the new snapshot and re-apply
                continue
        raise CommitConflict(f"merge_into on {self.root} gave up after {max_retries} conflicts")

    @staticmethod
    def _align_insert(
        base_df: DataFrame,
        source: DataFrame,
        inserted: DataFrame,
        schema_evolution: bool,
        retired: Sequence[str] = (),
        phys_live: Sequence[str] = (),
    ) -> tuple[DataFrame, str]:
        """Align the INSERT frame to the committed schema; returns
        ``(ins, committed_schema_json)``. With ``schema_evolution`` the
        committed schema = base fields + source-only fields, in that
        order — only the insert files are written in the evolved shape;
        existing files stay old-schema on disk and the explicit-schema
        read fills the added columns with null (Delta's mergeSchema
        semantics without rewriting history). Without it the insert is
        projected to the base columns. Shared by the COW and
        merge-on-read merge paths.

        TYPES are reconciled too, not just names — a source column
        wider than the table's (bigint into int) written as-is would
        commit INT64 files under an int manifest schema, bricking every
        later read (found by the lifecycle model fuzz: restore below a
        widen point, then merge with the still-wide source). Policy:
        narrower/equal source casts up to the table type silently
        (value-preserving); a WIDER source requires intent — refused
        with a pointer to widen_column unless ``schema_evolution`` is
        set, which auto-widens the committed schema (Delta's
        mergeSchema + typeWidening); anything else (string vs int,
        mismatched complex types) refuses loudly."""
        from pyspark.sql.types import StructField, StructType

        def reconcile(base_field, src_type):
            """-> the committed type for this column (may raise)."""
            if src_type == base_field.dataType:
                return base_field.dataType
            b = base_field.dataType.simpleString()
            s = src_type.simpleString()
            if b == s:
                # complex types differing ONLY in nullability metadata
                # (containsNull / nested nullable): values are identical
                # either way (the flags are advisory — probed on Spark 4:
                # even a NULL element writes and reads back fine under a
                # containsNull=false schema). Commit the LOOSENED union
                # of the two so the manifest never claims a tightness
                # (containsNull=false) that just-accepted source data
                # may violate.
                return _loosen_nullability(base_field.dataType, src_type)
            if s in VersionedTable._WIDENINGS.get(b, ()):
                if schema_evolution:
                    return src_type  # auto-widen the committed schema
                raise ValueError(
                    f"source column {base_field.name!r} is {s} but the table "
                    f"stores {b}: run widen_column({base_field.name!r}, {s!r}) "
                    "first, or pass schema_evolution=True to auto-widen"
                )
            if b in VersionedTable._WIDENINGS.get(s, ()):
                return base_field.dataType  # narrower source: safe upcast
            raise ValueError(
                f"source column {base_field.name!r} type {s} is incompatible "
                f"with table type {b}"
            )

        src_types = {f.name: f.dataType for f in inserted.schema.fields}
        if schema_evolution:
            base_fields = list(base_df.schema.fields)
            base_names = {f.name for f in base_fields}
            added = [f for f in source.schema.fields if f.name not in base_names]
            clash = [f.name for f in added if f.name in set(retired)]
            if clash:
                # a dropped column's physical name still lives in the
                # old files — re-adding it by name would resurrect the
                # old values on read. optimize() rewrites everything
                # under logical names and clears the retired set.
                raise ValueError(
                    f"cannot re-add dropped column(s) {clash} via schema evolution; "
                    "run optimize() first to clear the column-mapping debt"
                )
            clash = [f.name for f in added if f.name in set(phys_live)]
            if clash:
                # same hazard as add_column: the added name is a live
                # renamed column's PHYSICAL name, so the insert files
                # would carry two physical fields with one name
                raise ValueError(
                    f"cannot add column(s) {clash} via schema evolution: a renamed "
                    "column still uses the name as its PHYSICAL name in existing "
                    "files; run optimize() first to clear the column-mapping debt"
                )
            evolved = [
                StructField(
                    f.name,
                    reconcile(f, src_types[f.name]) if f.name in src_types else f.dataType,
                    f.nullable,
                )
                for f in base_fields
            ] + added
            ins = inserted.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in src_types
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in evolved
                ]
            )
            return ins, StructType(evolved).json()
        committed = [
            StructField(
                f.name,
                reconcile(f, src_types[f.name]) if f.name in src_types else f.dataType,
                f.nullable,
            )
            for f in base_df.schema.fields
        ]
        ins = inserted.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in committed]
        )
        return ins, StructType(committed).json()

    def _merge_into_mor(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched: str,
        max_retries: int,
        txn_app: str | None,
        txn_version: int | None,
        schema_evolution: bool,
        not_matched_by_source: str | None = None,
        nmbs_cond: str | None = None,
        when_matched_condition: str | None = None,
        when_not_matched_condition: str | None = None,
    ) -> int:
        """Merge-on-read MERGE (``strategy="mor"``): ONE commit that
        (a) writes deletion-vector entries for every matched live row
        — killing the preimages without rewriting their files — and
        (b) appends the postimage/insert rows as new files. The COW
        path rewrites every file containing a matched key; for the
        scattered-key upsert (the reference's K1 shape, Prensas.py:
        216-223 — every tick updates a different key) that is O(touched
        bytes) where this is O(changed rows): the r8 delete measurement
        (scattered 1% → 64/64 files, 36.3 MB COW vs 0.051 MB DV)
        applies with equal force here (r9 trade table in BASELINE.md).

        Semantics match the COW merge exactly — same key-bounds file
        pruning, existing DVs applied before matching, txn exactly-once
        map, optimistic-concurrency retry, schema evolution — and the
        snapshot after either path is identical, so CDF (``changes()``,
        a snapshot diff) emits the same insert/update rows across it.
        The trade is the read-side DV anti-join until ``optimize()`` or
        a COW merge materializes the pending deletes."""
        src_keys = source.select(*keys).distinct()
        for _ in range(max_retries):
            base = self.version()
            if base == 0:
                raise ValueError("merge_into target does not exist; create() it first")
            m = self._read_manifest(base)
            if txn_app is not None:
                seen = (m.get("txns") or {}).get(txn_app)
                if seen is not None and int(seen[0]) >= int(txn_version):
                    return int(seen[1])  # already applied (batch replay)
            cluster_by = m.get("cluster_by") or None
            base_df = self.snapshot(base)
            candidates = self._candidates_by_key_bounds(m, src_keys, keys)
            # WHEN NOT MATCHED BY SOURCE scope (see the COW path): the
            # condition's range bounds prune the in-scope files; the
            # deletes land as DV entries like everything else here
            nmbs_pred = None
            if not_matched_by_source == "delete":
                nmbs_scope = self._keep_files(
                    m, _extract_ranges(nmbs_cond) if nmbs_cond else {}
                )
                candidates = sorted(set(candidates) | set(nmbs_scope))
                nmbs_pred = (
                    F.coalesce(F.expr(nmbs_cond).cast("boolean"), F.lit(False))
                    if nmbs_cond
                    else F.lit(True)
                )
            wm_pred = None
            if when_matched_condition is not None:
                wm_pred = F.coalesce(
                    F.expr(when_matched_condition).cast("boolean"), F.lit(False)
                )
            live = None
            matched_pairs = None
            matched_false_keys = None
            if candidates:
                # live rows only (existing DVs subtracted): a row already
                # deleted must not be re-recorded in a new DV
                live = self._read_data(m, candidates, with_pos=True)
                if wm_pred is not None:
                    from functools import reduce as _reduce

                    eq = _reduce(
                        lambda a, b: a & b,
                        [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
                    )
                    matched_pairs = live.alias("t").join(source.alias("s"), eq, "inner")
                    tkeys = [F.col(f"t.{k}").alias(k) for k in keys]
                    # localCheckpoint: these tiny key frames gate THREE
                    # downstream jobs (DV hits, kept rewrite, insert) —
                    # without it each job re-runs the probe×source join
                    matched_true_keys = (
                        matched_pairs.filter(wm_pred)
                        .select(*tkeys)
                        .distinct()
                        .localCheckpoint(eager=True)
                    )
                    matched_false_keys = (
                        matched_pairs.select(*tkeys)
                        .distinct()
                        .join(matched_true_keys, keys, "left_anti")
                        .localCheckpoint(eager=True)
                    )
            if when_matched == "update":
                inserted = (
                    source
                    if matched_false_keys is None
                    else source.join(matched_false_keys, keys, "left_anti")
                )
            else:
                # delete matched; still insert the not-matched source rows
                if live is not None:
                    matched_keys = live.join(src_keys, keys, "left_semi").select(*keys).distinct()
                    inserted = source.join(matched_keys, keys, "left_anti")
                else:
                    inserted = source
            if when_not_matched_condition is not None:
                # WHEN NOT MATCHED AND <cond> THEN INSERT — fresh rows
                # only; matched postimages flow through (see COW path)
                wnm_pred = F.coalesce(
                    F.expr(when_not_matched_condition).cast("boolean"), F.lit(False)
                )
                if when_matched == "update" and live is not None:
                    mkeys = (
                        matched_true_keys
                        if matched_pairs is not None
                        else live.join(src_keys, keys, "left_semi")
                        .select(*keys)
                        .distinct()
                    )
                    inserted = inserted.join(mkeys, keys, "left_semi").unionByName(
                        inserted.join(mkeys, keys, "left_anti").filter(wnm_pred)
                    )
                else:
                    inserted = inserted.filter(wnm_pred)
            # identity columns: matched rows inherit their value from
            # the live candidate rows, fresh rows get watermark + rank
            inserted, new_identity = self._assign_identity(inserted, m, keys, live)
            # generated columns: compute the ones the source omits,
            # refuse sources that contradict one (before alignment, so
            # a computed column exists for the schema projection)
            inserted = self._apply_generated(inserted, m)
            ins, committed_schema = self._align_insert(
                base_df,
                source,
                inserted,
                schema_evolution,
                m.get("retired_cols") or (),
                sorted(_phys_conflicts(m)),
            )
            new_dvs = None
            killed = None
            nmbs_killed = None
            if live is not None:
                if matched_pairs is not None:
                    # KEY-level, like the COW path and the unconditioned
                    # merge: every live row of a matched-true KEY is
                    # replaced by the one source row (killing only the
                    # cond-true row would diverge from COW on a target
                    # holding duplicate keys); matched-false keys stay
                    # fully alive
                    killed = live.join(matched_true_keys, keys, "left_semi")
                else:
                    killed = live.join(src_keys, keys, "left_semi")
                hits = killed.select(
                    F.col("__file").alias("file"), F.col("__pos").alias("pos")
                )
                if nmbs_pred is not None:
                    nmbs_killed = live.filter(nmbs_pred).join(
                        src_keys, keys, "left_anti"
                    )
                    hits = hits.unionByName(
                        nmbs_killed.select(
                            F.col("__file").alias("file"), F.col("__pos").alias("pos")
                        )
                    )
                new_dvs = self._build_dvs(m, candidates, hits)
            appended: list[str] = []
            ins_empty = ins.isEmpty()
            if ins_empty and new_dvs is None:
                return base  # no-op merge
            if not ins_empty:
                self._check_constraints(ins, m)
                # clustered like the COW insert path so future merges/
                # scans can prune the appended files; zero-row parts of
                # a small source are dropped by _write_files
                appended = self._write_files_mapped(ins, m, cluster_by=cluster_by)
            # commit-time CDF (mirrors the COW path): append-only
            # commits reference their added files (mode "data", no
            # extra write); anything DV-killing preimages writes
            # explicit change files
            if new_dvs is None:
                cdf_rec: dict | None = {"mode": "data"}
            elif not m.get("cdf_enabled", True):
                cdf_rec = None  # property off: commit derive-mode, no write
            else:
                ins_live = None if ins_empty else ins
                if when_matched == "update":
                    mk = killed.select(*keys).distinct()
                    parts = [
                        (killed, "update_preimage"),
                        (
                            None
                            if ins_live is None
                            else ins_live.join(mk, keys, "left_semi"),
                            "update_postimage",
                        ),
                        (
                            None
                            if ins_live is None
                            else ins_live.join(mk, keys, "left_anti"),
                            "insert",
                        ),
                        (nmbs_killed, "delete"),
                    ]
                else:
                    parts = [
                        (killed, "delete"),
                        (nmbs_killed, "delete"),
                        (ins_live, "insert"),
                    ]
                cdf_names = self._write_cdf_files(
                    parts, committed_schema, n_files=max(1, len(candidates))
                )
                cdf_rec = (
                    {"mode": "files", "files": cdf_names}
                    if cdf_names
                    else {"mode": "none"}
                )
            stat_cols = list(dict.fromkeys((cluster_by or []) + keys))
            appended_stats = self._collect_stats_mapped(appended, stat_cols, m)
            new_stats = dict(self._stats_of(m))
            new_stats.update(appended_stats)
            m_dvs = m.get("dvs") or {}
            dvs_map = (
                new_dvs
                if new_dvs is not None
                else {f: list(v) for f, v in m_dvs.items()}
            )
            op = (
                f"merge:{when_matched}"
                + ("+syncdel" if not_matched_by_source == "delete" else "")
                + ":mor"
            )
            try:
                self._try_commit(
                    base,
                    list(m["files"]) + appended,
                    op,
                    cluster_by,
                    txn_app,
                    txn_version,
                    schema_json=committed_schema,
                    stats=new_stats,
                    dvs=dvs_map,
                    identity=new_identity,
                    cdf=cdf_rec,
                )
                return base + 1
            except CommitConflict:
                # logical conflict check (see the COW path): MOR never
                # drops files, so the rebase carries the head's file
                # set plus this merge's appended postimages, and layers
                # this merge's NEW DV entries over the head's map
                rb = self._rebase_merge_commit(
                    base,
                    candidates,
                    src_keys,
                    keys,
                    nmbs_on=not_matched_by_source == "delete",
                    txn_app=txn_app,
                    txn_version=txn_version,
                    op=op,
                    cluster_by=cluster_by,
                    committed_schema=committed_schema,
                    new_identity=new_identity,
                    cdf_rec=cdf_rec,
                    new_files=appended,
                    new_file_stats=appended_stats,
                    dv_delta={
                        f: [d for d in v if d not in (m_dvs.get(f) or [])]
                        for f, v in (new_dvs or {}).items()
                    },
                )
                if rb is not None:
                    return rb
                # orphaned DV/data files from the failed attempt are
                # cleaned by vacuum(); re-read and re-apply
                continue
        raise CommitConflict(
            f"merge_into(mor) on {self.root} gave up after {max_retries} conflicts"
        )

    def restore(self, version: int, max_retries: int = 5) -> int:
        """RESTORE: commit a NEW version whose state replays ``version``
        — file list, deletion-vector map, schema and stats all come
        from the old manifest (by reference: data files are immutable
        and the stats sidecar is reused by name, so a restore moves no
        bytes). History stays append-only — the bad commits remain
        inspectable and time travel through them still works — and
        every committed version's files are vacuum-protected, so the
        restored state is always intact. The per-app txn map carries
        forward from the CURRENT head (not the restore point): a
        replayed micro-batch that was applied before the incident must
        still be recognized as applied after it."""

        def mutate(base: int, head: dict) -> dict:
            if not 1 <= version <= base:
                raise ValueError(f"cannot restore to v{version}; table is at v{base}")
            m = self._read_manifest(version)
            return {
                "op": f"restore:{version}",
                "files": list(m["files"]),
                "cluster_by": m.get("cluster_by") or None,
                "schema_json": m.get("schema"),
                "stats": None if m.get("stats_file") else (m.get("stats") or None),
                "stats_file_ref": m.get("stats_file"),
                "dvs": {f: list(v) for f, v in (m.get("dvs") or {}).items()},
                # the restored state's column mapping, not the
                # current head's (a restore across a rename must
                # bring the old logical names back)
                "col_map": m.get("col_map") or {},
                "retired": m.get("retired_cols") or [],
                # the restored version's constraints, not the current
                # head's (Delta's restore-metadata semantics): a
                # constraint added AFTER the restore point may
                # reference columns the restored schema lacks, and
                # inheriting it would make every later write fail
                # with an unresolved-column error; the restored rows
                # were validated against the restored constraints
                # when first committed
                "constraints": m.get("constraints") or {},
                # likewise the restored version's bloom sidecar —
                # its entries match the restored file list
                "bloom_file_ref": m.get("bloom_file"),
                # and its generated-column declarations (same
                # reasoning as constraints: a later declaration may
                # reference columns the restored schema lacks)
                "generated": m.get("generated") or {},
                # identity DECLARATIONS restore with the schema,
                # but each WATERMARK is floored at the current
                # head's — ids assigned after the restore point
                # must never be reissued (the txn-map reasoning)
                "identity": {
                    n: max(int(wm), int((head.get("identity") or {}).get(n, 0)))
                    for n, wm in (m.get("identity") or {}).items()
                },
                "cdf": {"mode": "derive"},  # changes() derives across a restore
            }

        return self._commit_patch("restore", mutate, max_retries)

    def add_constraint(self, name: str, expr: str, max_retries: int = 5) -> int:
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr): from this
        version on, every writer validates its NEW rows against
        ``expr`` (a SQL boolean expression over logical column names)
        and raises :class:`ConstraintViolation` instead of committing
        definitively-false rows — SQL-standard semantics, so NULL
        (unknown) passes. Like Delta, the EXISTING data must already
        satisfy the constraint or this raises. One manifest commit;
        no data moves."""

        def mutate(base: int, m: dict) -> dict:
            cons = dict(m.get("constraints") or {})
            if name in cons:
                raise ValueError(f"constraint {name!r} already exists")
            bad = self.snapshot(base).filter(F.expr(expr).eqNullSafe(F.lit(False)))
            if not bad.isEmpty():
                raise ConstraintViolation(
                    f"existing rows violate CHECK {name!r} ({expr}) on {self.root}"
                )
            cons[name] = expr
            return {"op": f"alter:constraint:{name}", "constraints": cons}

        return self._commit_patch("add_constraint", mutate, max_retries)

    def drop_constraint(self, name: str, max_retries: int = 5) -> int:
        """Remove a CHECK constraint (manifest-only commit)."""

        def mutate(base: int, m: dict) -> dict:
            cons = dict(m.get("constraints") or {})
            if name not in cons:
                raise ValueError(f"no such constraint {name!r} (have {sorted(cons)})")
            del cons[name]
            return {"op": f"alter:unconstraint:{name}", "constraints": cons}

        return self._commit_patch("drop_constraint", mutate, max_retries)

    def set_generated(self, name: str, expr: str, max_retries: int = 5) -> int:
        """Declare an EXISTING column as GENERATED ALWAYS AS (expr) —
        Delta's generated columns, with add_constraint's validate-then-
        record contract: the declaration scans the current snapshot
        once and refuses if any live row contradicts the expression
        (NULL-safe equality), then every writer either COMPUTES the
        column when a source omits it or REFUSES a source that
        contradicts it (:meth:`_apply_generated`). Renaming/dropping
        the generated column or any column its expression reads refuses
        until ``drop_generated`` (same guard as CHECK constraints);
        WIDENING stays legal — it is value-preserving, so the recorded
        expression reads the same values and writers cast the computed
        result to the (possibly widened) declared type (pinned in
        TestGeneratedColumns.test_alter_guards_and_drop_generated).
        One manifest commit; no data moves."""

        def mutate(base: int, m: dict) -> dict:
            gen = dict(m.get("generated") or {})
            if name in gen:
                raise ValueError(f"column {name!r} is already generated")
            snap = self.snapshot(base)
            if name not in snap.columns:
                raise ValueError(f"no such column {name!r} (have {snap.columns})")
            bad = snap.filter(~F.col(name).eqNullSafe(F.expr(expr)))
            if not bad.isEmpty():
                raise ConstraintViolation(
                    f"existing rows contradict GENERATED {name!r} AS ({expr}) on {self.root}"
                )
            gen[name] = expr
            return {"op": f"alter:generated:{name}", "generated": gen}

        return self._commit_patch("set_generated", mutate, max_retries)

    def drop_generated(self, name: str, max_retries: int = 5) -> int:
        """Remove a generated-column declaration (the column and its
        values stay; writers stop computing/validating it)."""

        def mutate(base: int, m: dict) -> dict:
            gen = dict(m.get("generated") or {})
            if name not in gen:
                raise ValueError(f"no generated column {name!r} (have {sorted(gen)})")
            del gen[name]
            return {"op": f"alter:drop_generated:{name}", "generated": gen}

        return self._commit_patch("drop_generated", mutate, max_retries)

    def set_identity(self, name: str, max_retries: int = 5) -> int:
        """Declare an EXISTING integral column as GENERATED ALWAYS AS
        IDENTITY — Delta's identity columns, with the validate-then-
        record contract of ``add_constraint``/``set_generated``: the
        declaration scans the current snapshot once and refuses if any
        live value is NULL or duplicated, records ``max(col)`` as the
        HIGH WATERMARK in the manifest, and from then on every merge
        (a) REFUSES a source that carries the column — ALWAYS
        semantics, users cannot supply values — and (b) assigns
        ``watermark + row_number`` (ordered by the merge keys) to the
        INSERTED rows while matched rows KEEP their existing value
        (:meth:`_assign_identity`). The key-ordered assignment makes
        ids DETERMINISTIC for a key-unique source — reproducible
        ingest, and the property that lets the driver value-hash the
        gate — where Delta only promises unique-with-gaps.
        Rename/drop of the column refuse until ``drop_identity``;
        widening stays legal (the watermark is width-independent).

        100 TB note: fresh-id assignment is a row_number over ONLY the
        new rows of a write (a single-partition window of the batch,
        not the table) plus one count for the watermark bump — O(write
        batch), never O(table); the declaration's uniqueness scan is
        the one full pass, same as add_constraint."""
        from pyspark.sql.types import StructType

        def mutate(base: int, m: dict) -> dict:
            ids = dict(m.get("identity") or {})
            if name in ids:
                raise ValueError(f"column {name!r} is already an identity column")
            if name in (m.get("generated") or {}):
                raise ValueError(f"column {name!r} is already generated")
            schema = StructType.fromJson(json.loads(m["schema"]))
            field = next((f for f in schema.fields if f.name == name), None)
            if field is None:
                raise ValueError(
                    f"no such column {name!r} (have {[f.name for f in schema.fields]})"
                )
            if field.dataType.simpleString() not in ("int", "bigint", "smallint"):
                raise ValueError(
                    f"identity column must be integral, {name!r} is "
                    f"{field.dataType.simpleString()}"
                )
            snap = self.snapshot(base)
            agg = snap.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(name).alias("nn"),
                F.countDistinct(name).alias("nd"),
                F.max(name).alias("mx"),
            ).collect()[0]
            if agg["n"] != agg["nn"]:
                raise ConstraintViolation(
                    f"existing rows have NULL {name!r} on {self.root}"
                )
            if agg["nn"] != agg["nd"]:
                raise ConstraintViolation(
                    f"existing {name!r} values are not unique on {self.root}"
                )
            ids[name] = int(agg["mx"]) if agg["mx"] is not None else 0
            return {"op": f"alter:identity:{name}", "identity": ids}

        return self._commit_patch("set_identity", mutate, max_retries)

    def set_cdf(self, enabled: bool, max_retries: int = 5) -> int:
        """Toggle the commit-time change feed (Delta's
        ``delta.enableChangeDataFeed`` table property; ON by default
        here). With it OFF, row-mutating commits skip their change
        files — saving O(changed rows) of write on tables nobody tails
        — and commit derive-mode, so ``changes()`` over any range
        containing them falls back to the snapshot-diff derivation
        (correct, just the pre-r12 cost). Re-enabling takes effect on
        the NEXT commit; ranges spanning the off window keep deriving,
        exactly like Delta's property."""

        def mutate(base: int, m: dict) -> dict | None:
            if bool(m.get("cdf_enabled", True)) == bool(enabled):
                return None  # already in the requested state
            op = f"alter:cdf:{'on' if enabled else 'off'}"
            return {"op": op, "cdf_enabled": bool(enabled)}

        return self._commit_patch("set_cdf", mutate, max_retries)

    def record_txn(
        self, txn_app: str, txn_version: int, max_retries: int = 5
    ) -> int:
        """Advance ``txn_app``'s cursor in the txn map with a
        METADATA-ONLY commit — files, stats, DVs and schema all carried
        by reference (op ``"txn"``, one manifest write). The maintained-
        table consumers use this when a source range nets to ZERO
        changes (layout-only commits, self-cancelling churn): without a
        stamp the applied cursor never passes the no-op range and every
        later refresh re-pays ``changes()`` over it; with one, a
        refresh that finds nothing new stays a version-pointer read.
        No-op (no commit) when the app's cursor already stands at or
        past ``txn_version``. Returns the committed (or unchanged)
        version."""

        def mutate(base: int, m: dict) -> dict | None:
            seen = (m.get("txns") or {}).get(txn_app)
            if seen is not None and int(seen[0]) >= int(txn_version):
                return None  # cursor already there
            return {"op": "txn", "txn_app": txn_app, "txn_version": int(txn_version)}

        return self._commit_patch("record_txn", mutate, max_retries)

    def drop_identity(self, name: str, max_retries: int = 5) -> int:
        """Remove an identity declaration (the column and its values
        stay; writers stop assigning and sources may carry it again)."""

        def mutate(base: int, m: dict) -> dict:
            ids = dict(m.get("identity") or {})
            if name not in ids:
                raise ValueError(f"no identity column {name!r} (have {sorted(ids)})")
            del ids[name]
            return {"op": f"alter:drop_identity:{name}", "identity": ids}

        return self._commit_patch("drop_identity", mutate, max_retries)

    def _assign_identity(
        self,
        inserted: DataFrame,
        m: dict,
        keys: list[str],
        target_ids: DataFrame | None,
    ) -> tuple[DataFrame, dict[str, int] | None]:
        """Apply the identity contract to a merge's insert frame:
        refuse a source carrying an identity column; matched rows
        (key present in ``target_ids``, the touched/candidate rows of
        the target) INHERIT their existing value; fresh rows get
        ``watermark + row_number`` ordered by the merge keys. Returns
        ``(frame, new_watermarks)`` — None when the table has no
        identity columns. The row_number window covers only the new
        rows of this write (single partition of the batch, documented
        in set_identity)."""
        ids = m.get("identity") or {}
        if not ids:
            return inserted, None
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(m["schema"]))
        types = {f.name: f.dataType.simpleString() for f in schema.fields}
        new_wm = dict(ids)
        for name in sorted(ids):
            if name in inserted.columns:
                raise ValueError(
                    f"column {name!r} is GENERATED ALWAYS AS IDENTITY; "
                    "the source must omit it"
                )
            if target_ids is not None and name in target_ids.columns:
                lookup = target_ids.select(*keys, name).dropDuplicates(keys)
                inserted = inserted.join(lookup, keys, "left")
            else:
                inserted = inserted.withColumn(
                    name, F.lit(None).cast(types.get(name, "bigint"))
                )
            matched = inserted.filter(F.col(name).isNotNull())
            fresh = inserted.filter(F.col(name).isNull()).drop(name)
            n_new = fresh.count()
            if n_new:
                w = Window.orderBy(*[F.col(k) for k in keys])
                fresh = fresh.withColumn(
                    name,
                    (F.row_number().over(w) + F.lit(int(ids[name]))).cast(
                        types.get(name, "bigint")
                    ),
                )
                inserted = matched.unionByName(fresh)
            else:
                inserted = matched
            new_wm[name] = int(ids[name]) + int(n_new)
        return inserted, new_wm

    def _apply_generated(self, df: DataFrame, m: dict) -> DataFrame:
        """Enforce the table's generated columns on a write frame: a
        MISSING generated column is computed from its expression (the
        convenience half of the feature — sources never have to carry
        derivable columns); a PRESENT one is validated row-by-row
        against the expression and a contradiction refuses the write
        (the integrity half — a wrong precomputed value can never land,
        same failure class as a CHECK violation). One combined filter
        job for all validated columns; no-op when the table declares
        none."""
        gen = m.get("generated") or {}
        if not gen:
            return df
        to_check = []
        for name, expr in gen.items():
            if name in df.columns:
                to_check.append((name, expr))
            else:
                df = df.withColumn(name, F.expr(expr))
        if to_check:
            viol = F.lit(False)
            for name, expr in to_check:
                viol = viol | ~F.col(name).eqNullSafe(F.expr(expr))
            if not df.filter(viol).isEmpty():
                raise ConstraintViolation(
                    f"write contradicts GENERATED column(s) "
                    f"{sorted(n for n, _ in to_check)} on {self.root}"
                )
        return df

    def _check_constraints(self, df: DataFrame, m: dict) -> None:
        """Raise :class:`ConstraintViolation` if any NEW row
        definitively violates a table CHECK constraint. One combined
        filter job for all constraints (not one per constraint)."""
        cons = m.get("constraints") or {}
        if not cons:
            return
        viol = F.lit(False)
        for expr in cons.values():
            viol = viol | F.expr(expr).eqNullSafe(F.lit(False))
        if not df.filter(viol).isEmpty():
            raise ConstraintViolation(
                f"write violates CHECK constraint(s) {sorted(cons)} on {self.root}"
            )

    def rename_column(self, old: str, new: str, max_retries: int = 5) -> int:
        """ALTER TABLE ... RENAME COLUMN without touching a data byte —
        column mapping, the Delta/Iceberg contract: files keep their
        PHYSICAL column names forever; the manifest maps logical →
        physical, readers alias on scan, writers translate on write.
        The one O(files) cost is re-keying the stats sidecar to the new
        logical name (pruning lookups stay logical end-to-end); the
        data files, DV files and row contents are carried by reference.
        Time travel before the rename sees the old name (each manifest
        owns its mapping); ``restore`` across a rename brings the old
        names back. Returns the committed version."""
        from pyspark.sql.types import StructField, StructType

        def mutate(base: int, m: dict) -> dict:
            schema = StructType.fromJson(json.loads(m["schema"]))
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"no such column {old!r} (have {names})")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            _guard_constraint_refs(m, old, "rename")
            cmap = dict(m.get("col_map") or {})
            # the new name must not collide with another live column's
            # PHYSICAL name (renaming back to this column's OWN physical
            # name is fine — the mapping collapses to identity) nor
            # resurrect a dropped physical name
            own_phys = cmap.get(old, old)
            if new in (_phys_conflicts(m) - {own_phys}):
                raise ValueError(
                    f"cannot rename to {new!r}: another renamed column still uses "
                    "it as its PHYSICAL name in existing files; run optimize() "
                    "first to clear the column-mapping debt"
                )
            if new in (m.get("retired_cols") or []):
                raise ValueError(
                    f"cannot rename to dropped column name {new!r}; run optimize() "
                    "first to clear the column-mapping debt"
                )
            cmap[new] = cmap.pop(old, old)
            new_schema = StructType(
                [
                    StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                    for f in schema.fields
                ]
            ).json()
            cluster_by = [new if c == old else c for c in (m.get("cluster_by") or [])] or None
            stats = {
                f: {(new if c == old else c): v for c, v in fs.items()}
                for f, fs in self._stats_of(m).items()
            }
            patch = {
                "op": f"alter:rename:{old}->{new}",
                "cluster_by": cluster_by,
                "schema_json": new_schema,
                "stats": stats or None,
                "col_map": cmap,
                "cdf": {"mode": "derive"},  # changes() derives across a rename
            }
            # bloom entries are keyed by LOGICAL column name and the
            # underlying values do not change on rename — re-key the
            # sidecar so point-lookup skipping keeps working under the
            # new name (O(index rows), no data read)
            bloom_ref = m.get("bloom_file")
            if bloom_ref and old in self._bloom_of(m):
                bdf = self.spark.read.parquet(os.path.join(self._log, bloom_ref))
                patch["bloom_rows"] = bdf.withColumn(
                    "col",
                    F.when(F.col("col") == old, F.lit(new)).otherwise(F.col("col")),
                )
            return patch

        return self._commit_patch("rename_column", mutate, max_retries)

    def add_column(self, name: str, dtype: str, max_retries: int = 5) -> int:
        """ALTER TABLE ... ADD COLUMN (nullable, manifest-only): the
        column joins the logical schema; existing files simply lack it
        and the explicit-schema read fills null — the same contract as
        schema-evolution merges, as a standalone DDL. Re-adding a
        DROPPED name raises until ``optimize()`` clears the retired
        set (resurrection guard). ``dtype`` is a Spark DDL type string
        ("bigint", "string", ...)."""
        from pyspark.sql.types import StructField, StructType, _parse_datatype_string

        def mutate(base: int, m: dict) -> dict:
            schema = StructType.fromJson(json.loads(m["schema"]))
            if name in [f.name for f in schema.fields]:
                raise ValueError(f"column {name!r} already exists")
            if name in (m.get("retired_cols") or []):
                raise ValueError(
                    f"cannot re-add dropped column {name!r}; run optimize() first "
                    "to clear the column-mapping debt"
                )
            if name in _phys_conflicts(m):
                raise ValueError(
                    f"cannot add column {name!r}: a renamed column still uses it as "
                    "its PHYSICAL name in existing files; run optimize() first to "
                    "clear the column-mapping debt"
                )
            new_schema = StructType(
                list(schema.fields) + [StructField(name, _parse_datatype_string(dtype), True)]
            ).json()
            return {"op": f"alter:add:{name}", "schema_json": new_schema}

        return self._commit_patch("add_column", mutate, max_retries)

    #: value-preserving type widenings (Delta type widening): narrower
    #: physical files stay as-is; Spark 4's vectorized parquet reader
    #: widens per file against the manifest schema. long -> double is
    #: deliberately ABSENT (lossy above 2^53).
    _WIDENINGS = {
        "tinyint": ("smallint", "int", "bigint", "double"),
        "smallint": ("int", "bigint", "double"),
        "int": ("bigint", "double"),
        "float": ("double",),
    }

    def widen_column(self, name: str, new_type: str, max_retries: int = 5) -> int:
        """ALTER TABLE ... ALTER COLUMN TYPE, widening only — Delta's
        type widening, manifest-only: existing files keep the narrow
        physical type forever (Spark 4's parquet reader widens each
        file against the manifest schema at scan time — probed and
        pinned in tests), writers after the commit produce the wide
        type, and the two coexist under one logical schema exactly like
        schema-evolution merges. Value-preserving widenings only (see
        ``_WIDENINGS``; ``long -> double`` is refused — lossy above
        2^53 — as is every narrowing). Stats sidecar and Bloom index
        stay valid: range canon compares ints uniformly and the bloom's
        canonical ``CAST(col AS STRING)`` form is identical for the
        same integer in either width. Time travel before the widen sees
        the narrow type; CDF across it casts the old side (changes()).
        Returns the committed version (or the current one if the column
        already has ``new_type``)."""
        from pyspark.sql.types import StructField, StructType, _parse_datatype_string

        target = _parse_datatype_string(new_type)

        def mutate(base: int, m: dict) -> dict | None:
            # widening deliberately SKIPS _guard_constraint_refs (unlike
            # rename/drop): it is value-preserving, so a CHECK expression
            # keeps evaluating identically and a GENERATED expression
            # reads the same values (writers cast the computed result to
            # the declared type) — pinned in test_alter_guards_and_
            # drop_generated. The ONE exception: an IDENTITY column must
            # stay integral (int -> double is a legal widening but would
            # have _assign_identity committing floating-point ids,
            # breaking set_identity's declared invariant)
            if name in (m.get("identity") or {}) and target.simpleString() not in (
                "int",
                "bigint",
                "smallint",
            ):
                raise ValueError(
                    f"cannot widen identity column {name!r} to "
                    f"{target.simpleString()}: identity columns must stay "
                    "integral (drop_identity first)"
                )
            schema = StructType.fromJson(json.loads(m["schema"]))
            field = next((f for f in schema.fields if f.name == name), None)
            if field is None:
                raise ValueError(
                    f"no such column {name!r} (have {[f.name for f in schema.fields]})"
                )
            cur = field.dataType.simpleString()
            if target.simpleString() == cur:
                return None
            if target.simpleString() not in self._WIDENINGS.get(cur, ()):
                raise ValueError(
                    f"cannot alter {name!r} from {cur} to {target.simpleString()}: only "
                    f"value-preserving widenings are allowed "
                    f"({cur} -> {self._WIDENINGS.get(cur) or 'nothing'})"
                )
            new_schema = StructType(
                [
                    StructField(name, target, f.nullable) if f.name == name else f
                    for f in schema.fields
                ]
            ).json()
            return {
                "op": f"alter:widen:{name}:{cur}->{target.simpleString()}",
                "schema_json": new_schema,
            }

        return self._commit_patch("widen_column", mutate, max_retries)

    def drop_column(self, name: str, max_retries: int = 5) -> int:
        """ALTER TABLE ... DROP COLUMN without rewrites: the column
        leaves the logical schema and the stats; its PHYSICAL name is
        recorded in ``retired_cols`` so a later schema-evolution merge
        cannot silently resurrect the old values by re-adding the same
        name (it raises until an ``optimize()`` rewrite clears the
        mapping debt — the documented REORG contract). Dropping a
        cluster_by column or the last column is an error. Time travel
        before the drop still sees the column."""
        from pyspark.sql.types import StructType

        def mutate(base: int, m: dict) -> dict:
            schema = StructType.fromJson(json.loads(m["schema"]))
            names = [f.name for f in schema.fields]
            if name not in names:
                raise ValueError(f"no such column {name!r} (have {names})")
            if name in (m.get("cluster_by") or []):
                raise ValueError(f"cannot drop cluster_by column {name!r}")
            if len(names) == 1:
                raise ValueError("cannot drop the last column")
            _guard_constraint_refs(m, name, "drop")
            cmap = dict(m.get("col_map") or {})
            phys = cmap.pop(name, name)
            retired = list(m.get("retired_cols") or []) + [phys]
            new_schema = StructType([f for f in schema.fields if f.name != name]).json()
            stats = {
                f: {c: v for c, v in fs.items() if c != name}
                for f, fs in self._stats_of(m).items()
            }
            stats = {f: fs for f, fs in stats.items() if fs}
            return {
                "op": f"alter:drop:{name}",
                "schema_json": new_schema,
                "stats": stats or None,
                "col_map": cmap,
                "retired": retired,
            }

        return self._commit_patch("drop_column", mutate, max_retries)

    def delete_where(
        self,
        where: dict[str, tuple] | str,
        max_retries: int = 5,
    ) -> int:
        """Merge-on-read DELETE via deletion vectors: rows matching
        ``where`` disappear from every subsequent read WITHOUT
        rewriting any data file. ``where`` takes the same dict /
        SQL-string predicate forms as :meth:`scan`.

        Copy-on-write (``merge_into(when_matched="delete")``) rewrites
        every file containing a matched key — correct, but at 100 TB a
        delete touching 1 row in each of 10k files rewrites 10k files.
        This is the Delta/Iceberg-v2 alternative: the delete commits a
        DV parquet of ``(file, pos)`` coordinates (physical row index
        via ``_metadata.row_index``) and readers subtract them with an
        anti-join (:meth:`_read_data`) — write cost tracks the DELETED
        ROWS, not the touched bytes. The trade is a read-side join until
        the next ``optimize()``/merge rewrite materializes the deletes
        and clears the file's DV list; repeated deletes stack DV files
        per data file (readers union them), which the same compaction
        bounds.

        Commit semantics match every other writer: stats-pruned
        candidate files, existing DVs applied BEFORE matching (a row
        already deleted is not re-recorded), optimistic-concurrency
        retry on :class:`CommitConflict`, orphaned DV parquet from a
        lost race reclaimed by ``vacuum()``. Time travel holds: each
        manifest carries its own ``dvs`` map, so ``snapshot(v)`` before
        the delete still sees the rows. Returns the committed version
        (the unchanged current version when nothing matched)."""
        if isinstance(where, str):
            ranges, cond = _extract_ranges(where), F.expr(where)
        else:
            ranges = where
            cond = F.lit(True)
            for c, (lo, hi) in where.items():
                if lo is not None:
                    cond = cond & (F.col(c) >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col(c) <= F.lit(hi))
        for _ in range(max_retries):
            base = self.version()
            if base == 0:
                raise ValueError("delete_where target does not exist; create() it first")
            m = self._read_manifest(base)
            candidates = self._keep_files(m, ranges)
            if not candidates:
                return base  # predicate provably matches nothing
            # manifest-schema read with existing DVs applied (a row
            # already deleted is not re-recorded) and the (file, pos)
            # coordinates exposed — all three invariants owned by
            # _read_data, not re-implemented here
            live = self._read_data(m, candidates, with_pos=True)
            doomed = live.filter(cond)
            hits = doomed.select(
                F.col("__file").alias("file"), F.col("__pos").alias("pos")
            )
            try:
                return self._commit_dv_delete(
                    base, m, candidates, hits, cdf_rows=doomed, ranges=ranges
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"delete_where on {self.root} gave up after {max_retries} conflicts")

    def delete_matching(
        self,
        source: DataFrame,
        keys: Sequence[str],
        max_retries: int = 5,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Keyed merge-on-read DELETE (Iceberg's "equality delete"):
        every table row whose key tuple appears in ``source`` gets a
        deletion-vector entry — no data file rewritten. This is the
        DV twin of ``merge_into(when_matched="delete")`` for the
        delete-only case (the reference's limpieza reset-by-key,
        Prensas.py:216-223 shape): COW rewrites every file holding a
        matched key; this writes O(matched rows). Same pruning as the
        merge probe (source key bounds vs manifest stats skip files
        that cannot hold a match), same existing-DV subtraction, same
        optimistic-concurrency retry. Returns the committed version
        (unchanged when nothing matched).

        ``txn_app``/``txn_version`` — the same exactly-once protocol as
        :meth:`merge_into`: a replayed batch whose app already recorded
        this version is a no-op. The IVM sinks stamp a DELETE-ONLY
        batch's commit through this (without it, a batch that only
        empties groups would never record its txn and a replay would
        re-subtract — the negative-count guard catches it, but the txn
        is what makes the replay a clean no-op)."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version must be passed together")
        keys = list(keys)
        src_keys = source.select(*keys).distinct()
        for _ in range(max_retries):
            base = self.version()
            if base == 0:
                raise ValueError("delete_matching target does not exist; create() it first")
            m = self._read_manifest(base)
            if txn_app is not None:
                seen = (m.get("txns") or {}).get(txn_app)
                if seen is not None and int(seen[0]) >= int(txn_version):
                    return int(seen[1])  # already applied (batch replay)
            candidates = self._candidates_by_key_bounds(m, src_keys, keys)
            if not candidates:
                return base  # no file can hold a matching key
            live = self._read_data(m, candidates, with_pos=True)
            doomed = live.join(src_keys, keys, "left_semi")
            hits = doomed.select(
                F.col("__file").alias("file"), F.col("__pos").alias("pos")
            )
            try:
                return self._commit_dv_delete(
                    base,
                    m,
                    candidates,
                    hits,
                    cdf_rows=doomed,
                    txn_app=txn_app,
                    txn_version=txn_version,
                    src_keys=src_keys,
                    keys=keys,
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"delete_matching on {self.root} gave up after {max_retries} conflicts")

    #: max distinct source keys to probe against per-file blooms on the
    #: merge path; beyond this the probe is skipped (conservative) —
    #: the scattered-key shape this serves is small-source by nature
    BLOOM_MERGE_PROBE_CAP = 1024

    def _candidates_by_key_bounds(
        self, m: dict, src_keys: DataFrame, keys: Sequence[str]
    ) -> list[str]:
        """Files of manifest ``m`` whose stats ranges can intersect the
        source's key bounds — the stats pre-prune shared by the MERGE
        touched-file probe and keyed DV deletes: a file whose recorded
        [min, max] provably misses every source key is never read.

        When a key column carries a Bloom index the survivors are
        refined per file: [min(src), max(src)] is ONE global range, so
        a scattered-key source against a column uncorrelated with the
        clustering keeps every file — exactly the reference's per-tick
        K1 shape — while the bloom keeps only files where at least one
        source key is maybe-present. Per-column any-match is a superset
        of the true per-row conjunction, so pruning stays sound for
        multi-key merges; sources above BLOOM_MERGE_PROBE_CAP distinct
        keys skip the probe (the win targets small scattered sources,
        not bulk backfills)."""
        stats = self._stats_of(m)
        candidates = list(m["files"])
        stat_keys = [k for k in keys if any(k in (stats.get(f) or {}) for f in candidates)]
        if stat_keys:
            bounds_row = src_keys.agg(
                *[F.min(k).alias(f"lo_{i}") for i, k in enumerate(stat_keys)],
                *[F.max(k).alias(f"hi_{i}") for i, k in enumerate(stat_keys)],
            ).collect()[0]
            candidates = [
                f
                for f in candidates
                if all(
                    _range_intersects(
                        (stats.get(f) or {}).get(k),
                        bounds_row[f"lo_{i}"],
                        bounds_row[f"hi_{i}"],
                    )
                    for i, k in enumerate(stat_keys)
                )
            ]
        blooms = self._bloom_of(m)
        for k in (k for k in keys if k in blooms):
            if len(candidates) <= 1:
                break
            vals = [
                r[0]
                for r in src_keys.select(k)
                .distinct()
                .limit(self.BLOOM_MERGE_PROBE_CAP + 1)
                .collect()
            ]
            if len(vals) > self.BLOOM_MERGE_PROBE_CAP:
                continue
            vals = [v for v in vals if v is not None]  # NULL keys match nothing
            col_blooms = blooms[k]
            candidates = [
                f
                for f in candidates
                if (entry := col_blooms.get(f)) is None
                or any(_bloom_maybe_contains(entry, v) for v in vals)
            ]
        return candidates

    def _build_dvs(self, m: dict, candidates: list[str], hits: DataFrame) -> dict | None:
        """Write ``hits`` (file, pos) as DV parquet and return the
        manifest's dvs map with each new DV attached to the candidate
        files its name-range stats cover — or ``None`` when nothing
        matched (zero-row parts dropped). Shared by the DV deletes and
        the merge-on-read upsert."""
        # cluster DV rows by data-file name so each DV part covers a
        # narrow name range — the footer stats below then attach each
        # DV to few data files instead of every candidate
        dv_names = self._write_files(hits, cluster_by=["file"], prefix="dv")
        if not dv_names:
            return None
        dv_stats = self._collect_stats(dv_names, ["file"])
        new_dvs = {f: list(v) for f, v in (m.get("dvs") or {}).items()}
        for d in dv_names:
            rng = (dv_stats.get(d) or {}).get("file")
            for f in candidates:
                if rng is None or (rng[0] <= f <= rng[1]):
                    new_dvs.setdefault(f, []).append(d)
        return new_dvs

    def _commit_dv_delete(
        self,
        base: int,
        m: dict,
        candidates: list[str],
        hits: DataFrame,
        cdf_rows: DataFrame | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
        src_keys: DataFrame | None = None,
        keys: Sequence[str] | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> int:
        """Write ``hits`` (file, pos) as DV parquet, attach each DV to
        the candidate files its name-range stats cover, and commit a
        ``delete`` version with the data file set — and therefore the
        stats sidecar — unchanged (reused by reference; DV subtraction
        only narrows value ranges, so pruning stays a safe
        over-approximation). Returns the new version, or ``base``
        unchanged when ``hits`` is empty; raises CommitConflict for
        the caller's retry loop.

        ``cdf_rows`` — the doomed rows as full images — become the
        commit's change files (``_change_type='delete'``), written only
        when something actually matched; a caller not supplying them
        leaves the commit derive-mode (changes() falls back).

        LOGICAL conflict rebase (r13): when the commit loses its race
        but the intervening commits are provably disjoint from this
        delete's read set — every candidate file carried unchanged
        (same DV list), table metadata untouched, and no ADDED file
        can hold a row this delete should have seen (``ranges`` bounds
        for delete_where, ``src_keys``/``keys`` stats+bloom probe for
        delete_matching) — the already-written DV and change files
        re-commit against the new head as ``delete:rebase``, metadata
        only. At 100 TB that is a keyed delete losing a race to a
        1-row streaming upsert re-linking its finished DV parquet
        instead of re-running the O(candidates) probe join. Anything
        unprovable raises to the caller's full retry."""
        m_dvs = m.get("dvs") or {}
        new_dvs = self._build_dvs(m, candidates, hits)
        if new_dvs is None:
            return base  # nothing matched
        cdf_rec = None
        if cdf_rows is not None and m.get("cdf_enabled", True):
            names = self._write_cdf_files(
                [(cdf_rows, "delete")], m.get("schema"), n_files=len(candidates)
            )
            cdf_rec = (
                {"mode": "files", "files": names} if names else {"mode": "none"}
            )
        try:
            self._try_commit(
                base,
                list(m["files"]),
                "delete",
                m.get("cluster_by") or None,
                txn_app,
                txn_version,
                schema_json=m.get("schema"),
                stats=None if m.get("stats_file") else (m.get("stats") or None),
                stats_file_ref=m.get("stats_file"),
                dvs=new_dvs,
                cdf=cdf_rec,
            )
            return base + 1
        except CommitConflict:
            if ranges is not None:
                rng = ranges

                def probe(head_m: dict, added: list[str]) -> bool:
                    return bool(self._keep_files({**head_m, "files": added}, rng))

                sk, ks = None, []
            elif src_keys is not None:
                probe, sk, ks = None, src_keys, list(keys or [])
            else:
                raise  # no read-scope info: caller retries fully
            rb = self._rebase_merge_commit(
                base,
                candidates,
                sk,
                ks,
                nmbs_on=False,
                txn_app=txn_app,
                txn_version=txn_version,
                op="delete",
                cluster_by=m.get("cluster_by") or None,
                committed_schema=m.get("schema"),
                new_identity=None,
                cdf_rec=cdf_rec,
                dv_delta={
                    f: [d for d in v if d not in (m_dvs.get(f) or [])]
                    for f, v in new_dvs.items()
                },
                added_probe=probe,
            )
            if rb is not None:
                return rb
            raise

    def optimize(
        self,
        n_files: int,
        zorder_by: Sequence[str] | None = None,
        max_retries: int = 5,
        where: dict[str, tuple] | str | None = None,
    ) -> int:
        """Compact the table into ``n_files`` files (range-clustered if
        the table is) as a new committed version — same data, new
        layout. The streaming sink accretes one small insert file per
        micro-batch with new keys; periodic OPTIMIZE keeps the file
        count bounded so scans and merge pruning stay effective.
        Concurrency-safe like any commit: a conflicting writer wins and
        the compaction retries over the new snapshot.

        ``zorder_by=(a, b)`` lays the files out along the Morton code
        of two integer columns instead of the linear cluster order:
        each file then covers a compact RECTANGLE of the (a, b) space,
        so the manifest stats recorded for BOTH columns prune ``scan``
        predicates on either — the lakehouse Z-ORDER BY, composed with
        this table's manifest-stats skipping. Linear clustering prunes
        only its leading column; that is the entire reason this knob
        exists.

        ``where`` (Delta's OPTIMIZE ... WHERE): compact ONLY the files
        whose stats ranges intersect the predicate (same dict/SQL forms
        as ``scan``), carrying every other file by reference — the
        shape a 100 TB table needs, where "compact yesterday's keys"
        must not rewrite years of cold data. File-level semantics: a
        selected file is rewritten whole (its DVs materialize, its rows
        recompact into <= n_files new files); out-of-scope files keep
        their bytes, stats, and DV mappings untouched. Unlike the full
        rewrite, a scoped optimize CANNOT reset column-mapping debt
        (untouched files still carry old physical names) and composes
        with z-order only table-wide, so ``zorder_by`` + ``where``
        refuses."""
        from iotdatapipeline_spark.functions.zorder import morton_code

        if where is not None and zorder_by:
            raise ValueError(
                "zorder_by is a whole-table layout; it cannot compose with where"
            )
        for _ in range(max_retries):
            base = self.version()
            if base == 0:
                raise ValueError("optimize target does not exist; create() it first")
            m = self._read_manifest(base)
            cluster_by = m.get("cluster_by") or None
            if where is not None:
                ranges = _extract_ranges(where) if isinstance(where, str) else where
                selected = set(self._keep_files(m, ranges))
                if not selected:
                    return base  # nothing in scope — no-op, no commit
                untouched = [f for f in m["files"] if f not in selected]
                scoped = self._read_data(m, sorted(selected))  # DV-subtracted
                files = self._write_files_mapped(scoped, m, n_files, cluster_by)
                file_stats = self._collect_stats_mapped(files, cluster_by, m)
                stats = {
                    f: s for f, s in self._stats_of(m).items() if f not in selected
                }
                stats.update(file_stats)
                m_dvs = m.get("dvs") or {}
                dvs = {f: list(m_dvs[f]) for f in untouched if f in m_dvs}
                try:
                    self._try_commit(
                        base,
                        untouched + files,
                        "optimize:where",
                        cluster_by,
                        schema_json=m.get("schema"),
                        stats=stats or None,
                        dvs=dvs,
                        cdf={"mode": "none"},
                    )
                    return base + 1
                except CommitConflict:
                    # layout-only rebase (r13): an optimize that lost
                    # its race re-links its finished files when every
                    # SELECTED file is carried unchanged in the head
                    # (same DV list — a new DV on a selected file
                    # would be resurrected by our rewrite) and table
                    # metadata is untouched. ADDED files are never a
                    # conflict: compaction is best-effort layout, the
                    # added file simply stays uncompacted.
                    rb = self._rebase_merge_commit(
                        base,
                        sorted(selected),
                        None,
                        [],
                        nmbs_on=False,
                        txn_app=None,
                        txn_version=None,
                        op="optimize:where",
                        cluster_by=cluster_by,
                        committed_schema=m.get("schema"),
                        new_identity=None,
                        cdf_rec={"mode": "none"},
                        touched=selected,
                        new_files=files,
                        new_file_stats=file_stats,
                        added_probe=lambda head_m, added: False,
                    )
                    if rb is not None:
                        return rb
                    continue
            snap = self.snapshot(base)
            if zorder_by:
                a, b = zorder_by
                z = morton_code(F.col(a), F.col(b))
                arranged = snap.repartitionByRange(n_files, z).sortWithinPartitions(z)
                files = self._write_files(arranged, prearranged=True)
                stat_cols = list(dict.fromkeys(list(zorder_by) + list(cluster_by or [])))
            else:
                files = self._write_files(snap, n_files, cluster_by)
                stat_cols = cluster_by
            file_stats = self._collect_stats(files, stat_cols)
            try:
                # a full rewrite lands every row under its LOGICAL name:
                # the column mapping and its retired-name debt reset
                self._try_commit(
                    base, files, "optimize", cluster_by,
                    schema_json=m.get("schema"),
                    stats=file_stats,
                    col_map={},
                    retired=[],
                    cdf={"mode": "none"},
                )
                return base + 1
            except CommitConflict:
                # full-table rebase: every base file is in the read set
                # (any rewrite/DV change conflicts), but a commit that
                # only ADDED files (a pure insert) or touched metadata
                # the check allows is disjoint — re-link the finished
                # layout, added files stay uncompacted. Guard: the
                # rebase inherits the head's column mapping, so only a
                # mapping-free table (reset == inherit) may take it.
                if not (m.get("col_map") or m.get("retired_cols")):
                    rb = self._rebase_merge_commit(
                        base,
                        list(m["files"]),
                        None,
                        [],
                        nmbs_on=False,
                        txn_app=None,
                        txn_version=None,
                        op="optimize",
                        cluster_by=cluster_by,
                        committed_schema=m.get("schema"),
                        new_identity=None,
                        cdf_rec={"mode": "none"},
                        touched=set(m["files"]),
                        new_files=files,
                        new_file_stats=file_stats,
                        added_probe=lambda head_m, added: False,
                    )
                    if rb is not None:
                        return rb
                continue
        raise CommitConflict(f"optimize on {self.root} gave up after {max_retries} conflicts")

    def dv_stacking(self, version: int | None = None) -> dict[str, int]:
        """Per-file deletion-vector stack depth in the given (default
        current) manifest — the read-tax observable: every stacked DV
        is one more parquet a reader of that file unions into its
        anti-join build until a rewrite materializes the deletes.
        Empty dict = no pending DVs. Feed the depths to
        :meth:`compact_dv_stacked` (or watch them in ``history()``'s
        ``dvs`` maps) to keep the merge-on-read read tax bounded."""
        v = self.version() if version is None else version
        m = self._read_manifest(v)
        return {f: len(v_) for f, v_ in (m.get("dvs") or {}).items()}

    def compact_dv_stacked(self, threshold: int = 4, max_retries: int = 5) -> int:
        """Targeted DV materialization: rewrite ONLY the files whose DV
        stack depth >= ``threshold``, reading them through their DVs
        (pending deletes materialize, the new files start DV-free) and
        carrying every other file — and its stats — by reference.
        Returns the new version, or the current one unchanged when no
        file crosses the threshold, so it is safe to call after every
        N merge-on-read commits as an auto-compaction hook. Full
        ``optimize()`` also clears DVs but rewrites the WHOLE table;
        this is O(stacked files), the right cost when deletes cluster
        on hot files."""
        for _ in range(max_retries):
            base = self.version()
            if base == 0:
                raise ValueError("compact_dv_stacked target does not exist; create() it first")
            m = self._read_manifest(base)
            dvs = m.get("dvs") or {}
            current = set(m["files"])
            sel = sorted(f for f, v in dvs.items() if f in current and len(v) >= threshold)
            if not sel:
                return base  # nothing stacked deep enough
            cluster_by = m.get("cluster_by") or None
            live = self._read_data(m, sel)  # DVs applied: deletes materialize
            rewritten = self._write_files_mapped(
                live, m, n_files=max(1, len(sel)), cluster_by=cluster_by
            )
            untouched = [f for f in m["files"] if f not in set(sel)]
            stats = self._stats_of(m)
            new_stats = {f: stats[f] for f in untouched if f in stats}
            new_stats.update(self._collect_stats_mapped(rewritten, cluster_by, m))
            new_dvs = {f: list(v) for f, v in dvs.items() if f in set(untouched)}
            try:
                self._try_commit(
                    base,
                    untouched + rewritten,
                    "optimize:dv",
                    cluster_by,
                    schema_json=m.get("schema"),
                    stats=new_stats,
                    dvs=new_dvs,
                    cdf={"mode": "none"},
                )
                return base + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"compact_dv_stacked on {self.root} gave up after {max_retries} conflicts"
        )

    def vacuum(self, retention_s: float = 3600.0, dry_run: bool = False) -> list[str]:
        """Delete data files referenced by NO committed manifest —
        i.e. the orphans of conflict-aborted merge attempts. Every
        committed version keeps its files, so time travel stays
        intact.

        ``retention_s`` is the safety horizon against IN-FLIGHT
        writers (Delta has the same knob for the same reason): a
        writer renames its data files into ``data/`` BEFORE its
        commit, so an unreferenced file younger than the horizon may
        belong to a transaction that is about to commit — deleting it
        would corrupt that version. Only files older than the horizon
        are removed; pass 0 only when no writer can be active.

        ``dry_run=True`` (VACUUM ... DRY RUN) returns the same list
        WITHOUT deleting anything — the operator's pre-flight check
        before a destructive horizon.

        The referenced-file set comes from the ``_log/_ckpt`` rollup
        plus the ≤CKPT_EVERY manifests committed since it — O(K) reads
        on an arbitrarily old table, not O(versions)."""
        import time

        referenced = self._referenced_files(self.version())
        cutoff = time.time() - retention_s
        removed = []
        for f in os.listdir(self._data) if os.path.isdir(self._data) else []:
            path = os.path.join(self._data, f)
            if f not in referenced and os.path.getmtime(path) < cutoff:
                if not dry_run:
                    os.remove(path)
                removed.append(f)
        # CDF stream spill namespaces (<root>/_cdf_spill/q-*): the
        # reader reclaims its spills on offset commit, but a query that
        # died mid-run leaks its directory forever — the same orphan
        # class as conflict-aborted data files, swept under the same
        # retention horizon (a LIVE query's spills are younger than any
        # sane horizon; its reader also regenerates missing spills
        # deterministically on replan, so this can never corrupt one)
        spill_root = os.path.join(self.root, "_cdf_spill")
        for q in sorted(os.listdir(spill_root)) if os.path.isdir(spill_root) else []:
            qdir = os.path.join(spill_root, q)
            try:
                newest = max(
                    (
                        os.path.getmtime(os.path.join(dp, fn))
                        for dp, _, fns in os.walk(qdir)
                        for fn in fns
                    ),
                    default=os.path.getmtime(qdir),
                )
            except OSError:
                continue
            if newest < cutoff:
                if not dry_run:
                    shutil.rmtree(qdir, ignore_errors=True)
                removed.append(os.path.join("_cdf_spill", q))
        return removed

    def expire_versions(
        self,
        retention_s: float = 7 * 24 * 3600.0,
        keep_last: int | None = None,
    ) -> list[int]:
        """Delta's ``logRetentionDuration``: delete manifest (and
        orphaned stats-sidecar) files for versions older than the
        retention horizon, bounding log growth on long-lived tables
        (a 1 s-micro-batch streaming sink commits ~100k versions a
        week; ``vacuum`` caps the DATA but the manifests accumulated
        forever until this).  The head is always kept.  Time travel
        to an expired version raises :class:`VersionExpired` naming
        the earliest readable version.

        Consistency order matters: (1) a fresh ``_log/_ckpt`` at head
        carrying ONLY the surviving versions' referenced files — so a
        later ``vacuum`` never needs the expired manifests AND may now
        collect files exclusive to them; (2) the ``_log/_first`` floor
        pointer — so a racing time-travel read gets the clear error,
        not ENOENT; (3) only then are manifests unlinked.  Crashing
        between any two steps leaves a table that merely over-retains.

        ``keep_last=N`` expires by count instead of age (all but the
        newest N versions, regardless of mtime).  Like ``vacuum``,
        this assumes no concurrent expire on the same table; readers
        and committers are safe throughout.  Returns the expired
        version numbers."""
        import time

        head = self.version()
        if head == 0:
            return []
        # sweep from the true oldest manifest ON DISK, not the floor
        # pointer: a prior expire that crashed between advancing the
        # pointer and the unlinks left sub-floor manifests behind, and
        # a pointer-based start would leak them forever
        on_disk = [
            int(f[1:11])
            for f in (os.listdir(self._log) if os.path.isdir(self._log) else [])
            if f.startswith("v") and f.endswith(".json")
        ]
        first = min(on_disk, default=1)
        if keep_last is not None:
            floor = head - max(1, keep_last) + 1
        else:
            cutoff = time.time() - retention_s
            floor = head
            for v in range(first, head + 1):
                try:
                    if os.path.getmtime(self._manifest_path(v)) >= cutoff:
                        floor = v
                        break
                except OSError:
                    continue
        floor = max(first, min(floor, head))
        if floor <= first:
            return []
        # survivors' referenced data/DV files and stats/bloom sidecars
        referenced: set[str] = set()
        kept_sidecars: set[str] = set()
        for v in range(floor, head + 1):
            m = self._read_manifest(v)
            referenced |= set(m["files"])
            for dv_list in (m.get("dvs") or {}).values():
                referenced |= set(dv_list)
            if (m.get("cdf") or {}).get("mode") == "files":
                referenced |= set((m.get("cdf") or {}).get("files") or [])
            for key in ("stats_file", "bloom_file"):
                if m.get(key):
                    kept_sidecars.add(m[key])
        # sidecars referenced ONLY by the doomed prefix (read them
        # before the floor pointer moves and blocks the reads)
        expired_sidecars: set[str] = set()
        doomed: list[int] = []
        for v in range(first, floor):
            try:
                m = self._read_manifest(v)
            except (FileNotFoundError, VersionExpired):
                continue
            for key in ("stats_file", "bloom_file"):
                if m.get(key):
                    expired_sidecars.add(m[key])
            doomed.append(v)
        # (1) checkpoint at head: vacuum's prefix union no longer
        # depends on any manifest below the floor
        tmp = os.path.join(self._log, f".ckpt-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as f:
            json.dump({"version": head, "referenced": sorted(referenced)}, f)
        os.replace(tmp, self._ckpt_path())
        # (2) floor pointer before any unlink
        tmp = os.path.join(self._log, f".first-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as f:
            f.write(str(floor))
        os.replace(tmp, os.path.join(self._log, "_first"))
        # (3) drop the prefix
        expired: list[int] = []
        for v in doomed:
            try:
                os.unlink(self._manifest_path(v))
                expired.append(v)
            except FileNotFoundError:
                pass
            self._manifest_cache.pop(v, None)
        for sf in expired_sidecars - kept_sidecars:
            try:
                os.unlink(os.path.join(self._log, sf))
            except OSError:
                pass
        return expired

    @classmethod
    def convert_parquet_dir(
        cls,
        spark: SparkSession,
        src_dir: str,
        root: str,
        cluster_by: Sequence[str] | None = None,
    ) -> "VersionedTable":
        """CONVERT TO DELTA, the POSIX way: register an existing plain
        parquet directory as version 1 of a new VersionedTable WITHOUT
        rewriting a byte — every ``*.parquet`` under ``src_dir`` is
        hard-linked into the table's data dir (copy across
        filesystems) and committed by reference, with the schema read
        from the files. The source directory is left untouched; from
        v1 on, the table owns its (linked) files and every feature —
        MERGE, DVs, constraints, time travel, blooms — applies. The
        migration path for a user with an existing parquet lake.

        ``cluster_by`` records the layout IF the caller knows the
        files are already key-clustered (it is a promise about future
        merges, not checked against the import); per-file stats are
        NOT reconstructed here — run ``optimize()`` afterwards to get
        a stats-pruned, clustered layout, or ``add_bloom_index`` for
        point lookups on the imported files as-is."""
        files = sorted(
            f
            for f in os.listdir(src_dir)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not files:
            raise ValueError(f"no parquet files to convert in {src_dir}")
        t = cls(spark, root)
        if t.version() != 0:
            raise ValueError(f"convert destination {root} already exists")
        schema_json = spark.read.parquet(src_dir).schema.json()
        os.makedirs(t._data, exist_ok=True)
        for f in files:
            try:
                os.link(os.path.join(src_dir, f), os.path.join(t._data, f))
            except FileExistsError:
                pass  # idempotent retry of a crashed convert
            except OSError:
                shutil.copy2(os.path.join(src_dir, f), os.path.join(t._data, f))
        t._try_commit(
            0,
            files,
            f"convert:{src_dir}",
            list(cluster_by) if cluster_by else None,
            schema_json=schema_json,
            cdf={"mode": "data"},
        )
        return t

    def clone_to(
        self, dest_root: str, version: int | None = None, timestamp=None
    ) -> "VersionedTable":
        """Zero-copy CLONE (Delta's shallow clone, expressed the POSIX
        way): materialize this table at ``version`` / ``timestamp``
        (default: head) as version 1 of a NEW, fully independent table
        at ``dest_root``. Data files, DV parquets and the stats sidecar
        are HARD-LINKED into the clone (same inodes — no bytes move;
        silently copies across filesystems), which is safe because
        committed files are immutable by contract: writers never modify
        a committed file, and vacuum/optimize unlink NAMES, never
        rewrite content in place — so the tables share storage until
        either side rewrites, with zero cross-table coupling (either
        may vacuum, optimize, expire or drop without affecting the
        other). The clone's v1 carries the source's schema, column
        mapping, retired names, CHECK constraints, clustering and DV
        map; its op string records provenance; its txn map starts
        empty (a clone is a new table — replays of the source's
        micro-batches must apply to it, not no-op).

        At object-storage scale the same operation is manifest-only
        (absolute-path file references, Delta's shallow-clone form);
        hard links are the exact local-filesystem equivalent with the
        stronger property that the clone also survives the source's
        deletion."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        v = self.version() if version is None else version
        if v == 0:
            raise ValueError("clone_to source does not exist; create() it first")
        m = self._read_manifest(v)
        dest = VersionedTable(self.spark, dest_root)
        if dest.version() != 0:
            raise ValueError(f"clone destination {dest_root} already exists")
        os.makedirs(dest._data, exist_ok=True)
        os.makedirs(dest._log, exist_ok=True)

        def link_or_copy(src: str, dst: str) -> None:
            try:
                os.link(src, dst)
            except FileExistsError:
                pass  # idempotent retry of a crashed clone
            except OSError:
                shutil.copy2(src, dst)

        data_files = set(m["files"])
        for dv_list in (m.get("dvs") or {}).values():
            data_files |= set(dv_list)
        for f in sorted(data_files):
            link_or_copy(os.path.join(self._data, f), os.path.join(dest._data, f))
        stats_ref = m.get("stats_file")
        if stats_ref:
            link_or_copy(
                os.path.join(self._log, stats_ref), os.path.join(dest._log, stats_ref)
            )
        bloom_ref = m.get("bloom_file")
        if bloom_ref and os.path.exists(os.path.join(self._log, bloom_ref)):
            link_or_copy(
                os.path.join(self._log, bloom_ref), os.path.join(dest._log, bloom_ref)
            )
        else:
            bloom_ref = None
        dest._try_commit(
            0,
            list(m["files"]),
            f"clone:{self.root}@v{v}",
            m.get("cluster_by") or None,
            schema_json=m.get("schema"),
            stats=None if stats_ref else (m.get("stats") or None),
            stats_file_ref=stats_ref,
            dvs={f: list(d) for f, d in (m.get("dvs") or {}).items()},
            col_map=m.get("col_map") or {},
            retired=m.get("retired_cols") or [],
            constraints=m.get("constraints") or {},
            bloom_file_ref=bloom_ref,
            generated=m.get("generated") or {},
            identity=dict(m.get("identity") or {}),
            cdf={"mode": "data"},
            cdf_enabled=bool(m.get("cdf_enabled", True)),
        )
        return dest


# ── Streaming the change feed ────────────────────────────────────────────────


def _cdf_stream_reader_class():
    """Late import: pyspark.sql.datasource exists on Spark 4 only."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

    class VersionedCDFStreamReader(DataSourceStreamReader):
        """Change-data-feed STREAM over a VersionedTable: the offset is
        the table VERSION, each micro-batch emits the state diff of the
        commits in ``(start, end]`` tagged with their commit version —
        Delta's ``readChangeFeed`` streaming mode on this repo's table
        format. Replays are bit-identical because each diff is computed
        from two IMMUTABLE snapshots.

        DISTRIBUTED data path (no driver materialization): at PLANNING
        time each pending commit's diff is computed as an ordinary
        Spark job (the same ``changes()`` full-outer join every batch
        reader uses) and written to a parquet SPILL under
        ``<root>/_cdf_spill/v{N}`` — rows flow executor→executor→disk,
        never through this process. ``partitions()`` then returns one
        input partition PER SPILL FILE, and ``read()`` runs on
        EXECUTORS, streaming its file back as Arrow record batches via
        pyarrow. A bulk commit (backfill, wide MERGE) therefore scales
        with cluster I/O, not driver memory — the failure mode of the
        previous driver-collect reader. Spills are deleted on
        ``commit()`` (their versions are checkpointed and will never be
        replanned); a replay after restart re-plans ``partitions()``,
        which regenerates any missing spill deterministically.

        Batch pacing: one commit per micro-batch by default
        (``max_versions_per_batch``); the catch-up batch after a
        restart may span several commits — each still spills and tags
        separately, so per-partition work stays bounded by one
        commit's churn."""

        def __init__(self, options):
            self.root = options["root"]
            self.keys = [k.strip() for k in options["keys"].split(",")]
            self.start_v = int(options.get("starting_version", 0))
            self.ddl = options["schema_ddl"]
            # Per-reader default spill namespace: two streams tailing
            # the SAME table must not share spill paths, or the stream
            # that is further ahead commit()-reclaims files the slower
            # stream's already-planned partitions still reference
            # (executor FileNotFoundError until a restart re-plans).
            # A reader is constructed once per query run; after a
            # restart the new reader's partitions() regenerates any
            # needed spill deterministically in its fresh namespace.
            # Passing spill_dir explicitly opts out (caller owns
            # isolation then, e.g. a read-only table root).
            self.spill_root = options.get("spill_dir") or os.path.join(
                self.root, "_cdf_spill", f"q-{uuid.uuid4().hex[:12]}"
            )
            self.step = int(options.get("max_versions_per_batch", 1))
            # emit update_preimage rows too — what a signed-delta
            # consumer (cdf_ivm_foreach_batch) needs to subtract old
            # values; mirrors (cdf_apply) skip them either way
            self.preimages = str(options.get("include_preimages", "false")).lower() == "true"
            self._planned_end: int | None = None

        # ── planning side (driver): Spark jobs allowed ────────────────
        def _spark(self):
            from pyspark.sql import SparkSession

            return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()

        def _table(self):
            return VersionedTable(self._spark(), self.root)

        def initialOffset(self):
            return {"v": self.start_v}

        def latestOffset(self):
            cur = self._table().version()
            if self._planned_end is not None:
                cur = min(cur, self._planned_end + self.step)
            return {"v": cur}

        def _spill_dir(self, v: int) -> str:
            return os.path.join(self.spill_root, f"v{v:010d}")

        def _spill_version(self, t: "VersionedTable", v: int) -> str:
            """Materialize commit ``v``'s diff as parquet in DECLARED
            schema order (the emitted row layout must match schema_ddl
            exactly — ``changes()`` returns keys first, which silently
            misfields any table whose keys are not a schema prefix).
            Idempotent: an existing complete spill (immutable-snapshot
            diff) is reused."""
            out_dir = self._spill_dir(v)
            if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
                return out_dir
            spark = self._spark()
            from pyspark.sql.types import StructType

            cols = [f.name for f in StructType.fromDDL(self.ddl).fields]
            if v == 1:
                base = t.snapshot(1).withColumn("_change_type", F.lit("insert"))
            else:
                base = t.changes(v - 1, v, self.keys, include_preimages=self.preimages)
            out = base.withColumn("_commit_version", F.lit(v).cast("long")).select(*cols)
            out.write.mode("overwrite").parquet(out_dir)
            return out_dir

        def partitions(self, start, end):
            v0, v1 = int(start["v"]), int(end["v"])
            self._planned_end = v1
            t = self._table()
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            arrow_schema = to_arrow_schema(StructType.fromDDL(self.ddl))
            parts = []
            for v in range(v0 + 1, v1 + 1):
                d = self._spill_version(t, v)
                for f in sorted(os.listdir(d)):
                    if f.endswith(".parquet"):
                        parts.append(
                            InputPartition(
                                {"path": os.path.join(d, f), "schema": arrow_schema}
                            )
                        )
            if not parts:  # engine requires ≥1 partition per batch
                parts = [InputPartition({"path": None, "schema": None})]
            return parts

        # ── executor side: pyarrow only, no SparkSession ──────────────
        def read(self, partition):
            path = partition.value["path"]
            if path is None:
                return
            import pyarrow.parquet as pq

            want = partition.value["schema"]
            # Spark's Python data source worker rejects a partition
            # that mixes pyarrow RecordBatches and plain tuples, and
            # pa cast is data-dependent (a later batch of the same
            # file can overflow where the first cast fine) — so decide
            # the output mode ONCE PER FILE: cast the whole file, and
            # only on failure fall back to tuple emission for every
            # batch. A spill part file is one slice of one commit's
            # diff (bounded by write partitioning), so materializing
            # it for the cast attempt is executor-memory safe.
            import pyarrow as pa

            tbl = pq.read_table(path)
            try:
                yield from tbl.cast(want).to_batches()
            except Exception:
                # type-shape mismatch: row tuples for the WHOLE file,
                # letting Spark's converters coerce field-by-field
                for batch in tbl.to_batches():
                    cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
                    yield from (tuple(r) for r in zip(*cols))

        def commit(self, end):
            """Batches up to ``end`` are checkpointed: their spills can
            never be replanned, so reclaim them."""
            v1 = int(end["v"])
            if not os.path.isdir(self.spill_root):
                return
            for d in os.listdir(self.spill_root):
                if d.startswith("v") and d[1:].isdigit() and int(d[1:]) <= v1:
                    shutil.rmtree(os.path.join(self.spill_root, d), ignore_errors=True)

        def stop(self):
            shutil.rmtree(self.spill_root, ignore_errors=True)

    class VersionedCDFDataSource(DataSource):
        """``format("versioned_cdf")``: readStream of a VersionedTable's
        change feed. Options: ``root``, ``keys`` (comma-separated),
        ``schema_ddl`` (the emitted row schema: table columns +
        ``_change_type string, _commit_version bigint``),
        ``starting_version``, ``max_versions_per_batch``,
        ``include_preimages`` ("true" emits ``update_preimage`` rows —
        what signed-delta consumers like the IVM sink need),
        ``spill_dir`` (defaults to ``<root>/_cdf_spill``; point it
        elsewhere when the table root is read-only to the streaming
        job)."""

        @classmethod
        def name(cls):
            return "versioned_cdf"

        def schema(self):
            return self.options["schema_ddl"]

        def streamReader(self, schema):
            return VersionedCDFStreamReader(self.options)

    return VersionedCDFDataSource


def register_versioned_cdf(spark) -> None:
    """Idempotent registration of the ``versioned_cdf`` stream format."""
    spark.dataSource.register(_cdf_stream_reader_class())


def cdf_schema_ddl(table: "VersionedTable") -> str:
    """The DDL string a ``versioned_cdf`` stream of ``table`` emits."""
    parts = []
    for f in table.snapshot().schema.fields:
        parts.append(f"{f.name} {f.dataType.simpleString()}")
    return ", ".join(parts) + ", _change_type string, _commit_version bigint"
