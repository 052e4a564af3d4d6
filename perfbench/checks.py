"""Untimed correctness checks: every result the benchmark times is
compared against an independent DuckDB computation over the same files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

import duckdb


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def digest(cols, result) -> str:
    """Order-insensitive value hash of a result (columns by name)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("|".join(_canon(r[i]) for i in order) for r in result)
    h = hashlib.sha256(",".join(sorted(cols)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return sorted(tuple(r) for r in con.sql(sql).fetchall())


def duck(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql("SET TimeZone = 'UTC'")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def oracle_digests(sf_dir: str, tables, oracle: dict[str, str], names) -> dict[str, str]:
    con = duck(sf_dir, tables)
    try:
        out = {}
        for n in names:
            rel = con.sql(oracle[n])
            out[n] = digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


# ── streaming ────────────────────────────────────────────────────────────

#: The reference state machine over one drain's readings, restarted per
#: (station, part) after every limpieza the drain wrote: the key's state
#: is removed when its timer fires, so its next reading re-admits.
#: Same recursion as the program's ``stream_counter_machine_reference``
#: oracle, with the restart segment added to the key.
_HISTORY_SQL = """
WITH RECURSIVE r AS (
    SELECT station, part, ts, event_id, counter, chunk,
           hour(ts) * 3600 + minute(ts) * 60 + second(ts) AS tod,
           (SELECT count(*) FROM lim l
             WHERE l.station = x.station AND l.part = x.part AND l.batch <= x.chunk) AS seg
    FROM readings x
),
seq AS (
    SELECT *, row_number() OVER (PARTITION BY station, part, seg ORDER BY ts, event_id) AS rn
    FROM r
),
rec AS (
    SELECT station, part, seg, rn, ts, counter, chunk, tod,
           counter AS prev, CAST(NULL AS BIGINT) AS base, tod AS last_tod,
           CAST(NULL AS BIGINT) AS prev_counter, CAST(NULL AS BIGINT) AS delta,
           CAST(NULL AS BIGINT) AS qty_running, FALSE AS emitted
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.station, s.part, s.seg, s.rn, s.ts, s.counter, s.chunk, s.tod,
           CASE WHEN {emits} THEN s.counter ELSE rec.prev END,
           CASE WHEN {emits} THEN {new_base} ELSE rec.base END,
           CASE WHEN {emits} THEN s.tod ELSE rec.last_tod END,
           rec.prev,
           CASE WHEN {emits} THEN s.counter - rec.prev END,
           CASE WHEN {emits} THEN s.counter - coalesce({new_base}, 0) END,
           {emits}
    FROM rec JOIN seq s
      ON s.station = rec.station AND s.part = rec.part AND s.seg = rec.seg AND s.rn = rec.rn + 1
)
SELECT station, part, epoch_us(ts) AS ts_us, counter, prev_counter, delta, qty_running,
       CASE WHEN hour(ts) BETWEEN 8 AND 15 THEN 1 ELSE 2 END AS shift_id,
       CASE WHEN hour(ts) < 8 THEN CAST(ts AS DATE) - 1 ELSE CAST(ts AS DATE) END AS plan_date,
       chunk AS batch
FROM rec WHERE emitted
"""
_CAMBIO = "((rec.last_tod < 28800 AND s.tod >= 28800) OR (rec.last_tod < 57600 AND s.tod >= 57600))"
_EMITS = f"(s.counter > rec.prev OR ({_CAMBIO} AND s.counter >= rec.prev))"
_NEW_BASE = f"CASE WHEN {_CAMBIO} THEN rec.prev ELSE rec.base END"

#: The event-time timeout of ``stream_limpieza_timeout``'s oracle, at the
#: drain's own chunking and gap, returning the batch each timer fires in.
#: Batch b processes chunk b; the watermark in batch b is the max event
#: time through chunk b-1; one no-data batch (index n_chunks) follows the
#: last chunk. A run of consecutive chunks with data fires in the first
#: later batch, before the key's next data, whose watermark passes the
#: run's last event + gap.
_LIMPIEZA_SQL = """
WITH kc AS (
    SELECT station, part, chunk, max(epoch_ms(ts)) AS key_ms FROM readings GROUP BY ALL
),
cm AS (
    SELECT chunk, max(max_ms) OVER (ORDER BY chunk) AS cm_ms
    FROM (SELECT chunk, max(epoch_ms(ts)) AS max_ms FROM readings GROUP BY chunk)
),
isl AS (
    SELECT *, chunk - dense_rank() OVER (PARTITION BY station, part ORDER BY chunk) AS run_id
    FROM kc
),
runs AS (
    SELECT station, part, min(chunk) AS c_start, max(chunk) AS c_end, max(key_ms) AS m_ms
    FROM isl GROUP BY station, part, run_id
),
seq AS (
    SELECT *, lead(c_start) OVER (PARTITION BY station, part ORDER BY c_start) AS c_next
    FROM runs
)
SELECT s.station, s.part, min(cm.chunk) + 1 AS batch
FROM seq s JOIN cm
  ON cm.chunk BETWEEN s.c_end AND least(coalesce(s.c_next, {n} + 1) - 1, {n}) - 1
WHERE cm.cm_ms > s.m_ms + {gap}
GROUP BY s.station, s.part, s.c_start
"""


def check_stream(
    tick_files: list[str],
    history_path: str,
    limpieza_path: str,
    records_rows: list[tuple],
    records_cols: list[str],
    gap_ms: int,
) -> dict[str, bool]:
    """Check one drain of ``len(tick_files)`` ticks, tick i = batch i.

    * limpieza rows equal the watermark formula, batch by batch;
    * history equals the reference machine restarted at each limpieza;
    * records equal the latest history row per record key.
    """
    con = duckdb.connect()
    try:
        con.sql("SET threads TO 2")
        con.sql("SET TimeZone = 'UTC'")
        files = ", ".join(f"'{f}'" for f in tick_files)
        con.sql(
            f"""CREATE TABLE readings AS
            SELECT station, part, ts::TIMESTAMP AS ts, event_id, counter,
                   list_position([{files}], filename) - 1 AS chunk
            FROM read_parquet([{files}], filename = true)"""
        )
        con.sql(
            f"""CREATE TABLE lim AS SELECT station, part, __batch_id AS batch FROM
            read_parquet('{limpieza_path}/*/*.parquet', hive_partitioning = true)"""
            if os.path.isdir(limpieza_path)
            else "CREATE TABLE lim (station BIGINT, part VARCHAR, batch BIGINT)"
        )
        con.sql(
            f"""CREATE TABLE hist AS SELECT station, part, epoch_us(ts) AS ts_us, counter,
                   prev_counter, delta, qty_running, shift_id, plan_date, __batch_id AS batch
            FROM read_parquet('{history_path}/*/*.parquet', hive_partitioning = true)
            WHERE row_kind = 'update'"""
        )
        want_lim = rows(con, _LIMPIEZA_SQL.format(n=len(tick_files), gap=int(gap_ms)))
        got_lim = rows(con, "SELECT station, part, batch FROM lim")
        want_hist = rows(con, _HISTORY_SQL.format(emits=_EMITS, new_base=_NEW_BASE))
        got_hist = rows(con, "SELECT * FROM hist")
        want_rec = rows(
            con,
            """SELECT station, part, plan_date, shift_id, counter FROM hist
               QUALIFY row_number() OVER (PARTITION BY station, part, plan_date, shift_id
                                          ORDER BY ts_us DESC, counter DESC) = 1""",
        )
        idx = [records_cols.index(c) for c in ("station", "part", "plan_date", "shift_id", "counter")]
        got_rec = sorted(tuple(r[i] for i in idx) for r in records_rows)
        return {
            "limpieza": got_lim == want_lim,
            "history": bool(got_hist) and got_hist == want_hist,
            "records": bool(got_rec) and got_rec == want_rec,
        }
    finally:
        con.close()


# ── lakehouse ────────────────────────────────────────────────────────────


def lakehouse_expected(events_path: str, groups: int, rounds: list[tuple[int, int, int, int, int]]):
    """DuckDB connection holding the base table and the applied upserts
    ``(round, lo, hi, ins_hi, key_off)``, built straight from the events
    file; :func:`expected_sql` derives the table after any prefix."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql(
        f"""CREATE TABLE base AS SELECT event_id, user_id % {groups} AS g,
               CAST(floor(value * 100) AS BIGINT) AS v_cents
            FROM read_parquet('{events_path}')"""
    )
    con.sql("CREATE TABLE rounds (r BIGINT, lo BIGINT, hi BIGINT, ins_hi BIGINT, key_off BIGINT)")
    if rounds:
        con.executemany("INSERT INTO rounds VALUES (?, ?, ?, ?, ?)", [list(r) for r in rounds])
    return con


def expected_sql(n_rounds: int) -> str:
    """The table after the first ``n_rounds`` upserts: round r adds r + 1
    to ``v_cents`` of the keys in [lo, hi) (the latest round wins) and
    re-inserts the keys in [lo, ins_hi) shifted by ``key_off``."""
    return f"""
        SELECT b.event_id, b.g, b.v_cents + coalesce(max(r.r) + 1, 0) AS v_cents
        FROM base b LEFT JOIN rounds r
          ON r.r < {n_rounds} AND b.event_id >= r.lo AND b.event_id < r.hi
        GROUP BY b.event_id, b.g, b.v_cents
        UNION ALL
        SELECT b.event_id + r.key_off, b.g, b.v_cents
        FROM base b JOIN rounds r
          ON r.r < {n_rounds} AND b.event_id >= r.lo AND b.event_id < r.ins_hi"""


def same_rows(con: duckdb.DuckDBPyConnection, files: list[str], sql: str) -> bool:
    """Whether the parquet ``files`` hold exactly the rows of ``sql``."""
    got = f"SELECT event_id, g, v_cents FROM read_parquet([{', '.join(repr(f) for f in files)}])"
    missing = con.sql(f"SELECT count(*) FROM (({sql}) EXCEPT ALL ({got}))").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({sql}))").fetchone()[0]
    return missing == 0 and extra == 0


def group_sql(n_rounds: int) -> str:
    return f"SELECT g, count(*), sum(v_cents) FROM ({expected_sql(n_rounds)}) GROUP BY g"
