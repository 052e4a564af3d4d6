"""Seeded synthetic tables in the fixture schemas (FIXTURES.md family B).

Every value is a hash of (row key, column salt, seed), so one seed gives
the same bytes whatever DuckDB's thread count. Sizes follow the fixture
scale factors: ``events`` has 1M x sf rows, ``lineitem`` about 6M x sf.

The distributions follow the sf0.01 and sf0.1 fixture tables, as
measured with DuckDB: ``events`` has 15k x sf stations (``user_id``) and
5 parts (``event_type``) spread evenly over 30 days, so a (station,
part) key reads every ~1.4 days (median); ``value`` is drawn
independently per reading from an exponential of mean 50 at two
decimals, so ``floor(value * 100)``, the counter the stream reads, rises
on half of a key's readings and falls on the other half. Documents have
10-100 words of a 31-word vocabulary; about 4.5% are near-copies of an
earlier doc, a few exact copies, which gives the fixtures' dedup and LSH
pair counts within ~10%.
"""

from __future__ import annotations

import os

import duckdb

VOCAB = (
    "key agg row scan slow fast table value part hash batch window spark order data "
    "column join small line customer query the a filter press shift plc count part_no "
    "station cycle"
).split()

PARTS = ("view", "click", "signup", "purchase", "error")


def _connect(seed: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    # uniform [0, 1) and integer [0, n) draws keyed by (row, salt, seed)
    con.sql(f"CREATE MACRO u(k, salt) AS (hash(k, salt, {int(seed)}) % 1000003) / 1000003.0")
    con.sql(f"CREATE MACRO pick(k, salt, n) AS CAST(hash(k, salt, {int(seed)}) % n AS BIGINT)")
    return con


def _copy(con: duckdb.DuckDBPyConnection, sql: str, path: str) -> None:
    con.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def events_sql(n: int, n_stations: int) -> str:
    """Readings spread evenly over 30 days, ``event_id`` in time order."""
    step_us = 30 * 86_400_000_000 // n
    parts = ", ".join(f"'{p}'" for p in PARTS)
    return f"""
    WITH r AS (
        SELECT range AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(
                   range * {step_us} + pick(range, 'jit', {step_us})) AS ts,
               pick(range, 'st', {n_stations}) AS user_id,
               ([{parts}])[1 + pick(range, 'pt', 5)] AS event_type,
               -- cents + 0.5, so floor(value * 100) is exact
               (floor(-5000 * ln(1 - u(range, 'val'))) + 0.5) / 100.0 AS value,
               pick(range, 'k', 100) AS k
        FROM range({n})
    )
    SELECT event_id, ts, user_id, event_type, value, '{{"k": ' || k || '}}' AS props
    FROM r ORDER BY event_id
    """


def generate(out_dir: str, sf: float, seed: int, tables: tuple[str, ...]) -> str:
    """Write ``tables`` at scale ``sf`` as ``out_dir/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    con = _connect(seed)
    n_orders = max(1500, int(1_500_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    gen = {
        "events": lambda: events_sql(n_events, max(15, int(15_000 * sf))),
        "orders": lambda: f"""
            SELECT range AS o_orderkey, pick(range, 'c', {n_cust}) AS o_custkey,
                   (['O', 'P', 'F'])[1 + pick(range, 's', 3)] AS o_orderstatus,
                   round(1000 + u(range, 'tp') * 499000, 2) AS o_totalprice,
                   CAST(DATE '1995-01-01' + CAST(pick(range, 'd', 1460) AS INTEGER) AS TIMESTAMP)
                       AS o_orderdate,
                   (['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])
                       [1 + pick(range, 'p', 5)] AS o_orderpriority
            FROM range({n_orders})""",
        "lineitem": lambda: f"""
            WITH l AS (
                SELECT range // 8 AS l_orderkey, CAST(range % 8 AS INTEGER) AS l_linenumber,
                       range AS k
                FROM range({n_orders * 8})
                WHERE range % 8 BETWEEN 1 AND 1 + pick(range // 8, 'nl', 7)
            )
            SELECT l_orderkey, pick(k, 'pk', {max(200, int(200_000 * sf))}) AS l_partkey,
                   pick(k, 'sk', {max(10, int(10_000 * sf))}) AS l_suppkey, l_linenumber,
                   CAST(1 + pick(k, 'q', 50) AS DOUBLE) AS l_quantity,
                   round((1 + pick(k, 'q', 50)) * (900 + u(k, 'pr') * 1100), 2) AS l_extendedprice,
                   pick(k, 'dc', 11) / 100.0 AS l_discount,
                   pick(k, 'tx', 9) / 100.0 AS l_tax,
                   (['A', 'N', 'R'])[1 + pick(k, 'rf', 3)] AS l_returnflag,
                   (['O', 'F'])[1 + pick(k, 'ls', 2)] AS l_linestatus,
                   CAST(DATE '1995-01-02' + CAST(pick(k, 'sd', 1460) AS INTEGER) AS TIMESTAMP)
                       AS l_shipdate
            FROM l""",
        "customer": lambda: f"""
            SELECT range AS c_custkey, 'Customer#' || lpad(CAST(range AS VARCHAR), 9, '0') AS c_name,
                   CAST(pick(range, 'n', 25) AS INTEGER) AS c_nationkey,
                   round(u(range, 'ab') * 10000 - 1000, 2) AS c_acctbal,
                   (['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'BUILDING', 'FURNITURE'])
                       [1 + pick(range, 'seg', 5)] AS c_mktsegment
            FROM range({n_cust})""",
        "documents": lambda: _documents_sql(n_docs),
    }
    for t in tables:
        _copy(con, gen[t](), os.path.join(out_dir, f"{t}.parquet"))
    con.close()
    return out_dir


def _documents_sql(n: int) -> str:
    """Docs of 10-100 vocabulary words; ~4.5% are near-copies of an
    earlier doc with one word appended, and 0.1% exact copies, so dedup
    and LSH find pairs."""
    vocab = ", ".join(f"'{w}'" for w in VOCAB)
    return f"""
    WITH src AS (
        SELECT range AS doc_id, u(range, 'dup') AS r,
               CASE WHEN range > 0 AND u(range, 'dup') < 0.045
                    THEN greatest(range - 1 - pick(range, 'off', 50), 0) ELSE range END AS text_id
        FROM range({n})
    ),
    w AS (
        SELECT range // 100 AS text_id, range % 100 AS i,
               ([{vocab}])[1 + pick(range, 'w', {len(VOCAB)})] AS word
        FROM range({n * 100})
        WHERE range % 100 < 10 + pick(range // 100, 'nw', 91)
    ),
    txt AS (SELECT text_id, string_agg(word, ' ' ORDER BY i) AS text FROM w GROUP BY text_id),
    t AS (
        SELECT s.doc_id,
               x.text || CASE WHEN s.r >= 0.001 AND s.text_id <> s.doc_id THEN ' press' ELSE '' END
                   AS text
        FROM src s JOIN txt x USING (text_id)
    )
    SELECT doc_id, text,
           CASE WHEN u(doc_id, 'en') < 0.4 THEN 'en'
                ELSE (['fr', 'es', 'de', 'zh'])[1 + pick(doc_id, 'lang', 4)] END AS lang,
           'src' || pick(doc_id, 'src', 20) AS source,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM t ORDER BY doc_id
    """


def stage_ticks(events_path: str, out_dir: str, tick_rows: int) -> list[str]:
    """Stage ``events`` as PLC ticks for the file-replay stream: readings
    in (ts, event_id) order, ``tick_rows`` per file, in the
    ``streaming.source.READINGS_SCHEMA`` columns (as
    ``stage_replay_chunks`` writes them). Returns the files in tick order."""
    os.makedirs(out_dir)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql("SET TimeZone = 'UTC'")
    con.sql(
        f"""CREATE TABLE r AS
        SELECT user_id AS station, event_type AS part, ts::TIMESTAMPTZ AS ts, event_id, value,
               CAST(floor(value * 100) AS BIGINT) AS counter,
               (row_number() OVER (ORDER BY ts, event_id) - 1) // {int(tick_rows)} AS tick
        FROM read_parquet('{events_path}')"""
    )
    files = []
    for (tick,) in con.sql("SELECT DISTINCT tick FROM r ORDER BY tick").fetchall():
        path = os.path.join(out_dir, f"chunk_{tick:05d}.parquet")
        _copy(
            con,
            f"SELECT station, part, ts, event_id, value, counter FROM r WHERE tick = {tick} ORDER BY ts, event_id",
            path,
        )
        files.append(path)
    con.close()
    return files
