"""Relational source/sink path: JDBC reads, DBAPI upsert writes.

The reference's entire persistence layer is a SQL database reached
row-at-a-time over pyodbc — SQL Server for the config scan
(Prensas.py:155-170), the record UPDATE (Prensas.py:216-223), the
active-record probe (Prensas.py:285-302) and the guarded
INSERT-from-SELECT (Prensas.py:319-331), plus DB2/AS400 for the
multiplier lookup (Prensas.py:128-133). The Spark-first equivalents:

* **Reads** go through :func:`read_jdbc` — a partitioned
  ``spark.read.jdbc`` scan. ``partition_col`` + bounds split the table
  into ``num_partitions`` parallel range queries, so a 1000-executor
  cluster never serializes a big table through one connection, and
  Catalyst still pushes filters/projections into the database query.
* **Writes**: Spark has no MERGE primitive for JDBC targets, so the
  upsert executor is :func:`dbapi_upsert` — ``foreachPartition`` with a
  per-partition DBAPI connection, ``executemany`` batches, and an
  ``INSERT ... ON CONFLICT DO UPDATE`` statement. The *effect* (which
  rows update, which insert, which are rejected) is computed
  Spark-side by the K1/K2 set operators (operators/relational.py,
  streaming/sinks.py); the executor only applies it, exactly like the
  parquet ``foreachBatch`` executors it mirrors. Works against any
  DBAPI 2.0 driver — pyodbc in a reference-shaped deployment, sqlite3
  in this sandbox's tests (no DB server is installed here).

Scale notes: one connection and one transaction per *partition*, not
per row (the reference commits row-at-a-time); batches bounded by
``batch_size`` keep driver-side memory flat; no ``collect()`` anywhere
— rows stream from each executor partition straight into the database.
"""

from __future__ import annotations

import itertools
import time
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "read_jdbc",
    "write_jdbc_append",
    "upsert_sql",
    "ConnectFactory",
    "dbapi_upsert",
    "dbapi_upsert_foreach_batch",
]


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_col: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    predicates: Sequence[str] | None = None,
    **properties: str,
) -> DataFrame:
    """Partitioned JDBC scan (the S2/S3/S5 source path against a real
    database). Exactly one of three modes:

    * ``partition_col`` + bounds → ``num_partitions`` parallel range
      queries (the standard big-table pattern);
    * ``predicates`` → one partition per predicate (e.g. per shift or
      per plant when the key is not numeric);
    * neither → single-partition read (small dims only).

    Untestable in this sandbox (no JDBC driver jar / DB server); the
    call shape is the stock ``DataFrameReader.jdbc`` one, kept thin on
    purpose.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in properties.items():
        reader = reader.option(k, v)
    if partition_col is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError("partition_col requires lower_bound, upper_bound, num_partitions")
        reader = (
            reader.option("partitionColumn", partition_col)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    elif predicates:
        # DataFrameReader.jdbc(predicates=...) is the only spelling for
        # predicate-partitioned reads
        from pyspark.sql.readwriter import DataFrameReader  # noqa: F401  (documentation)

        return spark.read.jdbc(url, table, predicates=list(predicates), properties=dict(properties))
    return reader.load()


def write_jdbc_append(df: DataFrame, url: str, table: str, **properties: str) -> None:
    """K3-style history append to a JDBC target (plain INSERTs — use
    :func:`dbapi_upsert` when keys must merge)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode("append")
    for k, v in properties.items():
        writer = writer.option(k, v)
    writer.save()


#: dialect → default DBAPI paramstyle (PEP 249): qmark for
#: sqlite3/pyodbc/ibm_db_dbi, format for psycopg2/mysqlclient
_DIALECT_PARAMSTYLE = {
    "onconflict": "qmark",
    "tsql": "qmark",
    "db2": "qmark",
    "mysql": "format",
}


def _upsert_onconflict(table, columns, key_cols, non_keys, ph) -> str:
    # SQLite / Postgres / DuckDB spelling
    sql = (
        f"INSERT INTO {table} ({', '.join(columns)}) "
        f"VALUES ({', '.join([ph] * len(columns))}) "
        f"ON CONFLICT ({', '.join(key_cols)})"
    )
    if non_keys:
        sets = ", ".join(f"{c} = excluded.{c}" for c in non_keys)
        return f"{sql} DO UPDATE SET {sets}"
    return f"{sql} DO NOTHING"


def _upsert_merge(table, columns, key_cols, non_keys, ph, *, holdlock: bool) -> str:
    # ANSI MERGE over a one-row VALUES source — SQL Server (pyodbc,
    # WITH (HOLDLOCK) makes the upsert race-free under concurrency)
    # and DB2 for i (AS400) both take this shape; SQL Server also
    # requires the statement-terminating semicolon on MERGE.
    src = f"(VALUES ({', '.join([ph] * len(columns))})) AS src ({', '.join(columns)})"
    on = " AND ".join(f"tgt.{k} = src.{k}" for k in key_cols)
    tgt = f"{table} WITH (HOLDLOCK) AS tgt" if holdlock else f"{table} AS tgt"
    sql = f"MERGE INTO {tgt} USING {src} ON {on}"
    if non_keys:
        sets = ", ".join(f"{c} = src.{c}" for c in non_keys)
        sql += f" WHEN MATCHED THEN UPDATE SET {sets}"
    ins_vals = ", ".join(f"src.{c}" for c in columns)
    sql += f" WHEN NOT MATCHED THEN INSERT ({', '.join(columns)}) VALUES ({ins_vals})"
    return sql + (";" if holdlock else "")


def _upsert_mysql(table, columns, key_cols, non_keys, ph) -> str:
    head = f"INSERT INTO {table} ({', '.join(columns)}) VALUES ({', '.join([ph] * len(columns))})"
    if non_keys:
        sets = ", ".join(f"{c} = VALUES({c})" for c in non_keys)
        return f"{head} ON DUPLICATE KEY UPDATE {sets}"
    return f"INSERT IGNORE INTO {table} ({', '.join(columns)}) VALUES ({', '.join([ph] * len(columns))})"


def upsert_sql(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    *,
    paramstyle: str | None = None,
    dialect: str = "onconflict",
) -> str:
    """One-row MERGE statement for ``executemany``, in the target
    database's dialect — the reference's UPDATE-or-INSERT pair
    (Prensas.py:216-223 + :319-331) as a single atomic statement.

    ``dialect``:
      * ``"onconflict"`` — SQLite / Postgres / DuckDB
        ``INSERT ... ON CONFLICT DO UPDATE`` (default; what the sandbox
        tests execute end-to-end against sqlite3);
      * ``"tsql"`` — SQL Server ``MERGE WITH (HOLDLOCK)``, the
        reference's actual pyodbc target (Prensas.py:166-170);
      * ``"db2"`` — DB2 for i (AS400) ``MERGE``, the reference's
        multiplier-table host (Prensas.py:128-133);
      * ``"mysql"`` — ``INSERT ... ON DUPLICATE KEY UPDATE``.

    ``paramstyle`` overrides the dialect's PEP-249 default (``qmark``
    for sqlite3/pyodbc/ibm_db_dbi, ``format`` for psycopg2/mysql)."""
    if dialect not in _DIALECT_PARAMSTYLE:
        raise ValueError(f"unknown dialect {dialect!r}; one of {sorted(_DIALECT_PARAMSTYLE)}")
    if not set(key_cols) <= set(columns):
        raise ValueError(f"key_cols {key_cols} must be a subset of columns {columns}")
    ph = "?" if (paramstyle or _DIALECT_PARAMSTYLE[dialect]) == "qmark" else "%s"
    non_keys = [c for c in columns if c not in key_cols]
    columns = list(columns)
    if dialect == "tsql":
        return _upsert_merge(table, columns, key_cols, non_keys, ph, holdlock=True)
    if dialect == "db2":
        return _upsert_merge(table, columns, key_cols, non_keys, ph, holdlock=False)
    if dialect == "mysql":
        return _upsert_mysql(table, columns, key_cols, non_keys, ph)
    return _upsert_onconflict(table, columns, key_cols, non_keys, ph)


class ConnectFactory:
    """Picklable zero-arg PEP-249 connection factory from a DRIVER
    STRING: executors import the named module and call its
    ``connect(*args, **kwargs)`` — so pointing the upsert executor at
    SQL Server is configuration, not code::

        ConnectFactory("sqlite3", "/data/plant.db")
        ConnectFactory("pyodbc", "DRIVER={ODBC Driver 18 for SQL Server};"
                                 "SERVER=...;DATABASE=...;UID=...;PWD=...")

    Only the module name and connect arguments are pickled; the import
    happens on the executor (a live connection can never be shipped)."""

    def __init__(self, module: str, *args, **kwargs):
        self.module = module
        self.args = args
        self.kwargs = kwargs

    def __call__(self):
        import importlib

        return importlib.import_module(self.module).connect(*self.args, **self.kwargs)


def _chunks(it: Iterator, size: int) -> Iterator[list]:
    while True:
        chunk = list(itertools.islice(it, size))
        if not chunk:
            return
        yield chunk


def dbapi_upsert(
    df: DataFrame,
    connect: Callable[[], object],
    table: str,
    key_cols: Sequence[str],
    *,
    batch_size: int = 1000,
    paramstyle: str | None = None,
    dialect: str = "onconflict",
    retries: int = 5,
) -> None:
    """Distributed MERGE into a DBAPI target: ``foreachPartition``,
    one connection + one transaction per partition, ``executemany``
    in ``batch_size`` chunks.

    ``connect`` must be a picklable zero-arg factory (executors open
    their own connections — a driver-side connection object cannot be
    shipped); :class:`ConnectFactory` builds one from a PEP-249 driver
    module name + connect arguments, and ``dialect`` picks the target's
    MERGE spelling, so retargeting from the sandbox's sqlite to the
    reference's SQL Server (Prensas.py:166-170) or AS400
    (Prensas.py:128-133) is pure configuration. Transient failures (e.g. SQLite write-lock contention
    when 32 local partitions land at once) retry the partition's
    transaction with exponential backoff; the upsert is idempotent, so
    a replayed partition converges to the same state.
    """
    columns = list(df.columns)
    sql = upsert_sql(table, columns, key_cols, paramstyle=paramstyle, dialect=dialect)

    def apply(rows) -> None:
        chunks = _chunks(iter(rows), batch_size)
        for chunk in chunks:
            data = [tuple(r[c] for c in columns) for r in chunk]
            for attempt in range(retries + 1):
                try:
                    con = connect()
                    try:
                        con.cursor().executemany(sql, data)
                        con.commit()
                    finally:
                        con.close()
                    break
                except Exception:
                    if attempt == retries:
                        raise
                    time.sleep(0.05 * (2**attempt))

    df.foreachPartition(apply)


def dbapi_upsert_foreach_batch(
    connect: Callable[[], object],
    table: str,
    key_cols: Sequence[str],
    order_col: str | Sequence[str] = "ts",
    **kwargs,
):
    """Streaming K1/K2 executor against a relational target: the
    ``foreachBatch`` twin of
    ``streaming.sinks.versioned_upsert_foreach_batch``, with the
    database doing the merge instead of a VersionedTable MERGE.
    Within a batch, last-write-wins per key by ``order_col``
    (deterministic tie-break — see ``latest_per_key``); across batch
    RETRIES the ON CONFLICT upsert is idempotent, so exactly-once
    state without a transactional file format."""
    from iotdatapipeline_spark.streaming.sinks import latest_per_key

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        latest = latest_per_key(batch_df, list(key_cols), order_col)
        dbapi_upsert(latest, connect, table, key_cols, **kwargs)

    return apply


# ── The upsert executor behind Spark's writer commit protocol ───────────────


def _dbapi_writer_classes():
    """Late import: pyspark.sql.datasource exists on Spark 4 only."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Done(WriterCommitMessage):
        def __init__(self, n_rows: int):
            self.n_rows = n_rows

    class DBAPIUpsertWriter(DataSourceWriter):
        """Per-task MERGE into the DBAPI target: one connection + one
        transaction per task, ``executemany`` in ``batch_size`` chunks
        — the dbapi_upsert executor re-hosted on Spark's writer
        protocol. Task-failure semantics are the idempotent-upsert
        contract (standard for non-transactional relational sinks): a
        retried task re-applies ON CONFLICT rows it already wrote, and
        since the source frame must be key-unique (same contract as
        merge_into / dbapi_upsert), the retry converges to the same
        final state; abort() therefore has nothing to undo."""

        def __init__(self, options, columns):
            self.module = options.get("module", "sqlite3")
            self.conn = options["conn"]
            self.table = options["table"]
            self.keys = [k.strip() for k in options["keys"].split(",")]
            self.dialect = options.get("dialect", "onconflict")
            self.batch_size = int(options.get("batch_size", 1000))
            self.columns = columns

        def _connect(self):
            kwargs = {"timeout": 30.0} if self.module == "sqlite3" else {}
            return ConnectFactory(self.module, self.conn, **kwargs)()

        def write(self, iterator):
            sql = upsert_sql(self.table, self.columns, self.keys, dialect=self.dialect)
            n = 0
            it = iter(iterator)
            while True:
                chunk = list(itertools.islice(it, self.batch_size))
                if not chunk:
                    break
                data = [tuple(row[c] for c in self.columns) for row in chunk]
                for attempt in range(6):
                    try:
                        con = self._connect()
                        try:
                            con.cursor().executemany(sql, data)
                            con.commit()
                        finally:
                            con.close()
                        break
                    except Exception:
                        if attempt == 5:
                            raise
                        time.sleep(0.05 * (2**attempt))
                n += len(data)
            return _Done(n)

        def commit(self, messages):
            # per-task transactions already committed; nothing global
            pass

        def abort(self, messages):
            # idempotent-upsert contract: completed task writes are
            # convergent, not poisonous — the job retry re-applies
            pass

    class DBAPIUpsertStreamWriter(DBAPIUpsertWriter, DataSourceStreamWriter):
        """The same per-task MERGE under the STREAMING writer protocol
        (``writeStream.format("dbapi")``): exactly-once end state via
        idempotent upsert — a replayed micro-batch (sink write
        committed, offset commit lost) re-applies the same key-unique
        rows and converges, the same argument as
        dbapi_upsert_foreach_batch; the K1 VersionedTable sink,
        versioned_upsert_foreach_batch, skips the replay by its txn
        stamp instead. commit / abort receive the batchId; there is
        nothing transactional to finalize per batch, by design."""

        def commit(self, messages, batchId):
            pass

        def abort(self, messages, batchId):
            pass

    class DBAPISinkDataSource(DataSource):
        """``format("dbapi")`` write path, batch AND streaming:
        df.write.format("dbapi").option("conn", ...).option("table",
        ...).option("keys", ...).mode("append").save(), or
        writeStream.format("dbapi") with a checkpoint — MERGE semantics
        via the dialect's upsert statement (options: module, dialect,
        batch_size)."""

        @classmethod
        def name(cls):
            return "dbapi"

        def schema(self):  # write-only source; schema comes from the frame
            return "ok string"

        def writer(self, schema, overwrite):
            return DBAPIUpsertWriter(self.options, [f.name for f in schema.fields])

        def streamWriter(self, schema, overwrite):
            return DBAPIUpsertStreamWriter(self.options, [f.name for f in schema.fields])

    return DBAPISinkDataSource


def register_dbapi_sink(spark) -> None:
    """Idempotent registration of the ``dbapi`` writer format."""
    spark.dataSource.register(_dbapi_writer_classes())
