"""The declared-query harness shared by every ``plans`` module.

* ``register`` declares a query (a Spark callable) under a unique name,
  with its DuckDB oracle SQL when it has one. ``QUERIES`` and ``ORACLE``
  are the only registry dicts.
* ``scratch`` makes a work directory for a query. All of a process's
  scratch dirs live under one root, removed when the interpreter exits.
* ``drain`` runs a gate stream into a memory sink and returns the sink
  as a batch DataFrame.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


_root: str | None = None
_root_pid: int | None = None


def _remove_root(root: str, pid: int) -> None:
    # a forked child inherits this handler; only the creator removes
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def _new_dir(parent: str, prefix: str) -> str:
    path = os.path.join(parent, prefix + uuid.uuid4().hex[:12])
    os.mkdir(path, 0o700)
    return path


def scratch(prefix: str) -> str:
    """A new empty directory under this process's scratch root.

    The root is created in the temp dir on first use and removed at
    interpreter exit, not when the query returns: the lakehouse queries
    return lazy frames that still read their table after the query
    function has returned."""
    global _root, _root_pid
    if _root_pid != os.getpid():
        _root, _root_pid = _new_dir(tempfile.gettempdir(), "iotdp_"), os.getpid()
        atexit.register(_remove_root, _root, _root_pid)
    return _new_dir(_root, prefix)


def drain(
    stream: DataFrame,
    name: str,
    until: Callable[[DataFrame], bool] | None = None,
    *,
    every: str = "50 milliseconds",
    deadline_s: float = 120.0,
) -> DataFrame:
    """Run ``stream`` in append mode into a fresh memory sink and return
    the sink table.

    Without ``until`` the query runs with ``availableNow`` and returns
    once it has consumed all input. With ``until`` it runs on a
    processing-time trigger of ``every``; the sink is polled until
    ``until(sink)`` holds, the query stops, or ``deadline_s`` passes,
    and the query is then stopped. The caller checks what it got."""
    spark = stream.sparkSession
    sink = f"{name}_{uuid.uuid4().hex[:8]}"
    writer = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", scratch(f"iotdp_{name}_ckpt_"))
    )
    if until is None:
        writer.trigger(availableNow=True).start().awaitTermination()
        return spark.table(sink)
    q = writer.trigger(processingTime=every).start()
    out = spark.table(sink)
    deadline = time.monotonic() + deadline_s
    try:
        while q.isActive and time.monotonic() < deadline and not until(out):
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(60)
    return out
