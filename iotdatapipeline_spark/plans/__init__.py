"""Named query registry behind ``__spark_entry__.queries`` and ``oracle_sql``.

Every query module registers into the one registry in ``_registry``:
each name is declared once, with its DuckDB oracle SQL when it has one.
Importing the modules in a fixed order fixes the order of ``QUERIES``.
A query's scratch dirs live under one per-process root that is removed
when the interpreter exits, and every gate stream drains into its memory
sink through the one ``drain`` helper.
"""

from iotdatapipeline_spark.plans import (  # noqa: F401  (import order = registry order)
    core,
    analytics,
    olap,
    streams,
    subqueries,
    timeseries,
    behavioral,
    sketches,
    quality,
    lakehouse,
)
from iotdatapipeline_spark.plans._registry import ORACLE, QUERIES

__all__ = ["QUERIES", "ORACLE"]
