"""iotdatapipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference industrial-IoT pipeline
(montesmoises/IoTDataPipeline, surveyed in SURVEY.md): register-block
decoding, part-number normalization/expansion, dedup-combine
aggregation, keyed counter-delta / shift-rollover state machines,
guarded upsert sinks — plus the large-scale training-data operators a
100 TB pipeline needs (dedup families, similarity search, text
analysis).

Layering (SURVEY.md §7):
  functions/  — pure Column-expression builders (Catalyst-optimizable)
  sources/    — table/stream readers over parquet fixtures
  operators/  — DataFrame→DataFrame relational operators
  analytics/  — training-data extensions (dedup, ANN, text)
  streaming/  — Structured Streaming pipeline + stateful ops
  plans/      — the named query registry wired to the driver contract
"""

from iotdatapipeline_spark import zipimport_cache
from iotdatapipeline_spark.session import get_spark

# Python workers import the package when they unpickle one of its
# functions; from then on their tasks skip re-reading pyspark.zip
zipimport_cache.install()

__all__ = ["get_spark"]
__version__ = "0.1.0"
