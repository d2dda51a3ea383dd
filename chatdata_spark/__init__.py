"""chatdata_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of myscale/ChatData (vector search over document
tables + the relational surface its app emits), re-expressed Spark-first.

The reference (/root/reference) is a RAG app delegating execution to
MyScaleDB/ClickHouse; here the engine is Spark SQL / Catalyst itself.
Layering (see SURVEY.md §7):

- ``session``    — SparkSession factory (AQE + Arrow on).
- ``catalog``    — typed table configs + loaders for parquet-backed tables.
- ``functions``  — vector distance ops, ClickHouse-name parity layer,
                   text-analysis functions (all JVM-side where possible).
- ``plans``      — Vector SQL dialect pre-pass and the structured-filter
                   (self-query) → Column compiler.
- ``operators``  — kNN, IVF ANN, dedup family, upsert/delete conventions,
                   multimodal column plumbing.
- ``sources``    — batch ingestion (JSON flatten, validation, uploads).
- ``stores``     — session / chat-memory / private-KB state stores.
- ``streaming``  — incremental embedding refresh (Structured Streaming).
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Python workers of a driver running outside the repo cannot import this
# package, so cloudpickle ships it by value: worker closures may call any
# chatdata_spark function, and submodules are covered through this parent.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
