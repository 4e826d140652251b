"""ocr_spark — a PySpark-native analytics + web-extraction engine.

A from-scratch re-expression of the capabilities of the reference runtime
(`pombreda/ocr`, the Open Community Runtime v0.8 at /root/reference) on
Apache Spark. The reference is an event-driven task runtime: tasks (EDTs)
fire when their dependence slots are satisfied, datablocks are untyped byte
buffers, and finish-latches provide hierarchical termination detection
(see SURVEY.md for the full mapping). Here:

- the dependence DAG      -> the Catalyst logical plan (DataFrame API)
- datablocks (byte DBs)   -> BinaryType columns moved as Arrow batches
- EDTs (task functions)   -> Arrow-batched mapInArrow / mapInPandas stages, pandas UDFs
- finish-latch semantics  -> per-partition commit markers + job completion
- work-stealing locality  -> salted, size-bucketed repartitioning + AQE

Subpackages:
  sources/    parquet (and Iceberg-if-available) readers/writers, testdata loaders
  functions/  column-level helpers (text stats, vector math) built on pyspark.sql.functions
  operators/  dedup, similarity search, partitioning/skew, lineage/restart, multimodal
  plans/      the relational query catalog (TPC-H-ish) used by __spark_entry__
  extract/    the main-content extraction pipeline (HTML, synthetic-PDF, normalizer)
  streaming/  Structured Streaming ingest variants
"""

__version__ = "0.1.0"
