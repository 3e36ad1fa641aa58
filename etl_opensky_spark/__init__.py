"""etl_opensky_spark — a PySpark-native analytics/ETL engine.

Re-implements, Spark-first, the query and data-processing capabilities of
the reference pipeline minkminkk/etl-opensky (a daily OpenSky flights →
parquet lake → Hive star-schema ETL), plus large-scale training-data
pipeline operators (dedup, text analysis).

Design principles
-----------------
- DataFrame/SQL declarative plans; Catalyst/Tungsten/AQE pick physical
  strategy. No RDD code.
- Pure functions ``DataFrame -> DataFrame``; no wrapper classes.
- Built-in ``pyspark.sql.functions`` in the hot path; Arrow-batched
  pandas UDFs only where built-ins genuinely can't express semantics.
- Every operator designed for 100 TB: no global sorts unless semantically
  required, no driver-side collects, broadcast for small dims, partition
  pruning preserved.
"""

__version__ = "0.1.0"
