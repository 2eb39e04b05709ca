"""orderly_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference ORDerly pipeline
(sustainable-processes/ORDerly), re-expressed Spark-first.

Subpackages
-----------
- ``session``    SparkSession factory tuned for the local[N] harness (N is
                 ``SPARK_GRAFT_CPUS`` or the CPU count) and for
                 cluster-scale defaults (AQE, Arrow, shuffle sizing).
- ``tables``     Loaders for the driver testdata star schema + view registry.
- ``schema``     Canonical array-model reaction schema (SURVEY §1.3).
- ``operators``  Relational + pipeline operators (clean pipeline, dedup,
                 similarity search, text analysis, as-of join, multimodal).
- ``functions``  Scalar/array function library (chem UDFs, hashing, arrays).
- ``sources``    Sources/sinks beyond stock Spark (ORD protobuf, solvents dim).
- ``queries``    The SURVEY §2 operator inventory declared as named queries
                 with DuckDB oracle SQL (the driver correctness gate).
- ``streaming``  Structured Streaming ingestion path.
"""

__version__ = "0.1.0"
