"""leaf_spark — a PySpark-native analytics/stream engine with the query and
data-processing capabilities of muni-town/leaf (event-sourcing framework on
SQLite), re-expressed Spark-first.

Layout
------
- ``leaf_spark.session``   tuned SparkSession builder (local test / cluster)
- ``leaf_spark.types``     SqlValue codec, LeafQuery, param validation
                           (≈ reference leaf-stream-types/src/lib.rs)
- ``leaf_spark.drisl``     deterministic-CBOR payload codec + path extraction
                           (≈ reference leaf-stream/src/drisl_extract.rs)
- ``leaf_spark.module``    content-addressed module defs
                           (≈ reference leaf-stream-types BasicModuleDef)
- ``leaf_spark.sqlcompat`` SQLite-dialect → Spark SQL translation + statement
                           authorization (≈ reference authorizer, lib.rs:989+)
- ``leaf_spark.stream``    Stream: open/append/authorize/materialize/replay/
                           query/subscribe (≈ reference leaf-stream/src/lib.rs)
- ``leaf_spark.fold``      materializer fold compiler: ``plan`` (script →
                           per-statement steps from table metadata) and
                           ``execute`` (round-wise / pooled steps on Spark)
- ``leaf_spark.catalog``   stream + module registry, GC
                           (≈ reference leaf-server/src/storage.rs)
- ``leaf_spark.operators`` scale extensions: dedup, similarity search,
                           text analysis, multimodal, recursive CTE
- ``leaf_spark.streaming`` Structured Streaming source + subscription loop

All heavy lifting is declarative DataFrame / Spark SQL so Catalyst plans the
physical execution; Python UDFs appear only where semantics genuinely require
them (DRISL path extraction over binary CBOR payloads).
"""

__version__ = "0.1.0"
