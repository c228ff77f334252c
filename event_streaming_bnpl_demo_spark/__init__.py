"""PySpark-native analytics/streaming engine with the capabilities of
``TaigaYamada-cell/event-streaming-bnpl-demo`` (see SURVEY.md), rebuilt
Spark-first: DataFrame/SQL plans optimized by Catalyst, Structured
Streaming for the event pipeline, and an LLM-data-pipeline operator pack
(dedup, similarity search, text analysis, multimodal columns) designed
for 100 TB scale.

Package map
-----------
- ``session``    : SparkSession tuning (AQE, partitions, Arrow, UTC).
- ``schemas``    : event-envelope + projection StructTypes (ref events.go).
- ``sources``    : batch/stream readers over the parquet tables.
- ``operators``  : reusable DataFrame-level operators (joins, dedup,
                   similarity, text, multimodal).
- ``plans``      : the registered query catalog — every operator from
                   SURVEY.md §2 as a (spark, sf_dir) -> DataFrame callable
                   with a DuckDB oracle SQL string.
- ``streaming``  : Structured Streaming wiring of the BNPL reference
                   pipeline (file source, foreachBatch folds into
                   LakeTable projections, as-of state).
"""

__version__ = "0.1.0"
