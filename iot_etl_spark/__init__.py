"""iot_etl_spark — a from-scratch, idiomatic-PySpark analytics engine.

Re-implements the query and data-processing capabilities of the
reference project kaonasty/iot-etl (batch enrichment, streaming
ingestion, warehouse analytics) as Spark-native DataFrame / Spark SQL
operators, plus LLM-data-pipeline queries (dedup, similarity search,
text analysis, JSON props) designed for 100 TB scale.

Layout:
    session.py    SparkSession factory + runtime conf guard
    schemas.py    canonical StructType contracts
    durable.py    fsync by path (txlog commits, stage-cache markers)
    sources/      table loaders (parquet) + streaming sources
    operators/    enrichment joins, time features, rolling windows,
                  anomaly detection, quality gating, latest-per-key,
                  aggregate builders
    plans/        the named query library with DuckDB-oracle SQL twins
    streaming/    Structured Streaming pipeline (watermarked tumbling
                  aggregates, idempotent foreachBatch sink)
    warehouse/    materialized hourly/daily aggregate lifecycle
    pipeline/     batch extract->transform->load assembly
"""

__version__ = "0.1.0"
