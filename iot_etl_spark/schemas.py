"""Canonical StructType contracts.

The reference declares its streaming contract once as ``SENSOR_SCHEMA``
(``stream_etl/spark_streaming_consumer.py:33-42``) and otherwise relies
on JDBC schema inference. This engine declares every contract explicitly
(SURVEY.md §1.2): parquet carries its own schema, but streaming sources
and fabricated test frames use these.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Stream wire contract — mirrors the reference's SENSOR_SCHEMA
# (spark_streaming_consumer.py:33-42): JSON payload keyed by device_id.
# `metadata` stays a JSON string on the wire (the reference flattens it,
# iot_simulator.py:198-201) but the engine exposes it queryably via
# from_json/get_json_object (SURVEY.md §1.2).
SENSOR_READING_SCHEMA = T.StructType(
    [
        T.StructField("time", T.StringType(), True),  # ISO-8601 on the wire
        T.StructField("device_id", T.StringType(), True),
        T.StructField("device_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("unit", T.StringType(), True),
        T.StructField("quality_score", T.IntegerType(), True),
        T.StructField("is_anomaly", T.BooleanType(), True),
        T.StructField("metadata", T.StringType(), True),
    ]
)

# Events stream table (driver testdata): the time-series fact stand-in.
# `ts` is stored as nanosecond parquet; loaders convert long->timestamp.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# Raw on-disk events schema (ns timestamps surface as LongType under
# spark.sql.legacy.parquet.nanosAsLong=true).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),  # ns since epoch
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
