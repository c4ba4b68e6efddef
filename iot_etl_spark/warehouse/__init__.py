"""Warehouse lifecycle (SURVEY.md §2.11 / M6): materialized aggregate
tables with incremental refresh, and retention partition-drop.

Reference: TimescaleDB continuous aggregates ``fact_hourly_agg`` /
``fact_daily_agg`` (create_dwh_schema.sql:142-209), refresh policies
(:216-233), retention policies (:255-262). Spark-native equivalents:
the aggregates are parquet tables partitioned by bucket date; refresh
recomputes only the trailing dirty window via dynamic partition
overwrite; retention drops whole date partitions.
"""

from iot_etl_spark.warehouse.txlog import TxTable, ConcurrentCommitError
from iot_etl_spark.warehouse.lifecycle import (
    hourly_agg,
    daily_agg,
    materialize_agg,
    refresh_agg,
    drop_partitions_older_than,
    read_agg,
)

__all__ = [
    "hourly_agg",
    "daily_agg",
    "materialize_agg",
    "refresh_agg",
    "drop_partitions_older_than",
    "read_agg",
    "TxTable",
    "ConcurrentCommitError",
]
