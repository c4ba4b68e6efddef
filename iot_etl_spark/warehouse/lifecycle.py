"""Materialized bucketed aggregates: build, materialize, incremental
refresh, retention.

The Timescale continuous aggregate (create_dwh_schema.sql:142-209) is a
table kept fresh by a policy that recomputes a trailing window
(:216-233, e.g. hourly agg refreshed over [now-3h, now-1h]) and a
retention policy that drops old chunks (:255-262). The Spark-native
translation:

- the aggregate is an ordinary parquet table partitioned by
  ``agg_date`` (the bucket's calendar date);
- **refresh = recompute only the dirty date partitions** and swap them
  in with writer-scoped dynamic partition overwrite — untouched
  history is never rewritten or even read (the events scan is
  partition-prunable on the same date bounds at scale);
- **retention = drop whole date partitions** past the horizon; no row
  rewrites, exactly like dropping hypertable chunks.

Buckets never span dates (hour divides day), so date-granularity
recomputation always covers whole buckets — a refresh can't produce a
partially-aggregated bucket.
"""

from __future__ import annotations

import datetime
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from iot_etl_spark.operators.timefeatures import add_time_features

_COMMON_AGGS = (
    lambda: [
        F.count(F.lit(1)).alias("reading_count"),
        F.avg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.stddev("value").alias("stddev_value"),
        F.percentile("value", F.lit(0.5)).alias("median_value"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("anomaly_count"),
    ]
)


def hourly_agg(events: DataFrame, time_col: str = "ts",
               key_cols: tuple[str, ...] = ("event_type",)) -> DataFrame:
    """fact_hourly_agg (create_dwh_schema.sql:142-170): hourly bucket x
    keys with count/avg/min/max/stddev, exact median + p95, anomaly
    count. `events.event_type == 'error'` plays is_anomaly_combined."""
    return (
        events.groupBy(F.date_trunc("hour", F.col(time_col)).alias("bucket"), *key_cols)
        .agg(*_COMMON_AGGS(), F.percentile("value", F.lit(0.95)).alias("p95_value"))
    )


def daily_agg(events: DataFrame, time_col: str = "ts",
              key_cols: tuple[str, ...] = ("event_type",)) -> DataFrame:
    """fact_daily_agg (create_dwh_schema.sql:173-209): daily bucket with
    the common stats plus the business-hours / non-business-hours
    conditional averages (NULL-else CASE -> subset AVG)."""
    ev = add_time_features(events, time_col=time_col)
    return (
        ev.groupBy(F.date_trunc("day", F.col(time_col)).alias("bucket"), *key_cols)
        .agg(
            *_COMMON_AGGS(),
            F.avg(F.when(F.col("is_business_hours"), F.col("value"))).alias(
                "avg_value_business_hours"
            ),
            F.avg(F.when(~F.col("is_business_hours"), F.col("value"))).alias(
                "avg_value_non_business_hours"
            ),
        )
    )


_BUILDERS = {"hour": hourly_agg, "day": daily_agg}


def materialize_agg(
    events: DataFrame,
    path: str,
    bucket: str = "hour",
    time_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
) -> None:
    """Full (re)build of the aggregate table: parquet partitioned by
    agg_date, rows sorted within partitions by (bucket, keys) for
    min/max row-group skipping (the compression orderby analog,
    create_dwh_schema.sql:240-248)."""
    agg = _BUILDERS[bucket](events, time_col=time_col, key_cols=key_cols)
    (
        agg.withColumn("agg_date", F.to_date("bucket"))
        .sortWithinPartitions("bucket", *key_cols)
        .write.mode("overwrite")
        .partitionBy("agg_date")
        .parquet(path)
    )


def refresh_agg(
    events: DataFrame,
    path: str,
    since: datetime.date | str,
    bucket: str = "hour",
    time_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
) -> None:
    """Incremental refresh (the continuous-aggregate policy,
    create_dwh_schema.sql:216-233): recompute ONLY buckets whose date
    >= ``since`` and dynamically overwrite those agg_date partitions.
    ``since`` is the start of the dirty window — the policy analog of
    ``now - start_offset``, snapped to a day boundary so whole buckets
    are always recomputed. History older than ``since`` is untouched."""
    dirty = events.filter(F.to_date(F.col(time_col)) >= F.to_date(F.lit(str(since))))
    agg = _BUILDERS[bucket](dirty, time_col=time_col, key_cols=key_cols)
    (
        agg.withColumn("agg_date", F.to_date("bucket"))
        .sortWithinPartitions("bucket", *key_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("agg_date")
        .parquet(path)
    )


def drop_partitions_older_than(
    path: str,
    keep_days: int,
    now: datetime.date | str,
) -> list[str]:
    """Retention policy (create_dwh_schema.sql:255-262; SURVEY §2.11):
    drop agg_date partitions strictly older than ``now - keep_days``.
    Partition-drop only — no row rewrites, the Spark analog of
    Timescale's drop_chunks. Local-FS implementation; on a cluster the
    same operation is a catalog ALTER TABLE DROP PARTITION / object-
    store prefix delete. Returns the dropped partition names."""
    if isinstance(now, str):
        now = datetime.date.fromisoformat(now)
    cutoff = now - datetime.timedelta(days=keep_days)
    dropped = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("agg_date="):
            continue
        part_date = datetime.date.fromisoformat(entry.split("=", 1)[1])
        if part_date < cutoff:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(entry)
    return dropped


def read_agg(spark: SparkSession, path: str) -> DataFrame:
    """Scan the materialized aggregate; time predicates on agg_date are
    partition-pruned."""
    return spark.read.parquet(path)
