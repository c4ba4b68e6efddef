"""Warehouse-surface queries: the generated dim_time calendar.

Reference: ``warehouse/create_dwh_schema.sql:40-53`` declares a
``dim_time`` dimension at (date, hour) grain with calendar attributes;
nothing in the reference populates it — the engine generates it
deterministically (a calendar needs no source table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from iot_etl_spark.plans.registry import query
from iot_etl_spark.operators.timefeatures import BUSINESS_HOUR_START, BUSINESS_HOUR_END

DIM_TIME_START = "2024-01-01"
DIM_TIME_END = "2024-03-31"

# DuckDB dayofweek is 0=Sunday, Spark's is 1=Sunday: the oracle emits
# dayofweek(d)+1 so both sides share the Spark/Postgres-DOW convention.
_DIM_TIME_ORACLE = f"""
SELECT CAST((year(d) * 10000 + month(d) * 100 + day(d)) AS BIGINT) * 100 + h AS time_id,
       strftime(d, '%Y-%m-%d') AS date_key,
       h AS hour,
       dayofweek(d) + 1 AS day_of_week,
       dayname(d) AS day_name,
       CAST(weekofyear(d) AS INT) AS week_of_year,
       month(d) AS month,
       monthname(d) AS month_name,
       quarter(d) AS quarter,
       year(d) AS year,
       dayofweek(d) IN (0, 6) AS is_weekend,
       h >= {BUSINESS_HOUR_START} AND h < {BUSINESS_HOUR_END}
           AND dayofweek(d) NOT IN (0, 6) AS is_business_hours
FROM generate_series(DATE '{DIM_TIME_START}', DATE '{DIM_TIME_END}', INTERVAL 1 DAY) AS t(d),
     generate_series(0, 23) AS g(h)
"""


@query("dim_time_calendar", oracle=_DIM_TIME_ORACLE)
def dim_time_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated dim_time calendar (create_dwh_schema.sql:40-53) at
    (date, hour) grain: surrogate key yyyymmddHH, day/week/month/
    quarter attributes (date_key as ISO string per the registry's
    no-raw-temporal convention), weekend + business-hours flags (engine
    semantics — see operators/timefeatures.py for the documented
    business-hours divergence). Generated with sequence+explode: no
    source scan, fully parallel, deterministic. (sf_dir unused —
    calendars are scale-independent.)"""
    days = spark.range(1).select(
        F.explode(
            F.expr(
                f"sequence(to_date('{DIM_TIME_START}'), to_date('{DIM_TIME_END}'),"
                " interval 1 day)"
            )
        ).alias("d")
    )
    cal = days.select("d", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour"))
    dow = F.dayofweek("d")
    weekend = dow.isin([1, 7])
    return cal.select(
        (
            (F.year("d") * 10000 + F.month("d") * 100 + F.dayofmonth("d")).cast("long") * 100
            + F.col("hour")
        ).alias("time_id"),
        F.date_format("d", "yyyy-MM-dd").alias("date_key"),
        "hour",
        dow.alias("day_of_week"),
        F.date_format("d", "EEEE").alias("day_name"),
        F.weekofyear("d").alias("week_of_year"),
        F.month("d").alias("month"),
        F.date_format("d", "MMMM").alias("month_name"),
        F.quarter("d").alias("quarter"),
        F.year("d").alias("year"),
        weekend.alias("is_weekend"),
        (
            (F.col("hour") >= BUSINESS_HOUR_START)
            & (F.col("hour") < BUSINESS_HOUR_END)
            & ~weekend
        ).alias("is_business_hours"),
    )


# ------------------------------------------- bucketed co-located join
# revenue is summed in integer cents: SUM over ~12k doubles of ~6e8
# magnitude carries accumulation-order noise right at the ROUND-6
# boundary, so the exact-integer sum is the only order-independent,
# engine-identical formulation at this group size.
_BUCKETED_JOIN_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS line_count,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@query("bucketed_join_revenue", oracle=_BUCKETED_JOIN_ORACLE)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority through BUCKETED tables
    (warehouse/bucketing.py): orders and lineitem are persisted
    hash-bucketed by order key with the same bucket count, so the join
    runs as a zero-shuffle co-located sort-merge join — the 100 TB
    answer to repeated fact-fact joins (shuffle paid once at write,
    amortized over every query). The zero-Exchange plan property is
    pinned by tests/test_warehouse.py; this query proves the bucketed
    round-trip + join result is byte-identical to the logical join.

    The bucket files live under a ``keyed_dir`` (plans/stagecache.py)
    keyed on the SOURCE parquet fingerprints and this code, so a
    testdata regen or an edit to the bucket spec rewrites, and a
    matching key on disk reuses the files: re-registering the external
    tables claims the layout in a fresh session without re-shuffling —
    the write is paid once at ingest, as on a real warehouse."""
    import os

    from iot_etl_spark.plans.stagecache import keyed_dir
    from iot_etl_spark.sources.tables import load_table
    from iot_etl_spark.warehouse.bucketing import (
        colocated_join,
        register_bucketed_external,
        write_bucketed,
    )

    n_buckets = 8
    orders_proj = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    lineitem_proj = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    with keyed_dir(
        "bucketed", sf_dir, ("orders", "lineitem"),
        (bucketed_join_revenue, write_bucketed),
    ) as (root, ready):
        # the dir name is unique per key, so the tables registered over
        # it are too
        key = os.path.basename(root)
        for proj, side, col in (
            (orders_proj, "orders", "o_orderkey"),
            (lineitem_proj, "lineitem", "l_orderkey"),
        ):
            table, path = f"bkt_{side}_{key}", os.path.join(root, side)
            if ready:
                # schema access plans nothing; the DDL mirrors exactly
                # what write_bucketed persisted under this key
                ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in proj.schema
                )
                register_bucketed_external(
                    spark, table, path, ddl, (col,), n_buckets, sort_cols=(col,)
                )
            else:
                write_bucketed(proj, table, path, (col,), n_buckets, sort_cols=(col,))
    joined = colocated_join(
        spark, f"bkt_orders_{key}", f"bkt_lineitem_{key}",
        on=[F.col("o_orderkey") == F.col("l_orderkey")],
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("line_count"),
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast("long")
        ).cast("long").alias("revenue_cents"),
    )


# ------------------- incremental continuous-aggregate refresh, oracle-gated
# The warehouse lifecycle's core claim — a STALE hourly aggregate
# table plus one dirty-window refresh equals the full rebuild
# (warehouse/lifecycle.py:refresh_agg, the Spark analog of the
# reference's continuous-aggregate refresh policy,
# create_dwh_schema.sql:216-233) — was previously pytest-only; this
# query puts the refresh MECHANICS under the driver's hash gate. The
# table is first materialized from a snapshot missing the last 3
# days (yesterday's build), then refreshed with since = max-7d from
# the full source; the readout must equal a from-scratch rollup. A
# stale partition, a missed bucket, or a double-applied overwrite
# changes counts and fails the hash.
AGG_REFRESH_STALE_DAYS = 3
AGG_REFRESH_DIRTY_DAYS = 7

_AGG_REFRESH_ORACLE = """
SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000
           AS bucket_epoch,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS reading_count,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS anomaly_count,
       ROUND(MIN(value), 6) AS min_value,
       ROUND(MAX(value), 6) AS max_value,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6)
           AS median_value,
       ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 6)
           AS p95_value
FROM events
GROUP BY 1, 2
"""


@query("hourly_agg_incremental_refresh", oracle=_AGG_REFRESH_ORACLE)
def hourly_agg_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the hourly continuous aggregate from a snapshot
    that STOPS {AGG_REFRESH_STALE_DAYS} days before the data's end
    (yesterday's build), then run ONE dirty-window refresh
    (``refresh_agg``, since = max - {AGG_REFRESH_DIRTY_DAYS} days,
    dynamic partition overwrite) against the full source — and prove
    via the oracle that the resulting TABLE equals a from-scratch
    rollup of all events. SURVEY §2.11 / §4's "needs engine-level
    design" row, now under the same hash gate as every query.

    Readout columns are the refresh-sensitive exact/order-statistic
    set (counts, min/max, exact median/p95); avg/stddev are stored in
    the table too but oracle-gated separately by hourly_device_agg —
    their plain-double accumulation is order-dependent in the last
    ulp, which must not couple THIS query's verdict to summation
    order (hourly_device_agg's decimal-sum docstring).

    100 TB shape: the stale build writes date partitions once; the
    refresh recomputes ONLY buckets inside the dirty window and
    dynamically overwrites exactly those agg_date partitions —
    history cost is zero, refresh cost is O(dirty window). The table
    lives under a ``keyed_dir`` (plans/stagecache.py), so bench/driver
    re-runs reuse the committed table (the stream_quarantine_ingest
    idempotence pattern); the max-date probe is one bounded scalar
    action."""
    import datetime
    import os

    from iot_etl_spark.plans.stagecache import keyed_dir
    from iot_etl_spark.sources.tables import load_table
    from iot_etl_spark.warehouse import lifecycle

    with keyed_dir(
        "aggrefresh", sf_dir, ("events",),
        (
            hourly_agg_incremental_refresh,
            lifecycle.materialize_agg,
            lifecycle.refresh_agg,
            lifecycle.hourly_agg,
        ),
    ) as (d, ready):
        tbl = os.path.join(d, "fact_hourly_agg")
        if not ready:
            ev = load_table(spark, sf_dir, "events")
            maxd = ev.agg(F.max(F.to_date("ts")).alias("d")).collect()[0]["d"]
            stale_cut = maxd - datetime.timedelta(days=AGG_REFRESH_STALE_DAYS)
            since = maxd - datetime.timedelta(days=AGG_REFRESH_DIRTY_DAYS)
            # yesterday's build: events past the stale cut never seen
            lifecycle.materialize_agg(
                ev.filter(F.to_date("ts") < F.lit(str(stale_cut))), tbl
            )
            # one policy tick: recompute the dirty window from full data
            lifecycle.refresh_agg(ev, tbl, since=since)
    agg = lifecycle.read_agg(spark, tbl)
    return agg.select(
        F.unix_timestamp("bucket").cast("long").alias("bucket_epoch"),
        "event_type",
        F.col("reading_count").cast("long").alias("reading_count"),
        F.col("anomaly_count").cast("long").alias("anomaly_count"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        F.round("median_value", 6).alias("median_value"),
        F.round("p95_value", 6).alias("p95_value"),
    )
