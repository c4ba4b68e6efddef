"""Time-series / IoT analytics on the ``events`` table.

``events`` plays the reference's ``sensor_readings`` role
(FIXTURES.md §B): user_id -> device key, ts -> time, value -> reading,
event_type -> device type, 'error' events -> anomaly flag. Every query
here reproduces a row of SURVEY.md §2 (citations inline) with a DuckDB
oracle twin.

Reference timestamp discipline: the engine never emits raw timestamps —
epoch seconds (BIGINT) on both sides (SURVEY.md §7.3 items 5/7). The
reference's NOW()-anchored queries are reproduced with a *fixed*
reference instant so results are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iot_etl_spark.plans.registry import query, DUCK_TS, DUCK_TS_EPOCH, duck_bucket_epoch, round_signed
from iot_etl_spark.sources.tables import load_events, load_table
from iot_etl_spark.operators.rolling import add_rolling_features, add_lag_features
from iot_etl_spark.operators.anomaly import add_zscore_anomaly
from iot_etl_spark.operators.latest import latest_per_key
from iot_etl_spark.operators.timefeatures import add_time_features

# Fixed "now" anchor: just past the last event in the 2024-01 window.
REF_INSTANT = "2024-01-30 00:00:00"


def _ts_epoch(col: str = "ts"):
    return F.unix_timestamp(F.col(col)).cast("long")


def _bucket_epoch(unit: str, col: str = "ts"):
    return F.unix_timestamp(F.date_trunc(unit, F.col(col))).cast("long")


# ---------------------------------------------------------------- A4: hourly
_HOURLY_ORACLE = f"""
SELECT {duck_bucket_epoch('hour')} AS bucket_epoch,
       event_type,
       COUNT(*) AS reading_count,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(value) AS avg_value,
       ROUND(MIN(value), 6)    AS min_value,
       ROUND(MAX(value), 6)    AS max_value,
       ROUND(STDDEV(value), 6) AS stddev_value,
       ROUND(percentile_cont(0.5)  WITHIN GROUP (ORDER BY value), 6) AS median_value,
       ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 6) AS p95_value,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS anomaly_count
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("hourly_device_agg", oracle=_HOURLY_ORACLE)
def hourly_device_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly bucketed aggregate with exact percentiles — the
    reference's continuous aggregate ``fact_hourly_agg``
    (create_dwh_schema.sql:142-170, SURVEY A4/A6/A7). Exact
    ``F.percentile`` matches PERCENTILE_CONT interpolation;
    ``approx_percentile`` is the documented 100 TB variant.

    avg_value accumulates as EXACT DECIMAL(18,2) (the readings are
    2-decimal data) and divides once — a double SUM is order-dependent
    in its last ulp, which flips ROUND(,6) on boundary cells at large
    group sizes (observed at sf0.1); the decimal sum is bit-identical
    at any scale and parallelism."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(_bucket_epoch("hour").alias("bucket_epoch"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             / F.count("value")).alias("avg_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.round(F.stddev("value"), 6).alias("stddev_value"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_value"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("anomaly_count"),
        )
        .orderBy("bucket_epoch", "event_type")
    )


# ------------------------------------------------ A5+A3: daily, business-hours
_DAILY_ORACLE = f"""
SELECT {duck_bucket_epoch('day')} AS bucket_epoch,
       event_type,
       COUNT(*) AS reading_count,
       ROUND(AVG(value), 6) AS avg_value,
       ROUND(AVG(CASE WHEN hour({DUCK_TS}) >= 9 AND hour({DUCK_TS}) < 17
                       AND dayofweek({DUCK_TS}) NOT IN (0, 6)
                      THEN value END), 6) AS avg_value_business_hours,
       ROUND(AVG(CASE WHEN NOT (hour({DUCK_TS}) >= 9 AND hour({DUCK_TS}) < 17
                               AND dayofweek({DUCK_TS}) NOT IN (0, 6))
                      THEN value END), 6) AS avg_value_non_business_hours
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("daily_agg_business_hours", oracle=_DAILY_ORACLE)
def daily_agg_business_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily continuous aggregate with business-hours conditional AVG
    (create_dwh_schema.sql:173-209; AVG(CASE WHEN ... THEN v END)
    averages over the subset because NULLs are ignored — SURVEY A3/A5)."""
    ev = add_time_features(load_events(spark, sf_dir))
    biz = F.col("is_business_hours")
    return (
        ev.groupBy(_bucket_epoch("day").alias("bucket_epoch"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.avg(F.when(biz, F.col("value"))), 6).alias("avg_value_business_hours"),
            F.round(F.avg(F.when(~biz, F.col("value"))), 6).alias("avg_value_non_business_hours"),
        )
        .orderBy("bucket_epoch", "event_type")
    )


# ---------------------------------------------------------- W7: latest-per-key
_LATEST_ORACLE = f"""
SELECT user_id, {DUCK_TS_EPOCH} AS ts_epoch, event_type, value
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY {DUCK_TS} DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
ORDER BY user_id
"""


@query("latest_per_device", oracle=_LATEST_ORACLE)
def latest_per_device(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON (device_id) ... ORDER BY time DESC rewrite
    (v_latest_readings, create_dwh_schema.sql:269-280; SURVEY W7) with a
    deterministic event_id tiebreak."""
    ev = load_events(spark, sf_dir)
    return (
        latest_per_key(ev, key_cols=("user_id",), time_col="ts", tiebreak_col="event_id")
        .select("user_id", _ts_epoch().alias("ts_epoch"), "event_type", "value")
        .orderBy("user_id")
    )


# ------------------------------------------------------- W1/W2: rolling frames
_ROLLING_ORACLE = f"""
WITH base AS (
    SELECT event_id, user_id, value, {DUCK_TS_EPOCH} AS ts_epoch FROM events
)
SELECT event_id, user_id, ts_epoch,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts_epoch
             RANGE BETWEEN 300 PRECEDING AND CURRENT ROW), 6) AS rolling_avg_5min,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts_epoch
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6) AS rolling_avg_1h,
       ROUND(STDDEV(value) OVER (PARTITION BY user_id ORDER BY ts_epoch
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6) AS rolling_stddev_1h
FROM base
ORDER BY event_id
"""


@query("rolling_window_stats", oracle=_ROLLING_ORACLE)
def rolling_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range rolling frames: 5-minute mean, 1-hour mean+stddev per
    device via rangeBetween on epoch seconds — exactly the reference's
    frames (spark_transform.py:124-136; SURVEY W1-W2)."""
    ev = load_events(spark, sf_dir)
    out = add_rolling_features(ev, key_cols=("user_id",))
    return out.select(
        "event_id",
        "user_id",
        _ts_epoch().alias("ts_epoch"),
        F.round("rolling_avg_5min", 6).alias("rolling_avg_5min"),
        F.round("rolling_avg_1h", 6).alias("rolling_avg_1h"),
        F.round("rolling_stddev_1h", 6).alias("rolling_stddev_1h"),
    )


# ----------------------------------------------------------- W3/W4: lag/diff
_LAG_ORACLE = f"""
SELECT event_id, user_id, {DUCK_TS_EPOCH} AS ts_epoch, value,
       lag(value, 1) OVER w AS value_lag_1,
       lag(value, 2) OVER w AS value_lag_2,
       value - lag(value, 1) OVER w AS value_change
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY {DUCK_TS}, event_id)
ORDER BY event_id
"""


@query("lag_features", oracle=_LAG_ORACLE)
def lag_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(1)/lag(2)/first-difference per device
    (spark_transform.py:139-144; SURVEY W3-W4)."""
    ev = load_events(spark, sf_dir)
    out = add_lag_features(ev, key_cols=("user_id",))
    return out.select(
        "event_id", "user_id", _ts_epoch().alias("ts_epoch"),
        "value", "value_lag_1", "value_lag_2", "value_change",
    )


# --------------------------------------------------------- W5/W6: z-score
_ZSCORE_ORACLE = """
SELECT event_id, user_id, value,
       ROUND(CASE WHEN sd > 0 THEN (value - mn) / sd ELSE 0.0 END, 6) AS z_score,
       (CASE WHEN sd > 0 THEN abs((value - mn) / sd) ELSE 0.0 END) > 3.0 AS is_anomaly_zscore
FROM (
    SELECT event_id, user_id, value,
           AVG(value)    OVER (PARTITION BY user_id) AS mn,
           STDDEV(value) OVER (PARTITION BY user_id) AS sd
    FROM events
)
ORDER BY event_id
"""


@query("zscore_anomaly", oracle=_ZSCORE_ORACLE)
def zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-partition stats window + z-score anomaly flag with the
    stddev>0 guard (spark_transform.py:161-179; SURVEY W5-W6;
    threshold 3.0 per config.py:127)."""
    ev = load_events(spark, sf_dir)
    out = add_zscore_anomaly(ev, key_cols=("user_id",))
    return out.select(
        "event_id", "user_id", "value",
        round_signed("z_score").alias("z_score"),
        F.col("is_anomaly_zscore"),
    )


# -------------------------------------------------------- A10: hour-of-day
_HOURLY_PROFILE_ORACLE = f"""
SELECT user_id, hour({DUCK_TS}) AS hour_of_day,
       COUNT(*) AS reading_count,
       ROUND(AVG(value), 6) AS avg_value,
       ROUND(STDDEV(value), 6) AS stddev_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("hour_of_day_profile", oracle=_HOURLY_PROFILE_ORACLE)
def hour_of_day_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-device hour-of-day activity profile
    (analytical_queries.sql:59-69; SURVEY A10/F1)."""
    ev = add_time_features(load_events(spark, sf_dir))
    return (
        ev.groupBy("user_id", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.stddev("value"), 6).alias("stddev_value"),
        )
        .orderBy("user_id", "hour_of_day")
    )


# ------------------------------------------------- A11: weekend vs weekday
_WEEKEND_ORACLE = f"""
SELECT event_type,
       CASE WHEN dayofweek({DUCK_TS}) IN (0, 6) THEN 'Weekend' ELSE 'Weekday' END AS day_category,
       COUNT(*) AS reading_count,
       ROUND(AVG(value), 6) AS avg_value,
       ROUND(MIN(value), 6) AS min_value,
       ROUND(MAX(value), 6) AS max_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("weekend_weekday_comparison", oracle=_WEEKEND_ORACLE)
def weekend_weekday_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend/weekday comparison with CASE label
    (analytical_queries.sql:72-84; SURVEY A11; Spark dayofweek 1=Sun)."""
    ev = add_time_features(load_events(spark, sf_dir))
    return (
        ev.withColumn(
            "day_category", F.when(F.col("is_weekend"), "Weekend").otherwise("Weekday")
        )
        .groupBy("event_type", "day_category")
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .orderBy("event_type", "day_category")
    )


# -------------------------------------------------- A9: anomaly rate + HAVING
_ANOMALY_RATE_ORACLE = """
SELECT user_id,
       COUNT(*) AS total_readings,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS anomaly_count,
       ROUND(100.0 * SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) / COUNT(*), 6)
           AS anomaly_rate_pct
FROM events
GROUP BY user_id
HAVING COUNT(*) > 30
ORDER BY anomaly_rate_pct DESC, user_id
"""


@query("anomaly_rate_by_device", oracle=_ANOMALY_RATE_ORACLE)
def anomaly_rate_by_device(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly-rate ranking with HAVING (analytical_queries.sql:100-127;
    SURVEY A9/F9). 'error' events stand in for the anomaly flag."""
    ev = load_events(spark, sf_dir)
    err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("total_readings"),
            err.alias("anomaly_count"),
            F.round(F.lit(100.0) * err / F.count(F.lit(1)), 6).alias("anomaly_rate_pct"),
        )
        .filter(F.col("total_readings") > 30)
        .orderBy(F.col("anomaly_rate_pct").desc(), "user_id")
    )


# ----------------------------------------------------- A8: device health 24h
_HEALTH_ORACLE = f"""
SELECT user_id,
       COUNT(*) AS reading_count,
       ROUND(AVG(value), 6) AS avg_value,
       MAX({DUCK_TS_EPOCH}) AS last_seen_epoch,
       epoch_us(TIMESTAMP '{REF_INSTANT}') // 1000000 - MAX({DUCK_TS_EPOCH})
           AS seconds_since_last_reading
FROM events
WHERE {DUCK_TS} >= TIMESTAMP '{REF_INSTANT}' - INTERVAL 24 HOURS
  AND {DUCK_TS} <  TIMESTAMP '{REF_INSTANT}'
GROUP BY user_id
ORDER BY user_id
"""


@query("device_health_24h", oracle=_HEALTH_ORACLE)
def device_health_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h device health summary (v_device_health_24h,
    create_dwh_schema.sql:283-305; SURVEY A8/F12). NOW() is replaced by
    a fixed instant for determinism; staleness is exposed as epoch-
    seconds difference rather than an INTERVAL (SURVEY §7.3 item 7)."""
    ev = load_events(spark, sf_dir)
    ref = F.lit(REF_INSTANT).cast("timestamp")
    return (
        ev.filter((F.col("ts") >= ref - F.expr("INTERVAL 24 HOURS")) & (F.col("ts") < ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.max(_ts_epoch()).alias("last_seen_epoch"),
            (F.unix_timestamp(ref) - F.max(_ts_epoch())).alias("seconds_since_last_reading"),
        )
        .orderBy("user_id")
    )


# -------------------------------------------------- A12: data-quality metrics
_QUALITY_ORACLE = """
SELECT event_type,
       COUNT(*) AS total_records,
       CAST(SUM(CASE WHEN value IS NOT NULL AND value >= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS valid_records,
       ROUND(100.0 * SUM(CASE WHEN value IS NOT NULL AND value >= 0 THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS data_quality_pct
FROM events
GROUP BY event_type
ORDER BY data_quality_pct ASC, event_type
"""


@query("data_quality_metrics", oracle=_QUALITY_ORACLE)
def data_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Valid-record rate per device type (analytical_queries.sql:166-179
    + spark_transform.py:209-213; SURVEY A12)."""
    ev = load_events(spark, sf_dir)
    valid = F.sum(F.when(F.col("value").isNotNull() & (F.col("value") >= 0), 1).otherwise(0))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("total_records"),
            valid.alias("valid_records"),
            F.round(F.lit(100.0) * valid / F.count(F.lit(1)), 6).alias("data_quality_pct"),
        )
        .orderBy(F.col("data_quality_pct").asc(), "event_type")
    )


# --------------------------------------------- A14: parameterized device stats
_DEVICE_STATS_ORACLE = f"""
SELECT COUNT(*) AS reading_count,
       ROUND(AVG(value), 6) AS avg_value,
       ROUND(MIN(value), 6) AS min_value,
       ROUND(MAX(value), 6) AS max_value,
       ROUND(STDDEV(value), 6) AS stddev_value,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS anomaly_count
FROM events
WHERE user_id = 7
  AND {DUCK_TS} >= TIMESTAMP '2024-01-05 00:00:00'
  AND {DUCK_TS} <  TIMESTAMP '2024-01-20 00:00:00'
"""


def get_device_stats(
    spark: SparkSession, sf_dir: str, device_id: int, start: str, end: str
) -> DataFrame:
    """Parameterized stats table function (dwh.get_device_stats,
    create_dwh_schema.sql:343-375; SURVEY A14) as a plain Python
    function returning a DataFrame — no UDF machinery needed."""
    ev = load_events(spark, sf_dir)
    return (
        ev.filter(
            (F.col("user_id") == device_id)
            & (F.col("ts") >= F.lit(start).cast("timestamp"))
            & (F.col("ts") < F.lit(end).cast("timestamp"))
        )
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.round(F.stddev("value"), 6).alias("stddev_value"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("anomaly_count"),
        )
    )


@query("device_stats", oracle=_DEVICE_STATS_ORACLE)
def device_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return get_device_stats(spark, sf_dir, 7, "2024-01-05 00:00:00", "2024-01-20 00:00:00")


# ------------------------------------------------- J4: device correlation
_CORRELATION_ORACLE = f"""
WITH a AS (
    SELECT {duck_bucket_epoch('hour')} AS bucket_epoch, ROUND(AVG(value), 6) AS avg_value_a
    FROM events WHERE user_id = 1 GROUP BY 1
), b AS (
    SELECT {duck_bucket_epoch('hour')} AS bucket_epoch, ROUND(AVG(value), 6) AS avg_value_b
    FROM events WHERE user_id = 2 GROUP BY 1
)
SELECT a.bucket_epoch, a.avg_value_a, b.avg_value_b
FROM a JOIN b USING (bucket_epoch)
ORDER BY bucket_epoch
"""


@query("device_correlation", oracle=_CORRELATION_ORACLE)
def device_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-device hourly-average correlation frame
    (analytical_queries.sql:236-259 Query 15; SURVEY J4). The
    reference formulates this as an aggregate self-join — two scans,
    two shuffles, one join. Re-expressed as a single-pass conditional
    aggregate: one scan of the device pair, one shuffle on the hour
    bucket, no join at all (the oracle KEEPS the self-join SQL, so the
    rewrite is proven equivalent every round). Presence counts — not
    avg-NULL checks — reproduce inner-join semantics for buckets where
    a device has only NULL-valued readings."""
    ev = load_events(spark, sf_dir)
    uid = F.col("user_id")
    return (
        ev.filter(uid.isin(1, 2))
        .groupBy(_bucket_epoch("hour").alias("bucket_epoch"))
        .agg(
            F.round(F.avg(F.when(uid == 1, F.col("value"))), 6).alias("avg_value_a"),
            F.round(F.avg(F.when(uid == 2, F.col("value"))), 6).alias("avg_value_b"),
            F.count(F.when(uid == 1, 1)).alias("_n_a"),
            F.count(F.when(uid == 2, 1)).alias("_n_b"),
        )
        .filter((F.col("_n_a") > 0) & (F.col("_n_b") > 0))
        .drop("_n_a", "_n_b")
    )


# ------------------------------------------------------ O2: recent top-k
_RECENT_ORACLE = f"""
SELECT event_id, user_id, {DUCK_TS_EPOCH} AS ts_epoch, value
FROM events
WHERE event_type = 'error'
ORDER BY {DUCK_TS} DESC, event_id DESC
LIMIT 50
"""


@query("recent_anomalies_topk", oracle=_RECENT_ORACLE)
def recent_anomalies_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-recent anomalies top-k (analytical_queries.sql:131-143;
    SURVEY O2 — plans to TakeOrderedAndProject, no global sort)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", _ts_epoch().alias("ts_epoch"), "value")
        .orderBy(F.col("ts_epoch").desc(), F.col("event_id").desc())
        .limit(50)
    )


# ------------------------------------------------- F7/F8: deviation banding
_DEVIATION_ORACLE = """
SELECT event_id, event_type, value,
       ROUND(abs(value - mn), 6) AS deviation,
       CASE WHEN abs(value - mn) > 2 * sd THEN 'High'
            WHEN abs(value - mn) > sd THEN 'Medium'
            ELSE 'Normal' END AS deviation_category
FROM (
    SELECT event_id, event_type, value,
           AVG(value)    OVER (PARTITION BY event_type) AS mn,
           STDDEV(value) OVER (PARTITION BY event_type) AS sd
    FROM events
)
ORDER BY deviation DESC, event_id
LIMIT 100
"""


@query("deviation_banding", oracle=_DEVIATION_ORACLE)
def deviation_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABS deviation from type mean with High/Medium/Normal CASE banding
    (analytical_queries.sql:214-233; SURVEY F7/F8/O2)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type")
    dev = F.abs(F.col("value") - F.avg("value").over(w))
    sd = F.stddev("value").over(w)
    return (
        ev.withColumn("deviation_raw", dev)
        .withColumn("sd", sd)
        .withColumn(
            "deviation_category",
            F.when(F.col("deviation_raw") > 2 * F.col("sd"), "High")
            .when(F.col("deviation_raw") > F.col("sd"), "Medium")
            .otherwise("Normal"),
        )
        .select(
            "event_id", "event_type", "value",
            F.round("deviation_raw", 6).alias("deviation"),
            "deviation_category",
        )
        .orderBy(F.col("deviation").desc(), "event_id")
        .limit(100)
    )


# --------------------------------------------- JSON metadata extraction
_JSON_ORACLE = """
SELECT event_type,
       COUNT(k) AS k_count,
       ROUND(AVG(k), 6) AS avg_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (
    SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
)
GROUP BY event_type
ORDER BY event_type
"""


@query("json_props_extract", oracle=_JSON_ORACLE)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queryable JSON metadata — the reference carries `metadata`
    opaquely (iot_simulator.py:198-201, flattened to string at
    spark_streaming_consumer.py:41); the engine exposes it via
    get_json_object (SURVEY §1.2, a documented improvement)."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("k_count"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------ flagship: enriched hourly rollup
_FLAGSHIP_ORACLE = f"""
SELECT {duck_bucket_epoch('hour')} AS bucket_epoch,
       n.n_name,
       COUNT(*) AS reading_count,
       ROUND(AVG(e.value), 6) AS avg_value,
       ROUND(MAX(e.value), 6) AS max_value,
       CAST(SUM(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS anomaly_count
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation   n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
ORDER BY 1, 2 NULLS FIRST
"""


@query("flagship_enriched_hourly", oracle=_FLAGSHIP_ORACLE)
def flagship_enriched_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M1 end-to-end slice (SURVEY §7.1): scan -> broadcast dim
    enrichment (J1-J3) -> hourly bucket aggregate (A4) -> sort. Used by
    __spark_entry__.entry()."""
    ev = load_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    df = ev.join(F.broadcast(cust), "user_id", "left").join(
        F.broadcast(nation), "c_nationkey", "left"
    )
    return (
        df.groupBy(_bucket_epoch("hour").alias("bucket_epoch"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("anomaly_count"),
        )
        .orderBy("bucket_epoch", F.col("n_name").asc_nulls_first())
    )


# ------------------------------------- M4: full batch transform pipeline
_FULL_TRANSFORM_ORACLE = f"""
WITH base AS (
    SELECT event_id, user_id, {DUCK_TS} AS tts, {DUCK_TS_EPOCH} AS ts_epoch, value
    FROM events
),
roll AS (
    SELECT *,
        hour(tts) AS hour_of_day,
        month(tts) AS month,
        dayofweek(tts) IN (0, 6) AS is_weekend,
        (hour(tts) >= 9 AND hour(tts) < 17 AND dayofweek(tts) NOT IN (0, 6))
            AS is_business_hours,
        AVG(value) OVER (PARTITION BY user_id ORDER BY ts_epoch
            RANGE BETWEEN 300 PRECEDING AND CURRENT ROW) AS r5,
        AVG(value) OVER (PARTITION BY user_id ORDER BY ts_epoch
            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS r60,
        STDDEV(value) OVER (PARTITION BY user_id ORDER BY ts_epoch
            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS r60sd,
        lag(value, 1) OVER wk AS lag1,
        lag(value, 2) OVER wk AS lag2,
        AVG(value)    OVER (PARTITION BY user_id) AS mn,
        STDDEV(value) OVER (PARTITION BY user_id) AS sd
    FROM base
    WINDOW wk AS (PARTITION BY user_id ORDER BY tts, event_id)
)
SELECT event_id, user_id, ts_epoch, value, hour_of_day, month,
       is_weekend, is_business_hours,
       ROUND(r5, 6)    AS rolling_avg_5min,
       ROUND(r60, 6)   AS rolling_avg_1h,
       ROUND(r60sd, 6) AS rolling_stddev_1h,
       lag1 AS value_lag_1,
       lag2 AS value_lag_2,
       value - lag1 AS value_change,
       ROUND(CASE WHEN sd > 0 THEN (value - mn) / sd ELSE 0.0 END, 6) AS z_score,
       (CASE WHEN sd > 0 THEN abs((value - mn) / sd) ELSE 0.0 END) > 3.0 AS is_anomaly_zscore,
       value IS NOT NULL AND value >= 0 AS is_valid_record
FROM roll
ORDER BY event_id
"""


@query("full_transform_pipeline", oracle=_FULL_TRANSFORM_ORACLE)
def full_transform_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete reference batch transform chain composed end-to-end
    (transform_all, spark_transform.py:217-252): time features ->
    rolling range-frame stats -> lags/diff -> whole-partition z-score
    -> validity gate. One growing Catalyst plan, no intermediate
    actions (the reference's eager-count anti-pattern dropped,
    SURVEY.md §4)."""
    from iot_etl_spark.pipeline.batch import transform_all

    out = transform_all(load_events(spark, sf_dir))
    return out.select(
        "event_id", "user_id", _ts_epoch().alias("ts_epoch"), "value",
        "hour_of_day", "month", "is_weekend", "is_business_hours",
        F.round("rolling_avg_5min", 6).alias("rolling_avg_5min"),
        F.round("rolling_avg_1h", 6).alias("rolling_avg_1h"),
        F.round("rolling_stddev_1h", 6).alias("rolling_stddev_1h"),
        "value_lag_1", "value_lag_2", "value_change",
        round_signed("z_score").alias("z_score"),
        "is_anomaly_zscore", "is_valid_record",
    )


# ------------------------------------------- A13: latency profile
_LATENCY_PROFILE_ORACLE = f"""
WITH r AS (SELECT MAX({DUCK_TS}) AS ref FROM events),
lat AS (
    SELECT event_type,
           date_trunc('minute', {DUCK_TS}) AS w,
           epoch_us(ref) // 1000000 - {DUCK_TS_EPOCH} AS lsec,
           ref
    FROM events, r
),
wagg AS (
    SELECT event_type, w, AVG(lsec) AS avg_latency_seconds, MAX(ref) AS ref
    FROM lat GROUP BY 1, 2
)
SELECT event_type,
       COUNT(*) AS n_windows,
       ROUND(AVG(avg_latency_seconds), 6) AS avg_latency,
       ROUND(MIN(avg_latency_seconds), 6) AS min_latency,
       ROUND(MAX(avg_latency_seconds), 6) AS max_latency
FROM wagg
WHERE w >= ref - INTERVAL 1 HOUR
GROUP BY 1
"""


@query("latency_profile", oracle=_LATENCY_PROFILE_ORACLE)
def latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-latency profile (A13, analytical_queries.sql:201-210):
    AVG/MIN/MAX of per-window average latency per device type over the
    trailing hour of the stream-agg output. The reference measures
    latency against wall-clock NOW(); for a deterministic contract the
    processing instant is pinned to MAX(ts) (the moment the last event
    landed), so latency_seconds = ref - ts is reproducible. The
    windowed average mirrors the streaming pipeline's
    avg_latency_seconds column (streaming/pipeline.py
    apply_stream_transforms)."""
    ev = load_events(spark, sf_dir)
    ref = ev.agg(F.max("ts").alias("ref_ts"))
    lat = (
        ev.join(F.broadcast(ref))
        .withColumn("lsec", F.col("ref_ts").cast("long") - F.col("ts").cast("long"))
        .withColumn("w", F.date_trunc("minute", "ts"))
    )
    wagg = lat.groupBy("event_type", "w").agg(
        F.avg("lsec").alias("avg_latency_seconds"), F.max("ref_ts").alias("ref_ts")
    )
    return (
        wagg.filter(F.col("w") >= F.col("ref_ts") - F.expr("INTERVAL 1 HOUR"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.round(F.avg("avg_latency_seconds"), 6).alias("avg_latency"),
            F.round(F.min("avg_latency_seconds"), 6).alias("min_latency"),
            F.round(F.max("avg_latency_seconds"), 6).alias("max_latency"),
        )
    )


# ---------------------------------------- session windows (gap-based)
SESSION_GAP_MINUTES = 30

# The islands computation runs on MICROSECOND epochs — session_window
# compares native microsecond timestamps, and a gap within 1 s of the
# timeout diverges if the oracle truncates to seconds first. Only the
# final session bounds truncate (matching unix_timestamp's floor).
_SESSION_ORACLE = f"""
WITH o AS (
    SELECT user_id, epoch_us({DUCK_TS}) AS tus, value,
           LAG(epoch_us({DUCK_TS})) OVER (PARTITION BY user_id ORDER BY epoch_us({DUCK_TS})) AS prev
    FROM events
),
flagged AS (
    SELECT *, CASE WHEN prev IS NULL OR tus - prev >= {SESSION_GAP_MINUTES * 60}::BIGINT * 1000000
                   THEN 1 ELSE 0 END AS is_new
    FROM o
),
sess AS (
    SELECT user_id, tus, value,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       MIN(tus) // 1000000 AS session_start_epoch,
       MAX(tus) // 1000000 + {SESSION_GAP_MINUTES * 60} AS session_end_epoch,
       COUNT(*) AS n_events,
       ROUND(AVG(value), 6) AS avg_value
FROM sess
GROUP BY 1, 2
"""


@query("session_stats", oracle=_SESSION_ORACLE)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization with the built-in ``session_window``
    (30-minute inactivity gap): per (user, session) event count and
    value average. Spark merges events whose windows [ts, ts+gap)
    overlap, i.e. a new session starts exactly when the inter-event
    gap is >= the timeout — the oracle states the same semantics as a
    gaps-and-islands LAG/SUM computation, so the built-in session
    assignment is hash-checked against first principles. The same
    groupBy(session_window(...)) runs unchanged under Structured
    Streaming with a watermark (SURVEY §2.9 notes the reference has no
    session windows — this is a capability extension). Session ids are
    per-user ordinals on both sides (window start epochs are emitted
    too, so the mapping is fully determined)."""
    ev = load_events(spark, sf_dir)
    sess = (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").cast("long").alias("session_start_epoch"),
            F.unix_timestamp("session_window.end").cast("long").alias("session_end_epoch"),
            "n_events", "avg_value",
        )
    )
    w = Window.partitionBy("user_id").orderBy("session_start_epoch")
    return sess.withColumn("session_seq", F.row_number().over(w).cast("long"))


# ------------------------------------------------- rollup hierarchy agg
_ROLLUP_ORACLE = f"""
SELECT event_type,
       CASE WHEN GROUPING(hod) = 1 THEN NULL ELSE hod END AS hour_of_day,
       GROUPING(event_type) + GROUPING(hod) AS grouping_level,
       COUNT(*) AS reading_count,
       ROUND(AVG(value), 6) AS avg_value
FROM (SELECT event_type, EXTRACT(hour FROM {DUCK_TS}) AS hod, value FROM events)
GROUP BY ROLLUP (event_type, hod)
"""


@query("hourly_rollup", oracle=_ROLLUP_ORACLE)
def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregate (event_type -> hour-of-day -> grand
    total) — subtotals at every level in one pass (partial aggregation
    + a single shuffle; Spark expands the grouping sets map-side).
    SURVEY §2.4 notes the reference has no grouping sets — free
    capability extension via the DataFrame rollup API."""
    ev = load_events(spark, sf_dir).select(
        "event_type", F.hour("ts").alias("hod"), "value"
    )
    return (
        ev.rollup("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            (F.grouping("event_type") + F.grouping("hod")).cast("long").alias("grouping_level"),
        )
        .select(
            "event_type",
            F.col("hod").alias("hour_of_day"),
            "grouping_level", "reading_count", "avg_value",
        )
    )


# ------------------------------------------------ IQR anomaly detection
ANOMALY_IQR_MULTIPLIER = 1.5  # config.py:128 (declared but never wired up there)

_IQR_ORACLE = f"""
WITH q AS (
    SELECT user_id,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS q1,
           percentile_cont(0.75) WITHIN GROUP (ORDER BY value) AS q3
    FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.value,
       ROUND(q.q1 - {ANOMALY_IQR_MULTIPLIER} * (q.q3 - q.q1), 6) AS lower_fence,
       ROUND(q.q3 + {ANOMALY_IQR_MULTIPLIER} * (q.q3 - q.q1), 6) AS upper_fence,
       e.value < q.q1 - {ANOMALY_IQR_MULTIPLIER} * (q.q3 - q.q1)
           OR e.value > q.q3 + {ANOMALY_IQR_MULTIPLIER} * (q.q3 - q.q1) AS is_anomaly_iqr
FROM events e JOIN q USING (user_id)
"""


@query("iqr_anomaly", oracle=_IQR_ORACLE)
def iqr_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (IQR) anomaly detection per device: flag values
    outside [Q1 - k*IQR, Q3 + k*IQR], k = 1.5. The reference CONFIGURES
    this detector (ANOMALY_IQR_MULTIPLIER, config.py:128) but never
    wires it up — SURVEY §4 flags the dangling config; this completes
    the intended capability alongside the z-score detector (W5-W6).
    Plan shape: one hash aggregate for exact quartiles per key, then a
    shuffled equi-join back to the facts (the per-key quartile table is
    tiny — at scale it broadcasts; same two-pass shape as the z-score
    window but with a map-side join instead of a window sort)."""
    ev = load_events(spark, sf_dir)
    k = ANOMALY_IQR_MULTIPLIER
    q = ev.groupBy("user_id").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lower = F.col("q1") - k * iqr
    upper = F.col("q3") + k * iqr
    return (
        ev.join(F.broadcast(q), "user_id")
        .select(
            "event_id", "user_id", "value",
            F.round(lower, 6).alias("lower_fence"),
            F.round(upper, 6).alias("upper_fence"),
            ((F.col("value") < lower) | (F.col("value") > upper)).alias("is_anomaly_iqr"),
        )
    )


# ------------------------------------- F10 batch: JSON -> typed map
_PROPS_MAP_ORACLE = """
WITH kv AS (
    SELECT event_type, unnest(json_keys(props)) AS key, props
    FROM events WHERE props IS NOT NULL
)
SELECT event_type, key,
       COUNT(*) AS n_values,
       CAST(SUM(json_extract(props, '$.' || key)::INT) AS BIGINT) AS sum_value
FROM kv GROUP BY 1, 2
"""


@query("props_map_extract", oracle=_PROPS_MAP_ORACLE)
def props_map_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON payload as a QUERYABLE typed map (SURVEY §1.2): the
    reference flattens its `metadata` JSON to an opaque string
    (spark_streaming_consumer.py:41); this engine parses it with
    from_json(MapType) and explodes to (key, value) rows — per-key
    statistics over arbitrary payload keys, no schema declaration per
    key needed. Complements json_props_extract (get_json_object, the
    single-path variant)."""
    ev = load_events(spark, sf_dir)
    kv = (
        ev.filter(F.col("props").isNotNull())
        .select("event_type", F.explode(F.from_json("props", "map<string,int>")).alias("key", "val"))
    )
    return kv.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum("val").cast("long").alias("sum_value"),
    )


# ------------------------------------------------ DISTINCT aggregates
_DISTINCT_ORACLE = f"""
SELECT event_type,
       COUNT(DISTINCT user_id) AS distinct_devices,
       COUNT(DISTINCT CAST(date_trunc('day', {DUCK_TS}) AS DATE)) AS active_days,
       COUNT(*) AS reading_count
FROM events GROUP BY event_type
"""


@query("distinct_devices_per_type", oracle=_DISTINCT_ORACLE)
def distinct_devices_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregates (absent from the reference, SURVEY §2.4):
    exact distinct devices and active days per event type. Spark plans
    this as expand + two-phase aggregation (partial distinct per
    partition); the documented 100 TB variant is approx_count_distinct
    (HyperLogLog++), not oracle-checkable cross-engine since estimates
    are implementation-specific."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_devices"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.count(F.lit(1)).alias("reading_count"),
    )


# --------------------------------------------------------- as-of join
_ASOF_ORACLE = """
WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(c.ts) AS matched_ts_us,
       c.value AS click_value,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@query("asof_click_attribution", oracle=_ASOF_ORACLE)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): each purchase matched
    to the same user's most recent click at-or-before it — last-touch
    attribution. The reference has no as-of operator (all its joins
    are equi-joins); capability extension. Implementation is the
    union + running-last window (one shuffle, linear per key), NOT a
    range join; the oracle is DuckDB's native ASOF LEFT JOIN, so the
    inclusive-boundary and no-prior-click (NULL) semantics are
    hash-checked cross-engine. Timestamps leave as epoch micros per
    registry convention; (user_id, ts) is unique at us precision in
    the testdata, so the match is deterministic."""
    from iot_etl_spark.operators.asof import asof_join

    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join(purchases, clicks, on=["user_id"], ts_col="ts", right_cols=["click_value"])
    return out.select(
        "event_id", "user_id", "ts_us", "matched_ts_us", "click_value",
        (F.col("ts_us") - F.col("matched_ts_us")).alias("gap_us"),
    )


# ------------------------------------------------- bucketed range join
_RANGE_JOIN_ORACLE = """
WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       CAST(COUNT(c.user_id) AS BIGINT) AS n_clicks,
       ROUND(COALESCE(SUM(c.value), 0), 6) AS sum_click_value
FROM p LEFT JOIN c ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 7200 SECONDS
GROUP BY p.event_id, p.user_id, p.ts
"""


@query("range_join_click_counts", oracle=_RANGE_JOIN_ORACLE)
def range_join_click_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch point-in-interval range join (operators/rangejoin.py):
    per purchase, how many clicks (and their value sum) the same user
    made in the 2 h before it. The range predicate is rewritten as an
    equi-join on (user_id, time bucket) — interval exploded to its 2
    covered buckets, exact predicate re-filtered after — so Catalyst
    plans a plain shuffled join instead of the BroadcastNestedLoopJoin
    a raw inequality join degenerates to. Zero-click purchases are
    preserved by joining the aggregated matches back onto purchases.
    The reference has only equi-joins; capability extension."""
    from iot_etl_spark.operators.rangejoin import point_in_interval_join

    window_us = 7200 * 1_000_000
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        (F.unix_micros("ts") - F.lit(window_us)).alias("start_us"),
        F.unix_micros("ts").alias("end_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("click_us"), F.col("value").alias("click_value")
    )
    matched = point_in_interval_join(
        clicks, purchases, on="user_id",
        point_ts_us="click_us", start_us="start_us", end_us="end_us",
        bucket_us=window_us,
    )
    per_purchase = matched.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("click_value").alias("sum_click_value"),
    )
    return (
        purchases.select("event_id", "user_id", "purchase_us")
        .join(per_purchase, "event_id", "left")
        .select(
            "event_id", "user_id", "purchase_us",
            F.coalesce("n_clicks", F.lit(0)).cast("long").alias("n_clicks"),
            F.round(F.coalesce("sum_click_value", F.lit(0.0)), 6).alias("sum_click_value"),
        )
    )


# ------------------------------------------- semi/anti join activity
_ACTIVITY_ORACLE = """
SELECT 'active' AS status, c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
GROUP BY c_mktsegment
UNION ALL
SELECT 'inactive' AS status, c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
GROUP BY c_mktsegment
"""


@query("customer_activity_split", oracle=_ACTIVITY_ORACLE)
def customer_activity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment counts of customers WITH event activity (LEFT SEMI
    join) and WITHOUT (LEFT ANTI join), unioned — the EXISTS / NOT
    EXISTS surface (SURVEY §2 join family has only equi-joins; semi and
    anti are the two join types the reference's SQL warehouse gets from
    EXISTS subqueries). Scale: the distinct-user set is aggregated
    first (sublinear in events) and broadcast, so the 100-TB fact side
    is touched once, map-side, per branch; semi/anti never multiply
    rows, so no dedup pass is needed afterwards."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    users = load_events(spark, sf_dir).select("user_id").distinct()
    cond = F.col("c_custkey") == F.col("user_id")

    def branch(how: str, label: str) -> DataFrame:
        return (
            customer.join(F.broadcast(users), cond, how)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers"))
            .select(F.lit(label).alias("status"), "c_mktsegment", "n_customers")
        )

    return branch("left_semi", "active").unionAll(branch("left_anti", "inactive"))


# ------------------------------------------------- event-type pivot
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_PIVOT_ORACLE = f"""
SELECT {duck_bucket_epoch('hour')} AS hour_epoch,
       {', '.join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
                  for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
"""


@query("hourly_event_type_pivot", oracle=_PIVOT_ORACLE)
def hourly_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour x event_type contingency table via the DataFrame ``pivot``
    relational operator — long-to-wide reshaping, the layout BI tools
    and feature-store exports expect. The pivot value list is passed
    EXPLICITLY: without it Spark runs an extra distinct-scan job to
    discover values and the output schema becomes data-dependent —
    both wrong at 100 TB. One hash aggregate on (hour, type) wide
    enough to hold the fixed columns; nulls backfilled to 0 so the
    contract is stable when an hour lacks a type."""
    ev = load_events(spark, sf_dir)
    pivoted = (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).cast("long").alias("hour_epoch")
        )
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "hour_epoch",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


# ---------------------------------------------- LOCF gap interpolation
_LOCF_ORACLE = f"""
SELECT event_id, user_id, {DUCK_TS_EPOCH} AS ts_epoch, value,
       LAST_VALUE(value IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY {DUCK_TS}, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_filled,
       value IS NULL AS was_gap
FROM events
"""


@query("locf_gap_fill", oracle=_LOCF_ORACLE)
def locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap fill: NULL sensor readings
    take the device's most recent non-NULL value (classic IoT repair
    for dropped samples; leading NULLs stay NULL — there is nothing to
    carry). One per-device ordered window pass — ``F.last(ignorenulls)``
    over rows-unbounded-preceding — with the (ts, event_id) tiebreak
    making the fill deterministic under duplicate timestamps. Scale:
    single shuffle on user_id; the running frame is O(1) state per
    row, and at 100 TB the same pass runs per date partition with the
    previous day's closing value as seed."""
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
        "value",
        F.last("value", ignorenulls=True).over(w).alias("value_filled"),
        F.col("value").isNull().alias("was_gap"),
    )


# ------------------------------------- dense time-grid gapfill (resample)
GAPFILL_STEP_S = 3600  # hourly grid

_GAPFILL_ORACLE = f"""
WITH b AS (
    SELECT user_id, {duck_bucket_epoch('hour')} AS bucket_epoch,
           COUNT(value) AS reading_count,
           AVG(value) AS avg_value
    FROM events GROUP BY 1, 2
),
ext AS (SELECT user_id, MIN(bucket_epoch) AS mn, MAX(bucket_epoch) AS mx FROM b GROUP BY 1),
grid AS (
    SELECT e.user_id, t.bucket_epoch
    FROM ext e CROSS JOIN unnest(generate_series(e.mn, e.mx, {GAPFILL_STEP_S})) AS t(bucket_epoch)
),
j AS (
    SELECT g.user_id, g.bucket_epoch, b.reading_count, b.avg_value
    FROM grid g LEFT JOIN b USING (user_id, bucket_epoch)
),
q AS (
    -- quantize to exact integer micro-units: interpolation arithmetic on
    -- BIGINTs is engine-deterministic; raw double averages carry 1-ulp
    -- accumulation-order noise that the gap-ratio multiply amplifies
    -- past the ROUND(.., 6) boundary.
    SELECT *, CAST(ROUND(avg_value * 1000000, 0) AS BIGINT) AS au FROM j
),
f AS (
    SELECT user_id, bucket_epoch, reading_count, avg_value,
        LAST_VALUE(avg_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_epoch
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_raw,
        LAST_VALUE(au IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_epoch
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        LAST_VALUE(CASE WHEN au IS NOT NULL THEN bucket_epoch END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY bucket_epoch
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb,
        FIRST_VALUE(au IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_epoch
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        FIRST_VALUE(CASE WHEN au IS NOT NULL THEN bucket_epoch END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY bucket_epoch
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb
    FROM q
)
SELECT user_id, bucket_epoch,
       CAST(COALESCE(reading_count, 0) AS BIGINT) AS reading_count,
       ROUND(avg_value, 6) AS avg_value,
       ROUND(locf_raw, 6) AS value_locf,
       -- gap branch is emitted UNROUNDED: the micro-unit arithmetic is
       -- integer-exact until one IEEE division, so both engines produce
       -- bit-identical doubles; ROUND would *introduce* divergence when
       -- the midpoint lands on an exact decimal tie (Spark BigDecimal
       -- HALF_UP vs DuckDB binary-double rounding).
       CASE WHEN avg_value IS NOT NULL THEN ROUND(avg_value, 6)
            ELSE (pv + (nv - pv) * (bucket_epoch - pb) / (nb - pb)) / 1000000.0
       END AS value_interp,
       avg_value IS NULL AS is_gap
FROM f
"""


@query("time_grid_gapfill", oracle=_GAPFILL_ORACLE)
def time_grid_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-grid resampling with gap fill — the TimescaleDB
    ``time_bucket_gapfill(...) + locf() + interpolate()`` idiom the
    reference's hypertable layer implies (hourly continuous aggregates
    leave holes where a device was silent; dashboards want a dense
    series). Per device: bucket the readings hourly, synthesize the
    missing buckets from an explicit per-device [min, max] grid
    (``sequence`` + ``explode`` — map-side, no driver loop), LEFT join
    the real aggregates back, then repair gaps two ways: LOCF (last
    observation carried forward; leading gaps stay NULL) and linear
    interpolation between the nearest non-gap neighbors (edge gaps
    stay NULL — nothing to interpolate toward).

    Scale: the grid is |devices| x (range/step) rows generated by a
    per-device explode (no shuffle), the join and every window frame
    are keyed/partitioned on user_id, so the whole repair is one
    shuffle; at 100 TB, run per date partition with the neighboring
    partitions' closing/opening values as seeds, exactly like the LOCF
    operator. Unlike the broadcast-free boilerplate pass, both window
    directions reuse one sort."""
    step = F.lit(GAPFILL_STEP_S).cast("long")
    b = (
        load_events(spark, sf_dir)
        .groupBy("user_id", _bucket_epoch("hour").alias("be"))
        .agg(
            F.count("value").alias("reading_count"),
            F.avg("value").alias("avg_value"),
        )
        # Quantize averages to exact integer micro-units before
        # interpolating: BIGINT arithmetic is engine-deterministic,
        # while raw double averages carry accumulation-order ulp noise
        # that the gap-ratio multiply amplifies past ROUND(.., 6).
        .withColumn("au", F.round(F.col("avg_value") * 1000000, 0).cast("long"))
    )
    # SPARSE GAPFILL (guide §2.3 shuffle fewer bytes): the former shape
    # synthesized the dense per-device grid FIRST (|devices| x range —
    # 1.05M rows at sf0.1, 11x the 95k real buckets), joined the real
    # aggregates back, and ran both window sorts over the dense frame.
    # Every repair value is constant per GAP RUN, so the anchors (last/
    # next non-null reading) are computed on the REAL buckets only —
    # both window sorts now touch 1/11th the rows, the extents
    # aggregate and the grid join disappear — and each row explodes
    # into itself plus its following gap run with the interpolation
    # constants attached. The per-device grid starts and ends at real
    # buckets (its extents were min/max over b), so every gap row lies
    # strictly inside one run; output rows are IDENTICAL.
    order = Window.partitionBy("user_id").orderBy("be")
    w_incl = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_prev = order.rowsBetween(Window.unboundedPreceding, -1)
    # "nearest non-null AFTER current" via a REVERSED sort with an
    # unbounded-PRECEDING frame: Spark evaluates unbounded-following
    # frames by rescanning current..end per row (O(n^2) per partition
    # — measured 19 s vs 2 s here), while unbounded-preceding frames
    # grow incrementally in O(n). Same semantics, second sort pass.
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(F.col("be").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonnull_bucket = F.when(F.col("au").isNotNull(), F.col("be"))
    anchored = b.select(
        "user_id", "be", "reading_count", "avg_value", "au",
        F.lead("be").over(order).alias("next_be"),
        # LOCF for the real row and for every gap row after it: last
        # non-null INCLUDING current (a run's gaps see the run head).
        F.last("avg_value", ignorenulls=True).over(w_incl).alias("locf_raw"),
        F.last("au", ignorenulls=True).over(w_incl).alias("pv_in"),
        F.last(nonnull_bucket, ignorenulls=True).over(w_incl).alias("pb_in"),
        # the real row's own interp anchors exclude itself
        F.last("au", ignorenulls=True).over(w_prev).alias("pv_ex"),
        F.last(nonnull_bucket, ignorenulls=True).over(w_prev).alias("pb_ex"),
        # rows strictly after the run = rows strictly after its head
        F.last("au", ignorenulls=True).over(w_next).alias("nv"),
        F.last(nonnull_bucket, ignorenulls=True).over(w_next).alias("nb"),
    )
    fanned = anchored.select(
        "*",
        F.explode(
            F.sequence("be", F.coalesce(F.col("next_be") - step, F.col("be")), step)
        ).alias("bucket_epoch"),
    )
    is_real = F.col("bucket_epoch") == F.col("be")
    pv = F.when(is_real, F.col("pv_ex")).otherwise(F.col("pv_in"))
    pb = F.when(is_real, F.col("pb_ex")).otherwise(F.col("pb_in"))
    interp = (pv + (F.col("nv") - pv) * (F.col("bucket_epoch") - pb)
              / (F.col("nb") - pb)) / 1000000.0
    real_avg = F.when(is_real, F.col("avg_value"))
    return fanned.select(
        "user_id",
        "bucket_epoch",
        F.when(is_real, F.col("reading_count")).otherwise(F.lit(0))
            .cast("long").alias("reading_count"),
        F.round(real_avg, 6).alias("avg_value"),
        F.round("locf_raw", 6).alias("value_locf"),
        F.when(real_avg.isNotNull(), F.round(real_avg, 6))
            .otherwise(interp).alias("value_interp"),
        real_avg.isNull().alias("is_gap"),
    )


# ------------------------------------------------ value histogram
HIST_BINS = 20

_HISTOGRAM_ORACLE = f"""
WITH s AS (
    SELECT event_type, value,
           MIN(value) OVER (PARTITION BY event_type) AS lo,
           MAX(value) OVER (PARTITION BY event_type) AS hi
    FROM events WHERE value IS NOT NULL
),
b AS (
    SELECT event_type, lo, hi,
           CAST(CASE WHEN hi = lo THEN 0
                ELSE LEAST({HIST_BINS - 1},
                           FLOOR((value - lo) / (hi - lo) * {HIST_BINS}))
           END AS INTEGER) AS bin
    FROM s
)
SELECT event_type, bin,
       COUNT(*) AS n_values,
       MIN(lo + bin * (hi - lo) / {HIST_BINS}) AS bin_lo
FROM b GROUP BY 1, 2
"""


@query("value_histogram", oracle=_HISTOGRAM_ORACLE)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram per event type (the ``width_bucket``
    idiom): min/max per type via a whole-partition window (W5
    pattern), each value floored into one of {HIST_BINS} bins with the
    max value clamped into the last bin, then a (type, bin) count.
    Cross-engine note: FLOOR of identical IEEE doubles is
    tie-free (unlike ROUND), and min/max are exact, so bin edges are
    emitted unrounded.

    Scale: two passes over the fact — the window pass shuffles on
    event_type (tiny key space: pre-aggregate min/max per type +
    broadcast if the type cardinality stays this low), the histogram
    itself is a map-side-combinable count on (type, bin); output is
    |types| x {HIST_BINS} rows regardless of input size."""
    w = Window.partitionBy("event_type")
    lo, hi = F.min("value").over(w), F.max("value").over(w)
    binf = F.floor((F.col("value") - lo) / (hi - lo) * HIST_BINS)
    b = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            lo.alias("lo"),
            hi.alias("hi"),
            F.when(hi == lo, F.lit(0))
            .otherwise(F.least(F.lit(HIST_BINS - 1).cast("long"), binf))
            .cast("int")
            .alias("bin"),
        )
    )
    return b.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.min(
            F.col("lo") + F.col("bin") * (F.col("hi") - F.col("lo")) / F.lit(HIST_BINS)
        ).alias("bin_lo"),
    )


# ------------------------------------------------ winsorized stats
_WINSOR_ORACLE = """
WITH pct AS (
    SELECT event_type,
           percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p05,
           percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95
    FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT e.event_type,
       COUNT(*) AS n_values,
       CAST(SUM(CASE WHEN e.value < p.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_low,
       CAST(SUM(CASE WHEN e.value > p.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_high,
       ROUND(AVG(e.value), 6) AS avg_raw,
       ROUND(AVG(LEAST(GREATEST(e.value, p.p05), p.p95)), 6) AS avg_winsorized,
       ROUND(MIN(p.p05), 6) AS p05,
       ROUND(MIN(p.p95), 6) AS p95
FROM events e JOIN pct p USING (event_type)
WHERE e.value IS NOT NULL
GROUP BY 1
"""


@query("winsorized_stats", oracle=_WINSOR_ORACLE)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile capping) per event type — the
    outlier-robust mean a cleaning pipeline reports before and after
    clamping values into the exact [p05, p95] band (A6 percentiles,
    `F.percentile` = PERCENTILE_CONT interpolation).

    Scale: the percentile table is one small aggregate (|types| rows)
    broadcast back onto the fact — the fact scan itself never
    shuffles; capping is LEAST/GREATEST column math and the final
    rollup is map-side combinable. At 100 TB swap the exact
    percentiles for `approx_percentile` partials —
    the clamp stays identical."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    pct = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    j = ev.join(F.broadcast(pct), "event_type")
    capped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum((F.col("value") < F.col("p05")).cast("int")).cast("long")
            .alias("n_capped_low"),
        F.sum((F.col("value") > F.col("p95")).cast("int")).cast("long")
            .alias("n_capped_high"),
        F.round(F.avg("value"), 6).alias("avg_raw"),
        F.round(F.avg(capped), 6).alias("avg_winsorized"),
        F.round(F.min("p05"), 6).alias("p05"),
        F.round(F.min("p95"), 6).alias("p95"),
    )


# ------------------------------------------------ cube aggregate
_CUBE_ORACLE = f"""
SELECT event_type,
       CASE WHEN GROUPING(dow) = 1 THEN NULL ELSE dow END AS day_of_week,
       GROUPING(event_type) * 2 + GROUPING(dow) AS grouping_id,
       COUNT(*) AS reading_count,
       ROUND(AVG(value), 6) AS avg_value
FROM (SELECT event_type, EXTRACT(dow FROM {DUCK_TS}) AS dow, value FROM events)
GROUP BY CUBE (event_type, dow)
"""


@query("cube_type_dow", oracle=_CUBE_ORACLE)
def cube_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate over (event_type, day-of-week): all four
    grouping sets — full detail, per-type, per-day, grand total — in
    one pass (completes the grouping-sets family next to
    ``hourly_rollup``; SURVEY §2.4 notes the reference has neither).
    DuckDB ``EXTRACT(dow)`` is 0=Sunday vs Spark ``dayofweek``
    1=Sunday, so the Spark side shifts by one (SURVEY §7.3 risk 6).

    Scale: Spark expands grouping sets map-side (Expand node) before
    one shuffle on the compound key — 4x the map rows, not 4 passes."""
    ev = load_events(spark, sf_dir).select(
        "event_type", (F.dayofweek("ts") - 1).cast("long").alias("dow"), "value"
    )
    return (
        ev.cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            (F.grouping("event_type") * 2 + F.grouping("dow"))
                .cast("long").alias("grouping_id"),
        )
        .select(
            "event_type", F.col("dow").alias("day_of_week"),
            "grouping_id", "reading_count", "avg_value",
        )
    )


# ------------------------------------------------ set operations
_SET_OPS_ORACLE = """
SELECT user_id, 'purchase_only' AS segment FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
)
UNION ALL
SELECT user_id, 'both' AS segment FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
)
"""


@query("user_set_ops", oracle=_SET_OPS_ORACLE)
def user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface (SURVEY §2.7: the reference has none —
    free Spark capability): purchasing users partitioned into those
    who never hit an error (EXCEPT) and those who did (INTERSECT),
    tagged and UNION ALL-ed into one segment table.

    Scale: both set ops hash-shuffle on user_id after a DISTINCT that
    is itself partial-aggregated map-side; the union is free (no
    shuffle, just plan concatenation). Skew escape hatch: DISTINCT
    collapses each user to one row map-side, so even a hot user cannot
    overload a reducer; if a sentinel key dominates (e.g. NULL/'anon'
    user_id), filter it out pre-DISTINCT and union it back as its own
    segment — same pattern operators/skew.py ships for aggregations."""
    ev = load_events(spark, sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    err = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return (
        purch.exceptAll(err).withColumn("segment", F.lit("purchase_only"))
        .unionAll(purch.intersect(err).withColumn("segment", F.lit("both")))
    )


# ------------------------------------------------ decile distribution
_DECILES_ORACLE = """
WITH d AS (
    SELECT event_type, value,
           NTILE(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
    FROM events WHERE value IS NOT NULL
)
SELECT event_type, decile,
       COUNT(*) AS n_values,
       ROUND(MIN(value), 6) AS min_value,
       ROUND(MAX(value), 6) AS max_value
FROM d GROUP BY 1, 2
"""


@query("value_deciles", oracle=_DECILES_ORACLE)
def value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile distribution of values per event type (rank-family
    window — SURVEY §2.5 notes the reference uses none). The
    (value, event_id) tiebreak makes tile assignment deterministic
    under duplicate values; NULLs are filtered because engines default
    to opposite NULL ordering.

    Scale: one window shuffle on event_type (low cardinality — for a
    hot single-type table, pre-aggregate per salted subpartition or
    use approx quantile cuts instead of exact NTILE), then a
    map-side-combinable rollup to 10 rows per type."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(10).over(w).alias("decile"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )


# ------------------------------------- decile distribution (approx twin)
_DECILE_PS = tuple(i / 10.0 for i in range(1, 10))
_DECILE_ACCURACY = 1_000_000  # sketch exact at every test SF

_DECILES_APPROX_ORACLE = f"""
WITH e AS (
    SELECT event_type, value FROM events WHERE value IS NOT NULL
),
rk AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM e
),
cuts AS (
    SELECT event_type,
           {", ".join(
               f"MAX(CASE WHEN rn = CAST(CEIL(CAST({p!r} AS DOUBLE) * n)"
               f" AS BIGINT) THEN value END) AS c{i}"
               for i, p in enumerate(_DECILE_PS)
           )}
    FROM rk GROUP BY event_type
),
b AS (
    SELECT e.event_type,
           1 {" ".join(f"+ (e.value > c{i})::INT" for i in range(len(_DECILE_PS)))}
               AS decile,
           e.value
    FROM e JOIN cuts USING (event_type)
)
SELECT event_type, decile,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       ROUND(MIN(value), 6) AS min_value,
       ROUND(MAX(value), 6) AS max_value
FROM b GROUP BY 1, 2
"""


@query("value_deciles_approx", oracle=_DECILES_APPROX_ORACLE)
def value_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX-cut-point twin of value_deciles (VERDICT r7 item 6: the
    documented 100 TB swap, now executable): per-type decile cut
    points from ONE approx_percentile reduce (GK sketch, mergeable,
    map-side partials), broadcast back, map-side threshold bucketing —
    NO WindowExec anywhere (pytest-pinned), so nothing is
    single-partition-per-type at any scale, unlike exact NTILE whose
    per-type sort concentrates a hot event_type on one reducer.

    Semantic delta vs the exact twin, by construction: ties at a cut
    boundary land in ONE bucket (NTILE splits them by event_id
    tiebreak), so bucket populations may differ at tie runs while cut
    points themselves are the identical discrete order statistics
    (pinned in tests/test_approx_twins.py).

    Cut-point determinism: accuracy=1e6 makes the sketch exact at
    test scale and an exact GK query returns the element at rank
    CEIL(p*n) — the same discrete element the oracle's ranked
    selection picks (the rfm_segments_approx convention)."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    acc = F.lit(_DECILE_ACCURACY)
    cuts = ev.groupBy("event_type").agg(
        *[
            F.approx_percentile("value", F.lit(p), acc).alias(f"c{i}")
            for i, p in enumerate(_DECILE_PS)
        ]
    )
    decile = F.lit(1)
    for i in range(len(_DECILE_PS)):
        decile = decile + (F.col("value") > F.col(f"c{i}")).cast("int")
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .select("event_type", "value", decile.alias("decile"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )


# ------------------------------------------------ time-weighted average
_TWA_ORACLE = f"""
WITH t AS (
    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value, event_id
    FROM events WHERE value IS NOT NULL
),
d AS (
    SELECT user_id, value,
           LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us
               AS dt_us
    FROM t
)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dt_us) AS BIGINT) AS total_dt_us,
       CAST(SUM(CAST(ROUND(value * dt_us / 10000.0, 0) AS BIGINT)) AS BIGINT)
           AS weighted_units,
       SUM(CAST(ROUND(value * dt_us / 10000.0, 0) AS BIGINT)) * 10000.0 / SUM(dt_us)
           AS time_weighted_avg
FROM d WHERE dt_us IS NOT NULL
GROUP BY user_id
"""


@query("time_weighted_avg", oracle=_TWA_ORACLE)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per device (the TimescaleDB toolkit
    ``time_weight('LOCF', ...)`` capability): each reading is weighted
    by how long it stayed current — the honest mean for irregularly
    sampled sensors, where the plain AVG over-counts burst periods.
    ``lead`` supplies each interval's duration (an O(n) offset frame,
    NOT an unbounded-following frame); the last reading of a device
    has no duration and is excluded, standard LOCF-integral semantics.

    Cross-engine determinism: per-interval weights quantize to integer
    units (exact BIGINT sums, order-independent) and the final ratio
    of exact integers is one deterministic IEEE division, emitted
    unrounded. Scale: one shuffle on user_id shared by the window and
    the aggregate (exchange reuse); sums stay < 2^63 up to ~1e5
    device-years at 1e6-unit values."""
    t = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "value", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = t.select(
        "user_id", "value",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    units = F.round(F.col("value") * F.col("dt_us") / 10000.0, 0).cast("long")
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt_us").alias("total_dt_us"),
        F.sum(units).alias("weighted_units"),
        (F.sum(units) * 10000.0 / F.sum("dt_us")).alias("time_weighted_avg"),
    )


# ------------------------------------------------ correlation aggregates
_CORR_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_values,
       ROUND(CORR(value, hod), 6) AS corr_value_hour,
       ROUND(COVAR_SAMP(value, hod), 6) AS covar_value_hour
FROM (
    SELECT event_type, value,
           CAST(EXTRACT(hour FROM {DUCK_TS}) AS DOUBLE) AS hod
    FROM events WHERE value IS NOT NULL
)
GROUP BY event_type
"""


@query("value_time_correlation", oracle=_CORR_ORACLE)
def value_time_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates — Pearson correlation and
    sample covariance of reading value vs hour-of-day per event type
    (does this sensor breathe with the day cycle?). Extends the
    reference's aggregate family, which stops at STDDEV. Hour-of-day
    (not raw epoch) keeps the co-moment arithmetic well-conditioned.

    Scale: corr/covar are single-pass mergeable co-moment aggregates
    (partial maps combine like sums) — same shuffle shape as AVG."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", "value", F.hour("ts").cast("double").alias("hod")
        )
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.round(F.corr("value", "hod"), 6).alias("corr_value_hour"),
        F.round(F.covar_samp("value", "hod"), 6).alias("covar_value_hour"),
    )


# ------------------------------------------------ sensor drift (OLS slope)
_DRIFT_ORACLE = f"""
WITH t AS (
    SELECT user_id, value,
           ({DUCK_TS_EPOCH} - MIN({DUCK_TS_EPOCH}) OVER (PARTITION BY user_id))
               / 3600.0 AS hours_since_first
    FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       COUNT(*) AS n_values,
       ROUND(REGR_SLOPE(value, hours_since_first), 6) AS drift_per_hour,
       ROUND(REGR_INTERCEPT(value, hours_since_first), 6) AS baseline_value
FROM t GROUP BY user_id
"""


@query("sensor_drift", oracle=_DRIFT_ORACLE)
def sensor_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-device sensor drift: the OLS slope of value over hours
    since the device's first reading — the calibration-decay signal a
    fleet-maintenance pipeline alerts on. Time is centered per device
    (hours since first reading, a window MIN) BEFORE the regression:
    raw epoch abscissas (~1.7e9 s) would lose ~6 digits of the
    variance to cancellation and flake the 6-decimal oracle round.

    Scale: one shuffle on user_id shared by the centering window and
    the regression aggregate (exchange reuse); REGR_* are single-pass
    mergeable co-moments like AVG."""
    w = Window.partitionBy("user_id")
    t = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "user_id", "value",
            ((_ts_epoch() - F.min(_ts_epoch()).over(w)) / 3600.0)
                .alias("hours_since_first"),
        )
    )
    return t.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.round(F.regr_slope("value", "hours_since_first"), 6).alias("drift_per_hour"),
        F.round(F.regr_intercept("value", "hours_since_first"), 6).alias("baseline_value"),
    )


# ------------------------------------------------ top-N per group
TOP_N_PER_GROUP = 3

_TOPN_ORACLE = f"""
WITH s AS (
    SELECT event_type, user_id,
           COUNT(*) AS n_readings,
           ROUND(AVG(value), 6) AS avg_value
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
r AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type
        ORDER BY avg_value DESC, user_id
    ) AS rank_in_type
    FROM s
)
SELECT event_type, user_id, n_readings, avg_value, rank_in_type
FROM r WHERE rank_in_type <= {TOP_N_PER_GROUP}
"""


@query("top_devices_per_type", oracle=_TOPN_ORACLE)
def top_devices_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group — the highest-average devices within each event
    type (the per-category leaderboard ORDER BY+LIMIT cannot express):
    row_number over a per-type window, filtered to the first
    {TOP_N_PER_GROUP}, (avg_value, user_id) tiebreak for determinism.

    Scale: the aggregate collapses the fact to |types|x|devices| rows
    BEFORE the rank window touches anything, and the window sort is
    per-partition (global=false in the plan) — no global sort, no
    TakeOrdered over raw data."""
    s = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("avg_value").desc(), F.col("user_id")
    )
    return (
        s.withColumn("rank_in_type", F.row_number().over(w))
        .filter(F.col("rank_in_type") <= TOP_N_PER_GROUP)
    )


# ------------------------------------------------ referential integrity
_RI_ORACLE = """
SELECT 'events.user_id->customer' AS fk, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
UNION ALL
SELECT 'orders.o_custkey->customer' AS fk, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem.l_orderkey->orders' AS fk, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


@query("referential_integrity_audit", oracle=_RI_ORACLE)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema — the
    constraint checking the reference delegated to PostgreSQL FKs
    (`create_dwh_schema.sql`), which a data-lake warehouse must run as
    a batch assertion instead: per FK edge, total rows and rows whose
    parent is missing.

    Scale: each edge is one LEFT join counting parent misses — the
    dimension side broadcasts; for fact-fact edges the join rides the
    orderkey shuffle (or the bucketed layout). Emitting counts (not
    orphan rows) keeps output O(edges)."""

    def edge(fk, child, ckey, parent, pkey):
        p = F.broadcast(parent.select(F.col(pkey).alias("__pk")))
        j = child.select(F.col(ckey).alias("__ck")).join(
            p, F.col("__ck") == F.col("__pk"), "left"
        )
        return j.agg(
            F.lit(fk).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("__pk").isNull().cast("int")).cast("long").alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    ev = load_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        edge("events.user_id->customer", ev, "user_id", cust, "c_custkey")
        .unionAll(edge("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"))
        .unionAll(edge("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"))
    )


# ------------------------------------------------ seasonal residuals
_SEASONAL_ORACLE = f"""
WITH s AS (
    SELECT event_type, value,
           AVG(value) OVER w AS cell_avg,
           STDDEV(value) OVER w AS cell_std
    FROM (
        SELECT event_type, value,
               EXTRACT(dow FROM {DUCK_TS}) AS dow,
               EXTRACT(hour FROM {DUCK_TS}) AS hod
        FROM events WHERE value IS NOT NULL
    )
    WINDOW w AS (PARTITION BY event_type, dow, hod)
)
SELECT event_type,
       COUNT(*) AS n_values,
       CAST(SUM(CASE WHEN cell_std > 0
                      AND ABS(value - cell_avg) > 3 * cell_std
                THEN 1 ELSE 0 END) AS BIGINT) AS n_seasonal_anomalies,
       ROUND(AVG(ABS(value - cell_avg)), 6) AS mean_abs_residual
FROM s GROUP BY event_type
"""


@query("seasonal_residual_anomaly", oracle=_SEASONAL_ORACLE)
def seasonal_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection: the expectation is the
    (event_type, day-of-week, hour-of-day) cell mean — a reading is
    anomalous only if it deviates >3 sigma from what THAT hour of THAT
    weekday normally looks like. The plain z-score (W5/W6) flags every
    rush-hour peak; this is the residual after the daily/weekly
    seasonality the reference's hour-of-day and weekend profiles
    (A10/A11) describe but never fold back into detection.

    Scale: one shuffle on the seasonal cell key for the window pass
    (168 x |types| cells — fine grain for parallelism, coarse enough
    that every cell has mass), then a tiny per-type rollup. Same
    whole-partition frame as W5; dow convention shifted to match
    engines."""
    w = Window.partitionBy("event_type", "dow", "hod")
    s = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", "value",
            (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hod"),
        )
        .select(
            "event_type", "value",
            F.avg("value").over(w).alias("cell_avg"),
            F.stddev("value").over(w).alias("cell_std"),
        )
    )
    flagged = (
        (F.col("cell_std") > 0)
        & (F.abs(F.col("value") - F.col("cell_avg")) > 3 * F.col("cell_std"))
    )
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum(flagged.cast("int")).cast("long").alias("n_seasonal_anomalies"),
        F.round(F.avg(F.abs(F.col("value") - F.col("cell_avg"))), 6)
            .alias("mean_abs_residual"),
    )


# ------------------------------------------------ device availability
_AVAILABILITY_ORACLE = f"""
WITH b AS (
    SELECT user_id, {duck_bucket_epoch('hour')} AS bucket
    FROM events GROUP BY 1, 2
),
e AS (
    SELECT user_id,
           COUNT(*) AS present_hours,
           (MAX(bucket) - MIN(bucket)) / 3600 + 1 AS expected_hours
    FROM b GROUP BY user_id
)
SELECT user_id, present_hours, CAST(expected_hours AS BIGINT) AS expected_hours,
       CAST(present_hours AS DOUBLE) / expected_hours AS availability
FROM e
"""


@query("device_availability", oracle=_AVAILABILITY_ORACLE)
def device_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Device availability — the fleet-health KPI: of the hourly
    heartbeat slots between a device's first and last reading, what
    fraction have at least one reading (the aggregate twin of
    `time_grid_gapfill`, which materializes the missing slots).

    All-integer arithmetic until one deterministic division (emitted
    unrounded — exact-int inputs give identical doubles on both
    engines). Scale: two stacked aggregates on user_id, one shuffle
    total; output is one row per device."""
    b = (
        load_events(spark, sf_dir)
        .groupBy("user_id", _bucket_epoch("hour").alias("bucket"))
        .agg(F.lit(1))
    )
    e = b.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("present_hours"),
        ((F.max("bucket") - F.min("bucket")) / F.lit(3600)).cast("long")
            .alias("expected_gap"),
    )
    return e.select(
        "user_id",
        "present_hours",
        (F.col("expected_gap") + 1).alias("expected_hours"),
        (F.col("present_hours").cast("double") / (F.col("expected_gap") + 1))
            .alias("availability"),
    )


# ------------------------------------- grouped-map Pandas UDF (MAD)
_MAD_ORACLE = """
WITH m AS (
    SELECT user_id, MEDIAN(value) AS med
    FROM events WHERE value IS NOT NULL GROUP BY user_id
)
SELECT e.user_id,
       COUNT(*) AS n,
       ROUND(ANY_VALUE(m.med), 6) AS median_value,
       ROUND(MEDIAN(ABS(e.value - m.med)), 6) AS mad
FROM events e JOIN m ON e.user_id = m.user_id
WHERE e.value IS NOT NULL
GROUP BY e.user_id
"""


@query("device_mad_pandas", oracle=_MAD_ORACLE)
def device_mad_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per device in Python — the deliberate
    demonstration of the Arrow-batched custom-operator path for
    semantics that genuinely need two dependent passes over a group's
    values in one function (median, then median of deviations FROM
    that median); everything else in the engine stays on JVM
    built-ins. The production swap is ``device_mad_builtin`` below:
    two-pass ``F.median`` with no Python exchange and no per-group
    value-set materialization — prefer it whenever a single device's
    history can outgrow one Arrow batch (hot-device skew at 100 TB).

    r13 optimization (guide §4.1/§4.5): formerly
    ``groupBy().applyInPandas`` — one Python call and one 1-row pandas
    DataFrame construction PER DEVICE dominated the wall time (3.7 s
    warm at sf0.1 vs 0.9 s for the JVM twin). Now ``mapInPandas`` over
    a user-hashed, user-sorted partition: one Python iterator per
    TASK, group segments found vectorized (np.flatnonzero on the
    sorted key), the open tail group carried across Arrow batch
    boundaries. numpy's interpolated median is the same nanmedian
    pandas ``Series.median`` used, so the computed values are
    unchanged bit for bit.

    Scale: one shuffle on the grouping key; per-task transient state
    is one open group's value vector — bounded by the largest device
    (~days x rate), NOT the table, exactly as the grouped-map form
    was. Rounding happens back in Spark so the cross-engine ROUND
    convention stays single-engine."""
    import numpy as np
    import pandas as pd

    def mad_partition(batches):
        out_u: list[int] = []
        out_n: list[int] = []
        out_med: list[float] = []
        out_mad: list[float] = []

        def emit(uid, vals):
            med = float(np.median(vals))
            out_u.append(int(uid))
            out_n.append(len(vals))
            out_med.append(med)
            out_mad.append(float(np.median(np.abs(vals - med))))

        cur_uid = None
        cur_vals: list = []
        for pdf in batches:
            uids = pdf["user_id"].to_numpy()
            vals = pdf["value"].to_numpy()
            if len(uids) == 0:
                continue
            cut = np.flatnonzero(uids[1:] != uids[:-1]) + 1
            starts = np.concatenate(([0], cut))
            ends = np.concatenate((cut, [len(uids)]))
            for s, e in zip(starts, ends):
                uid, seg = uids[s], vals[s:e]
                if cur_uid is not None and uid == cur_uid:
                    cur_vals.append(seg)
                    if e < len(uids):
                        emit(cur_uid, np.concatenate(cur_vals))
                        cur_uid, cur_vals = None, []
                    continue
                if cur_uid is not None:
                    emit(cur_uid, np.concatenate(cur_vals))
                    cur_uid, cur_vals = None, []
                if e == len(uids):  # tail group may continue next batch
                    cur_uid, cur_vals = uid, [seg]
                else:
                    emit(uid, seg)
            if out_u:
                yield pd.DataFrame(
                    {
                        "user_id": out_u,
                        "n": out_n,
                        "median_value": out_med,
                        "mad": out_mad,
                    }
                )
                out_u, out_n, out_med, out_mad = [], [], [], []
        if cur_uid is not None:
            emit(cur_uid, np.concatenate(cur_vals))
        if out_u:
            yield pd.DataFrame(
                {
                    "user_id": out_u,
                    "n": out_n,
                    "median_value": out_med,
                    "mad": out_mad,
                }
            )

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    out = (
        ev.select("user_id", "value")
        .repartition("user_id")
        .sortWithinPartitions("user_id")
        .mapInPandas(
            mad_partition,
            schema="user_id long, n long, median_value double, mad double",
        )
    )
    return out.select(
        "user_id", "n",
        F.round("median_value", 6).alias("median_value"),
        F.round("mad", 6).alias("mad"),
    )


# ------------------------------------- built-in two-pass MAD twin
@query("device_mad_builtin", oracle=_MAD_ORACLE)
def device_mad_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD per device on pure JVM built-ins (Spark >= 3.4 ``F.median``):
    pass 1 computes each device's median, pass 2 re-aggregates the
    absolute deviations from it. Same semantics and oracle as
    ``device_mad_pandas``, zero Python exchange.

    Scale: this is the variant to run at 100 TB — the pandas twin
    holds each device's full value set in one Arrow batch (a hot
    device skews its executor), while this plan is two shuffled
    aggregations whose per-group state is O(1) beyond the percentile
    sketch buffer. The medians side is device-cardinality, broadcast
    here; past the broadcast threshold AQE degrades it to a shuffle
    join on the same key the final groupBy reuses."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("user_id", "value")
    )
    med = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    return (
        ev.join(F.broadcast(med), "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("med"), 6).alias("median_value"),
            F.round(F.median(F.abs(F.col("value") - F.col("med"))), 6).alias("mad"),
        )
    )


# ------------------------------------- v_anomaly_trends_7d exact twin
_TRENDS_ORACLE = f"""
SELECT {duck_bucket_epoch('hour')} AS bucket_epoch,
       user_id,
       COUNT(*) AS total_readings,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS anomaly_count,
       ROUND(100.0 * SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS anomaly_rate_pct
FROM events
WHERE {DUCK_TS} >= TIMESTAMP '{REF_INSTANT}' - INTERVAL 7 DAYS
  AND {DUCK_TS} <  TIMESTAMP '{REF_INSTANT}'
GROUP BY 1, 2
ORDER BY 1 DESC, 2
"""


@query("anomaly_trends_7d", oracle=_TRENDS_ORACLE)
def anomaly_trends_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly anomaly trend over the trailing 7 days — the exact twin
    of the reference's v_anomaly_trends_7d (create_dwh_schema.sql:
    308-336): hour bucket x device, reading count, anomaly count and
    rate. NOW() is replaced by the fixed REF_INSTANT for determinism
    (same convention as device_health_24h); 'error' events stand in
    for is_anomaly_combined per FIXTURES.md §B.

    Scale: the 7-day predicate is pushed into the parquet scan (and
    prunes partitions on a time-partitioned layout); one shuffle on
    (hour, device); the rate is computed from the two counts inside
    the same aggregate, no second pass. The trailing sort is
    presentation-order from the view, dropped by downstream consumers
    that re-aggregate."""
    ev = load_events(spark, sf_dir)
    ref = F.lit(REF_INSTANT).cast("timestamp")
    err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (
        ev.filter((F.col("ts") >= ref - F.expr("INTERVAL 7 DAYS")) & (F.col("ts") < ref))
        .groupBy(_bucket_epoch("hour").alias("bucket_epoch"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("total_readings"),
            err.alias("anomaly_count"),
            F.round(F.lit(100.0) * err / F.count(F.lit(1)), 6).alias("anomaly_rate_pct"),
        )
        .orderBy(F.col("bucket_epoch").desc(), "user_id")
    )


# ------------------------------- F10 variant: semi-structured VARIANT
_VARIANT_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_with_props,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS distinct_k
FROM (
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events WHERE props IS NOT NULL
)
GROUP BY event_type
ORDER BY event_type
"""


@query("props_variant_extract", oracle=_VARIANT_ORACLE)
def props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 VARIANT path for semi-structured payloads:
    ``try_parse_json`` ingests the props JSON into VariantType once,
    ``variant_get`` does typed extraction — the open-schema alternative
    to ``from_json`` with a declared StructType (json_props_extract /
    props_map_extract cover that closed-schema path). Variant keeps a
    binary-encoded tree, so repeated extractions skip re-parsing and
    unknown future keys survive ingestion — the semantics warehouses
    (and the reference's opaque metadata string,
    spark_transform.py:129) actually need.

    Scale: parse happens map-side in the scan stage; the aggregate is
    an ordinary hash agg. try_ variant: malformed payloads become
    NULLs, never task failures."""
    ev = load_events(spark, sf_dir).filter(F.col("props").isNotNull())
    k = F.variant_get(F.try_parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_with_props"),
            F.sum("k").alias("sum_k"),
            F.count_distinct("k").alias("distinct_k"),
        )
        .orderBy("event_type")
    )


# ------------------------------------- declarative constraint audit
_CONSTRAINT_ORACLE = """
SELECT 'not_null_value' AS constraint, 'not_null' AS kind,
       (SELECT COUNT(*) FROM events) AS n_rows,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM events
UNION ALL
SELECT 'in_range_value', 'in_range',
       (SELECT COUNT(*) FROM events),
       CAST(SUM(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 10000)
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 10000)
           THEN 1 ELSE 0 END) = 0
FROM events
UNION ALL
SELECT 'accepted_values_event_type', 'accepted_values',
       (SELECT COUNT(*) FROM events),
       CAST(SUM(CASE WHEN event_type NOT IN
                ('view', 'click', 'purchase', 'error', 'refund')
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN event_type NOT IN
           ('view', 'click', 'purchase', 'error', 'refund')
           THEN 1 ELSE 0 END) = 0
FROM events
UNION ALL
SELECT 'unique_event_id', 'unique',
       (SELECT COUNT(*) FROM events),
       CAST((SELECT COUNT(*) FROM events)
            - (SELECT COUNT(DISTINCT event_id) FROM events) AS BIGINT),
       (SELECT COUNT(*) FROM events)
         = (SELECT COUNT(DISTINCT event_id) FROM events)
"""


@query("constraint_audit", oracle=_CONSTRAINT_ORACLE)
def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (operators/quality.py
    constraint_report — the Deequ/dbt-tests capability the reference
    hand-rolls as eager per-check counts): not-null, range,
    accepted-values and uniqueness over events, every row-level rule
    compiled into ONE aggregation pass sharing one scan.

    Scale: adding a rule adds a conditional sum to the existing agg,
    not a scan; uniqueness rides the same pass as
    count - count_distinct. The oracle recomputes each rule as
    independent SQL and must agree row-for-row."""
    from iot_etl_spark.operators.quality import (
        accepted_values,
        constraint_report,
        in_range,
        not_null,
        unique,
    )

    ev = load_events(spark, sf_dir)
    return constraint_report(
        ev,
        [
            not_null("value"),
            in_range("value", 0, 10_000),
            accepted_values("event_type", ["view", "click", "purchase", "error", "refund"]),
            unique("event_id"),
        ],
    )


# --------------------------------------------------- funnel conversion
_FUNNEL_ORACLE = """
WITH seq AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
    FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
v AS (
    SELECT user_id, MIN(ts) AS t1 FROM seq WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT s.user_id, MIN(s.ts) AS t2
    FROM seq s JOIN v ON s.user_id = v.user_id AND s.ts > v.t1
    WHERE s.event_type = 'click' GROUP BY 1
),
p AS (
    SELECT s.user_id, MIN(s.ts) AS t3
    FROM seq s JOIN c ON s.user_id = c.user_id AND s.ts > c.t2
    WHERE s.event_type = 'purchase' GROUP BY 1
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_view_click,
       (SELECT COUNT(*) FROM p) AS n_full_funnel,
       CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
           / (SELECT COUNT(*) FROM v) AS click_rate,
       CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
           / (SELECT COUNT(*) FROM c) AS purchase_rate
"""


@query("funnel_conversion", oracle=_FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> later click -> later purchase) per user,
    rolled up to stage counts and conversion rates — the sequential
    pattern-matching capability (MATCH_RECOGNIZE territory) expressed
    as a ONE-PASS per-user fold: events sort into a per-user array and
    an `aggregate` lambda walks them once, advancing each stage only
    on a strictly-later matching event. The oracle is the textbook
    staged-MIN formulation (three dependent scans + joins) — identical
    semantics, including the strict-inequality chain on ties.

    Scale: one shuffle on user_id, JVM-side fold, no self-joins. A
    pathological user with millions of events would bloat its array —
    the escape hatch is the oracle's staged-join shape, whose stage
    frames stay user-grained; the fold is the right default because
    funnels are per-human sequences (bounded)."""
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    packed = (
        ev.select("user_id", F.unix_micros("ts").alias("us"), "event_type")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("us", "event_type"))).alias("evs"))
    )
    fold = F.aggregate(
        "evs",
        F.struct(
            F.lit(None).cast("long").alias("t1"),
            F.lit(None).cast("long").alias("t2"),
            F.lit(None).cast("long").alias("t3"),
        ),
        lambda acc, e: F.struct(
            F.when(
                acc.t1.isNull() & (e.event_type == "view"), e.us
            ).otherwise(acc.t1).alias("t1"),
            F.when(
                acc.t2.isNull() & acc.t1.isNotNull()
                & (e.event_type == "click") & (e.us > acc.t1),
                e.us,
            ).otherwise(acc.t2).alias("t2"),
            F.when(
                acc.t3.isNull() & acc.t2.isNotNull()
                & (e.event_type == "purchase") & (e.us > acc.t2),
                e.us,
            ).otherwise(acc.t3).alias("t3"),
        ),
    )
    stages = packed.select(fold.alias("s"))
    n_view = F.sum(F.col("s.t1").isNotNull().cast("long"))
    n_click = F.sum(F.col("s.t2").isNotNull().cast("long"))
    n_purch = F.sum(F.col("s.t3").isNotNull().cast("long"))
    return stages.agg(
        n_view.alias("n_view"),
        n_click.alias("n_view_click"),
        n_purch.alias("n_full_funnel"),
        (n_click.cast("double") / n_view).alias("click_rate"),
        (n_purch.cast("double") / n_click).alias("purchase_rate"),
    )


# --------------------------------------------------- cohort retention
_COHORT_ORACLE = """
WITH firsts AS (
    SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_ts
    FROM events GROUP BY 1
)
SELECT epoch_us(date_trunc('week', f.first_ts)) // 1000000 AS cohort_week_epoch,
       CAST((epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(f.first_ts))
            // 604800000000 AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


@query("cohort_retention", oracle=_COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-seen
    week, activity counted per whole-week offset from each user's own
    first event — the standard growth-analytics triangle.

    Scale: the first-seen aggregate and the activity join share the
    user_id shuffle key (co-partitioned join, exchange reuse); the
    week math is integer microsecond division (exact, no calendar
    functions beyond the cohort label's date_trunc). Distinct-count
    per (cohort, offset) cell is the only second shuffle; cells are
    bounded by weeks², not users."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", F.unix_micros("ts").alias("us")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.min("us").alias("first_us")
    )
    j = ev.join(firsts, "user_id")
    return (
        j.groupBy(
            F.unix_timestamp(F.date_trunc("week", "first_ts"))
            .cast("long").alias("cohort_week_epoch"),
            # integer `div`, same as the oracle's `//`: zero floating
            # point anywhere near the week-boundary decision
            F.expr("(us - first_us) div 604800000000")
            .cast("long").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


# ------------------------------------------- regression aggregates
_REGR_ORACLE = """
SELECT event_type,
       CAST(regr_count(value, x) AS BIGINT) AS n_points,
       ROUND(regr_slope(value, x), 6) AS slope_per_day,
       ROUND(regr_intercept(value, x), 6) AS intercept,
       ROUND(regr_r2(value, x), 6) AS r2
FROM (
    SELECT event_type, value,
           (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
               / 86400000000.0 AS x
    FROM events WHERE value IS NOT NULL
)
GROUP BY event_type
ORDER BY event_type
"""


@query("regr_value_trend", oracle=_REGR_ORACLE)
def regr_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend of value over time via the ANSI
    regression aggregates (regr_slope/intercept/r2/count) — the
    built-in single-pass path for what sensor_drift derives manually.
    The regressor is days since a fixed epoch (one shared double
    expression on both engines); outputs round to 6 places, the same
    convention the CORR/COVAR query uses for co-moment aggregates.

    Scale: one hash aggregate with map-side partial co-moments —
    the cheapest possible trend computation over 100 TB (no window,
    no sort, no second pass)."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    x = (F.unix_micros("ts") - F.lit(1704067200000000)) / F.lit(86400000000.0)
    return (
        ev.select("event_type", "value", x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.regr_count("value", "x").cast("long").alias("n_points"),
            F.round(F.regr_slope("value", "x"), 6).alias("slope_per_day"),
            F.round(F.regr_intercept("value", "x"), 6).alias("intercept"),
            F.round(F.regr_r2("value", "x"), 6).alias("r2"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------- UNPIVOT (melt)
_UNPIVOT_ORACLE = """
WITH w AS (
    SELECT event_type,
           ROUND(AVG(value), 6) AS avg_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT event_type, metric, value
FROM (UNPIVOT w ON avg_value, min_value, max_value
      INTO NAME metric VALUE value)
"""


@query("unpivot_type_metrics", oracle=_UNPIVOT_ORACLE)
def unpivot_type_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long melt via the native UNPIVOT operator
    (DataFrame.unpivot / SQL UNPIVOT, the inverse of the pivot the
    registry already covers): per-type stats melted to one
    (event_type, metric, value) row each — the shape metric stores
    and plotting layers consume.

    Scale: unpivot compiles to an Expand node — 3x the (tiny,
    pre-aggregated) rows map-side, zero additional shuffles beyond
    the stats aggregate itself."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    wide = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )
    return wide.unpivot(
        ids=["event_type"],
        values=["avg_value", "min_value", "max_value"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# -------------------------------------------- ordered string aggregation
_LISTAGG_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       string_agg(event_type, '>' ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                  event_id) AS event_signature
FROM events
GROUP BY user_id
"""


@query("user_event_signature", oracle=_LISTAGG_ORACLE)
def user_event_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type journey string via the ANSI
    LISTAGG ... WITHIN GROUP aggregate (DuckDB spells it string_agg
    with ORDER BY) — the sequence-signature feature clickstream models
    and journey clustering consume. The (ts, event_id) ordering
    tiebreak makes the concatenation deterministic under equal
    timestamps, so the strings hash-match cross-engine.

    Scale: one hash aggregate; per-user state is the user's own
    events (human-bounded). A bot user with millions of events would
    bloat its string — production caps with a windowed LIMIT per user
    before aggregating (the doc_chunks slice pattern)."""
    ev = load_events(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "event_type"
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "listagg(event_type, '>') WITHIN GROUP (ORDER BY ts_us, event_id)"
        ).alias("event_signature"),
    )


# ------------------------------------- detector-ensemble majority vote
# Thresholds: z-score 3.0 (config.py:127), Tukey k = 1.5 (config.py:128),
# modified z-score 3.5 with the 0.6745 normal-consistency constant
# (Iglewicz & Hoaglin 1993) — the three detectors this module already
# ships, now voting as an ensemble.
_ENSEMBLE_ORACLE = """
WITH s1 AS (
    SELECT user_id,
           AVG(value)    AS mn,
           STDDEV(value) AS sd,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS q1,
           percentile_cont(0.50) WITHIN GROUP (ORDER BY value) AS med,
           percentile_cont(0.75) WITHIN GROUP (ORDER BY value) AS q3
    FROM events WHERE value IS NOT NULL GROUP BY user_id
),
s2 AS (
    SELECT e.user_id,
           percentile_cont(0.50) WITHIN GROUP (ORDER BY abs(e.value - s1.med))
               AS mad
    FROM events e JOIN s1 USING (user_id)
    WHERE e.value IS NOT NULL GROUP BY e.user_id
),
v AS (
    SELECT e.user_id,
           (CASE WHEN s1.sd > 0 AND abs((e.value - s1.mn) / s1.sd) > 3.0
                 THEN 1 ELSE 0 END) AS f_z,
           (CASE WHEN e.value < s1.q1 - 1.5 * (s1.q3 - s1.q1)
                   OR e.value > s1.q3 + 1.5 * (s1.q3 - s1.q1)
                 THEN 1 ELSE 0 END) AS f_iqr,
           (CASE WHEN s2.mad > 0
                   AND abs(0.6745 * (e.value - s1.med) / s2.mad) > 3.5
                 THEN 1 ELSE 0 END) AS f_mad
    FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
    WHERE e.value IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT)          AS n_events,
       CAST(SUM(f_z) AS BIGINT)          AS n_zscore,
       CAST(SUM(f_iqr) AS BIGINT)        AS n_iqr,
       CAST(SUM(f_mad) AS BIGINT)        AS n_mad,
       CAST(SUM(CASE WHEN f_z + f_iqr + f_mad >= 2 THEN 1 ELSE 0 END)
            AS BIGINT)                   AS n_majority,
       CAST(SUM(CASE WHEN f_z + f_iqr + f_mad = 3 THEN 1 ELSE 0 END)
            AS BIGINT)                   AS n_unanimous,
       ROUND(100.0 * SUM(CASE WHEN f_z + f_iqr + f_mad >= 2 THEN 1 ELSE 0 END)
             / COUNT(*), 6)              AS majority_rate_pct
FROM v GROUP BY user_id
"""


@query("anomaly_ensemble_vote", oracle=_ENSEMBLE_ORACLE)
def anomaly_ensemble_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE anomaly detection: the module's three per-device
    detectors (z-score W5/W6, Tukey-IQR fence, modified-z MAD) vote
    per event; a device's report counts each detector's flags plus the
    majority (>= 2 of 3) and unanimous rates. Majority voting is the
    standard robustness upgrade over any single detector — the mean/
    stddev pair is skew-fragile exactly where the median/MAD pair is
    not, so disagreement rows are the interesting ones (the reference
    configures z and IQR, config.py:127-128, but never composes them).

    Determinism: every flag is a strict inequality on doubles that are
    pure per-row functions of exact per-group statistics; both engines
    evaluate the identical expression tree (shared thresholds, same
    guard structure), so the integer vote counts hash-match.

    100 TB shape: two hash aggregations on the SAME user_id key (stats,
    then MAD of deviations) with broadcast join-backs of the tiny
    per-device stats frames — no window sort over the fact, no second
    fact shuffle: the final per-device rollup rides the join's existing
    partitioning. Device-cardinality frames broadcast (~1e6 devices x
    48B); past the threshold AQE degrades to a shuffle join on the key
    the rollup reuses anyway."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("user_id", "value")
    )
    s1 = ev.groupBy("user_id").agg(
        F.avg("value").alias("mn"),
        F.stddev("value").alias("sd"),
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.50)).alias("med"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    s2 = (
        ev.join(F.broadcast(s1.select("user_id", "med")), "user_id")
        .groupBy("user_id")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    j = ev.join(F.broadcast(s1), "user_id").join(F.broadcast(s2), "user_id")
    f_z = F.when(
        (F.col("sd") > 0) & (F.abs((F.col("value") - F.col("mn")) / F.col("sd")) > 3.0),
        1,
    ).otherwise(0)
    iqr = F.col("q3") - F.col("q1")
    f_iqr = F.when(
        (F.col("value") < F.col("q1") - 1.5 * iqr)
        | (F.col("value") > F.col("q3") + 1.5 * iqr),
        1,
    ).otherwise(0)
    f_mad = F.when(
        (F.col("mad") > 0)
        & (F.abs(0.6745 * (F.col("value") - F.col("med")) / F.col("mad")) > 3.5),
        1,
    ).otherwise(0)
    votes = j.select(
        "user_id",
        f_z.alias("f_z"),
        f_iqr.alias("f_iqr"),
        f_mad.alias("f_mad"),
    )
    total = F.col("f_z") + F.col("f_iqr") + F.col("f_mad")
    return votes.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("f_z").cast("long").alias("n_zscore"),
        F.sum("f_iqr").cast("long").alias("n_iqr"),
        F.sum("f_mad").cast("long").alias("n_mad"),
        F.sum(F.when(total >= 2, 1).otherwise(0)).cast("long").alias("n_majority"),
        F.sum(F.when(total == 3, 1).otherwise(0)).cast("long").alias("n_unanimous"),
        F.round(
            100.0
            * F.sum(F.when(total >= 2, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("majority_rate_pct"),
    )


# --------------------------------------- funnel inter-step latency
_FUNNEL_TIMING_ORACLE = """
WITH e AS (
    SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events
),
s1 AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(e.us) AS t2
       FROM e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(e.us) AS t3
       FROM e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1),
gaps AS (
    SELECT 'view_to_click' AS step, s2.user_id, s2.t2 - s1.t1 AS gap_us
    FROM s2 JOIN s1 USING (user_id)
    UNION ALL
    SELECT 'click_to_purchase' AS step, s3.user_id, s3.t3 - s2.t2 AS gap_us
    FROM s3 JOIN s2 USING (user_id)
)
SELECT step,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(SUM(gap_us) / (COUNT(*) * 1e6), 6) AS mean_latency_s,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_us) / 1e6, 6)
           AS median_latency_s,
       ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_us) / 1e6, 6)
           AS p90_latency_s
FROM gaps GROUP BY step
"""


@query("funnel_step_timing", oracle=_FUNNEL_TIMING_ORACLE)
def funnel_step_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW LONG each funnel step takes, not just who converts: for the
    view -> click -> purchase journey funnel_conversion counts, the
    per-user staged-MIN timestamps (first view; first click strictly
    after it; first purchase strictly after that — the identical
    strict-inequality chain) yield inter-step gaps, reported per step
    as mean / median / p90 latency seconds. The time-dimension
    complement of funnel_conversion's rate — where users stall is the
    product question conversion rates can't answer.

    Determinism: gaps are exact integer microsecond differences; mean
    is one division over BIGINT sums; percentiles interpolate over
    integers with the shared formula; everything reported ROUND(6).

    100 TB shape: three stage frames built by filtered aggregations on
    the SAME user_id key (each later stage joins the previous
    user-grained frame, never the fact twice at once), then a tiny
    2-row rollup. Stage frames are user-cardinality — they broadcast
    at dim scale and degrade to co-partitioned shuffle joins on one
    key past it. Reference parity: none — journey-analytics
    extension."""
    e = load_events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    gaps = (
        s2.join(s1, "user_id")
        .select(
            F.lit("view_to_click").alias("step"),
            (F.col("t2") - F.col("t1")).alias("gap_us"),
        )
        .unionByName(
            s3.join(s2, "user_id").select(
                F.lit("click_to_purchase").alias("step"),
                (F.col("t3") - F.col("t2")).alias("gap_us"),
            )
        )
    )
    return gaps.groupBy("step").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("gap_us") / (F.count(F.lit(1)) * 1e6), 6).alias(
            "mean_latency_s"
        ),
        F.round(F.percentile("gap_us", F.lit(0.5)) / 1e6, 6).alias(
            "median_latency_s"
        ),
        F.round(F.percentile("gap_us", F.lit(0.9)) / 1e6, 6).alias(
            "p90_latency_s"
        ),
    )
