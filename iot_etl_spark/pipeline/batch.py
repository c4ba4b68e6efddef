"""Batch ETL assembly: extract -> transform -> load.

Reference: ``batch_etl/run_batch_pipeline.py:44-107`` orchestrates
``extract_all_sources`` (JDBC) -> ``transform_all``
(``spark_transform.py:217-252``: joins, time features, rolling stats,
z-score anomaly, quality flags) -> ``load_all``
(``spark_load.py:149-173``: dims overwrite, fact filtered append with
``etl_loaded_at`` stamp).

Spark-first deltas (SURVEY.md §4 anti-patterns not copied):
- no eager per-stage ``count()`` audit actions (the reference forces
  full recomputation at spark_extract.py:85,122,159 and
  spark_transform.py:59,88,209-211); the audit counts are collected
  by an ``Observation`` during the fact write itself, so the whole
  run is one pass over the events with no cache.
- fact written as Parquet partitioned by event date with
  sortWithinPartitions(key, time) — the hypertable-chunk + segmentby
  compression analog (create_dwh_schema.sql:88-90, 240-248).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from iot_etl_spark.operators.timefeatures import add_time_features
from iot_etl_spark.operators.rolling import add_rolling_features, add_lag_features
from iot_etl_spark.operators.anomaly import add_zscore_anomaly
from iot_etl_spark.operators.quality import add_quality_flags
from iot_etl_spark.operators.enrich import enrich_left_join
from iot_etl_spark.sources.tables import load_events, load_table


def transform_all(
    events: DataFrame,
    customer: DataFrame | None = None,
    nation: DataFrame | None = None,
) -> DataFrame:
    """The full reference transform chain (spark_transform.py:217-252)
    on the events fact: optional dimension enrichment (J1-J3), time
    features (F1/P5), rolling windows (W1-W2), lags (W3-W4), z-score
    anomaly (W5-W6), quality gate (P4-P8)."""
    df = events
    if customer is not None:
        df = enrich_left_join(
            df,
            customer.select(F.col("c_custkey").alias("user_id"), "c_name", "c_nationkey"),
            on="user_id",
        )
        if nation is not None:
            df = enrich_left_join(
                df,
                nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name"),
                on="c_nationkey",
            )
    df = add_time_features(df)
    df = add_rolling_features(df, key_cols=("user_id",))
    df = add_lag_features(df, key_cols=("user_id",))
    df = add_zscore_anomaly(df, key_cols=("user_id",))
    df = add_quality_flags(df)
    return df


def load_fact_table(df: DataFrame, out_path: str) -> None:
    """Fact sink (S11/S9, spark_load.py:67-107): keep only valid
    records, stamp etl_loaded_at, append parquet partitioned by event
    date, sorted within partitions by (user_id, ts) — min/max row-group
    skipping stands in for the reference's indexes."""
    (
        df.filter(F.col("is_valid_record"))
        .withColumn("etl_loaded_at", F.current_timestamp())
        .withColumn("event_date", F.to_date("ts"))
        .sortWithinPartitions("user_id", "ts")
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(out_path)
    )


def load_dimension(df: DataFrame, out_path: str) -> None:
    """Dimension sink (S10, spark_load.py:109-147): truncate-and-reload."""
    df.write.mode("overwrite").parquet(out_path)


def run_batch_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    test_mode: bool = False,
) -> dict[str, int]:
    """End-to-end batch run; returns the audit counts (total, valid,
    anomalies) observed during the fact write, the run's only pass over
    the events (the reference's --test-mode limit(1000) is preserved,
    run_batch_pipeline.py:77-79)."""
    events = load_events(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    transformed = transform_all(events, customer, nation)
    if test_mode:
        transformed = transformed.limit(1000)
    # Observed below the fact sink's validity filter (the optimizer
    # keeps that Filter above CollectMetrics), so the counts cover
    # every transformed row; count_if skips NULL like filter(col) does.
    obs = Observation("batch_audit")
    transformed = transformed.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("is_valid_record")).alias("valid"),
        F.count_if(F.col("is_anomaly_combined")).alias("anomalies"),
    )
    load_dimension(customer, f"{out_dir}/dim_customer")
    load_dimension(nation, f"{out_dir}/dim_nation")
    load_fact_table(transformed, f"{out_dir}/fact_events_enriched")
    counts = obs.get
    return {k: int(counts[k]) for k in ("total", "valid", "anomalies")}
