"""Batch pipeline assembly test (SURVEY.md §7.1 M4)."""

from __future__ import annotations

import os
import shutil

from iot_etl_spark.pipeline.batch import run_batch_pipeline
from tests.conftest import SF_DIR


def _planted_sf_dir(tmp: str) -> str:
    """sf0.001's customer and nation beside an events file of twice
    sf0.001's events (ids and times shifted for the copy) with planted
    NULL and negative values and one reading far above its device's
    others (|z| > 3)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(tmp)
    for t in ("customer", "nation"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), tmp)
    ev = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    copy = ev.set_column(0, "event_id", pc.add(ev.column("event_id"), 10_000))
    copy = copy.set_column(
        1, "ts", pc.add(copy.column("ts"), pa.scalar(86_400_000_000, pa.duration("us")))
    )
    ev = pa.concat_tables([ev, copy])
    value = ev.column("value").to_numpy(zero_copy_only=False).copy()
    i = np.arange(len(value))
    null, neg = i % 50 == 0, i % 37 == 1
    value[neg] *= -1.0
    value[np.flatnonzero((ev.column("user_id").to_numpy() == 14) & ~null & ~neg)[0]] = 1e6
    ev = ev.set_column(4, "value", pa.array(value, mask=null))
    pq.write_table(ev, os.path.join(tmp, "events.parquet"))
    return tmp


def test_run_batch_pipeline_end_to_end(spark, tmp_path):
    """The observed audit counts equal an independent recount over
    transform_all's output (invalid rows included); the fact table
    holds exactly the valid rows, date-partitioned and stamped; test
    mode audits its 1000-row limit."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from iot_etl_spark.pipeline.batch import transform_all
    from iot_etl_spark.sources.tables import load_events, load_table

    sf = _planted_sf_dir(str(tmp_path / "sf"))
    tx = transform_all(
        load_events(spark, sf), load_table(spark, sf, "customer"), load_table(spark, sf, "nation")
    )
    want = {
        "total": tx.count(),
        "valid": tx.filter(F.col("is_valid_record")).count(),
        "anomalies": tx.filter(F.col("is_anomaly_combined")).count(),
    }
    value = pq.read_table(os.path.join(sf, "events.parquet")).column("value").to_pylist()
    assert want["total"] == len(value) == 2000
    assert want["valid"] == sum(v is not None and v >= 0 for v in value) < 2000
    assert want["anomalies"] >= 1

    out = str(tmp_path / "out")
    assert run_batch_pipeline(spark, sf, out) == want
    fact = spark.read.parquet(os.path.join(out, "fact_events_enriched"))
    assert fact.count() == want["valid"]
    # date partitioning materialized (hypertable-chunk analog)
    assert "event_date" in fact.columns
    assert any(
        p.startswith("event_date=")
        for p in os.listdir(os.path.join(out, "fact_events_enriched"))
    )
    # fact rows all valid + stamped
    assert fact.filter(~fact.is_valid_record).count() == 0
    assert "etl_loaded_at" in fact.columns
    assert spark.read.parquet(os.path.join(out, "dim_customer")).count() > 0

    out = str(tmp_path / "out_test_mode")
    audit = run_batch_pipeline(spark, sf, out, test_mode=True)
    assert audit["total"] == 1000
    fact = spark.read.parquet(os.path.join(out, "fact_events_enriched"))
    assert fact.count() == audit["valid"] <= 1000


def test_console_sink_starts_and_stops(spark):
    """S13 console debug sink (spark_streaming_consumer.py:258-279)."""
    from iot_etl_spark.streaming.pipeline import read_stream_source, start_console_sink

    src = read_stream_source(spark, "parquet", path=f"{SF_DIR}/events.parquet")
    q = start_console_sink(src, num_rows=3)
    try:
        q.processAllAvailable()
        assert q.isActive
    finally:
        q.stop()


def test_date_partition_pruning_in_plan(spark, tmp_path):
    """The 100 TB layout claim, demonstrated: facts written partitioned
    by event_date are PARTITION-PRUNED for time predicates — the scan
    lists only matching date directories (the hypertable chunk-
    exclusion analog, SURVEY §2.11)."""
    import datetime
    from pyspark.sql import functions as F
    from iot_etl_spark.sources.tables import load_events

    out = str(tmp_path / "fact")
    ev = load_events(spark, SF_DIR).withColumn("event_date", F.to_date("ts"))
    ev.write.partitionBy("event_date").parquet(out)
    dates = sorted(r.event_date for r in
                   spark.read.parquet(out).select("event_date").distinct().collect())
    assert len(dates) >= 3
    target = dates[1]

    q = spark.read.parquet(out).filter(F.col("event_date") == F.lit(target))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and str(target) in plan.replace("%20", " ")
    # count of scanned files == files of exactly one partition dir
    import re
    scanned = q.select(F.input_file_name()).distinct().collect()
    assert all(f"event_date={target}" in r[0] for r in scanned)


def test_cli_list_and_unknown_query(capsys):
    """CLI surface: `list` prints the registry; unknown query name is a
    clean error exit, not a traceback. (Spark-touching subcommands are
    exercised by the module smoke paths; here we pin the argv
    contract without paying a JVM.)"""
    from iot_etl_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out.splitlines()
    from iot_etl_spark.plans import registry

    assert sorted(registry.QUERIES) == out
    assert main(["query", "no_such_query"]) == 2


def test_stream_to_continuous_aggregate_end_to_end(spark, tmp_path):
    """The reference's PRIMARY loop composed end to end from this
    engine's pieces: stream ingest -> fact table -> continuous-
    aggregate materialization -> late backfill -> dirty-window refresh
    -> the refreshed materialized aggregate equals a direct one.
    (Reference: Kafka -> spark_streaming_consumer.py -> hypertable ->
    create_dwh_schema.sql:142-233 continuous aggregate + policy.)"""
    import pyspark.sql.functions as F
    from iot_etl_spark.streaming.pipeline import read_stream_source
    from iot_etl_spark.warehouse.lifecycle import (
        hourly_agg,
        materialize_agg,
        read_agg,
        refresh_agg,
    )
    from tests.conftest import SF_DIR

    facts_dir = str(tmp_path / "facts")
    ckpt = str(tmp_path / "ckpt")
    mv = str(tmp_path / "mv_hourly")

    # 1. stream the event feed into the fact table (real engine,
    #    checkpointed, availableNow drains the source)
    src = read_stream_source(
        spark, "parquet", path=f"{str(SF_DIR).rstrip('/')}/events.parquet"
    )
    q = (
        src.writeStream.format("parquet")
        .option("path", facts_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    facts = spark.read.parquet(facts_dir)
    assert facts.count() > 0

    def mv_rows():
        return {tuple(r) for r in read_agg(spark, mv).drop("agg_date").collect()}

    # 2. materialize the hourly continuous aggregate from the facts
    materialize_agg(facts, mv, bucket="hour")
    assert mv_rows() == {tuple(r) for r in hourly_agg(facts).collect()}

    # 3. late backfill lands (one day re-delivered 2 days later); the
    #    MV lacks its buckets until the refresh runs.
    #    The backfill gets its OWN directory: a streaming file sink
    #    owns its path via the _spark_metadata log, so batch-appended
    #    files there are silently invisible to readers — the union
    #    view below is the correct multi-writer layout.
    last_day = facts.agg(F.max(F.to_date("ts"))).first()[0]
    backfill_dir = str(tmp_path / "facts_backfill")
    late = facts.filter(F.to_date("ts") == last_day).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 DAYS")
    )
    late.write.mode("overwrite").parquet(backfill_dir)
    all_facts = facts.unionByName(spark.read.parquet(backfill_dir))
    want = {tuple(r) for r in hourly_agg(all_facts).collect()}
    assert mv_rows() != want

    # 4. dirty-window refresh, then the MV matches a direct aggregate
    #    bit-for-bit
    refresh_agg(all_facts, mv, since=str(last_day), bucket="hour")
    assert mv_rows() == want

