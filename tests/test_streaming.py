"""Streaming behavior tests (SURVEY.md §5 item 3): watermark late-data
drop, idempotent upsert sink, derived columns."""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile
from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F

from iot_etl_spark.streaming.pipeline import (
    apply_stream_transforms,
    read_stream_source,
    run_stream_to_memory,
    windowed_aggregate,
)
from tests.conftest import SF_DIR


def test_watermark_drops_late_rows_in_append_mode(spark):
    """With a watermark, append mode only emits windows the watermark
    has passed; a late row behind the watermark is dropped (the
    documented correction of the reference's unbounded-state T3)."""
    tmp = tempfile.mkdtemp(prefix="iot_etl_wm_")
    try:
        base = datetime.datetime(2024, 1, 1, 0, 0, 0)
        batch1 = [
            (1, base, 1, "view", 1.0, None),
            (2, base + datetime.timedelta(minutes=30), 1, "view", 3.0, None),
        ]
        # arrives later but its event time is in the first window,
        # far behind the 2-minute watermark -> dropped
        batch2 = [(3, base + datetime.timedelta(seconds=30), 1, "view", 100.0, None)]
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"

        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)
        ckpt = os.path.join(tmp, "ckpt")

        def write_batch(rows, name):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).write.parquet(os.path.join(src_dir, name))

        # file source: write batch1, process, then batch2, process
        write_batch(batch1, "b1")
        stream = read_stream_source(spark, "parquet", path=src_dir + "/*")
        agg = windowed_aggregate(stream, window="1 minute", watermark="2 minutes")
        import uuid

        name = f"wm_{uuid.uuid4().hex[:6]}"
        q = (
            agg.writeStream.outputMode("append").format("memory").queryName(name)
            .option("checkpointLocation", ckpt).start()
        )
        try:
            q.processAllAvailable()
            write_batch(batch2, "b2")
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.table(name).collect()
        # first window (00:00) was finalized by the 00:30 row advancing the
        # watermark; the late 100.0 row must not re-open it
        w0 = [r for r in out if r.window_start == base]
        assert len(w0) == 1
        assert w0[0].reading_count == 1
        assert w0[0].max_value == 1.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_transforms_latency_and_validity(spark):
    src = read_stream_source(spark, "parquet", path=f"{SF_DIR}/events.parquet")
    tx = apply_stream_transforms(src)
    _, out = run_stream_to_memory(
        tx.select("event_id", "is_valid_record", "latency_seconds"), "append"
    )
    rows = out.limit(5).collect()
    assert rows
    # 2024 event times vs wall clock -> positive latency
    assert all(r.latency_seconds > 0 for r in rows)


def test_parse_sensor_json_malformed_rows_yield_nulls(spark):
    """Malformed JSON must not kill the stream: PERMISSIVE from_json
    yields null fields, which the validity gate then drops (reference
    wire contract, spark_streaming_consumer.py:114-126)."""
    from iot_etl_spark.streaming.pipeline import parse_sensor_json

    lines = [
        ('{"time":"2026-01-01T00:00:01.5","device_id":"TEMP-001","device_type":"temperature",'
         '"value":21.5,"unit":"C","quality_score":90,"is_anomaly":false,"metadata":"{}"}',),
        ("this is not json at all",),
        ('{"truncated": ',),
        ('{"time":"not-a-timestamp","device_id":"TEMP-002","device_type":"temperature",'
         '"value":"NaNope","unit":"C","quality_score":1,"is_anomaly":true,"metadata":null}',),
    ]
    df = spark.createDataFrame(lines, "json_value STRING")
    out = parse_sensor_json(df).collect()
    assert len(out) == 4
    good = out[0]
    assert good.device_id == "TEMP-001" and abs(good.value - 21.5) < 1e-9
    assert good.time == datetime.datetime(2026, 1, 1, 0, 0, 1, 500000)
    assert out[1].device_id is None and out[1].time is None
    assert out[2].device_id is None
    # field-level breakage: unparseable timestamp/double -> null fields,
    # parseable siblings survive
    assert out[3].time is None and out[3].value is None
    assert out[3].device_id == "TEMP-002" and out[3].is_anomaly is True


def test_session_window_runs_under_streaming(spark):
    """session_window works in Structured Streaming with a watermark:
    finalized sessions (behind the watermark) are emitted in append
    mode and match the batch computation of the same windows."""
    src = read_stream_source(spark, "parquet", path=f"{SF_DIR}/events.parquet")
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("s"),
            "user_id", "n_events",
        )
    )
    _, out = run_stream_to_memory(agg, output_mode="append")
    emitted = {(r.s, r.user_id): r.n_events for r in out.collect()}
    assert emitted, "no finalized sessions emitted"

    from iot_etl_spark.sources.tables import load_events

    batch = {
        (r.s, r.user_id): r.n_events
        for r in load_events(spark, SF_DIR)
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("session_window.start").alias("s"), "user_id", "n_events")
        .collect()
    }
    for k, v in emitted.items():
        assert batch.get(k) == v, f"stream session {k} diverges from batch"


def test_checkpoint_restart_resumes_incrementally(spark):
    """T5: a new query over the SAME checkpoint resumes from committed
    offsets — post-restart output reflects all data exactly once."""
    from iot_etl_spark.streaming.pipeline import read_upserted, start_txlog_upsert_sink
    from iot_etl_spark.warehouse.txlog import TxTable

    tmp = tempfile.mkdtemp(prefix="iot_etl_ckpt_")
    try:
        base = datetime.datetime(2024, 1, 2, 8, 0, 0)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def write_batch(rows, name):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).write.parquet(os.path.join(src_dir, name))

        table, ckpt = TxTable(os.path.join(tmp, "serve")), os.path.join(tmp, "ckpt")

        def start():
            stream = read_stream_source(spark, "parquet", path=src_dir + "/*")
            agg = windowed_aggregate(stream, window="1 minute", watermark=None)
            return start_txlog_upsert_sink(agg, table, ckpt, trigger_seconds=1)

        write_batch([(1, base, 7, "view", 2.0, None)], "b1")
        q = start()
        q.processAllAvailable()
        q.stop()

        write_batch([(2, base + datetime.timedelta(seconds=5), 7, "view", 4.0, None)], "b2")
        q2 = start()  # same checkpoint -> resumes, must see only b2 as new
        q2.processAllAvailable()
        q2.stop()

        rows = read_upserted(
            spark, table, ("window_start", "window_end", "event_type")
        ).collect()
        assert len(rows) == 1  # one (window, event_type) group
        assert rows[0].reading_count == 2 and rows[0].max_value == 4.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class _FailOnceTable:
    """Duck-typed upsert-sink table that raises once on ``epoch``:
    before delegating (nothing staged), or after the real
    ``TxTable.append_batch`` committed but before Spark writes the
    epoch's commit-log entry."""

    def __init__(self, table, epoch: int, after_commit: bool) -> None:
        self.table, self.epoch, self.after_commit = table, epoch, after_commit
        self.fired = False

    def append_batch(self, df, batch_id, ledger_id=None):
        fire = batch_id == self.epoch and not self.fired
        if fire and not self.after_commit:
            self.fired = True
            raise RuntimeError(f"injected before staging epoch {batch_id}")
        v = self.table.append_batch(df, batch_id, ledger_id=ledger_id)
        if fire:
            self.fired = True
            raise RuntimeError(f"injected after committing epoch {batch_id}")
        return v


@pytest.mark.parametrize("after_commit", [False, True], ids=["before_stage", "after_commit"])
def test_upsert_sink_restarts_after_injected_fault(spark, after_commit):
    """A fault inside foreachBatch on epoch 1, before anything is
    staged or after the table commit but before the checkpoint's
    commit log, fails the query; restarting the sink on the same
    checkpoint re-runs epoch 1 and resumes. The resolved table equals
    a batch aggregate of every event, each epoch is committed once,
    and no data file is left unreferenced. Epoch 2 updates groups of
    epochs 0 and 1, so the match also shows that the state the re-run
    epoch 1 left (deltas written afresh, or kept from the first
    attempt after a post-commit fault) is what the batch computes."""
    from pyspark.errors import StreamingQueryException

    from iot_etl_spark.streaming.pipeline import read_upserted, start_txlog_upsert_sink
    from iot_etl_spark.warehouse.txlog import TxTable

    tmp = tempfile.mkdtemp(prefix="iot_etl_fault_")
    try:
        base = datetime.datetime(2024, 1, 4, 8, 0, 0)
        sec = datetime.timedelta(seconds=1)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        batches = [
            [(1, base, 1, "view", 1.0, None), (2, base + 70 * sec, 1, "click", 2.5, None)],
            # updates both groups of epoch 0 and opens a new window
            [(3, base + 10 * sec, 2, "view", 3.0, None),
             (4, base + 75 * sec, 2, "click", 0.5, None),
             (5, base + 130 * sec, 3, "error", 9.0, None)],
            [(6, base + 20 * sec, 3, "view", 4.25, None), (7, base + 140 * sec, 1, "error", 1.0, None)],
        ]
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def add_batch(i):
            # one file, moved in whole, so each write is exactly one epoch
            staged = os.path.join(tmp, f"staged{i}")
            spark.createDataFrame(batches[i], schema).coalesce(1).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).write.parquet(staged)
            os.rename(staged, os.path.join(src_dir, f"b{i}"))

        table, ckpt = TxTable(os.path.join(tmp, "serve")), os.path.join(tmp, "ckpt")
        keys = ("window_start", "window_end", "event_type")

        def start(sink_table):
            stream = read_stream_source(spark, "parquet", path=src_dir + "/*")
            agg = windowed_aggregate(stream, window="1 minute", watermark=None)
            return start_txlog_upsert_sink(agg, sink_table, ckpt, trigger_seconds=1)

        add_batch(0)
        q = start(_FailOnceTable(table, epoch=1, after_commit=after_commit))
        try:
            q.processAllAvailable()
            add_batch(1)
            with pytest.raises(StreamingQueryException, match="injected"):
                q.processAllAvailable()
        finally:
            q.stop()
        committed = [h["batch_id"] for h in table.history()]
        assert committed == ([0, 1] if after_commit else [0])
        # the post-commit fault comes after epoch 1's state deltas
        # were committed, so the re-run meets them on disk
        deltas = glob.glob(os.path.join(ckpt, "state", "0", "*", "2.delta"))
        assert bool(deltas) == after_commit

        q = start(table)
        try:
            q.processAllAvailable()
            add_batch(2)
            q.processAllAvailable()
        finally:
            q.stop()

        history = table.history()
        assert [h["batch_id"] for h in history] == [0, 1, 2]
        assert all(h["n_added"] >= 1 for h in history)
        all_events = spark.createDataFrame([r for b in batches for r in b], schema)
        expected = windowed_aggregate(all_events, window="1 minute", watermark=None)
        got = read_upserted(spark, table, keys)
        assert sorted(got.collect()) == sorted(expected.collect())
        live = {os.path.basename(f) for f in table.snapshot_files()}
        assert set(os.listdir(table.data_dir)) == live
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_ewma_state_survives_across_batches(spark):
    """applyInPandasWithState: the EWMA folded incrementally over two
    micro-batches must equal the single-pass fold over all events —
    i.e. state genuinely persists in the state store between batches."""
    from iot_etl_spark.streaming.stateful import streaming_ewma, _fold_ewma

    tmp = tempfile.mkdtemp(prefix="iot_etl_ewma_")
    try:
        base = datetime.datetime(2024, 1, 3, 9, 0, 0)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def write_batch(rows, name):
            # ONE part file per logical batch: the always-on trigger
            # lists the source directory continuously and can pick up a
            # multi-part write's files AS TASKS COMMIT (observed under
            # full-suite load: a 1-row micro-batch with values out of
            # ts order, breaking the prefix-fold invariant). A single
            # file appears atomically (task-commit rename), so each
            # logical batch is exactly one indivisible source unit.
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).coalesce(1).write.parquet(os.path.join(src_dir, name))

        b1 = [(i, base + datetime.timedelta(seconds=i), 1, "view", float(10 + i), None)
              for i in range(4)]
        b2 = [(i, base + datetime.timedelta(seconds=i), 1, "view", float(50 + i), None)
              for i in range(4, 9)]
        write_batch(b1, "b1")

        stream = read_stream_source(spark, "parquet", path=src_dir + "/*")
        ew = streaming_ewma(stream, alpha=0.2)
        import uuid
        name = f"ewma_{uuid.uuid4().hex[:6]}"
        q = (ew.writeStream.outputMode("update").format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            write_batch(b2, "b2")
            q.processAllAvailable()
        finally:
            q.stop()

        # the file source may split a directory's part-files across
        # micro-batches, so the EMISSION COUNT is timing-dependent —
        # what must hold is that every emission's ewma equals the
        # sequential fold over the first n_events values (state carried
        # across whatever batch boundaries occurred), and that the
        # final state covers all 9 events.
        all_values = [float(10 + i) for i in range(4)] + [float(50 + i) for i in range(4, 9)]
        rows = sorted(spark.table(name).collect(), key=lambda r: r.n_events)
        # at least two emissions (b2 was a separate trigger), and the
        # first one predates b2 — but b1's part-files may themselves
        # split across micro-batches under load, so only bound it.
        assert len(rows) >= 2
        assert rows[0].n_events <= 4
        assert rows[-1].n_events == 9  # final state covers everything
        for r in rows:
            expected = _fold_ewma(all_values[: r.n_events], None, 0.2)
            assert abs(r.ewma - expected) < 1e-12, \
                f"emission at n={r.n_events} diverges from prefix fold (lost state?)"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ewma_batch_twin_matches_streaming(spark):
    """The batch backfill twin (applyInPandas, no state) computes the
    same per-device EWMA as the streaming operator's final state."""
    from iot_etl_spark.streaming.stateful import ewma_batch
    from iot_etl_spark.plans import QUERIES
    from iot_etl_spark.sources.tables import load_events

    batch = {
        r.user_id: (r.n_events, round(r.ewma, 6))
        for r in ewma_batch(load_events(spark, SF_DIR)).collect()
    }
    stream = {
        r.user_id: (r.n_events, r.ewma)
        for r in QUERIES["stream_ewma_by_device"](spark, SF_DIR).collect()
    }
    assert batch == stream


def test_rate_source_schema_and_rows(spark):
    """The synthetic rate source yields the canonical event frame
    (benchmark/backpressure harness path)."""
    src = read_stream_source(spark, "rate")
    assert set(src.columns) == {"event_id", "ts", "user_id", "event_type", "value", "props"}
    _, out = run_stream_to_memory(src, output_mode="append", name=None)
    # rate source is unbounded; run_stream_to_memory stops after the
    # available micro-batches — just assert the plumbing produced rows
    assert out.columns == src.columns


def test_interval_join_state_survives_across_batches(spark):
    """Stream-stream interval join: a click seen in micro-batch 1 must
    still match a purchase arriving in micro-batch 2 (join state held),
    while clicks outside the window and other users never match."""
    import uuid

    from iot_etl_spark.streaming.joins import interval_join

    tmp = tempfile.mkdtemp(prefix="iot_etl_ssj_")
    try:
        base = datetime.datetime(2024, 1, 3, 9, 0, 0)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def write_batch(rows, name):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).write.parquet(os.path.join(src_dir, name))

        sec = datetime.timedelta(seconds=1)
        # batch 1: two clicks for user 1 (one inside the 60s window, one
        # far outside) and one click for user 2
        write_batch(
            [
                (10, base - 30 * sec, 1, "click", 1.0, None),
                (11, base - 300 * sec, 1, "click", 2.0, None),
                (12, base - 10 * sec, 2, "click", 3.0, None),
            ],
            "b1",
        )

        def side(event_type, ts_alias, val_alias=None):
            s = read_stream_source(spark, "parquet", path=src_dir + "/*").filter(
                F.col("event_type") == event_type
            )
            cols = ["event_id", "user_id", F.col("ts").alias(ts_alias)]
            if val_alias:
                cols = ["user_id", F.col("ts").alias(ts_alias),
                        F.col("value").alias(val_alias)]
            return s.select(*cols)

        joined = interval_join(
            side("purchase", "purchase_ts"),
            side("click", "click_ts", "click_value"),
            on="user_id", window_seconds=60,
            left_ts="purchase_ts", right_ts="click_ts",
        )
        name = f"ssj_{uuid.uuid4().hex[:6]}"
        q = (joined.writeStream.outputMode("append").format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            # batch 2: the purchase arrives later, in its own batch
            write_batch([(20, base, 1, "purchase", 99.0, None)], "b2")
            q.processAllAvailable()
            rows = spark.table(name).collect()
        finally:
            q.stop()

        assert [(r.event_id, r.user_id, r.click_value) for r in rows] == [(20, 1, 1.0)], \
            rows  # in-window click of the SAME user only, matched across batches
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dedup_stream_collapses_within_hour_and_across_batches(spark):
    """dedup_stream: duplicates of (user, event_type) within one hour
    collapse to a single row — including a duplicate arriving in a
    LATER micro-batch (cross-batch seen-keys state) — while the same
    key in a different hour survives independently."""
    import uuid

    from iot_etl_spark.streaming.pipeline import dedup_stream

    tmp = tempfile.mkdtemp(prefix="iot_etl_dedup_")
    try:
        base = datetime.datetime(2024, 1, 1, 12, 0, 0)
        minute = datetime.timedelta(minutes=1)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def write_batch(rows, name):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).write.parquet(os.path.join(src_dir, name))

        write_batch(
            [
                (1, base, 1, "view", 1.0, None),
                (2, base + 5 * minute, 1, "view", 2.0, None),   # dup, same hour
                (3, base + 70 * minute, 1, "view", 3.0, None),  # next hour
            ],
            "b1",
        )
        stream = read_stream_source(spark, "parquet", path=src_dir + "/*")
        deduped = dedup_stream(stream, keys=("user_id", "event_type"))
        out = deduped.select(
            "user_id", "event_type", F.col("window.start").alias("hour_start")
        )
        name = f"dd_{uuid.uuid4().hex[:6]}"
        q = (out.writeStream.outputMode("append").format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            # later micro-batch, same hour-12 key -> dropped by state
            write_batch([(4, base + 10 * minute, 1, "view", 4.0, None)], "b2")
            q.processAllAvailable()
            rows = spark.table(name).collect()
        finally:
            q.stop()

        got = sorted((r.user_id, r.event_type, r.hour_start.hour) for r in rows)
        assert got == [(1, "view", 12), (1, "view", 13)], rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dlq_split_quarantines_malformed_rows(spark):
    """DLQ pattern: decodable rows land in the valid sink without the
    plumbing columns; undecodable rows (broken JSON, bad time) land in
    the dead-letter sink with their ORIGINAL bytes intact. Both queries
    stop through stop_all_queries (T7's graceful stop,
    spark_streaming_consumer.py:296-360)."""
    from iot_etl_spark.streaming.pipeline import (
        parse_with_dlq,
        run_dlq_split,
        stop_all_queries,
    )

    tmp = tempfile.mkdtemp(prefix="iot_etl_dlq_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        good = ('{"device_id":"TEMP-001","device_type":"temperature",'
                '"time":"2024-01-03T09:00:00","value":21.5,"unit":"C",'
                '"quality_score":90,"is_anomaly":false,"metadata":"{}"}')
        bad_json = '{"device_id": broken'
        bad_time = good.replace("2024-01-03T09:00:00", "not-a-time")
        with open(os.path.join(src, "batch.jsonl"), "w") as f:
            f.write("\n".join([good, bad_json, bad_time]) + "\n")

        raw = (
            spark.readStream.text(src).withColumnRenamed("value", "json_value")
        )
        parsed = parse_with_dlq(raw)
        vq, dq = run_dlq_split(
            parsed, f"{tmp}/valid", f"{tmp}/dlq", f"{tmp}/ckpt", trigger_seconds=1
        )
        try:
            vq.processAllAvailable()
            dq.processAllAvailable()
            assert stop_all_queries(spark) >= 2
            assert not vq.isActive and not dq.isActive
        finally:
            vq.stop()
            dq.stop()

        valid = spark.read.parquet(f"{tmp}/valid")
        assert valid.count() == 1
        assert "raw_json" not in valid.columns and "is_malformed" not in valid.columns
        assert valid.collect()[0].device_id == "TEMP-001"
        dlq = {r.raw_json for r in spark.read.parquet(f"{tmp}/dlq").collect()}
        assert dlq == {bad_json, bad_time}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_query_progress_summary_reports_engine_telemetry(spark):
    """The monitoring surface (S15 analog) reads per-batch rows, rates
    and watermark from the engine's own progress events — total input
    rows across batches must equal what actually flowed through."""
    from iot_etl_spark.streaming.pipeline import (
        query_progress_summary,
        windowed_aggregate,
    )

    tmp = tempfile.mkdtemp(prefix="iot_etl_progress_")
    try:
        base = datetime.datetime(2024, 1, 5, 8, 0, 0)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        rows = [(i, base + datetime.timedelta(seconds=i), 1, "view", float(i), None)
                for i in range(7)]
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
        ).write.parquet(os.path.join(src, "b1"))

        stream = read_stream_source(spark, "parquet", path=src + "/*")
        agg = windowed_aggregate(stream, window="1 minute", watermark="2 minutes")
        import uuid
        q = (agg.writeStream.outputMode("append").format("memory")
             .queryName(f"prog_{uuid.uuid4().hex[:6]}")
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            prog = query_progress_summary(q)
        finally:
            q.stop()
        assert prog, "no progress events retained"
        assert sum(p["num_input_rows"] for p in prog) == len(rows)
        # the watermarked agg holds state; a progress event reports it
        assert any(p["state_rows"] > 0 for p in prog)
        assert any(p["watermark"] for p in prog)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_query_runs_on_rocksdb_state_store(spark):
    """The RocksDB state store provider (the production backend for
    large state: spillable, incremental checkpoints) runs the same
    stateful aggregation the default HDFS-backed store runs, with
    identical results. Scoped to this query via the session conf at
    query start."""
    import uuid

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        from iot_etl_spark.streaming.pipeline import windowed_aggregate

        src = read_stream_source(
            spark, "parquet", path="/root/testdata/sf0.001/events.parquet"
        )
        agg = windowed_aggregate(src, window="1 hour", watermark=None)
        name = f"rocks_{uuid.uuid4().hex[:6]}"
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName(name).start())
        try:
            q.processAllAvailable()
            # the state store actually in use is reported in progress
            state_ops = [
                op for p in [q.lastProgress] if p
                for op in p.get("stateOperators", [])
            ]
        finally:
            q.stop()
        got = {(r.window_start, r.event_type): r.reading_count
               for r in spark.table(name)
               .select("window_start", "event_type", "reading_count").collect()}
        # batch twin over the same data
        from iot_etl_spark.sources.tables import load_events
        exp = {(r.ws, r.event_type): r.n for r in
               load_events(spark, "/root/testdata/sf0.001")
               .groupBy(F.window("ts", "1 hour").start.alias("ws"), "event_type")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert got == exp
        assert state_ops, "stateful operator progress missing"
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_txlog_upsert_sink_latest_per_key_resolution_and_compaction(spark):
    """start_txlog_upsert_sink: update-mode micro-batches
    APPEND changed groups with their epoch seq; read_upserted resolves
    latest-per-key — an updated group supersedes its earlier row, a
    sibling group untouched by the update survives. OPTIMIZE compacts
    the accumulated per-batch files into one without changing the
    resolved view."""
    from iot_etl_spark.streaming.pipeline import (
        read_upserted,
        start_txlog_upsert_sink,
    )
    from iot_etl_spark.warehouse.txlog import TxTable

    tmp = tempfile.mkdtemp(prefix="iot_etl_txup_")
    try:
        base = datetime.datetime(2024, 1, 1, 10, 0, 0)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def write_batch(rows, name):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).write.parquet(os.path.join(src_dir, name))

        write_batch(
            [
                (1, base + datetime.timedelta(seconds=10), 1, "view", 1.0, None),
                (2, base + datetime.timedelta(seconds=20), 1, "click", 2.0, None),
            ],
            "b1",
        )
        stream = read_stream_source(spark, "parquet", path=src_dir + "/*")
        agg = windowed_aggregate(stream, window="1 minute", watermark=None)
        t = TxTable(os.path.join(tmp, "serve"))
        q = start_txlog_upsert_sink(agg, t, os.path.join(tmp, "ckpt"), trigger_seconds=1)
        try:
            q.processAllAvailable()
            write_batch(
                [(3, base + datetime.timedelta(seconds=30), 1, "click", 4.0, None)],
                "b2",
            )
            q.processAllAvailable()
        finally:
            q.stop()

        def resolved():
            return {
                r.event_type: r
                for r in read_upserted(
                    spark, t, ("window_start", "window_end", "event_type")
                )
                .select("event_type", "reading_count", "max_value")
                .collect()
            }

        rows = resolved()
        assert set(rows) == {"view", "click"}, "sibling group lost"
        assert rows["view"].reading_count == 1
        assert rows["click"].reading_count == 2 and rows["click"].max_value == 4.0
        # the table holds BOTH click versions pre-resolution (append log)
        assert t.read(spark).filter(F.col("event_type") == "click").count() == 2
        # compaction: many per-batch files -> 1, resolution unchanged
        assert len(t.snapshot_files()) > 1
        t.optimize(spark)
        assert len(t.snapshot_files()) == 1
        assert resolved() == rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_txlog_upsert_sink_replay_is_exactly_once(spark):
    """Re-draining the SAME finite source through a FRESH checkpoint
    with the same ledger scope re-delivers every micro-batch; the
    append_batch ledger skips each replay, so the resolved view (and
    the underlying row count) is unchanged — and the replay loser's
    staged files do not orphan (ADVICE r5: they are deleted, not left
    for vacuum)."""
    from iot_etl_spark.streaming.pipeline import (
        read_upserted,
        start_txlog_upsert_sink,
    )
    from iot_etl_spark.warehouse.txlog import TxTable

    tmp = tempfile.mkdtemp(prefix="iot_etl_txrp_")
    try:
        base = datetime.datetime(2024, 1, 1, 10, 0, 0)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)
        spark.createDataFrame(
            [
                (1, base + datetime.timedelta(seconds=10), 1, "view", 1.0, None),
                (2, base + datetime.timedelta(seconds=20), 1, "click", 2.0, None),
            ],
            schema,
        ).withColumn("ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")).write.parquet(
            os.path.join(src_dir, "b1")
        )
        t = TxTable(os.path.join(tmp, "serve"))
        for i in range(2):  # run 2 = full replay via fresh checkpoint
            stream = read_stream_source(spark, "parquet", path=src_dir + "/*")
            agg = windowed_aggregate(stream, window="1 minute", watermark=None)
            q = start_txlog_upsert_sink(
                agg, t, os.path.join(tmp, f"ckpt{i}"), trigger_seconds=1
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        assert t.read(spark).count() == 2, "replayed batch was double-appended"
        rows = {
            r.event_type: r.reading_count
            for r in read_upserted(
                spark, t, ("window_start", "window_end", "event_type")
            ).collect()
        }
        assert rows == {"view": 1, "click": 1}
        # no orphaned data files: every file on disk is referenced
        live = {os.path.basename(f) for f in t.snapshot_files()}
        on_disk = set(os.listdir(t.data_dir))
        assert on_disk == live, f"orphans: {on_disk - live}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_interval_join_left_outer_emits_unmatched_after_watermark(spark):
    """LEFT OUTER interval join: a purchase with no in-window click is
    emitted with NULL click columns — but only after the watermark
    passes it (a later batch advances event time beyond purchase_ts +
    delay), never while a match could still arrive. Matched purchases
    emit normally; the unmatched outer row appears exactly once."""
    import uuid

    from iot_etl_spark.streaming.joins import interval_join

    tmp = tempfile.mkdtemp(prefix="iot_etl_ssoj_")
    try:
        base = datetime.datetime(2024, 1, 3, 9, 0, 0)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def write_batch(rows, name):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).write.parquet(os.path.join(src_dir, name))

        sec = datetime.timedelta(seconds=1)
        # user 1: purchase with an in-window click (matched immediately);
        # user 2: purchase with NO click anywhere (outer candidate)
        write_batch(
            [
                (10, base - 30 * sec, 1, "click", 1.0, None),
                (20, base, 1, "purchase", 99.0, None),
                (21, base, 2, "purchase", 77.0, None),
            ],
            "b1",
        )

        def side(event_type, ts_alias, val_alias=None):
            s = read_stream_source(spark, "parquet", path=src_dir + "/*").filter(
                F.col("event_type") == event_type
            )
            cols = ["event_id", "user_id", F.col("ts").alias(ts_alias)]
            if val_alias:
                cols = ["user_id", F.col("ts").alias(ts_alias),
                        F.col("value").alias(val_alias)]
            return s.select(*cols)

        joined = interval_join(
            side("purchase", "purchase_ts"),
            side("click", "click_ts", "click_value"),
            on="user_id", window_seconds=60,
            left_ts="purchase_ts", right_ts="click_ts",
            watermark="10 seconds", how="left_outer",
        )
        name = f"ssoj_{uuid.uuid4().hex[:6]}"
        q = (joined.writeStream.outputMode("append").format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            got = {(r.event_id, r.click_value)
                   for r in spark.table(name).collect()}
            # watermark has not passed the purchases yet: only the
            # matched pair may be out; the unmatched one MUST NOT be
            assert (21, None) not in got, got
            # later events on BOTH inputs push event time far past
            # purchase_ts + delay + window — the global watermark is
            # the MIN across the two watermarked sides, so a click
            # alone would never advance it past the stalled purchase
            # side. The watermark update lands at b2's END, and state
            # eviction (hence the outer NULL row) happens in the
            # SUBSEQUENT micro-batch — documented engine behavior —
            # so b3 forces that batch to run.
            write_batch(
                [
                    (30, base + 600 * sec, 9, "click", 0.5, None),
                    (40, base + 600 * sec, 8, "purchase", 1.0, None),
                ],
                "b2",
            )
            q.processAllAvailable()
            write_batch(
                [
                    (31, base + 601 * sec, 9, "click", 0.5, None),
                    (41, base + 601 * sec, 8, "purchase", 1.0, None),
                ],
                "b3",
            )
            q.processAllAvailable()
            rows = [r for r in spark.table(name).collect()
                    if r.event_id in (20, 21)]
        finally:
            q.stop()

        got = sorted((r.event_id, r.user_id, r.click_value) for r in rows)
        assert got == [(20, 1, 1.0), (21, 2, None)], rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_interval_join_full_outer_flushes_both_sides(spark):
    """FULL OUTER interval join: an unmatched purchase flushes with
    NULL click columns once the watermark passes purchase_ts; an
    unmatched CLICK flushes with NULL purchase columns once the
    watermark passes click_ts + window (its whole match interval);
    both carry the COALESCED join key (the right-only row would
    otherwise lose it); matched pairs emit normally, each side exactly
    once."""
    import uuid

    from iot_etl_spark.streaming.joins import interval_join

    tmp = tempfile.mkdtemp(prefix="iot_etl_ssfo_")
    try:
        base = datetime.datetime(2024, 1, 3, 9, 0, 0)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def write_batch(rows, name):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).write.parquet(os.path.join(src_dir, name))

        sec = datetime.timedelta(seconds=1)
        # user 1: matched pair; user 2: purchase, no click;
        # user 3: click, no purchase
        write_batch(
            [
                (10, base - 30 * sec, 1, "click", 1.0, None),
                (20, base, 1, "purchase", 99.0, None),
                (21, base, 2, "purchase", 77.0, None),
                (11, base, 3, "click", 5.0, None),
            ],
            "b1",
        )

        purchases = (
            read_stream_source(spark, "parquet", path=src_dir + "/*")
            .filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("ts").alias("purchase_ts"))
        )
        clicks = (
            read_stream_source(spark, "parquet", path=src_dir + "/*")
            .filter(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("click_ts"),
                    F.col("value").alias("click_value"))
        )
        joined = interval_join(
            purchases, clicks, on="user_id", window_seconds=60,
            left_ts="purchase_ts", right_ts="click_ts",
            watermark="10 seconds", how="full_outer",
        )
        name = f"ssfo_{uuid.uuid4().hex[:6]}"
        q = (joined.writeStream.outputMode("append").format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            early = spark.table(name).collect()
            # only the matched pair may be out before the watermark moves
            assert all(
                r.purchase_ts is not None and r.click_ts is not None
                for r in early
            ), early
            # push the watermark far past both unmatched rows' horizons
            # (click needs ts + window; eviction lands one batch after
            # the watermark update — documented engine behavior)
            write_batch(
                [
                    (30, base + 600 * sec, 9, "click", 0.5, None),
                    (40, base + 600 * sec, 8, "purchase", 1.0, None),
                ],
                "b2",
            )
            q.processAllAvailable()
            write_batch(
                [
                    (31, base + 601 * sec, 9, "click", 0.5, None),
                    (41, base + 601 * sec, 8, "purchase", 1.0, None),
                ],
                "b3",
            )
            q.processAllAvailable()
            rows = [r for r in spark.table(name).collect()
                    if r.user_id in (1, 2, 3)]
        finally:
            q.stop()

        got = sorted(
            (r.user_id,
             r.purchase_ts is not None,
             r.click_ts is not None,
             r.click_value)
            for r in rows
        )
        assert got == [
            (1, True, True, 1.0),    # matched, exactly once
            (2, True, False, None),  # purchase flushed NULL-padded
            (3, False, True, 5.0),   # click flushed with its key intact
        ], rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_watermark_drop_metrics_observable(spark):
    """OBSERVABILITY pin for the late-data story: the state-store
    operator metrics expose the watermark drop as
    numRowsDroppedByWatermark in StreamingQueryProgress — the signal a
    production monitor alerts on (silent late-data loss is the classic
    streaming-pipeline incident). Complements
    test_watermark_drops_late_rows_in_append_mode, which pins the
    RESULT; this pins the METRIC a 1000-executor operator watches."""
    tmp = tempfile.mkdtemp(prefix="iot_etl_wmmetric_")
    try:
        base = datetime.datetime(2024, 1, 1, 0, 0, 0)
        schema = ("event_id LONG, ts TIMESTAMP, user_id LONG, "
                  "event_type STRING, value DOUBLE, props STRING")
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def write_batch(rows, name):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).write.parquet(os.path.join(src_dir, name))

        write_batch(
            [
                (1, base, 1, "view", 1.0, None),
                (2, base + datetime.timedelta(minutes=30), 1, "view", 3.0, None),
            ],
            "b1",
        )
        stream = read_stream_source(spark, "parquet", path=src_dir + "/*")
        agg = windowed_aggregate(stream, window="1 minute", watermark="2 minutes")
        import uuid

        name = f"wmm_{uuid.uuid4().hex[:6]}"
        q = (
            agg.writeStream.outputMode("append").format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            # event time far behind the advanced watermark -> dropped row
            write_batch(
                [(3, base + datetime.timedelta(seconds=30), 1, "view", 100.0, None)],
                "b2",
            )
            q.processAllAvailable()
            dropped = 0
            for prog in q.recentProgress:
                for op in prog.get("stateOperators", []):
                    dropped += op.get("numRowsDroppedByWatermark", 0)
            assert dropped >= 1, (
                "watermark drop not surfaced in stateOperators metrics: "
                f"{[p.get('stateOperators') for p in q.recentProgress]}"
            )
        finally:
            q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dedup_within_watermark_ttl_semantics(spark):
    """dropDuplicatesWithinWatermark contract, both directions:
    (a) duplicates in DIFFERENT hours collapse (bare-key identity —
    exactly what dedup_stream's (keys, window) identity keeps apart);
    (b) once the watermark passes first-arrival + delay, the key's
    state expires and a much-later duplicate is emitted AGAIN — the
    TTL tradeoff the operator's docstring documents."""
    from iot_etl_spark.streaming.pipeline import dedup_stream_within_watermark

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    schema = ("event_id LONG, ts TIMESTAMP, user_id LONG, "
              "event_type STRING, value DOUBLE, props STRING")

    def run(delay, batches):
        tmp = tempfile.mkdtemp(prefix="iot_etl_ddww_")
        try:
            src_dir = os.path.join(tmp, "src")
            os.makedirs(src_dir)
            import uuid

            name = f"ddww_{uuid.uuid4().hex[:6]}"

            def write_batch(rows, bname):
                spark.createDataFrame(rows, schema).withColumn(
                    "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
                ).write.parquet(os.path.join(src_dir, bname))

            write_batch(batches[0], "b0")
            src = read_stream_source(spark, "parquet", path=src_dir + "/*")
            deduped = dedup_stream_within_watermark(
                src, keys=("user_id", "event_type"), delay=delay
            )
            q = (
                deduped.select("event_id", "user_id", "event_type")
                .writeStream.outputMode("append").format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .start()
            )
            try:
                q.processAllAvailable()
                for i, b in enumerate(batches[1:], 1):
                    write_batch(b, f"b{i}")
                    q.processAllAvailable()
            finally:
                q.stop()
            return spark.table(name).collect()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # (a) same key 5 hours apart, generous delay -> ONE survivor
    rows = run("30 days", [
        [(1, base, 7, "view", 1.0, None)],
        [(2, base + datetime.timedelta(hours=5), 7, "view", 2.0, None)],
    ])
    assert [r.event_id for r in rows] == [1]

    # (b) tight delay; a watermark-advancing row expires key 7's state,
    # then the late duplicate is emitted again -> BOTH survive
    rows = run("1 hour", [
        [(1, base, 7, "view", 1.0, None)],
        # other key, far ahead: advances watermark past base + 1h
        [(9, base + datetime.timedelta(days=2), 8, "click", 0.0, None)],
        [(2, base + datetime.timedelta(days=2, minutes=1), 7, "view", 2.0, None)],
    ])
    got = sorted(r.event_id for r in rows if r.user_id == 7)
    assert got == [1, 2], f"expected TTL re-emission, got {got}"


def test_stateful_funnel_state_survives_across_batches(spark):
    """applyInPandasWithState window funnel: step anchors found in
    batch 1 (view) must persist so batch 2 (click, purchase) completes
    the funnel — depth 3 only if state genuinely crossed the batch
    boundary."""
    from iot_etl_spark.streaming.stateful import streaming_window_funnel

    tmp = tempfile.mkdtemp(prefix="iot_etl_funnel_")
    try:
        base = datetime.datetime(2024, 1, 3, 9, 0, 0)
        schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)

        def write_batch(rows, name):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
            ).coalesce(1).write.parquet(os.path.join(src_dir, name))

        dt = datetime.timedelta
        # user 1 completes across the boundary; user 2's purchase is
        # OUTSIDE the 24h window of its first view; user 3 never views.
        b1 = [
            (1, base, 1, "view", 1.0, None),
            (2, base + dt(minutes=1), 2, "view", 1.0, None),
            (3, base, 3, "click", 1.0, None),
        ]
        b2 = [
            (4, base + dt(hours=1), 1, "click", 1.0, None),
            (5, base + dt(hours=2), 1, "purchase", 1.0, None),
            (6, base + dt(hours=30), 2, "purchase", 1.0, None),
        ]
        write_batch(b1, "b1")
        stream = read_stream_source(spark, "parquet", path=src_dir + "/*")
        fn = streaming_window_funnel(stream)
        import uuid
        name = f"funnel_{uuid.uuid4().hex[:6]}"
        q = (fn.writeStream.outputMode("update").format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            mid = {r.user_id: r for r in spark.table(name).collect()}
            assert mid[1].funnel_depth == 1  # view anchored, waiting
            assert mid[3].funnel_depth == 0  # click before any view
            write_batch(b2, "b2")
            q.processAllAvailable()
        finally:
            q.stop()

        rows = spark.table(name).collect()
        final = {}
        for r in rows:  # deepest emission per user = final state
            if r.user_id not in final or r.funnel_depth > final[r.user_id].funnel_depth:
                final[r.user_id] = r
        assert final[1].funnel_depth == 3  # completed ACROSS the boundary
        assert final[1].s1 is not None and final[1].s3 is not None
        assert final[2].funnel_depth == 1  # purchase outside 24h window
        assert final[3].funnel_depth == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_quarantine_sink_routes_bad_rows_without_wedging(spark):
    """start_txlog_quarantine_sink: a PERSISTENT constraint violation
    must not wedge the stream — valid rows land in the main table,
    violating rows in the DLQ table with rule tags, the stream stays
    healthy across epochs, and a full replay through a fresh
    checkpoint is exactly-once on BOTH tables."""
    from iot_etl_spark.streaming.pipeline import start_txlog_quarantine_sink
    from iot_etl_spark.warehouse.txlog import TxTable

    tmp = tempfile.mkdtemp(prefix="iot_etl_q_")
    try:
        base = datetime.datetime(2024, 1, 2, 8, 0, 0)
        schema = (
            "event_id LONG, ts TIMESTAMP, user_id LONG, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)
        rows = [
            (1, base + datetime.timedelta(seconds=1), 1, "view", 1.0, None),
            (2, base + datetime.timedelta(seconds=2), 2, "click", -5.0, None),
            (3, base + datetime.timedelta(seconds=3), 3, "purchase", 2.0, None),
        ]
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
        ).write.parquet(os.path.join(src_dir, "b0"))

        table = TxTable(os.path.join(tmp, "serve"))
        dlq = TxTable(os.path.join(tmp, "dlq"))
        # seed the schema so the constraint has a table to attach to
        seed = spark.createDataFrame(
            [(0, "seed", 0.0)], "event_id LONG, event_type STRING, value DOUBLE"
        )
        table.append(seed)
        table.add_constraint(spark, "value_nonneg", "value >= 0")

        for i in range(2):  # run 2 = full replay via a fresh checkpoint
            stream = read_stream_source(
                spark, "parquet", path=src_dir + "/*"
            ).select("event_id", "event_type", "value")
            q = start_txlog_quarantine_sink(
                stream,
                table,
                dlq,
                os.path.join(tmp, f"ck{i}"),
                trigger_seconds=1,
                ledger_id="qtest",
            )
            try:
                q.processAllAvailable()
                assert q.exception() is None  # not wedged
            finally:
                q.stop()

        got = sorted(
            (r.event_id, r.value) for r in table.read(spark).collect()
        )
        assert got == [(0, 0.0), (1, 1.0), (3, 2.0)]  # exactly-once
        bad = dlq.read(spark).collect()
        assert [(r.event_id, r.value, r.violated) for r in bad] == [
            (2, -5.0, "value_nonneg")
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_run_stream_to_memory_drops_its_temp_view(spark):
    """VERDICT r8 item 1/4: the memory-sink temp view must NOT outlive
    the call — round-8's bench carried ~20 materialized stream_out_*
    tables from pass 1 into pass 2 and smeared the streaming family
    3.3x. The returned DataFrame stays readable (its analyzed plan
    binds the rows); the catalog must be clean."""
    src = read_stream_source(spark, "parquet", path=f"{SF_DIR}/events.parquet")
    tx = apply_stream_transforms(src)
    _, out = run_stream_to_memory(
        tx.select("event_id", "is_valid_record"), "append"
    )
    leaked = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("stream_out_")
    ]
    assert leaked == [], f"memory-sink temp views leaked: {leaked}"
    assert out.count() > 0  # still consumable after the drop

    # and the registry stream queries (bench/oracle path) hold the
    # same contract end-to-end
    from iot_etl_spark.plans import QUERIES

    QUERIES["stream_tumbling_agg"](spark, SF_DIR).count()
    leaked = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("stream_out_")
    ]
    assert leaked == [], f"registry stream query leaked: {leaked}"


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing update fns."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)
        self.exists = True


def test_ewma_update_fn_orders_across_arrow_chunks():
    """ADVICE r8 (medium): a key's micro-batch spanning multiple Arrow
    chunks carries NO cross-chunk ordering — the fold must sort the
    whole batch once, not per chunk. Chunk 2 holds the EARLIER
    timestamps here; a per-chunk sort would fold 30,40,10,20."""
    import pandas as pd

    from iot_etl_spark.streaming.stateful import _ewma_update_fn

    update = _ewma_update_fn(alpha=0.5)
    chunk_late = pd.DataFrame(
        {"user_id": [7, 7], "ts": [3, 4], "event_id": [3, 4],
         "value": [30.0, 40.0]}
    )
    chunk_early = pd.DataFrame(
        {"user_id": [7, 7], "ts": [1, 2], "event_id": [1, 2],
         "value": [10.0, 20.0]}
    )
    state = _FakeGroupState()
    out = list(update((7,), iter([chunk_late, chunk_early]), state))
    # global order 10,20,30,40 @ alpha .5 -> 10, 15, 22.5, 31.25
    assert state.get == (31.25, 4)
    assert out[0]["ewma"].iloc[0] == 31.25


def test_funnel_update_fn_orders_across_arrow_chunks():
    """Same contract for the funnel fold: the anchoring view arrives
    in the SECOND chunk; per-chunk folding would see click/purchase
    first and report depth 1 instead of 3."""
    import pandas as pd

    from iot_etl_spark.streaming.stateful import _funnel_update_fn

    update = _funnel_update_fn()
    chunk_late = pd.DataFrame(
        {"user_id": [7, 7], "event_type": ["click", "purchase"],
         "t": [2_000_000, 3_000_000], "event_id": [2, 3]}
    )
    chunk_early = pd.DataFrame(
        {"user_id": [7], "event_type": ["view"],
         "t": [1_000_000], "event_id": [1]}
    )
    state = _FakeGroupState()
    out = list(update((7,), iter([chunk_late, chunk_early]), state))
    assert state.get == (1_000_000, 2_000_000, 3_000_000)
    assert out[0]["funnel_depth"].iloc[0] == 3


def test_quarantine_sink_widens_preexisting_dlq_schema(spark):
    """ADVICE r8 (medium): a quarantine table seeded WITHOUT the
    'violated' tag column must widen on the first quarantined epoch —
    not raise SchemaMismatchError every epoch and wedge the stream
    (the exact persistent-failure mode this sink exists to prevent)."""
    from iot_etl_spark.streaming.pipeline import start_txlog_quarantine_sink
    from iot_etl_spark.warehouse.txlog import TxTable

    tmp = tempfile.mkdtemp(prefix="iot_etl_qevo_")
    try:
        src_dir = os.path.join(tmp, "src")
        os.makedirs(src_dir)
        spark.createDataFrame(
            [(1, "view", 1.0), (2, "click", -5.0)],
            "event_id LONG, event_type STRING, value DOUBLE",
        ).write.parquet(os.path.join(src_dir, "b0"))

        table = TxTable(os.path.join(tmp, "serve"))
        dlq = TxTable(os.path.join(tmp, "dlq"))
        seed = spark.createDataFrame(
            [(0, "seed", 0.0)], "event_id LONG, event_type STRING, value DOUBLE"
        )
        table.append(seed)
        table.add_constraint(spark, "value_nonneg", "value >= 0")
        dlq.append(seed)  # pre-existing DLQ schema WITHOUT 'violated'

        stream = read_stream_source(
            spark, "parquet", path=src_dir + "/*"
        ).select("event_id", "event_type", "value")
        q = start_txlog_quarantine_sink(
            stream, table, dlq, os.path.join(tmp, "ck"),
            trigger_seconds=1, ledger_id="qevo",
        )
        try:
            q.processAllAvailable()
            assert q.exception() is None, q.exception()
        finally:
            q.stop()

        bad = dlq.read(spark).collect()
        tagged = [(r.event_id, r.violated) for r in bad if r.event_id == 2]
        assert tagged == [(2, "value_nonneg")]
        # the pre-evolution seed row reads back with a NULL tag
        assert [r.violated for r in bad if r.event_id == 0] == [None]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------- read_upserted's two paths
_UPSERT_KEYS = ("window_start", "window_end", "event_type")
_EVENTS_DDL = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"


@contextmanager
def _threshold(spark, value: str):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _is_local(df) -> bool:
    return df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"


def _assert_paths_agree(spark, t, keys) -> list:
    """``read_upserted`` through the driver and, forced by a -1
    threshold, through the window: equal schemas and equal sign-aware
    canonical rows. Returns the driver path's rows."""
    from iot_etl_spark.streaming.pipeline import read_upserted
    from tests.oracle import canonical_rows

    driver = read_upserted(spark, t, keys)
    assert _is_local(driver)
    with _threshold(spark, "-1"):
        assert t.read_local(spark) is None
        window = read_upserted(spark, t, keys)
        assert not _is_local(window)
        want = window.toPandas()
    got = driver.toPandas()
    assert driver.schema == window.schema
    assert canonical_rows(got) == canonical_rows(want)
    return driver.collect()


class _StreamHarness:
    """A file source of one-file micro-batches and an upsert sink over
    a watermark-free one-minute aggregate."""

    def __init__(self, spark, tmp: str) -> None:
        self.spark, self.tmp, self.n = spark, tmp, 0
        self.src = os.path.join(tmp, "src")
        os.makedirs(self.src)

    def add(self, rows) -> None:
        staged = os.path.join(self.tmp, f"staged{self.n}")
        self.spark.createDataFrame(rows, _EVENTS_DDL).coalesce(1).withColumn(
            "ts", F.expr("CAST(unix_micros(ts) * 1000 AS LONG)")
        ).write.parquet(staged)
        os.rename(staged, os.path.join(self.src, f"b{self.n}"))
        self.n += 1

    def start(self, table, ckpt: str):
        from iot_etl_spark.streaming.pipeline import start_txlog_upsert_sink

        stream = read_stream_source(self.spark, "parquet", path=self.src + "/*")
        agg = windowed_aggregate(stream, window="1 minute", watermark=None)
        return start_txlog_upsert_sink(agg, table, os.path.join(self.tmp, ckpt), trigger_seconds=1)


def _events(base, k: int):
    sec = datetime.timedelta(seconds=1)
    return [
        (10 * k + 1, base + (5 + k) * sec, 1, "view", float(k), None),
        (10 * k + 2, base + (70 + k) * sec, 2, ["click", "error"][k % 2], -0.0, None),
        (10 * k + 3, base + (130 * (k % 2)) * sec, 3, "view", 2.5 * k, None),
    ]


def test_read_upserted_paths_agree_on_sink_table_and_after_optimize(spark):
    """A multi-commit sink table resolves to the same schema and rows
    through Arrow on the driver and through the window, and again once
    ``optimize`` has compacted it into one file."""
    from iot_etl_spark.warehouse.txlog import TxTable

    tmp = tempfile.mkdtemp(prefix="iot_etl_upread_")
    try:
        h = _StreamHarness(spark, tmp)
        t = TxTable(os.path.join(tmp, "serve"))
        base = datetime.datetime(2024, 1, 5, 9, 0, 0)
        h.add(_events(base, 0))  # the file source takes its schema from a first file
        q = h.start(t, "ckpt")
        try:
            q.processAllAvailable()
            for k in range(1, 4):
                h.add(_events(base, k))
                q.processAllAvailable()
        finally:
            q.stop()
        assert len(t.snapshot_files()) == 4
        before = _assert_paths_agree(spark, t, _UPSERT_KEYS)
        assert t.optimize(spark) is not None and len(t.snapshot_files()) == 1
        assert sorted(_assert_paths_agree(spark, t, _UPSERT_KEYS)) == sorted(before)
        all_events = spark.createDataFrame([r for k in range(4) for r in _events(base, k)], _EVENTS_DDL)
        expected = windowed_aggregate(all_events, window="1 minute", watermark=None)
        assert sorted(before) == sorted(expected.collect())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_read_upserted_paths_agree_across_evolution_int96_and_null_keys(spark, tmp_path):
    """A snapshot mixing a file written before an ``allow_evolution``
    widening, a part staged by the distributed path (INT96 timestamps,
    decimals) and a null key resolves the same on both paths; a later
    commit's row wins for a key first written as INT96."""
    from decimal import Decimal

    from iot_etl_spark.streaming.pipeline import UPSERT_SEQ_COL
    from iot_etl_spark.warehouse.txlog import TxTable

    ts = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    ddl = "k STRING, at TIMESTAMP, amt DECIMAL(10,2), big DECIMAL(38,10), v DOUBLE"

    def frame(rows, seq, ddl=ddl):
        """``rows`` read back from parquet and stamped as the sink does."""
        path = str(tmp_path / f"src{len(os.listdir(tmp_path))}")
        spark.createDataFrame(rows, ddl).write.parquet(path)
        return spark.read.schema(ddl).parquet(path).withColumn(UPSERT_SEQ_COL, F.lit(seq))

    t = TxTable(str(tmp_path / "tx"))
    t.append_batch(
        frame([("a", ts, Decimal("1.25"), Decimal("1.0000000001"), 1.0),
               (None, ts, Decimal("2.50"), None, -0.0),
               ("b", None, None, None, None)], 0),
        0,
    )
    with _threshold(spark, "-1"):  # INT96 timestamps, decimals from Spark's writer
        t.append_batch(
            frame([("a", ts, Decimal("3.75"), Decimal("-2.5"), -0.0),
                   (None, ts, Decimal("4.00"), Decimal("0"), 4.0)], 1),
            1,
        )
    t.append_batch(
        frame([("b", None, Decimal("5.00"), None, 5.0, "new"),
               ("c", ts, None, None, None, None)], 2, ddl + ", w STRING"),
        2, allow_evolution=True,
    )
    assert t.read_local(spark) is not None
    rows = {(r.k, r.at): r for r in _assert_paths_agree(spark, t, ("k", "at"))}
    assert len(rows) == 4
    assert rows[("a", ts)].amt == Decimal("3.75") and rows[("a", ts)].w is None
    assert rows[(None, ts)].v == 4.0
    assert rows[("b", None)].w == "new"


def test_read_upserted_floating_keys_take_the_window(spark, tmp_path, monkeypatch):
    """Spark merges 0.0 with -0.0 and every NaN with every other NaN;
    Arrow groups 0.0 and -0.0 apart. A double key therefore resolves
    through the window even when the snapshot fits the driver, and no
    file is read on the driver first."""
    import pyarrow.parquet as pq

    from iot_etl_spark.streaming.pipeline import UPSERT_SEQ_COL, read_upserted
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    nan = float("nan")
    for seq, rows in enumerate([[(-0.0, "old"), (nan, "old")], [(0.0, "new"), (nan, "new")]]):
        path = str(tmp_path / f"src{seq}")
        spark.createDataFrame(rows, "d DOUBLE, v STRING").write.parquet(path)
        t.append_batch(spark.read.parquet(path).withColumn(UPSERT_SEQ_COL, F.lit(seq)), seq)
    assert t.read_local(spark) is not None

    def no_driver_read(*args, **kwargs):
        raise AssertionError("a floating-key snapshot was read on the driver")

    monkeypatch.setattr(pq, "ParquetFile", no_driver_read)
    got = read_upserted(spark, t, ("d",))
    assert not _is_local(got)
    assert sorted(r.v for r in got.collect()) == ["new", "new"]
