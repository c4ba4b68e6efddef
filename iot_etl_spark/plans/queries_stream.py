"""Streaming queries, driven synchronously for the oracle check.

These run REAL Structured Streaming (readStream file source ->
transformations -> memory sink, processAllAvailable) and return the
materialized result, so the correctness driver exercises the streaming
engine itself — the batch-SQL oracle states the window semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from iot_etl_spark.plans.registry import query, duck_bucket_epoch, DUCK_TS_EPOCH
from iot_etl_spark.streaming.pipeline import (
    read_stream_source,
    apply_stream_transforms,
    windowed_aggregate,
    run_stream_to_memory,
    STREAM_JOIN_PARTITIONS,
)

SENSOR_FIXTURE = "/root/repo/tests/fixtures/sensor_stream.jsonl"

_TUMBLING_ORACLE = f"""
SELECT {duck_bucket_epoch('hour')} AS window_start_epoch,
       event_type,
       COUNT(*) AS reading_count,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(value) AS avg_value,
       ROUND(MIN(value), 6)    AS min_value,
       ROUND(MAX(value), 6)    AS max_value,
       ROUND(STDDEV(value), 6) AS stddev_value,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS anomaly_count
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("stream_tumbling_agg", oracle=_TUMBLING_ORACLE)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregate executed by the streaming
    engine (T1/A2, spark_streaming_consumer.py:176-208) over the events
    file source; 1-hour windows, complete output mode so every window
    is emitted deterministically. The oracle is the equivalent batch
    bucket aggregate — stream/batch unification is the point."""
    src = read_stream_source(spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet")
    agg = windowed_aggregate(src, window="1 hour", watermark=None)
    _, out = run_stream_to_memory(agg, output_mode="complete")
    return (
        out.select(
            F.unix_timestamp("window_start").cast("long").alias("window_start_epoch"),
            "event_type", "reading_count", "avg_value", "min_value", "max_value",
            "stddev_value", F.col("anomaly_count").cast("long").alias("anomaly_count"),
        )
        .orderBy("window_start_epoch", "event_type")
    )


_PASSTHROUGH_ORACLE = f"""
SELECT event_id, user_id, {DUCK_TS_EPOCH} AS ts_epoch, value,
       value IS NOT NULL AND value >= 0 AS is_valid_record
FROM events
ORDER BY event_id
"""


@query("stream_raw_passthrough", oracle=_PASSTHROUGH_ORACLE)
def stream_raw_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw append-mode passthrough with validity flagging (the
    reference's sensor_readings sink path,
    spark_streaming_consumer.py:306-316 + T6 derivations; the
    wall-clock columns processed_at/latency are computed in-stream but
    excluded from the deterministic contract)."""
    src = read_stream_source(spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet")
    tx = apply_stream_transforms(src)
    out_cols = tx.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
        "value", "is_valid_record",
    )
    _, out = run_stream_to_memory(out_cols, output_mode="append")
    return out


_JSON_DECODE_ORACLE = f"""
SELECT epoch_us("time") AS time_us,
       device_id, device_type, value, unit,
       quality_score, is_anomaly, metadata
FROM read_json('{SENSOR_FIXTURE}',
               format = 'newline_delimited',
               columns = {{'time': 'TIMESTAMP', 'device_id': 'VARCHAR',
                          'device_type': 'VARCHAR', 'value': 'DOUBLE',
                          'unit': 'VARCHAR', 'quality_score': 'INTEGER',
                          'is_anomaly': 'BOOLEAN', 'metadata': 'VARCHAR'}})
"""


@query("stream_json_decode", oracle=_JSON_DECODE_ORACLE)
def stream_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka wire-decode path (S8/F10/F11,
    spark_streaming_consumer.py:114-126) exercised hermetically: the
    checked-in JSON-lines fixture stands in for Kafka message values,
    flowing through the SAME parse stage (from_json over
    SENSOR_READING_SCHEMA + ISO-8601 -> timestamp cast) the Kafka
    source uses. Runs the real streaming engine via the json file
    source; the oracle is DuckDB's independent read_json of the same
    fixture, so schema projection, null passthrough, and microsecond
    time parsing are all hash-checked. (sf_dir is unused — the wire
    contract is scale-independent.)"""
    src = read_stream_source(spark, "json", path=SENSOR_FIXTURE)
    out_cols = src.select(
        F.unix_micros("time").alias("time_us"),
        "device_id", "device_type", "value", "unit",
        "quality_score", "is_anomaly", "metadata",
    )
    _, out = run_stream_to_memory(out_cols, output_mode="append")
    return out


EWMA_ALPHA = 0.2

# Closed form of the sequential fold (ewma_1 = v_1; ewma_i = a*v_i +
# (1-a)*ewma_{i-1}): ewma_N = (1-a)^(N-1) v_1 + sum_{i>=2} a (1-a)^(N-i) v_i,
# over the deterministic (ts, event_id) order. Accumulation-order noise
# vs the fold is ~1e-15 relative — far from the ROUND 6 boundary (same
# convention as the cosine queries). Null values are excluded on both
# sides (SUM skips NULLs; the operator filters them).
_EWMA_ORACLE = f"""
WITH o AS (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n
    FROM events
    WHERE value IS NOT NULL
)
SELECT user_id, n AS n_events,
       ROUND(SUM(CASE WHEN rn = 1 THEN power({1 - EWMA_ALPHA}, n - 1) * value
                      ELSE {EWMA_ALPHA} * power({1 - EWMA_ALPHA}, n - rn) * value END),
             6) AS ewma
FROM o GROUP BY user_id, n
"""


@query("stream_ewma_by_device", oracle=_EWMA_ORACLE)
def stream_ewma_by_device(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-device
    EWMA driven by the REAL streaming engine — state (running average,
    event count) persists in the state store across micro-batches; the
    update function folds each batch in (ts, event_id) order. The
    oracle is the closed-form geometric expansion of the same fold, so
    the stateful path is hash-checked end to end. SURVEY §2.9 lists
    arbitrary stateful ops as absent from the reference — capability
    extension per the driver brief. Cross-batch continuity is pinned
    separately by pytest (multi-batch file source)."""
    from iot_etl_spark.streaming.stateful import streaming_ewma

    src = read_stream_source(spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet")
    ew = streaming_ewma(src.filter(F.col("value").isNotNull()), alpha=EWMA_ALPHA)
    _, out = run_stream_to_memory(ew, output_mode="update")
    # update-mode memory sink appends per-batch emissions; keep the
    # final state per device (max n_events)
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", F.round("ewma", 6).alias("ewma"))
    )


# --------------------------------------------------- streaming dedup
_STREAM_DEDUP_ORACLE = f"""
SELECT DISTINCT user_id, event_type,
       {duck_bucket_epoch('hour')} AS hour_epoch
FROM events
"""


@query("stream_dedup", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming deduplication on the REAL streaming
    engine (streaming/pipeline.py:dedup_stream): at most one event per
    (user, event_type, hour) passes; the 1-hour watermark bounds the
    seen-keys state store so the operator survives an unbounded
    stream. Only key columns are projected, so which physical row
    survives is irrelevant and the result is deterministic — the
    oracle is the batch DISTINCT. The reference has no streaming dedup
    (SURVEY §2.9); capability extension."""
    from iot_etl_spark.streaming.pipeline import dedup_stream

    src = read_stream_source(spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet")
    deduped = dedup_stream(src, keys=("user_id", "event_type"))
    out_cols = deduped.select(
        "user_id", "event_type",
        F.unix_timestamp(F.col("window.start")).cast("long").alias("hour_epoch"),
    )
    _, out = run_stream_to_memory(out_cols, output_mode="append")
    return out


# ---------------------------- streaming TTL dedup (bare-key identity)
_STREAM_DEDUP_TTL_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@query("stream_dedup_ttl", oracle=_STREAM_DEDUP_TTL_ORACLE)
def stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare-key streaming dedup via the native
    ``dropDuplicatesWithinWatermark`` operator (Spark 3.5+;
    streaming/pipeline.py:dedup_stream_within_watermark) — the dual of
    stream_dedup: identity is (user_id, event_type) with NO time
    bucket, so duplicates in different hours still collapse, and the
    watermark delay acts as a state TTL instead of a bucket boundary.

    Oracle equality to batch DISTINCT holds because the delay here
    (40 days) exceeds the test corpus's 30-day span, so no key's state
    expires while a later duplicate is still in flight. That is the
    documented correctness condition, not a trick: at 100 TB you set
    delay to the real duplicate horizon (producer-retry minutes) and
    state stays O(keys-per-horizon); the test pins the semantics at a
    horizon covering the whole corpus. Reference parity: no streaming
    dedup in the reference (SURVEY §2.9); capability extension."""
    from iot_etl_spark.streaming.pipeline import dedup_stream_within_watermark

    src = read_stream_source(spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet")
    deduped = dedup_stream_within_watermark(
        src, keys=("user_id", "event_type"), delay="40 days"
    )
    _, out = run_stream_to_memory(
        deduped.select("user_id", "event_type"), output_mode="append"
    )
    return out


# ------------------------------------------ stream-stream interval join
ATTRIBUTION_WINDOW_S = 7200

_INTERVAL_JOIN_ORACLE = f"""
WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS click_us,
       c.value AS click_value
FROM p JOIN c ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS
"""


@query("stream_interval_join", oracle=_INTERVAL_JOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join on the REAL streaming engine
    (streaming/joins.py): clicks and purchases as two watermarked
    streams, every click within 2 h before a same-user purchase —
    multi-touch windowed attribution (the as-of query's one-match
    counterpart). The reference's streaming layer has no two-stream
    join; capability extension. State is bounded by watermark + window
    via the two-sided time constraint. Oracle: the equivalent batch
    inequality join — exact because the file source delivers
    everything before the watermark first advances, so no row is
    late-dropped."""
    from iot_etl_spark.streaming.joins import interval_join

    events_path = f"{sf_dir.rstrip('/')}/events.parquet"
    purchases = (
        read_stream_source(spark, "parquet", path=events_path)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("purchase_ts"))
    )
    clicks = (
        read_stream_source(spark, "parquet", path=events_path)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value"))
    )
    joined = interval_join(
        purchases, clicks, on="user_id",
        window_seconds=ATTRIBUTION_WINDOW_S,
        left_ts="purchase_ts", right_ts="click_ts",
    )
    out_cols = joined.select(
        "event_id", "user_id",
        F.unix_micros("purchase_ts").alias("purchase_us"),
        F.unix_micros("click_ts").alias("click_us"),
        "click_value",
    )
    _, out = run_stream_to_memory(
        out_cols, output_mode="append", width=STREAM_JOIN_PARTITIONS
    )
    return out


# -------------------------------------------- stream-static dim join
_STATIC_ENRICH_ORACLE = """
SELECT c.c_mktsegment AS mktsegment, e.event_type,
       COUNT(*) AS n_events,
       ROUND(AVG(e.value), 6) AS avg_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@query("stream_static_enrich", oracle=_STATIC_ENRICH_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join on the real streaming engine: the event
    stream enriched against the static customer dimension (broadcast
    left join — the production pattern for dim lookups the reference's
    streaming layer lacks; its enrichment joins are batch-only,
    spark_transform.py:46-57), then a per-(segment, type) aggregate in
    complete mode. Completes the streaming join surface next to the
    stream-stream interval join.

    Scale: Spark re-plans the static side per micro-batch, so the dim
    is broadcast once per trigger — fine for dimension-sized tables;
    a huge static side would instead be pre-bucketed to co-locate with
    the stream's shuffle. No watermark needed: stream-static joins are
    stateless (nothing buffers on the stream side)."""
    from iot_etl_spark.sources.tables import load_table

    src = read_stream_source(
        spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet"
    )
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = src.join(dim, src.user_id == dim.c_custkey, "left")
    agg = enriched.groupBy(
        F.col("c_mktsegment").alias("mktsegment"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    _, out = run_stream_to_memory(agg, output_mode="complete")
    return out


# ------------------------------------------------ sliding-window agg
# 1-hour windows every 15 minutes: each event lands in exactly 4
# overlapping windows. The oracle replicates the fan-out with a
# 0..3 step cross join against 15-minute buckets (both engines align
# buckets to epoch-origin multiples, so starts agree exactly).
_SLIDING_ORACLE = f"""
WITH k AS (SELECT unnest(generate_series(0, 3)) AS k),
e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events)
SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, e.t) - k.k * INTERVAL 15 MINUTE)
           // 1000000 AS window_start_epoch,
       event_type,
       COUNT(*) AS reading_count,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(value) AS avg_value
FROM e CROSS JOIN k
GROUP BY 1, 2
"""


@query("stream_sliding_agg", oracle=_SLIDING_ORACLE)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window aggregate on the REAL streaming
    engine: 1-hour windows hopping every 15 minutes, so each event is
    counted in 4 overlapping windows — the smoothed-trend companion to
    stream_tumbling_agg (the reference only tumbles; SURVEY §2.9).

    Scale: state is 4x the tumbling equivalent (one row per open
    window per key) and still watermark-evictable; the overlap factor
    is window/slide, a config knob, not a data-dependent blowup."""
    src = read_stream_source(spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet")
    agg = (
        src.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            # exact decimal accumulation (see windowed_aggregate);
            # the quotient is emitted UNROUNDED — one deterministic
            # IEEE division of exact numbers (rounding a quotient can
            # hit decimal ties where engines' ROUND disagrees)
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             / F.count("value")).alias("avg_value"),
        )
    )
    _, out = run_stream_to_memory(agg, output_mode="complete")
    return out.select(
        F.unix_timestamp("window.start").cast("long").alias("window_start_epoch"),
        "event_type", "reading_count", "avg_value",
    )


# ------------------------------------------------ session windows
# Dynamic-gap session windows on the real streaming engine: a session
# is a burst of a user's events where consecutive gaps stay under 30
# minutes; it closes 30 minutes after its last event. The oracle is
# the classic gaps-and-islands SQL (LAG -> new-session flag ->
# cumulative session id), the batch-equivalent definition.
_SESSION_WINDOW_ORACLE = """
WITH t AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
m AS (
    SELECT user_id, ts, value,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM t
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
    SELECT user_id, ts, value,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_seq
    FROM m
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM s
GROUP BY user_id, sess_seq
"""


@query("stream_session_window", oracle=_SESSION_WINDOW_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation executed BY THE STREAMING ENGINE
    (F.session_window, 30-minute gap): the windowing mode the tumbling/
    sliding pair can't express — window extent is data-driven, state
    merges adjacent windows as events arrive. Complements the batch
    gaps-and-islands twin (session_stats) the same way
    stream_tumbling_agg complements hourly_device_agg; the oracle IS
    the gaps-and-islands definition, so the engine's merge semantics
    (same session iff gap < 30 min, window end = last event + gap) are
    hash-checked cross-engine.

    Scale: state per open session per user, evicted on watermark in
    production (complete mode here for determinism); a hot user widens
    one session rather than accumulating windows, so state is bounded
    by active users, not event volume."""
    src = read_stream_source(spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet")
    agg = (
        src.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    _, out = run_stream_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.unix_micros("session_window.start").alias("session_start_us"),
        F.unix_micros("session_window.end").alias("session_end_us"),
        "n_events", "sum_value",
    )


TREND_TOPK = 3

_TRENDING_ORACLE = f"""
WITH c AS (
    SELECT {duck_bucket_epoch('hour')} AS window_start_epoch,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
)
SELECT window_start_epoch, event_type, n_events,
       CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY window_start_epoch
        ORDER BY n_events DESC, event_type
    ) AS rnk
    FROM c
)
WHERE rnk <= {TREND_TOPK}
"""


@query("stream_trending_topk", oracle=_TRENDING_ORACLE)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending event types per hour off the live stream, with the
    PRODUCTION state story (VERDICT r4 fix) AND production sink I/O
    (VERDICT r5 fix): the streaming aggregate is watermarked (2 h) and
    runs in UPDATE mode into the txlog upsert sink
    (start_txlog_upsert_sink) — each micro-batch emits only the
    (window, type) groups that changed, appended as ONE staged file +
    ONE atomic log commit with the epoch id stamped for read-side
    latest-per-key resolution, and the state store EVICTS a window's
    rows once the watermark passes its end. State is bounded by
    watermark x key cardinality; sink I/O is O(1) per micro-batch
    (the r5 parquet-partition-overwrite sink paid one directory per
    changed group per batch — a small-files storm at 720 hourly
    windows x event types). OPTIMIZE compacts the serving table after
    the drain, closing the lifecycle. The top-k rank runs on the
    resolved serving view — the standard lambda-free split (engines
    can't rank inside an update-mode aggregate; a dashboard reads the
    ranked view). Deterministic tiebreak on event_type.

    The serving table + checkpoint live under a ``keyed_dir``
    (plans/stagecache.py: source mtime/size + code), so repeated bench/
    driver runs REUSE the checkpointed result instead of littering
    /tmp with fresh mkdtemp dirs (ADVICE r5) — a re-run over unchanged
    input finds no new files and serves the committed table; stale
    keys are swept by the shared eviction. The checkpoint records the
    source paths the pipeline helpers resolve, so ``_singleton_dir``
    and ``read_stream_source`` are in the key: a plumbing edit mints a
    fresh dir instead of resuming a checkpoint whose recorded basePath
    no longer matches. ``normalize_timestamps`` (the source's ts
    normalization) is in the key because it shapes every row.

    Oracle: plain batch hourly counts + ROW_NUMBER — the upsert sink's
    latest-seq-wins contract means the resolved counts equal the batch
    counts exactly, or the hash breaks."""
    import os

    from iot_etl_spark.plans.stagecache import keyed_dir
    from iot_etl_spark.streaming import pipeline as _pl
    from iot_etl_spark.streaming.pipeline import (
        read_upserted,
        start_txlog_upsert_sink,
        stream_shuffle_scope,
    )
    from iot_etl_spark.warehouse.txlog import TxTable

    with keyed_dir(
        "trend_topk", sf_dir, ("events",),
        (
            stream_trending_topk, _pl._singleton_dir, _pl.read_stream_source,
            _pl.normalize_timestamps,
        ),
    ) as (d, _):
        t = TxTable(os.path.join(d, "serve"))
        src = read_stream_source(
            spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet"
        )
        agg = (
            src.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("window.start").alias("window_start"), "event_type", "n_events")
        )
        with stream_shuffle_scope(spark):
            q = start_txlog_upsert_sink(agg, t, os.path.join(d, "ck"), trigger_seconds=1)
        q.processAllAvailable()
        q.stop()
        t.optimize(spark)  # compaction lifecycle: serving file count stays flat

    from pyspark.sql import Window as W

    counts = read_upserted(spark, t, ("window_start", "event_type"))
    rnk = W.partitionBy("window_start").orderBy(F.desc("n_events"), "event_type")
    return (
        counts.withColumn("rnk", F.row_number().over(rnk).cast("long"))
        .filter(F.col("rnk") <= TREND_TOPK)
        .select(
            F.unix_timestamp("window_start").cast("long").alias("window_start_epoch"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "rnk",
        )
    )


_TXLOG_INGEST_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_value
FROM events
GROUP BY event_type
"""


@query("stream_txlog_ingest", oracle=_TXLOG_INGEST_ORACLE)
def stream_txlog_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest into the transactional table
    (warehouse/txlog.py + start_txlog_sink), PROVEN under the oracle
    gate: the stream is run to completion TWICE — the second run uses
    a fresh checkpoint, so Structured Streaming re-delivers every
    micro-batch — and the batch-id ledger in the table's commit log
    recognizes and skips each replay. The oracle is the plain batch
    aggregate of the source: if even one batch were double-appended
    (at-least-once leakage) or half-visible (no atomic commit), the
    row counts and exact DECIMAL sums would break the hash.

    100 TB shape: the sink is an O(1) log commit per micro-batch on
    top of immutable staged parquet; the replay ledger is the log
    itself (file lists, not data).

    The table + both checkpoints live under a ``keyed_dir`` (as in
    stream_trending_topk), so repeated bench/driver runs REUSE the
    committed table instead of littering /tmp with per-invocation
    mkdtemp dirs: on a re-run both checkpoints are
    already complete, both drains find no new files, and the table
    still holds exactly one copy — idempotence of the whole QUERY, on
    top of the per-batch idempotence it proves."""
    import os

    from iot_etl_spark.plans.stagecache import keyed_dir
    from iot_etl_spark.streaming import pipeline as _pl
    from iot_etl_spark.streaming.pipeline import start_txlog_sink
    from iot_etl_spark.warehouse.txlog import TxTable

    with keyed_dir(
        "txs_ingest", sf_dir, ("events",),
        (
            stream_txlog_ingest, _pl._singleton_dir, _pl.read_stream_source,
            _pl.normalize_timestamps,
        ),
    ) as (d, _):
        t = TxTable(os.path.join(d, "tx"))
        src = read_stream_source(
            spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet"
        )
        proj = src.select("event_id", "event_type", "value")
        for i in range(2):  # run 2 = full replay (fresh checkpoint, same ids)
            q = start_txlog_sink(proj, t, os.path.join(d, f"ck{i}"), trigger_seconds=1)
            q.processAllAvailable()
            q.stop()
    return t.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6
        ).alias("sum_value"),
    )


DIRTY_FIXTURE = "/root/repo/tests/fixtures/sensor_stream_dirty.jsonl"

# DuckDB reads the raw lines via read_text + split (no JSON reader —
# the point is that some lines are NOT JSON) and applies the same
# malformed predicate as parse_with_dlq: unparseable JSON, missing
# device_id, or an uncastable time all quarantine.
_DLQ_ORACLE = f"""
WITH lines AS (
    SELECT unnest(string_split(content, chr(10))) AS raw
    FROM read_text('{DIRTY_FIXTURE}')
),
parsed AS (
    SELECT raw,
           CASE WHEN json_valid(raw)
                THEN json_extract_string(raw, '$.device_id') END AS device_id,
           CASE WHEN json_valid(raw)
                THEN TRY_CAST(json_extract_string(raw, '$.time') AS TIMESTAMP)
           END AS t
    FROM lines WHERE length(raw) > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN device_id IS NULL OR t IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       CAST(SUM(CASE WHEN device_id IS NOT NULL AND t IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(COUNT(DISTINCT CASE WHEN device_id IS NOT NULL AND t IS NOT NULL
                                THEN device_id END) AS BIGINT)
           AS n_valid_devices
FROM parsed
"""


@query("stream_dlq_stats", oracle=_DLQ_ORACLE)
def stream_dlq_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue decode stats off the live stream: the wire
    decode runs through parse_with_dlq (streaming/pipeline.py), which
    PRESERVES the raw message next to the parsed fields and flags
    undecodable rows (broken JSON, non-object payloads, missing
    device_id, uncastable time) instead of dropping them — the
    quarantine-and-replay input stage every production ingest needs.
    Driven over a deliberately dirty fixture; the oracle re-derives
    the same quarantine predicate from the raw lines WITHOUT a JSON
    reader, so the engines cross-check each other's malformed-row
    semantics, not just the happy path.

    Scale: pure map-side decode — one pass, no shuffle until the
    final 1-row rollup; the DLQ split itself (run_dlq_split) fans the
    same frame to valid/quarantine sinks."""
    from iot_etl_spark.streaming.pipeline import _singleton_dir, parse_with_dlq

    raw = (
        spark.readStream.text(_singleton_dir(DIRTY_FIXTURE))
        .withColumnRenamed("value", "json_value")
    )
    flagged = parse_with_dlq(raw)
    _, out = run_stream_to_memory(flagged, output_mode="append")
    valid = ~F.col("is_malformed")
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("is_malformed").cast("int")).cast("long").alias("n_quarantined"),
        F.sum(valid.cast("int")).cast("long").alias("n_valid"),
        F.count_distinct(
            F.when(valid, F.col("device_id"))
        ).cast("long").alias("n_valid_devices"),
    )


# ------------------------------- stream-stream LEFT OUTER interval join
# Emission bound for the finite-source drain: a left row's outer
# result surfaces only once the watermark passes it, and the final
# watermark of a drained file source is max(event time) - delay —
# and the GLOBAL watermark is the MIN across the two watermarked
# sides, each computed from its own post-filter max event time, which
# lags the table-wide max by up to the largest inter-arrival gap of
# that event type (measured 3.9 h for clicks at sf0.001). Both the
# stream result and the batch oracle therefore restrict purchases to
# ts <= max(ts) - (watermark 4h + window 2h + 6h side-lag slack) — a
# 12-hour tail cut on a 30-day table, applied identically on both
# engines so membership can never disagree on the eviction boundary.
OUTER_JOIN_TAIL_CUT_S = 4 * 3600 + ATTRIBUTION_WINDOW_S + 6 * 3600

_OUTER_JOIN_ORACLE = f"""
WITH m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events),
p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       CAST(COUNT(c.value) AS BIGINT) AS n_clicks,
       COUNT(c.value) > 0 AS attributed
FROM p
JOIN m ON p.ts <= m.mx - INTERVAL {OUTER_JOIN_TAIL_CUT_S} SECONDS
LEFT JOIN c ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS
GROUP BY 1, 2, 3
"""


@query("stream_outer_join_attribution", oracle=_OUTER_JOIN_ORACLE)
def stream_outer_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join on the real
    engine (streaming/joins.py how='left_outer'): every purchase with
    its 2 h click-attribution count, INCLUDING purchases with no
    attributable click — which the inner stream_interval_join silently
    drops and a funnel analysis needs most. An unmatched purchase is
    emitted with NULL click columns only once the watermark proves no
    matching click can still arrive, so the no-data micro-batch after
    the drain flushes exactly the purchases older than the final
    watermark; the shared tail-cut bound (OUTER_JOIN_TAIL_CUT_S,
    applied on BOTH engines) keeps the comparison away from the
    eviction boundary.

    State story: identical to the inner join — key-partitioned state
    evicted past watermark + window; the outer flavor adds no
    unbounded state, only deferred emission. The post-drain aggregate
    (clicks per purchase) runs on the materialized output, grouping
    the multi-touch rows and the NULL-padded singles alike.

    Reference parity: the reference's streaming layer joins nothing
    (spark_streaming_consumer.py); capability extension completing the
    T-family join surface (inner interval + left outer + stream-static
    + as-of batch twin)."""
    from iot_etl_spark.streaming.joins import interval_join
    from iot_etl_spark.sources.tables import load_table

    events_path = f"{sf_dir.rstrip('/')}/events.parquet"
    purchases = (
        read_stream_source(spark, "parquet", path=events_path)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("purchase_ts"))
    )
    clicks = (
        read_stream_source(spark, "parquet", path=events_path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
    )
    joined = interval_join(
        purchases.withColumnRenamed("user_id", "on_key"),
        clicks.withColumnRenamed("c_user_id", "on_key"),
        on="on_key",
        window_seconds=ATTRIBUTION_WINDOW_S,
        left_ts="purchase_ts", right_ts="click_ts",
        how="left_outer",
    )
    _, out = run_stream_to_memory(
        joined.select("event_id", "on_key", "purchase_ts", "click_value"),
        output_mode="append",
        width=STREAM_JOIN_PARTITIONS,
    )
    bound = load_table(spark, sf_dir, "events").agg(
        (F.max("ts") - F.expr(f"INTERVAL {OUTER_JOIN_TAIL_CUT_S} SECONDS")).alias("cutoff")
    )
    return (
        out.crossJoin(F.broadcast(bound))
        .filter(F.col("purchase_ts") <= F.col("cutoff"))
        .groupBy(
            "event_id",
            F.col("on_key").alias("user_id"),
            F.unix_micros("purchase_ts").alias("purchase_us"),
        )
        .agg(
            F.count("click_value").cast("long").alias("n_clicks"),
            (F.count("click_value") > 0).alias("attributed"),
        )
    )


# ------------------------------- stream-stream FULL OUTER interval join
# Two-tier tail cut makes the post-join classification equivalent to
# cutting the batch INPUTS: clicks kept at CC = max - (wm 4h + window
# + 8h slack) can only ever match purchases kept at CP = CC + window
# (a click's match interval is [c, c+window] <= CC+window = CP), so
# no kept click attaches to a dropped purchase; a kept purchase's
# clicks in (CC, CP] are DEMOTED (not counted) on both engines, which
# can flip it to purchase_only identically on both. Emission margins:
# the drained global watermark sits ~max - 4h - side-lag (<= 3.9 h
# measured); purchase flush needs watermark > p (= CP = max-12h,
# margin >= 4.1 h), click flush needs watermark > c + window
# (<= max-12h, same margin).
FO_CLICK_CUT_S = 4 * 3600 + ATTRIBUTION_WINDOW_S + 8 * 3600
FO_PURCHASE_CUT_S = FO_CLICK_CUT_S - ATTRIBUTION_WINDOW_S

_FULL_OUTER_ORACLE = f"""
WITH m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events),
p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events, m
      WHERE event_type = 'purchase'
        AND CAST(ts AS TIMESTAMP) <= mx - INTERVAL {FO_PURCHASE_CUT_S} SECONDS),
c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(value AS DECIMAL(18, 2)) AS value
      FROM events, m
      WHERE event_type = 'click'
        AND CAST(ts AS TIMESTAMP) <= mx - INTERVAL {FO_CLICK_CUT_S} SECONDS),
fo AS (
    SELECT p.user_id AS pu, c.user_id AS cu, c.value
    FROM p FULL OUTER JOIN c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS
)
SELECT CASE WHEN pu IS NOT NULL AND cu IS NOT NULL THEN 'matched'
            WHEN cu IS NULL THEN 'purchase_only'
            ELSE 'click_only' END AS match_status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT COALESCE(pu, cu)) AS BIGINT) AS n_users,
       ROUND(CAST(COALESCE(SUM(value), 0) AS DOUBLE), 6) AS sum_click_value
FROM fo GROUP BY 1
"""


@query("stream_full_outer_reconcile", oracle=_FULL_OUTER_ORACLE)
def stream_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join on the real
    engine, completing the join-mode matrix (inner
    stream_interval_join, LEFT OUTER stream_outer_join_attribution,
    and now both unmatched sides at once): the funnel reconcile that
    reports matched purchase-click pairs, purchases with no
    attributable click, AND clicks that never converted — the last
    being the rows only a full outer can surface from the stream.
    Unmatched rows on either side emit NULL-padded once the
    min-across-inputs watermark proves no partner can arrive (a
    purchase flushes past its own ts; a click past ts + window).

    Cross-engine membership: the two-tier tail cut (CC for clicks,
    CP = CC + window for purchases, constants above) is chosen so a
    kept click's whole match interval lies within kept purchases —
    the ONLY cut pair for which post-join classification of the
    stream output equals cutting the batch join's inputs; pairs whose
    click falls in the demoted band (CC, CP] are uncounted on both
    engines, flipping their purchase to purchase_only identically.

    State story: identical to the inner/left flavors — key-hashed
    state evicted past watermark + window on both sides; full outer
    adds deferred emission on the right, no new state. Reference
    parity: the reference's streaming layer joins nothing
    (spark_streaming_consumer.py); T-family completion."""
    from iot_etl_spark.sources.tables import load_table
    from iot_etl_spark.streaming.joins import interval_join

    events_path = f"{sf_dir.rstrip('/')}/events.parquet"
    purchases = (
        read_stream_source(spark, "parquet", path=events_path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("on_key"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    clicks = (
        read_stream_source(spark, "parquet", path=events_path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("on_key"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
    )
    joined = interval_join(
        purchases, clicks, on="on_key",
        window_seconds=ATTRIBUTION_WINDOW_S,
        left_ts="purchase_ts", right_ts="click_ts",
        how="full_outer",
    )
    # full outer drops the coalesced key: keep both sides' keys
    _, out = run_stream_to_memory(
        joined.select("on_key", "purchase_ts", "click_ts", "click_value"),
        output_mode="append",
        width=STREAM_JOIN_PARTITIONS,
    )
    bound = load_table(spark, sf_dir, "events").agg(
        (F.max("ts") - F.expr(f"INTERVAL {FO_PURCHASE_CUT_S} SECONDS")).alias("cp"),
        (F.max("ts") - F.expr(f"INTERVAL {FO_CLICK_CUT_S} SECONDS")).alias("cc"),
    )
    o = out.crossJoin(F.broadcast(bound))
    kept_c = F.col("click_ts") <= F.col("cc")
    kept_p = F.col("purchase_ts") <= F.col("cp")
    v = F.col("click_value").cast("decimal(18,2)")

    # r14 (guide §2.4): matched / purchase_only / click_only used to
    # be THREE separate aggregates over the memory-sink rows (per_p
    # scanned twice, the click side a third scan, row-filter union).
    # The three classes partition the rows disjointly, so ONE
    # (on_key, purchase_ts) rollup covers all of them: purchase groups
    # carry their kept-click count/sum; click_only rows group under
    # their (key, NULL purchase) cell with plain count/sum — summing
    # group counts re-derives the old per-row COUNT exactly. One scan,
    # one shuffle, one status aggregate; per status group the old
    # expressions are recovered verbatim, and grouped aggregates emit
    # nothing for empty groups (the old n_rows > 0 filter).
    is_p = F.col("purchase_ts").isNotNull()
    g = (
        o.filter((is_p & kept_p) | (~is_p & kept_c))
        .groupBy("on_key", "purchase_ts")
        .agg(
            F.count(F.when(kept_c, 1)).cast("long").alias("n_kept"),
            F.sum(F.when(kept_c, v)).alias("sum_v_kept"),
            F.count(F.lit(1)).cast("long").alias("n_grp"),
            F.sum(v).alias("sum_v_all"),
        )
        .withColumn(
            "match_status",
            F.when(F.col("purchase_ts").isNull(), F.lit("click_only"))
            .when(F.col("n_kept") > 0, F.lit("matched"))
            .otherwise(F.lit("purchase_only")),
        )
    )
    is_m = F.col("match_status") == "matched"
    is_c = F.col("match_status") == "click_only"
    return g.groupBy("match_status").agg(
        F.sum(
            F.when(is_c, F.col("n_grp"))
            .when(is_m, F.col("n_kept"))
            .otherwise(F.lit(1))
        )
        .cast("long")
        .alias("n_rows"),
        F.countDistinct("on_key").cast("long").alias("n_users"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(is_c, F.col("sum_v_all")).when(
                        is_m, F.col("sum_v_kept")
                    )
                ),
                F.lit(0),
            ).cast("double"),
            6,
        ).alias("sum_click_value"),
    )


# ------------------------------------------------ streaming CDC apply
_CDC_APPLY_ORACLE = """
WITH ranked AS (
    SELECT user_id, event_type,
           CAST(ROUND(value * 1e6) AS BIGINT) AS vq,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY event_id DESC
           ) AS rn
    FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       event_type AS last_type,
       ROUND(CAST(vq AS DOUBLE) / 1e6, 6) AS last_value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


@query("stream_cdc_apply", oracle=_CDC_APPLY_ORACLE)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC APPLY under the oracle gate: the events feed is
    recast as a change stream (op = DELETE on 'error', else UPSERT;
    seq = event_id, the feed's LSN) and drained through
    start_cdc_merge_sink (warehouse/merge.py) — foreachBatch MERGE
    with last-op-per-key netting into the transactional table. The
    oracle computes the same final state from the batch side (latest
    op per key, deletes absent), so the whole
    netting -> MERGE routing -> atomic-commit path must reproduce it
    exactly. The replay fixed-point and per-batch netting semantics
    are pytest-pinned in tests/test_merge.py; THIS query is the
    driver-visible end-to-end.

    Cross-batch ordering note: the file source delivers the single
    source parquet file as one micro-batch, so last-op-per-key
    netting by seq decides every key; a multi-file feed would need
    the seq-guarded update condition instead (merge_into's
    update_condition) — documented, not needed here.

    Table + checkpoint live under a ``keyed_dir`` (as in
    stream_trending_topk): re-runs find the checkpoint complete and
    REUSE the merged table.

    100 TB shape: per batch, one key-shuffle for the netting window
    and two atomic MERGE commits; state lives in the table itself
    (no unbounded stream state). The serving read is a plain
    snapshot scan."""
    import os

    from iot_etl_spark.plans.stagecache import keyed_dir
    from iot_etl_spark.streaming import pipeline as _pl
    from iot_etl_spark.warehouse import merge as _mg
    from iot_etl_spark.warehouse.txlog import TxTable

    with keyed_dir(
        "cdc_apply", sf_dir, ("events",),
        (
            stream_cdc_apply, _mg.apply_cdc_batch, _pl.read_stream_source,
            _pl.normalize_timestamps,
        ),
    ) as (d, _):
        t = TxTable(os.path.join(d, "tx"))
        if t.latest_version() is None:  # seed the empty target (version 0)
            t.overwrite(
                spark.createDataFrame(
                    [], "user_id LONG, event_type STRING, vq LONG"
                )
            )
        src = read_stream_source(
            spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet"
        )
        changes = src.select(
            F.col("user_id"),
            F.col("event_type"),
            F.expr("CAST(ROUND(value * 1e6) AS BIGINT)").alias("vq"),
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        q = _mg.start_cdc_merge_sink(
            changes, t, os.path.join(d, "ck"), ["user_id"], trigger_seconds=1
        )
        q.processAllAvailable()
        q.stop()
    return t.read(spark).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("last_type"),
        F.round(F.col("vq").cast("double") / F.lit(1e6), 6).alias("last_value"),
    )


# ------------------------------------- dynamic-gap session windows
# Per-event gap: an error tightens the session timeout to 5 minutes,
# normal activity keeps 30. The batch oracle is the running-reach
# gaps-and-islands fold: a session breaks when an event's time is at
# or past the max (ts + own gap) reach of everything before it.
_DYN_SESSION_ORACLE = f"""
WITH e AS (
    SELECT user_id,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
           event_id,
           CASE WHEN event_type = 'error' THEN 300 ELSE 1800 END AS gap_s,
           CAST(ROUND(value * 1e6) AS BIGINT) AS vq
    FROM events
),
r AS (
    SELECT *,
           MAX(us + gap_s * 1000000) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_reach
    FROM e
),
b AS (
    SELECT *,
           CASE WHEN prev_reach IS NULL OR us >= prev_reach
                THEN 1 ELSE 0 END AS brk
    FROM r
),
s AS (
    SELECT *,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
    FROM b
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(MIN(us) // 1000000 AS BIGINT) AS session_start_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(vq) AS DOUBLE) / 1e6, 6) AS sum_value
FROM s
GROUP BY user_id, session_id
"""


@query("stream_session_dynamic_gap", oracle=_DYN_SESSION_ORACLE)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows on the streaming engine: the gap is
    a per-event COLUMN (errors shrink the inactivity timeout to 5
    minutes, normal events keep 30) — the Spark 4 session_window
    overload the fixed-gap query (stream_session_window) can't
    express; behaviorally, an error ends its session quickly unless
    followed by activity. The oracle is the running-reach
    gaps-and-islands fold: an event starts a new session iff its time
    is at or past max(ts_j + gap_j) over everything earlier — exactly
    the engine's merge rule for half-open [start, last+gap) windows,
    so the hash check pins the engine's dynamic merge semantics
    against an independent batch definition.

    Scale: state per open session per user (the gap column changes
    merge extents, not the state shape); the oracle's fold is two
    user-partitioned windows over integer micros."""
    src = read_stream_source(
        spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet"
    )
    # the dynamic gap must be CalendarIntervalType (ANSI INTERVAL
    # literals are DayTimeIntervalType, which session_window rejects)
    gap = F.expr(
        "make_interval(0, 0, 0, 0, 0,"
        " CASE WHEN event_type = 'error' THEN 5 ELSE 30 END, 0)"
    )
    agg = (
        src.withColumn("vq", F.expr("CAST(ROUND(value * 1e6) AS BIGINT)"))
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vq").alias("svq"),
        )
    )
    _, out = run_stream_to_memory(agg, output_mode="complete")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp(F.col("session_window.start"))
        .cast("long")
        .alias("session_start_epoch"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("svq").cast("double") / F.lit(1e6), 6).alias(
            "sum_value"
        ),
    )


# --------------------------------------------- stateful window funnel
_STREAM_FUNNEL_ORACLE = """
WITH t AS (
    SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t
    FROM events
),
w1 AS (
    SELECT *, MIN(CASE WHEN event_type = 'view' THEN t END)
                  OVER (PARTITION BY user_id) AS s1
    FROM t
),
w2 AS (
    SELECT *, MIN(CASE WHEN event_type = 'click' AND t > s1
                            AND t <= s1 + 86400000000 THEN t END)
                  OVER (PARTITION BY user_id) AS s2
    FROM w1
),
w3 AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t > s2
                            AND t <= s1 + 86400000000 THEN t END)
                  OVER (PARTITION BY user_id) AS s3
    FROM w2
),
u AS (SELECT DISTINCT user_id, s1, s2, s3 FROM w3)
SELECT CASE WHEN s3 IS NOT NULL THEN 3
            WHEN s2 IS NOT NULL THEN 2
            WHEN s1 IS NOT NULL THEN 1
            ELSE 0 END AS funnel_depth,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM u GROUP BY 1
"""


@query("stream_window_funnel", oracle=_STREAM_FUNNEL_ORACLE)
def stream_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 24h window funnel executed as a STATEFUL STREAMING operator
    (applyInPandasWithState; streaming/stateful.py): per-user state is
    three BIGINT step anchors updated by the greedy in-order fold —
    the streaming twin of window_funnel_conversion, whose batch MIN
    construction is the oracle. Greedy == MIN because each funnel step
    takes its earliest candidate, which in time-ordered processing is
    the first seen (the EWMA in-order contract). Update-mode memory
    sink appends per-batch emissions; the final state per user is the
    row with the deepest funnel (depth is monotone across batches)."""
    from iot_etl_spark.streaming.stateful import streaming_window_funnel

    src = read_stream_source(
        spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet"
    )
    fn = streaming_window_funnel(src)
    _, out = run_stream_to_memory(fn, output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("funnel_depth").desc())
    final = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return final.groupBy("funnel_depth").agg(
        F.count(F.lit(1)).alias("n_users")
    )


_QUAR_ORACLE = """
WITH src AS (
    SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL
)
SELECT 'main' AS side, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_value
FROM src WHERE value <= 300 GROUP BY 2
UNION ALL
SELECT 'quarantine' AS side, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_value
FROM src WHERE value > 300 GROUP BY 2
"""


@query("stream_quarantine_ingest", oracle=_QUAR_ORACLE)
def stream_quarantine_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once CONSTRAINT-SAFE streaming ingest
    (start_txlog_quarantine_sink): rows violating the serving table's
    CHECK (value <= 300) divert to a quarantine table tagged with the
    failed rule instead of wedging the stream, and — like
    stream_txlog_ingest — the whole stream runs to completion TWICE
    (fresh checkpoint = full micro-batch re-delivery), so the oracle's
    exact per-side counts and DECIMAL sums prove BOTH tables commit
    exactly once under replay (the two sides use DISTINCT ledger
    scopes; a double-applied quarantine epoch or a re-appended valid
    batch would break the hash).

    100 TB shape: the split is computed once per epoch (localCheckpoint
    in TxTable.append_with_quarantine), both commits are O(1) log appends over
    staged parquet, and the quarantine side sees only the violating
    trickle. Table + checkpoints live under a ``keyed_dir`` (as in
    stream_trending_topk), so bench/driver re-runs REUSE the committed
    tables (query-level idempotence on top of per-batch idempotence)."""
    import os

    from iot_etl_spark.plans.stagecache import keyed_dir
    from iot_etl_spark.streaming import pipeline as _pl
    from iot_etl_spark.streaming.pipeline import start_txlog_quarantine_sink
    from iot_etl_spark.warehouse.txlog import TxTable

    with keyed_dir(
        "txs_quar", sf_dir, ("events",),
        (
            stream_quarantine_ingest,
            _pl.start_txlog_quarantine_sink,
            TxTable.append_with_quarantine,
            _pl.read_stream_source,
            _pl.normalize_timestamps,
        ),
    ) as (d, _):
        t = TxTable(os.path.join(d, "tx"))
        dlq = TxTable(os.path.join(d, "dlq"))
        if "value_le_300" not in t.constraints():
            t.add_constraint(spark, "value_le_300", "value <= 300")
        src = read_stream_source(
            spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet"
        )
        proj = src.filter(F.col("value").isNotNull()).select(
            "event_id", "event_type", "value"
        )
        for i in range(2):  # run 2 = full replay (fresh checkpoint, same ids)
            q = start_txlog_quarantine_sink(
                proj, t, dlq, os.path.join(d, f"ck{i}"),
                trigger_seconds=1, ledger_id="quar_ingest",
            )
            q.processAllAvailable()
            if q.exception() is not None:
                raise q.exception()
            q.stop()

    def summarize(table, side):
        return table.read(spark).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6
            ).alias("sum_value"),
        ).select(F.lit(side).alias("side"), "event_type", "n_rows", "sum_value")

    return summarize(t, "main").unionAll(summarize(dlq, "quarantine"))


# ----------------------------- chained two-level streaming aggregation
# Spark 3.5+ CHAINED time-window aggregations (SPARK-40925, multiple
# stateful operators in one streaming query): hour windows aggregate
# into day windows without leaving the stream. Append mode is the
# only supported output for chained stateful ops, so emission is
# watermark-driven: after the data drains, the watermark sits at
# max(ts) - delay, and exactly the day windows whose END <= that
# watermark have flushed through BOTH levels. The oracle applies the
# identical cutoff to the batch two-level rollup; hours inside an
# emitted day are all closed by construction (hour_end <= day_end).
TWO_LEVEL_WM_S = 3600

_TWO_LEVEL_ORACLE = f"""
WITH m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events),
h AS (
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS sv
    FROM events GROUP BY 1, 2
),
d AS (
    SELECT date_trunc('day', hr) AS day, event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           SUM(sv) AS sum_value
    FROM h GROUP BY 1, 2
)
SELECT epoch_us(day) // 1000000 AS day_epoch, event_type,
       n_events, n_hours,
       ROUND(CAST(sum_value AS DOUBLE), 6) AS sum_value
FROM d, m
WHERE day + INTERVAL 1 DAY <= mx - INTERVAL {TWO_LEVEL_WM_S} SECONDS
"""


@query("stream_two_level_agg", oracle=_TWO_LEVEL_ORACLE)
def stream_two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED two-level streaming aggregation (Spark 3.5's multiple-
    stateful-operator support, SPARK-40925): hourly (window, type)
    counts/sums re-aggregate into daily rollups INSIDE one streaming
    query — the streaming twin of the reference's hourly->daily
    continuous-aggregate ladder (create_dwh_schema.sql:142-209), which
    TimescaleDB refreshes as two separate materialized views; here the
    day level consumes the hour level's append stream directly, no
    intermediate table.

    Emission semantics (the part worth testing): append mode is
    mandatory for chained stateful ops, so a day row exists iff the
    watermark (max event time - {TWO_LEVEL_WM_S}s) passed the day's
    end — the oracle cuts the batch rollup at the same boundary. The
    n_hours column proves the re-aggregation really ran per-hour
    first (count of distinct non-empty hours, not of events).

    100 TB shape: two cascaded keyed state stores, each
    watermark-evicted (hour state lives ~1h + delay, day state ~1 day
    + delay); the hour level's partial aggregation is the map-side
    combine of the day level. Value sums accumulate in DECIMAL(18,2)
    exactly; the one double conversion happens at readout."""
    src = read_stream_source(
        spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet"
    )
    hourly = (
        src.withWatermark("ts", f"{TWO_LEVEL_WM_S} seconds")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        )
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("window"), "1 day"), "event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("sv").alias("sum_value"),
        )
    )
    _, out = run_stream_to_memory(daily, output_mode="append")
    return out.select(
        F.unix_timestamp("window.start").cast("long").alias("day_epoch"),
        "event_type", "n_events", "n_hours",
        F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
    )


# ------------------------- chained dedup -> aggregation (exactly-once metrics)
# The second supported multi-stateful combination (next to
# stream_two_level_agg's agg->agg): watermarked native
# dropDuplicatesWithinWatermark feeding a tumbling aggregate in ONE
# streaming query — the "metrics over an at-least-once wire" pattern
# (Kafka redelivery duplicates must not inflate counts). The input is
# made GENUINELY duplicated by unioning two readers of the same
# source (every event arrives exactly twice), so the dedup operator
# is load-bearing: remove it and every count doubles, which the
# oracle (single-copy batch counts) would hash-fail.
DEDUP_AGG_WM_S = 3600

_DEDUP_AGG_ORACLE = f"""
WITH m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events),
h AS (
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
)
SELECT epoch_us(hr) // 1000000 AS hour_epoch, event_type, n_events
FROM h, m
WHERE hr + INTERVAL 1 HOUR <= mx - INTERVAL {DEDUP_AGG_WM_S} SECONDS
"""


@query("stream_dedup_then_agg", oracle=_DEDUP_AGG_ORACLE)
def stream_dedup_then_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED dedup -> aggregation in one streaming query (Spark 3.5
    multiple stateful operators, the combination next to
    stream_two_level_agg's agg->agg): native
    ``dropDuplicatesWithinWatermark`` on event_id feeding an hourly
    tumbling count, append mode. The input stream is the events
    source UNIONED WITH ITSELF, so every event arrives exactly twice
    — the at-least-once wire made literal. The oracle is the
    single-copy batch rollup (watermark tail cut on the hour
    windows): if the dedup state ever misses or double-passes a
    redelivery, every downstream count inflates and the hash fails —
    the exactly-once-metrics contract checked end to end.

    100 TB shape: two cascaded key-hashed state stores — dedup keeps
    one marker per event_id inside the watermark horizon (the TTL
    bound: state is O(events per horizon), not O(all history)); the
    aggregate keeps one row per open (hour, type) window. Both evict
    on the same watermark clock. Reference parity: the reference's
    restart story relies on the target table's PRIMARY KEY to absorb
    redelivery (create_stream_tables.sql:19-23, SURVEY §2.9 T8); this
    moves the dedup INTO the engine where it bounds state and feeds
    exact metrics."""
    events_path = f"{sf_dir.rstrip('/')}/events.parquet"
    s1 = read_stream_source(spark, "parquet", path=events_path)
    s2 = read_stream_source(spark, "parquet", path=events_path)
    dd = (
        s1.unionAll(s2)
        .withWatermark("ts", f"{DEDUP_AGG_WM_S} seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = dd.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    _, out = run_stream_to_memory(agg, output_mode="append")
    return out.select(
        F.unix_timestamp("window.start").cast("long").alias("hour_epoch"),
        "event_type", "n_events",
    )


# ---------------------- chained interval join -> daily aggregation
# The THIRD supported multi-stateful combination (agg->agg:
# stream_two_level_agg; dedup->agg: stream_dedup_then_agg; now
# join->agg): the purchase-click interval join's pair stream feeds a
# per-(day, user) attribution count without leaving the query. Inner
# interval pairs emit eagerly (exact batch-join membership); the DAY
# rows emit when the join-DELAYED output watermark passes the day
# end, so the batch-equivalence boundary needs the same slack budget
# as the full-outer reconcile: cut = watermark 4h + join window +
# 8h drain slack, applied as a POST-FILTER on the emitted rows AND
# identically in the oracle (the emitted superset covers the cut as
# long as drain lag < 8h, the measured FO bound).
JOIN_AGG_CUT_S = 4 * 3600 + ATTRIBUTION_WINDOW_S + 8 * 3600

_JOIN_AGG_ORACLE = f"""
WITH m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events),
p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'purchase'),
c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'click'),
pairs AS (
    SELECT p.user_id, date_trunc('day', p.ts) AS day
    FROM p JOIN c ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS
)
SELECT epoch_us(day) // 1000000 AS day_epoch, user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs, m
WHERE day + INTERVAL 1 DAY <= mx - INTERVAL {JOIN_AGG_CUT_S} SECONDS
GROUP BY 1, 2
"""


@query("stream_join_then_agg", oracle=_JOIN_AGG_ORACLE)
def stream_join_then_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stream-stream interval join -> daily aggregation in ONE
    streaming query — completing the multi-stateful matrix
    (agg->agg, dedup->agg, join->agg): every click within 2h before a
    same-user purchase pairs in the watermarked join, and the pair
    stream rolls straight into per-(day, user) attribution counts
    with no intermediate sink (the two-hop pipeline
    stream_interval_join + a batch rollup used to require).

    Emission: inner pairs emit eagerly; a day row flushes when the
    JOIN-DELAYED watermark (input watermark minus the join's state
    bound) passes the day end. The batch boundary is therefore the
    conservative cut above, POST-FILTERED on the emitted rows and
    applied identically in the oracle — correct whenever the drained
    watermark lags under the 8h slack (the stream_full_outer_reconcile
    margin analysis, measured lag <= 3.9h).

    100 TB shape: two cascaded stores — join state evicted past
    watermark + window per side, day-window state one row per open
    (day, user); the join's pair stream is the aggregate's map-side
    input, never materialized. Reference parity: SURVEY §2.9 lists
    stream-stream joins AND chained stateful ops as absent."""
    from iot_etl_spark.streaming.joins import interval_join
    from iot_etl_spark.sources.tables import load_table

    events_path = f"{sf_dir.rstrip('/')}/events.parquet"
    purchases = (
        read_stream_source(spark, "parquet", path=events_path)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("on_key"), F.col("ts").alias("purchase_ts"))
    )
    clicks = (
        read_stream_source(spark, "parquet", path=events_path)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("on_key"), F.col("ts").alias("click_ts"))
    )
    joined = interval_join(
        purchases, clicks, on="on_key",
        window_seconds=ATTRIBUTION_WINDOW_S,
        left_ts="purchase_ts", right_ts="click_ts",
        how="inner",
    )
    agg = joined.groupBy(
        F.window("purchase_ts", "1 day"), "on_key"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    _, out = run_stream_to_memory(
        agg, output_mode="append", width=STREAM_JOIN_PARTITIONS
    )
    bound = load_table(spark, sf_dir, "events").agg(
        (F.max("ts") - F.expr(f"INTERVAL {JOIN_AGG_CUT_S} SECONDS")).alias("cutoff")
    )
    return (
        out.crossJoin(F.broadcast(bound))
        .filter(F.col("window.end") <= F.col("cutoff"))
        .select(
            F.unix_timestamp("window.start").cast("long").alias("day_epoch"),
            F.col("on_key").cast("long").alias("user_id"),
            "n_pairs",
        )
    )

# ------------------- chained session-window -> daily aggregation
# The FOURTH multi-stateful combination (agg->agg:
# stream_two_level_agg; dedup->agg: stream_dedup_then_agg; join->agg:
# stream_join_then_agg; now session->agg): data-driven session
# windows feeding a fixed daily rollup in ONE streaming query — the
# "daily engagement from live sessions" pattern, where the first
# stateful level has no fixed extent at all.
SESSION_AGG_WM_S = 3600
SESSION_AGG_GAP_MIN = 30

_SESSION_AGG_ORACLE = f"""
WITH m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events),
t AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(ROUND(value * 100) AS BIGINT) AS vq
    FROM events
),
mk AS (
    SELECT user_id, ts, vq,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL {SESSION_AGG_GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM t
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
    SELECT user_id, ts, vq,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_seq
    FROM mk
),
sess AS (
    SELECT user_id,
           MIN(ts) AS s_start,
           MAX(ts) + INTERVAL {SESSION_AGG_GAP_MIN} MINUTE AS s_end,
           CAST(COUNT(*) AS BIGINT) AS n_ev,
           CAST(SUM(vq) AS BIGINT) AS sv
    FROM s GROUP BY user_id, sess_seq
),
d AS (
    SELECT date_trunc('day', s_end - INTERVAL 1 MICROSECOND) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(SUM(sv) AS BIGINT) AS sum_cents,
           CAST(SUM(epoch_us(s_end) - epoch_us(s_start)) AS BIGINT) AS dur_us
    FROM sess GROUP BY 1
)
SELECT epoch_us(day) // 1000000 AS day_epoch, n_sessions, n_events,
       ROUND(CAST(sum_cents AS DOUBLE) / 100, 6) AS sum_value,
       ROUND(CAST(dur_us AS DOUBLE) / 1e6 / n_sessions, 6)
           AS avg_session_seconds
FROM d, m
WHERE day + INTERVAL 1 DAY <= mx - INTERVAL {SESSION_AGG_WM_S} SECONDS
"""


@query("stream_session_then_agg", oracle=_SESSION_AGG_ORACLE)
def stream_session_then_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED session-window -> daily aggregation in one streaming
    query — the FOURTH and final cell of the multi-stateful matrix
    (agg->agg, dedup->agg, join->agg, session->agg): per-user
    {SESSION_AGG_GAP_MIN}-minute-gap session windows (data-driven
    extent, state merges windows as events arrive) feed a fixed daily
    rollup of session counts, event counts, value, and mean session
    duration, append mode. A session lands in the day containing its
    event-time END (window_time = end − 1µs, the chained-window
    convention); a day emits iff the watermark (max event time −
    {SESSION_AGG_WM_S}s) passed its end — every session in an emitted
    day is closed by construction (session_end ≤ day_end ≤ watermark).
    The oracle is the batch gaps-and-islands sessionization under the
    identical cutoff, so BOTH the engine's session-merge semantics and
    the two-level emission contract are hash-checked.

    100 TB shape: level-1 state is one open session per active user
    (a hot user widens one session, never accumulates windows),
    level-2 one row per open day; both evict on the same watermark
    clock. Value sums ride exact cents; durations exact micros.
    Reference parity: the reference sessionizes in batch SQL only
    (SURVEY §2 W-family); this is the streaming twin of
    session_stats feeding the daily ladder."""
    src = read_stream_source(
        spark, "parquet", path=f"{sf_dir.rstrip('/')}/events.parquet"
    )
    sess = (
        src.withWatermark("ts", f"{SESSION_AGG_WM_S} seconds")
        .groupBy(
            F.session_window("ts", f"{SESSION_AGG_GAP_MIN} minutes"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("sv"),
            (
                F.unix_micros("session_window.end")
                - F.unix_micros("session_window.start")
            ).alias("dur_us"),
        )
    )
    daily = (
        sess.groupBy(F.window(F.window_time("session_window"), "1 day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_ev").cast("long").alias("n_events"),
            F.sum("sv").cast("long").alias("sum_cents"),
            F.sum("dur_us").cast("long").alias("dur_us"),
        )
    )
    _, out = run_stream_to_memory(daily, output_mode="append")
    return out.select(
        F.unix_timestamp("window.start").cast("long").alias("day_epoch"),
        "n_sessions", "n_events",
        F.round(F.col("sum_cents").cast("double") / 100, 6).alias("sum_value"),
        F.round(
            F.col("dur_us").cast("double") / 1e6 / F.col("n_sessions"), 6
        ).alias("avg_session_seconds"),
    )
