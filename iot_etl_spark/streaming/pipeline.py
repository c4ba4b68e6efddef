"""Structured Streaming pipeline.

Reference: ``stream_etl/spark_streaming_consumer.py`` — Kafka JSON
source (:104-129), derived columns (:131-161), 1-minute tumbling
event-time aggregate (:163-210), foreachBatch JDBC sink with 5 s
processing-time trigger (:212-256), console debug sink (:258-279),
multi-query fan-out + graceful stop (:296-360).

Spark-first deltas (SURVEY.md §2.9):

- **Watermark added** (T3 correction): the reference aggregates in
  update mode with no watermark -> unbounded state. This engine bounds
  state with ``withWatermark`` and documents the late-data drop.
- **Idempotent sink** (T8): the reference relies on a target-table PK
  to absorb at-least-once replays; here ``start_txlog_upsert_sink``
  appends each micro-batch's changed groups to a transaction-log table
  keyed by epoch id, so a replayed micro-batch is recognized and
  skipped, and ``read_upserted`` resolves the latest row per group.
- **Source-agnostic ingest**: the same parse/transform stages run on
  Kafka (prod) or file/rate sources (hermetic tests) — the Kafka DSL
  is behind an option so tests never need a broker.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from iot_etl_spark.schemas import SENSOR_READING_SCHEMA
from iot_etl_spark.session import ensure_runtime_confs
from iot_etl_spark.sources.tables import normalize_timestamps

DEFAULT_TRIGGER_S = 5  # reference STREAM_WINDOW_SECONDS=5 (config.py:121)
DEFAULT_WATERMARK = "2 minutes"

_SINGLETON_DIRS: dict[str, str] = {}

# Streaming-source schema memo (r14, guide §1.2 fixed cost): the file
# source needs an explicit schema, and every read_stream_source call
# paid a driver-side batch footer read (~0.1-0.2 s) to get it — twice
# per two-stream query, for all 23 stream_* queries per bench pass.
# Keyed on (realpath, mtime_ns, size) like the batch loader's plan
# memo, so a regenerated file re-reads its footer. Holds only the
# SCHEMA (a StructType value, no session objects, no data).
_STREAM_SCHEMA_MEMO: dict[tuple, object] = {}


def _stream_source_schema(spark: SparkSession, path: str):
    import os as _os

    # Glob patterns / not-yet-existing paths (test harness dirs) fall
    # back to the plain footer read, unmemoized — the memo only serves
    # the bench/driver shape (a stable directory of real files).
    try:
        real = _os.path.realpath(path)
        files = []
        if _os.path.isdir(real):
            for f in sorted(_os.listdir(real)):
                if not f.startswith(("_", ".")):
                    fp = _os.path.realpath(_os.path.join(real, f))
                    st = _os.stat(fp)
                    files.append((fp, st.st_mtime_ns, st.st_size))
        elif _os.path.isfile(real):
            st = _os.stat(real)
            files.append((real, st.st_mtime_ns, st.st_size))
        else:
            return spark.read.parquet(path).schema
    except OSError:
        return spark.read.parquet(path).schema
    key = tuple(files)
    schema = _STREAM_SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _STREAM_SCHEMA_MEMO[key] = schema
    return schema


# State-store partitions of a stateful streaming query (see
# stream_shuffle_scope). Stream-stream joins get their own, lower
# width: a join runs FOUR state stores per partition (two per side),
# so its per-partition fixed cost is 4x an aggregate's and its sweet
# spot sits lower on the same hardware (r14 A/B at sf0.1: join drains
# 10-15% faster at 4 than 8; 2 is worse; the Python-stateful class
# regresses below 8). In production both widths scale with cluster
# cores; the 4-store multiplier argument is scale-independent.
STREAM_STATE_PARTITIONS = 8
STREAM_JOIN_PARTITIONS = 4


@contextmanager
def stream_shuffle_scope(spark: SparkSession, width: int | None = None):
    """Scope ``spark.sql.shuffle.partitions`` to the streaming state
    size (``width``, default ``STREAM_STATE_PARTITIONS``) for the
    duration of a ``.start()`` call — stateful streaming pins its
    state-store partition count AT QUERY START and AQE never
    re-coalesces it, so an untuned session (Spark default 200) pays
    200 state tasks per micro-batch (measured 4x wall time). The conf
    is restored immediately after start; the caller's batch
    configuration is untouched. The join queries pass
    ``STREAM_JOIN_PARTITIONS``."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(STREAM_STATE_PARTITIONS if width is None else width),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _singleton_dir(file_path: str) -> str:
    """Directory containing a symlink to exactly one parquet file.

    DETERMINISTIC per source path (md5-keyed, not mkdtemp): streaming
    checkpoints record the source's basePath, so a checkpoint kept in a
    ``keyed_dir`` (plans/stagecache.py) and resumed in a LATER PROCESS must resolve the same
    directory or the file source fails with "Wrong basePath". A lost
    creation race with a concurrent process is benign — both build the
    identical symlink."""
    import contextlib
    import hashlib
    import os

    d = _SINGLETON_DIRS.get(file_path)
    if d is None or not os.path.isdir(d):
        real = os.path.realpath(file_path)
        tag = hashlib.md5(real.encode()).hexdigest()[:12]
        d = os.path.join("/tmp", f"iot_etl_stream_src_{tag}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(file_path))
        if not os.path.lexists(link):
            with contextlib.suppress(FileExistsError):
                os.symlink(file_path, link)
        _SINGLETON_DIRS[file_path] = d
    return d


def parse_sensor_json(df: DataFrame, json_col: str = "json_value") -> DataFrame:
    """Decode one JSON sensor reading per row into the canonical frame
    (reference: ``spark_streaming_consumer.py:114-126`` — ``from_json``
    over SENSOR_SCHEMA, then ISO-8601 string -> timestamp cast).

    Shared by the Kafka source (S8/F10/F11) and the hermetic JSON-lines
    file path (the ``stream_json_decode`` oracle query + tests), so the
    wire-decode semantics are exercised without a broker. Malformed
    JSON yields an all-null struct (Spark PERMISSIVE mode), surfacing
    as rows with null device_id/time that the validity gate drops."""
    return (
        df.select(F.from_json(F.col(json_col), SENSOR_READING_SCHEMA).alias("data"))
        .select("data.*")
        # try_cast: an unparseable time string nulls the field instead
        # of killing the stream (ANSI cast throws under Spark 4)
        .withColumn("time", F.col("time").try_cast("timestamp"))
    )


def read_stream_source(
    spark: SparkSession,
    source: str = "parquet",
    path: str | None = None,
    kafka_bootstrap: str | None = None,
    topic: str = "iot-sensor-stream",
    starting_offsets: str = "earliest",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source returning the canonical event frame.

    parquet: file source over the driver testdata (ns ts -> timestamp).
    kafka:   the reference's source (spark_streaming_consumer.py:104-126)
             — JSON value decode via from_json(SENSOR_READING_SCHEMA).
             Requires the Kafka connector jars; gated, never used in tests
             (the parse stage itself IS tested via parse_sensor_json).
    rate:    synthetic benchmark source.
    """
    ensure_runtime_confs(spark)
    if source in ("parquet", "json") and path is None:
        raise ValueError(f"source={source!r} requires an explicit path")
    if source == "parquet":
        # The file source requires a *directory*; when given a single
        # file (the testdata layout puts every table in one dir),
        # expose it through a symlinked scratch dir so sibling tables
        # stay out of the stream.
        if path.endswith(".parquet"):
            path = _singleton_dir(path)
        # The file source needs an explicit schema; take it from a
        # batch footer read (driver-side, no data scan, memoized on
        # file mtime/size) so the stream tracks whatever precision the
        # generator wrote, then normalize timestamps as the batch
        # loader does.
        reader = spark.readStream.schema(_stream_source_schema(spark, path))
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return normalize_timestamps(reader.parquet(path))
    if source == "json":
        # JSON-lines file source through the SAME parse stage as Kafka:
        # read each line as an opaque string, then parse_sensor_json.
        import os

        if os.path.isfile(path):  # file source requires a directory
            path = _singleton_dir(path)
        raw = spark.readStream.text(path).withColumnRenamed("value", "json_value")
        return parse_sensor_json(raw)
    if source == "kafka":  # pragma: no cover - needs broker + jars
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .option("failOnDataLoss", "false")
            .load()
        )
        decoded = raw.selectExpr(
            "CAST(value AS STRING) AS json_value",
            "CAST(key AS STRING) AS kafka_key",
            "timestamp AS kafka_timestamp",
        )
        return parse_sensor_json(decoded)
    if source == "rate":
        return (
            spark.readStream.format("rate").option("rowsPerSecond", "1000").load()
            .select(
                F.col("value").alias("event_id"),
                F.col("timestamp").alias("ts"),
                (F.col("value") % 100).alias("user_id"),
                F.lit("view").alias("event_type"),
                (F.col("value") % 1000).cast("double").alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
        )
    raise ValueError(f"unknown stream source: {source}")


def apply_stream_transforms(df: DataFrame, time_col: str = "ts") -> DataFrame:
    """Derived stream columns (T6, spark_streaming_consumer.py:144-159):
    processing timestamp, validity flag, ingest latency seconds."""
    return (
        df.withColumn("processed_at", F.current_timestamp())
        .withColumn(
            "is_valid_record",
            F.col(time_col).isNotNull() & F.col("value").isNotNull() & (F.col("value") >= 0),
        )
        .withColumn(
            "latency_seconds",
            F.col("processed_at").cast("long") - F.col(time_col).cast("long"),
        )
    )


def windowed_aggregate(
    df: DataFrame,
    window: str = "1 minute",
    watermark: str | None = DEFAULT_WATERMARK,
    time_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Event-time tumbling-window aggregate (T1/A2,
    spark_streaming_consumer.py:176-208) with the watermark the
    reference lacks (T3). Window struct flattened to start/end."""
    if watermark is not None:
        df = df.withWatermark(time_col, watermark)
    agg = (
        df.groupBy(F.window(F.col(time_col), window), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            # exact decimal accumulation: a double SUM is order-
            # dependent in its last ulp, flipping ROUND(,6) on boundary
            # cells at sf0.1 window sizes (readings are 2-decimal data,
            # so the cast is lossless)
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             / F.count("value")).alias("avg_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.round(F.stddev("value"), 6).alias("stddev_value"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("anomaly_count"),
        )
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *key_cols,
        "reading_count", "avg_value", "min_value", "max_value",
        "stddev_value", "anomaly_count",
    )


def dedup_stream(
    df: DataFrame,
    keys: tuple[str, ...],
    time_col: str = "ts",
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked streaming deduplication: at most one row per
    (``*keys``, event-time window) survives. The window column carries
    event-time metadata, so the state store drops a window's seen-keys
    set once the watermark passes its end — state is bounded by
    |keys| x (watermark / window) regardless of stream length. This is
    the streaming twin of DISTINCT (SURVEY §2.5); rows flow through
    append-mode immediately (dedup is not an aggregation), the
    watermark only governs state expiry."""
    out = df.withWatermark(time_col, watermark)
    if "window" not in out.columns:
        out = out.withColumn("window", F.window(time_col, window))
    return out.dropDuplicates([*keys, "window"])


def dedup_stream_within_watermark(
    df: DataFrame,
    keys: tuple[str, ...],
    time_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming dedup on BARE keys via Spark's native
    ``dropDuplicatesWithinWatermark`` (3.5+): the first row per key
    wins and its state entry lives until the watermark passes that
    row's event time + ``delay`` — no bucketing column in the key, so
    two duplicates in DIFFERENT hours still collapse (the case
    ``dedup_stream``'s (keys, window) identity deliberately keeps).

    The contract is the dual of ``dedup_stream``: there, the window
    column makes dedup-identity time-bucketed and state drops with the
    bucket; here, identity is the raw key and ``delay`` is a TTL —
    duplicates farther apart in event time than ``delay`` may BOTH
    survive. At 100 TB the operator is safe exactly when ``delay``
    matches the real duplicate horizon (a replayed producer retries
    within minutes, not days); state is O(|distinct keys seen within
    the horizon|)."""
    return df.withWatermark(time_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def _start_foreach_batch(
    df: DataFrame, write_batch, checkpoint: str, trigger_seconds: int,
    output_mode: str = "append",
):
    """Start ``df`` into ``write_batch(batch_df, batch_id)`` through
    foreachBatch, with ``checkpoint`` and a processing-time trigger of
    ``trigger_seconds``: the one starter of every sink that commits
    micro-batches to a transactional table."""
    return (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(lambda batch_df, epoch_id: write_batch(batch_df, int(epoch_id)))
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def start_txlog_sink(
    df: DataFrame,
    table,
    checkpoint: str,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    ledger_id: str | None = None,
):
    """Exactly-once streaming append into a transactional table
    (warehouse/txlog.py): foreachBatch delivers each micro-batch with
    its epoch id, and ``TxTable.append_batch`` commits atomically
    keyed by (ledger scope, epoch id) — a re-delivered batch (restart
    between sink write and checkpoint commit, the classic
    at-least-once window) is recognized in the table's own log and
    skipped. Readers never see a partial batch (files are invisible
    until the log commit) and never see a batch twice: end-to-end
    exactly-once without a table-format dependency.

    ``ledger_id`` picks the dedup scope. Spark's epoch-id contract
    guarantees identical batch contents only WITHIN one checkpoint
    lineage — share a scope across checkpoints only when the
    source->batch mapping is deterministic (same finite source, same
    boundaries: the replay-proof harness shape); in production, scope
    to the checkpoint/query id so a restarted stream with new batch
    boundaries is never silently skipped (see
    TxTable.append_batch for the full contract).

    ``table``: a ``TxTable`` (duck-typed to avoid a hard import in
    the streaming module)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.append_batch(batch_df, batch_id, ledger_id=ledger_id)

    return _start_foreach_batch(df, write_batch, checkpoint, trigger_seconds)


def start_txlog_quarantine_sink(
    df: DataFrame,
    table,
    quarantine,
    checkpoint: str,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    ledger_id: str | None = None,
):
    """Exactly-once streaming append with CHECK-violation DLQ routing:
    rows failing ``table``'s CHECK constraints divert to ``quarantine``
    (tagged with the failed rule names) instead of failing the epoch,
    so a PERSISTENT bad-data condition cannot wedge the stream the way
    a plain constrained append would (every replay re-failing on the
    same rows). Each epoch goes through
    ``TxTable.append_with_quarantine`` with its epoch id: both sides
    commit through the (ledger, batch) idempotence ledger under
    distinct scopes, and the split is computed once per epoch (see
    that method for the replay and crash contract)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.append_with_quarantine(batch_df, quarantine, batch_id, ledger_id)

    return _start_foreach_batch(df, write_batch, checkpoint, trigger_seconds)


UPSERT_SEQ_COL = "_upsert_seq"


def start_txlog_upsert_sink(
    df: DataFrame,
    table,
    checkpoint: str,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    ledger_id: str | None = None,
):
    """Update-mode upsert as APPEND + read-side latest-per-key (T8):
    the engine's one streaming upsert path (the reference's PK upsert,
    create_stream_tables.sql:19-23).

    Each micro-batch's changed groups are appended to the
    transactional table with the epoch id stamped in ``_upsert_seq``;
    the current value of every key is resolved at read time by
    ``read_upserted`` (highest-seq row wins). Sink I/O is therefore
    O(1) per micro-batch — one staged parquet file + one atomic log
    commit — regardless of how many groups changed, and the
    append_batch ledger upgrades replays to exactly-once. Nothing
    compacts automatically: the caller runs the table's OPTIMIZE, and
    superseded versions age out via vacuum. With a real table format
    the same contract is a MERGE on the group key; this is the
    log-structured emulation (write-cheap, read resolves), the
    standard LSM/CDC trade."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        v = table.append_batch(
            batch_df.withColumn(UPSERT_SEQ_COL, F.lit(batch_id)),
            batch_id,
            ledger_id=ledger_id,
        )
        if v is None:
            # replay recognized BEFORE staging: the batch DataFrame was
            # never executed, but a stateful upstream (this sink's whole
            # point is update-mode aggregates) requires every state-store
            # partition to commit each batch — drain through the noop
            # sink (full computation, zero I/O) or Spark fails the query
            # with STATE_STORE_COMMIT_VALIDATION_FAILED.
            batch_df.write.format("noop").mode("overwrite").save()

    return _start_foreach_batch(
        df, write_batch, checkpoint, trigger_seconds, output_mode="update"
    )


def read_upserted(spark: SparkSession, table, key_cols: tuple[str, ...]) -> DataFrame:
    """Resolve a ``start_txlog_upsert_sink`` table to its current
    state: per group key, the row from the LATEST micro-batch wins
    (update-mode re-emits the full aggregate row for a changed group,
    so later strictly supersedes earlier). The serving table's
    cardinality is bounded by keys x batches that touched them:
    already aggregate-sized, never event-sized.

    Two paths, same rows and schema:
    - a snapshot that ``TxTable.read_local`` serves (on-disk bytes
      within ``spark.sql.autoBroadcastJoinThreshold``, the cut-off the
      sink's staging already uses) whose keys are all atomic and not
      floating is resolved in Arrow on the driver and returned as a
      local relation: no Spark job until the caller's action. Floating
      keys take the window because Arrow groups 0.0 and -0.0 apart
      where Spark merges them; Arrow cannot group nested keys;
    - any other snapshot is one window over a scan of the live files.

    Cost: the sink adds one file per commit and nothing here compacts
    them. On the driver path a read costs one footer and one column
    read per live file; the window path pays one scan task per live
    file plus a shuffle. With one 35-row file per commit (``local[2]``
    on 4 vCPUs) a read into the noop sink took 0.12 s at 10 commits
    and 0.21 s at 200 on the driver path, 0.43 s and 1.99 s on the
    window path. Either grows with the number of commits until the
    caller runs ``table.optimize`` or the sink gains its own
    compaction."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    def atomic_keys(schema: T.StructType) -> bool:
        types = {f.name: f.dataType for f in schema.fields}
        return all(
            k in types
            and not isinstance(
                types[k], (T.FloatType, T.DoubleType, T.StructType, T.ArrayType, T.MapType)
            )
            for k in key_cols
        )

    local = table.read_local(spark, accept=atomic_keys)
    if local is not None:
        data, schema = local
        # stable sort by seq, then the last row index per key is the
        # row of its highest seq
        data = data.take(pc.sort_indices(data, [(UPSERT_SEQ_COL, "ascending")]))
        data = data.append_column("_i", pa.array(range(data.num_rows), pa.int64()))
        last = data.group_by(list(key_cols), use_threads=False).aggregate([("_i", "max")])
        data = data.take(last.column("_i_max")).drop_columns(["_i", UPSERT_SEQ_COL])
        return spark.createDataFrame(
            data, T.StructType([f for f in schema.fields if f.name != UPSERT_SEQ_COL])
        )
    w = W.partitionBy(*key_cols).orderBy(F.desc(UPSERT_SEQ_COL))
    return (
        table.read(spark)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", UPSERT_SEQ_COL)
    )


def start_console_sink(df: DataFrame, num_rows: int = 10, truncate: bool = True):
    """Debug console sink (S13, spark_streaming_consumer.py:258-279)."""
    return (
        df.writeStream.outputMode("append")
        .format("console")
        .option("numRows", str(num_rows))
        .option("truncate", str(truncate).lower())
        .start()
    )


def stop_all_queries(spark: SparkSession) -> int:
    """Graceful stop of every active streaming query (reference
    ``stop_all_queries``, spark_streaming_consumer.py:352-360)."""
    qs = list(spark.streams.active)
    for q in qs:
        q.stop()
    for q in qs:
        q.awaitTermination(30)
    return len(qs)


def run_stream_to_memory(
    df: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    width: int | None = None,
) -> tuple[str, DataFrame]:
    """Drive a streaming frame to completion synchronously against an
    in-memory sink (hermetic test/oracle path): processAllAvailable,
    stop, return ``(name, DataFrame)``. State-store partition count
    is scoped via ``stream_shuffle_scope``.

    The returned ``name`` is INFORMATIONAL ONLY (log/debug labels):
    the temp view is dropped before returning (see below), so
    ``spark.table(name)`` / SQL over it no longer resolves — consume
    the rows through the returned DataFrame, which stays valid.

    Why 8 and not the core count: every state-store instance adds
    per-micro-batch fixed cost (task launch, provider open/commit),
    and the hermetic harness processes the whole toy input in ONE
    micro-batch, so instance overhead dominates. Measured at sf0.1
    local[32]: interval join 7.3 s -> 2.7 s, tumbling agg 4.5 s ->
    1.8 s going 32 -> 8. In production sizing is the opposite — state
    partitions must cover the cluster's cores (and RocksDB instances'
    memory), which is why it's an env knob, not a constant."""
    spark = df.sparkSession
    name = name or f"stream_out_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_scope(spark, width=width):
        q = df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Resolve the table into a DataFrame (analysis binds the memory
    # sink's rows into the plan), then DROP the temp view immediately:
    # otherwise every call leaks a fully-materialized stream_out_*
    # table into the catalog for the session's lifetime — round-8's
    # bench warm pass carried ~20 of them into pass 2 and smeared
    # stream_interval_join 3.3x (VERDICT r8 item 1). The returned
    # DataFrame stays valid (the analyzed plan holds the rows); once
    # the caller releases it the rows are GC-able.
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return name, out


def parse_with_dlq(df: DataFrame, json_col: str = "json_value") -> DataFrame:
    """Wire decode that PRESERVES the raw message next to the parsed
    fields and flags undecodable rows — the input stage of the
    dead-letter-queue pattern. A malformed payload (broken JSON or an
    unparseable time) must never kill the stream OR vanish silently:
    it routes to a quarantine sink for replay after a decoder fix."""
    return (
        df.select(
            F.col(json_col).alias("raw_json"),
            F.from_json(F.col(json_col), SENSOR_READING_SCHEMA).alias("data"),
        )
        .select("raw_json", "data.*")
        .withColumn("time", F.col("time").try_cast("timestamp"))
        .withColumn(
            "is_malformed",
            F.col("device_id").isNull() | F.col("time").isNull(),
        )
    )


def run_dlq_split(
    parsed: DataFrame,
    valid_path: str,
    dlq_path: str,
    checkpoint_root: str,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
):
    """Fan the parse stage into a valid sink and a dead-letter sink
    (two independent checkpointed queries off one lineage, the T7
    shape applied to data quality): decoded rows append to
    ``valid_path``; undecodable rows keep their ORIGINAL bytes in
    ``dlq_path`` for later replay. Returns both query handles.

    Scale: the split is a stateless filter per sink — no extra
    shuffle; the DLQ sink sees only the malformed trickle."""
    valid_q = (
        parsed.filter(~F.col("is_malformed"))
        .drop("raw_json", "is_malformed")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", valid_path)
        .option("checkpointLocation", f"{checkpoint_root}/valid")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
    dlq_q = (
        parsed.filter(F.col("is_malformed"))
        .select("raw_json")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", dlq_path)
        .option("checkpointLocation", f"{checkpoint_root}/dlq")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
    return valid_q, dlq_q


def query_progress_summary(query) -> list[dict]:
    """Monitoring surface for a running StreamingQuery — the
    Spark-native analog of the reference's monitoring consumer
    (``stream_etl/kafka_consumer.py``, SURVEY S15): per-micro-batch
    input rows, processing rates, and the event-time watermark, read
    from the engine's own progress telemetry instead of a second
    subscriber re-reading the topic. One dict per retained progress
    event (most recent last)."""
    out = []
    for p in query.recentProgress:
        if p is None:
            continue
        out.append(
            {
                "batch_id": p.get("batchId"),
                "num_input_rows": p.get("numInputRows", 0),
                "input_rows_per_second": p.get("inputRowsPerSecond"),
                "processed_rows_per_second": p.get("processedRowsPerSecond"),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
                "state_rows": sum(
                    (s or {}).get("numRowsTotal", 0)
                    for s in (p.get("stateOperators") or [])
                ),
            }
        )
    return out
