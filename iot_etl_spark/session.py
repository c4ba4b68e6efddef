"""SparkSession factory and runtime configuration guard.

The reference creates its session in ``batch_etl/spark_extract.py:31-51``
(local[*], shuffle.partitions=4, JDBC jars) and
``stream_etl/spark_streaming_consumer.py:60-92``. This engine keeps the
same "one session, tuned shuffle" stance but:

- AQE on (runtime coalesce / skew-join) instead of a fixed partition
  count — at 100 TB the right shuffle width is data-dependent.
- Session timezone pinned to UTC so time features (hour/day-of-week)
  are deterministic regardless of host TZ (SURVEY.md §7.3 item 5).
- ``spark.sql.legacy.parquet.nanosAsLong=true`` so nanosecond-precision
  parquet timestamps (the ``events.ts`` column) are readable; loaders
  convert to microsecond TimestampType explicitly.
- Streaming checkpoints commit through Spark's FileSystem-based
  checkpoint manager, whose rename is one rename(2), instead of the
  FileContext one, which forks ``readlink`` for every renamed file on
  a Hadoop without native code (see the conf's comment for the counts
  and the atomicity argument).

``ensure_runtime_confs(spark)`` applies the *runtime-settable* subset to
an externally-created session (the verify driver constructs its own
SparkSession); every public query entry point calls it defensively.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

# Confs that are session-settable at runtime (all spark.sql.* SQLConfs).
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Allow shuffled hash join where its size conditions hold (guide
    # §3.1): the planner's own guards (one side much smaller, build
    # side under threshold x partitions) keep the choice size-based —
    # so it adapts with data volume, not core count. The AQE rewrite
    # threshold converts a planned sort-merge to shuffled-hash only
    # when EVERY post-shuffle partition is under 64 MB (default 0 =
    # never), so at 100 TB with 256 MB-advisory partitions it simply
    # stops firing. r13 A/B on the iterative graph family: kcore
    # 2.9->2.7, pagerank 2.3->2.1, dedup_threshold_curve 2.3->1.5,
    # lsh_recall_audit 1.3->1.0 s steady; no query slower.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64MB",
    # InferFiltersFromGenerate turns explode(expensive_expr) into a
    # pre-Generate filter that INLINES the generator expression (via
    # project collapse) into size()/isnotnull() checks — the shingle
    # pipeline was re-evaluated ~3x per row with split(text) expanded
    # per lambda reference, an O(words^2) blowup measured at 14x wall
    # time on doc_fingerprint. The inferred filter only skips rows
    # with empty arrays — worthless for our generators, so exclude the
    # rule engine-wide.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # Streaming checkpoint files (offset, source and commit logs, and
    # the HDFS-backed state store, which builds its manager from this
    # same session conf at query start) are written through Hadoop's
    # FileSystem rather than FileContext. Without libhadoop (the
    # pip-installed PySpark has none) the default FileContext manager
    # renames through AbstractFileSystem.rename, which looks up the
    # link status of source and target: RawLocalFileSystem answers by
    # forking `readlink`, twice per renamed file (data file and .crc).
    # JFR over 20 s of the stream_upsert benchmark's timed phase
    # counted 72.5 forked processes per micro-batch, 58 of them
    # readlink; with this manager the two-argument FileSystem.rename
    # is File.renameTo, i.e. rename(2), and 13.8 remain, all chmod.
    #   Atomicity is unchanged. A non-overwriting log write checks
    # that the target does not exist and then renames, under either
    # manager on a local filesystem; rename is atomic on local
    # filesystems and on HDFS. A batch re-run after a failure that
    # came after its state commit meets its own state deltas on disk.
    # Here the manager behaves as it always has on HDFS: `file:`
    # resolves to Hive's ProxyLocalFileSystem, whose two-argument
    # rename onto an existing file returns false, and the manager
    # then keeps the delta the first attempt committed from the same
    # offsets and leaves its temp file behind (the FileContext
    # manager overwrote it). On object stores neither manager renames
    # atomically.
    #   Left: the `chmod` forks, one for every file
    # RawLocalFileSystem.create makes; only libhadoop removes them.
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


# Sessions already guarded this process: each conf.set is a Py4J round
# trip (~0.5-1 ms), and every load_table call guards defensively —
# ~800 calls/bench-pass made the 7-conf loop a measurable slice of the
# sub-second query tail (guide §1: fixed overhead). Nothing in the
# engine or its tests mutates these keys mid-session, so once applied
# to a live session object they stay applied.
_CONFS_APPLIED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    if spark in _CONFS_APPLIED:
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - read-only conf on some builds
            pass
    _CONFS_APPLIED.add(spark)
    return spark


def get_spark(
    app_name: str = "iot_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession.

    Defaults size the shuffle to the local core count rather than
    Spark's 200 — on a real cluster this is overridden per deployment
    and AQE coalesces at runtime anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Janino compiled-class cache (STATIC conf, so it must ride the
        # builder — ensure_runtime_confs can't set it on a foreign
        # session). Default 100 entries thrashes on a many-hundreds-of-
        # queries workload: every re-run re-compiles codegen from
        # scratch. Sized to distinct-plan count, not cores/data, so it
        # is not a local-mode tune. Measured 2x off an 80-query warm
        # pass (bench.py has the A/B numbers).
        .config("spark.sql.codegen.cache.maxEntries", "20000")
        # PySpark call-site capture (STATIC conf, same builder-only
        # rule as above). With it on, every DataFrame/Column API call
        # looks up the active session, reads
        # spark.sql.stackTracesInDataFrameContext and sets and clears
        # the JVM-side origin: 1,130 of the 1,838 Py4J round trips
        # that building the six dashboard plans made. The trade:
        # errors still raise with the same class, error condition and
        # SQLSTATE (an ANSI division by zero is still
        # SparkArithmeticException [DIVIDE_BY_ZERO]); only the Python
        # file:line in the "== DataFrame ==" context is lost, and a
        # JVM frame appears there instead. The setting is per process:
        # PySpark reads it once, from the session active at the first
        # DataFrame/Column call (off if none is), and keeps that
        # answer. So it holds only
        # where this builder makes the process's first session;
        # getOrCreate on a session that already exists (one a host
        # application built) does not apply static confs, and capture
        # stays as that session has it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
