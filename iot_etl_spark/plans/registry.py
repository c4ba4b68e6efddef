"""Query registry: name -> Spark builder + optional DuckDB oracle SQL.

Conventions that keep the Spark result and the oracle hash-identical
(SURVEY.md §7.3):

- **Timestamps leave the engine as epoch seconds** (BIGINT). The events
  table is nanosecond parquet: Spark reads it truncated to microseconds
  (sources/tables.py) and the oracle always compares/sorts on
  ``CAST(ts AS TIMESTAMP)`` (same truncation), never raw ns.
- **Computed doubles are ROUND(x, 6) on both sides** (the reference
  rounds pervasively too, ``analytical_queries.sql:18-21``, at scale 2
  — scale 6 avoids the decimal ties where Spark's HALF_UP and DuckDB's
  binary rounding disagree). Raw pass-through doubles are bit-identical
  and stay unrounded. ``round_signed`` keeps DuckDB's -0.0 where a
  value rounds to zero from below (Spark's ROUND gives +0.0).
- **Every ORDER BY feeding a LIMIT carries a deterministic tiebreak.**
- Spark ``dayofweek`` is 1=Sunday; DuckDB is 0=Sunday — weekend tests
  are written per-dialect (``isin(1,7)`` vs ``IN (0,6)``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# DuckDB SQL fragments for the ns-timestamp events table.
DUCK_TS = "CAST(ts AS TIMESTAMP)"
DUCK_TS_EPOCH = "epoch_us(CAST(ts AS TIMESTAMP)) // 1000000"


def duck_bucket_epoch(unit: str) -> str:
    return f"epoch_us(date_trunc('{unit}', CAST(ts AS TIMESTAMP))) // 1000000"


def round_signed(col: str) -> Column:
    """``F.round(col, 6)`` that, like DuckDB's ROUND, keeps the sign of
    a value that rounds to zero (Java's ``signum(-0.0)`` is -0.0)."""
    r = F.round(col, 6)
    return F.when(r == 0, F.lit(0.0) * F.signum(col)).otherwise(r)


def query(name: str, oracle: str | None = None):
    """Register a query builder; ``oracle=None`` marks a non-SQL-
    expressible operator (driver records a rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # Registration order is import order, so a repeated name would
        # SILENTLY clobber the earlier query (and its oracle) — caught
        # once in round 8 when a new module re-used session_path_topk.
        # Fail loudly instead; re-registration is never intentional.
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(already registered by {QUERIES[name].__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def spread_scan(df: DataFrame, *cols: str) -> DataFrame:
    """Fan a scan-rooted frame out to the session's shuffle width when
    the scan provides FEWER splits — the guide §2.5 input-skew fix for
    expensive per-row work (pair expansions, edit-distance DP, JSON
    parses, cosine folds) that would otherwise run serially inside one
    scan task: the test tables are single-file/single-row-group
    parquet, so every such stage inherited 1-way parallelism no matter
    the core count. GATED on the actual scan split count, so at
    production split counts (thousands of tasks at 100 TB) it is a
    structural no-op and adds no exchange; when it does fire, the
    explicit width is read from the env-scaled shuffle conf and is
    exempt from AQE coalescing (a bare repartition(col) at these
    frame sizes folds straight back to one partition — measured on
    blocking_link_pairs: no change without the explicit width).

    A failing split-count probe is fatal: the error (an analysis or
    planning error of ``df`` itself) surfaces to the caller instead of
    degrading to the no-op."""
    spark = df.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Probe the split count via the JVM-side internal-row RDD
    # (ADVICE r13): df.rdd additionally builds the Python RDD
    # conversion (serializer setup + javaToPython mapPartitions),
    # measured ~2x the probe cost (and a 1.4 s first-call hit);
    # queryExecution().toRdd() plans the same physical query without
    # the Python conversion layer.
    have = df._jdf.queryExecution().toRdd().getNumPartitions()
    if have >= width:
        return df
    return df.repartition(width, *cols)
