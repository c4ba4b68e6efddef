"""Latest-reading-per-key (Postgres DISTINCT ON rewrite).

Reference: ``warehouse/create_dwh_schema.sql:269-280``
(``v_latest_readings``: ``SELECT DISTINCT ON (device_id) ... ORDER BY
device_id, time DESC``). Canonical Spark rewrite: row_number over a
per-key descending-time window, keep rn=1. A deterministic tiebreak is
added (the Postgres idiom picks an arbitrary row on timestamp ties —
SURVEY.md §7.3 item 4).

Scale note: row_number + filter(rn=1) is one shuffle on the key, and
Spark plans a partial ``WindowGroupLimit`` before it, so each map task
ships at most one row per key. At 100 TB with date-partitioned storage,
pre-filter to recent partitions first so the scan is days, not years.

One ``groupBy(keys).agg(max_by(struct(row), struct(time, tiebreak)))``
gives the same rows (struct ordering puts a NULL field lowest, as
``DESC NULLS LAST`` does) and sorts on the key alone, but builds and
compares a struct per row in a sort aggregate: on the benchmark's
sf0.1-shaped dashboard it lost all 6 interleaved pairs against this
window (``local[2]``), so the window stays.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(time_col).desc(), F.col(tiebreak_col).desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
