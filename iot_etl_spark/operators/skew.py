"""Skew-aware aggregation helpers for the 100 TB path.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
session.py) handles sort-merge skew at runtime; these helpers cover the
case AQE cannot: hot-key *aggregations* (a single device/user key that
overwhelms one reducer). The fix is classic salting: spread a hot key
over N sub-keys, combine at the end.

The reference never needed this (5 devices, single node) — at 1000
executors a top-heavy device or a null-heavy join key is the #1 cause
of straggler stages, so the engine ships the pattern as a first-class
operator with tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, functions as F


def add_salt(df: DataFrame, buckets: int, col_name: str = "_salt") -> DataFrame:
    """Uniform salt from ``monotonically_increasing_id``: stable only
    WITHIN one materialization — the id encodes partition layout, so a
    stage retry or recomputation can assign rows different salts.
    Downstream results are still correct (the salt cancels out in the
    final combine / drop), but do NOT persist the salt column or key
    anything durable on it. For a salt that is stable across replays,
    hash stable payload columns instead:
    ``F.pmod(F.xxhash64(*key_cols), F.lit(buckets))`` — with the
    caveat that identical rows then share a bucket, which defeats
    salting exactly when one key value dominates."""
    return df.withColumn(
        col_name, F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(buckets))
    )


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: list[Column],
    final_aggs: list[Column],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for hot keys: partial aggregate on
    (keys + salt) — spreading one hot key over ``buckets`` reducers —
    then final combine on the true keys. ``aggs`` are the partial
    (per-salt) aggregates; ``final_aggs`` re-combine their outputs
    (e.g. partial ``sum(x) AS s`` then final ``sum(s)``). This is what
    map-side combine already does for algebraic aggregates — the
    explicit form exists for aggregates whose partial state is itself
    a column (collect/percentile-style) or when the combiner needs
    custom logic."""
    salted = add_salt(df, buckets)
    partial = salted.groupBy(*keys, "_salt").agg(*aggs)
    return partial.groupBy(*keys).agg(*final_aggs)
