"""Dimension-enrichment joins.

Reference: ``batch_etl/spark_transform.py:33-92`` — three left outer
equi-joins (fact<-devices, <-device_types, <-locations), each preceded
by a hand-written column prune. Enrichment must not drop fact rows,
hence left outer.

Spark-first: the prune is kept only as a schema contract (Catalyst's
ColumnPruning does the real work); small dimensions are explicitly
``F.broadcast``-hinted so the fact side never shuffles — at 100 TB the
fact table is the thing you cannot afford to move, and every reference
dimension (devices/types/locations; here customer/nation/region) is
broadcast-size.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def enrich_left_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    select_cols: Sequence[str] | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    if select_cols is not None:
        dim = dim.select(*select_cols)
    if broadcast_dim:
        dim = F.broadcast(dim)
    return fact.join(dim, on=on, how="left")
