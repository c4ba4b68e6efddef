"""MERGE INTO over the transaction-log table — the Delta/Iceberg
upsert statement expressed as one snapshot read + one declarative
full-outer join + one atomic commit.

Semantics (the three standard clauses, key-equality match):

- ``WHEN MATCHED [AND cond] THEN UPDATE``: the source row's values
  replace the target row's (update-all form; a condition gates which
  matches update — ungated matches keep the target row).
- ``WHEN MATCHED AND cond THEN DELETE``: matched target rows
  satisfying the delete condition drop. Delete is checked BEFORE
  update, like Delta evaluates clauses in order.
- ``WHEN NOT MATCHED THEN INSERT``: source rows with no target match
  insert (update-all column mapping).

Like Delta, a source with DUPLICATE match keys is rejected: two
source rows matching one target row makes the merge ambiguous
(``ValueError``), checked with one aggregate before any write.

ACID: the new table state commits through ``TxTable.overwrite`` —
one atomic log entry; a concurrent winning commit makes the merge
RAISE (serializable, no lost updates) and the pre-merge version
stays readable via time travel until vacuum.

100 TB note: this rewrites the full snapshot — correct but pessimal
when merges touch few files. The production refinement (same public
shape) joins the source keys against per-file min/max key stats,
rewrites only files with potential matches, and commits added+removed
in the same single log entry. File pruning changes the I/O, not the
semantics below.

Reference parity: the reference only ever overwrite-loads dimensions
(``etl/spark_load.py``) — it has no matched/not-matched routing at
all; this covers the in-place upsert statement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from iot_etl_spark.streaming.pipeline import _start_foreach_batch
from iot_etl_spark.warehouse.txlog import TxTable


def merge_into(
    spark: SparkSession,
    table: TxTable,
    source: DataFrame,
    on: list[str],
    *,
    update: bool = True,
    update_condition: Column | str | None = None,
    delete_condition: Column | str | None = None,
    insert: bool = True,
) -> int:
    """Run the merge and return the committed version.

    ``update_condition`` / ``delete_condition`` are evaluated on the
    matched pair with source columns visible as ``src_<name>`` and
    target columns under their own names.
    """
    target = table.read(spark)
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} != "
            f"target columns {sorted(target.columns)}"
        )
    for k in on:
        if k not in source.columns:
            raise ValueError(f"merge key {k!r} not in source")

    dup = (
        source.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "ambiguous merge: source has duplicate rows per match key"
        )

    payload = [c for c in target.columns if c not in on]
    # presence markers, not key-nullness: NULL match keys stay honest
    src = source.select(
        *[F.col(k).alias(f"src_{k}") for k in on],
        *[F.col(c).alias(f"src_{c}") for c in payload],
        F.lit(True).alias("_s_present"),
    )
    tgt = target.withColumn("_t_present", F.lit(True))
    cond = None
    for k in on:
        term = F.col(k).eqNullSafe(F.col(f"src_{k}"))
        cond = term if cond is None else cond & term
    joined = tgt.join(src, cond, "full_outer")

    matched = (
        F.col("_t_present").isNotNull() & F.col("_s_present").isNotNull()
    )
    src_only = F.col("_t_present").isNull()

    upd = F.lit(update)
    if update_condition is not None:
        upd = upd & (
            F.expr(update_condition)
            if isinstance(update_condition, str)
            else update_condition
        )
    dele = F.lit(delete_condition is not None)
    if delete_condition is not None:
        dele = dele & (
            F.expr(delete_condition)
            if isinstance(delete_condition, str)
            else delete_condition
        )

    keep = ~(matched & dele) & ~(src_only & F.lit(not insert))
    out_cols = []
    for c in on + payload:
        out_cols.append(
            F.when(matched & ~dele & upd, F.col(f"src_{c}"))
            .when(src_only, F.col(f"src_{c}"))
            .otherwise(F.col(c))
            .alias(c)
        )
    result = joined.filter(keep).select(*out_cols)
    return table.overwrite(result)


# ------------------------------------------------- streaming CDC apply
def apply_cdc_batch(
    spark: SparkSession,
    table: TxTable,
    batch: DataFrame,
    on: list[str],
    *,
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """Apply one CHANGE-DATA-CAPTURE batch (rows carry ``op_col`` in
    {{'I','U','D'}} and a monotonic ``seq_col``) to a transactional
    table through MERGE semantics:

    1. Collapse to the LATEST op per key (row_number over seq DESC —
       a batch containing insert-then-delete of the same key must net
       to the delete, exactly like Delta's CDF apply recipe).
    2. Upserts (I/U) merge as WHEN MATCHED UPDATE / NOT MATCHED INSERT.
    3. Deletes merge as WHEN MATCHED DELETE (insert=False — a delete
       for an absent key is a no-op, not an error).

    Two commits per batch worst-case; each is atomic and
    snapshot-isolated, so readers never observe a half-applied batch
    between them beyond the documented upserts-then-deletes order."""
    w = Window.partitionBy(*on).orderBy(F.col(seq_col).desc())
    latest = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    latest = latest.cache()  # two consumers below; tiny (one row/key)
    try:
        payload_cols = [c for c in latest.columns if c not in (seq_col, op_col)]
        ups = latest.filter(F.col(op_col).isin("I", "U")).select(*payload_cols)
        if ups.limit(1).count():
            merge_into(spark, table, ups, on, update=True, insert=True)
        dels = latest.filter(F.col(op_col) == "D").select(*payload_cols)
        if dels.limit(1).count():
            merge_into(
                spark, table, dels, on,
                update=False, delete_condition=F.lit(True), insert=False,
            )
    finally:
        latest.unpersist()


def start_cdc_merge_sink(
    df: DataFrame,
    table: TxTable,
    checkpoint: str,
    on: list[str],
    *,
    seq_col: str = "seq",
    op_col: str = "op",
    trigger_seconds: int = 1,
):
    """Streaming CDC APPLY: drain a change stream into a transactional
    table via foreachBatch + MERGE — the streaming half of MERGE INTO
    (reference parity: none; the Delta/Iceberg CDC-apply shape). The
    guarantee is at-least-once delivery with IDEMPOTENT-EFFECT
    application: replaying a batch re-runs the same last-op-per-key
    merges against the already-merged table, which is a fixed point
    (same upserts overwrite with identical payloads, same deletes
    find nothing). Cross-batch ordering is the file source's
    append order, per-key ordering inside a batch is ``seq_col``."""

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        apply_cdc_batch(
            bdf.sparkSession, table, bdf, on, seq_col=seq_col, op_col=op_col
        )

    return _start_foreach_batch(df, apply_batch, checkpoint, trigger_seconds)
