"""Data-quality flags and the valid-record gate.

Reference: ``batch_etl/spark_transform.py:184-213`` — null checks,
range checks on value/quality_score, and an ``is_valid_record`` flag
that the fact-table sink filters on (``spark_load.py:100``). The
events stand-in has no quality_score column, so the generic form takes
configurable bounds; the sensor-contract form mirrors the reference
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def add_quality_flags(
    df: DataFrame,
    value_col: str = "value",
    min_value: float | None = 0.0,
    max_value: float | None = None,
    quality_col: str | None = None,
) -> DataFrame:
    v = F.col(value_col)
    has_null = v.isNull()
    invalid = F.lit(False)
    if min_value is not None:
        invalid = invalid | (v < F.lit(min_value))
    if max_value is not None:
        invalid = invalid | (v > F.lit(max_value))
    if quality_col is not None:
        q = F.col(quality_col)
        invalid = invalid | q.isNull() | (q < 0) | (q > 100)
    return (
        df.withColumn("has_null_value", has_null)
        .withColumn("has_invalid_value", F.coalesce(invalid, F.lit(True)))
        .withColumn("is_valid_record", ~(has_null | F.coalesce(invalid, F.lit(True))))
    )


# --------------------------------------------- declarative constraints
#
# Deequ/dbt-tests-style constraint suite: declare WHAT must hold,
# get one violations report frame back. The reference hand-rolls each
# check as an eager count (spark_transform.py:184-213 + the audit
# counts SURVEY §4 flags); here every row-level rule compiles into ONE
# aggregation pass over the table (conditional sums share the scan),
# and uniqueness rides the same pass via count - countDistinct. At
# 100 TB the difference between "a suite of checks" and "a scan per
# check" is the whole game.

from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class Constraint:
    name: str
    kind: str  # not_null | in_range | accepted_values | unique | expression
    params: dict[str, Any] = field(default_factory=dict)


def not_null(col: str) -> Constraint:
    return Constraint(f"not_null_{col}", "not_null", {"col": col})


def in_range(col: str, lo: float | None = None, hi: float | None = None) -> Constraint:
    return Constraint(f"in_range_{col}", "in_range", {"col": col, "lo": lo, "hi": hi})


def accepted_values(col: str, values: list) -> Constraint:
    return Constraint(
        f"accepted_values_{col}", "accepted_values", {"col": col, "values": list(values)}
    )


def unique(*cols: str) -> Constraint:
    return Constraint("unique_" + "_".join(cols), "unique", {"cols": list(cols)})


def expression(name: str, sql_predicate: str) -> Constraint:
    """Violated where the SQL predicate is FALSE (nulls count as
    violations — a predicate that can't evaluate didn't hold)."""
    return Constraint(name, "expression", {"pred": sql_predicate})


def constraint_report(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Evaluate a constraint suite; returns one row per constraint:
    ``constraint, kind, n_rows, n_violations, passed``.

    Row-level + uniqueness rules share a single aggregation (one scan);
    nothing collects driver-side. An empty suite yields an empty frame
    with the same schema."""
    from collections import Counter

    dup = sorted(n for n, k in Counter(c.name for c in constraints).items() if k > 1)
    if dup:
        raise ValueError(f"duplicate constraint names: {dup}")
    aggs: list = [F.count(F.lit(1)).alias("__n_rows")]
    row_rules: list[Constraint] = []
    for c in constraints:
        if c.kind == "not_null":
            viol = F.col(c.params["col"]).isNull()
        elif c.kind == "in_range":
            col, lo, hi = F.col(c.params["col"]), c.params["lo"], c.params["hi"]
            bad = F.lit(False)
            if lo is not None:
                bad = bad | (col < F.lit(lo))
            if hi is not None:
                bad = bad | (col > F.lit(hi))
            viol = col.isNotNull() & bad
        elif c.kind == "accepted_values":
            viol = ~F.col(c.params["col"]).isin(*c.params["values"])
        elif c.kind == "expression":
            viol = ~F.coalesce(F.expr(c.params["pred"]), F.lit(False))
        elif c.kind == "unique":
            # index-based agg alias: constraint names never reach
            # column-reference or SQL-string territory
            aggs.append(
                (
                    F.count(F.lit(1))
                    - F.count_distinct(F.struct(*[F.col(x) for x in c.params["cols"]]))
                ).alias(f"__v_{len(row_rules)}")
            )
            row_rules.append(c)
            continue
        else:
            raise ValueError(f"unknown constraint kind: {c.kind}")
        aggs.append(F.sum(viol.cast("long")).alias(f"__v_{len(row_rules)}"))
        row_rules.append(c)

    if not row_rules:
        return df.sparkSession.createDataFrame(
            [],
            "constraint STRING, kind STRING, n_rows BIGINT, "
            "n_violations BIGINT, passed BOOLEAN",
        )
    one = df.agg(*aggs)
    # melt the single agg row into (constraint, ...) rows JVM-side;
    # typed F.lit expressions, so names need no escaping
    stack_args: list = [F.lit(len(row_rules))]
    for i, c in enumerate(row_rules):
        stack_args += [F.lit(c.name), F.lit(c.kind), F.col(f"__v_{i}")]
    return one.select(
        F.col("__n_rows"),
        F.stack(*stack_args).alias("constraint", "kind", "n_violations"),
    ).select(
        "constraint", "kind",
        F.col("__n_rows").alias("n_rows"),
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )
