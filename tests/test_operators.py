"""Operator unit tests on tiny inline frames (SURVEY.md §5 item 2):
edge semantics the differential tests can't isolate."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from iot_etl_spark.operators.anomaly import add_zscore_anomaly
from iot_etl_spark.operators.enrich import enrich_left_join
from iot_etl_spark.operators.latest import latest_per_key
from iot_etl_spark.operators.quality import add_quality_flags
from iot_etl_spark.operators.rolling import add_rolling_features


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_zscore_stddev_zero_guard(spark):
    # constant values -> stddev 0 -> z must be 0, not NULL/NaN
    # (reference guard at spark_transform.py:168-170)
    df = spark.createDataFrame(
        [(1, 5.0), (1, 5.0), (1, 5.0)], "user_id LONG, value DOUBLE"
    )
    out = add_zscore_anomaly(df).select("z_score", "is_anomaly_zscore").collect()
    assert all(r.z_score == 0.0 for r in out)
    assert not any(r.is_anomaly_zscore for r in out)


def test_left_join_keeps_unmatched_fact_rows(spark):
    # enrichment must not drop readings (spark_transform.py:46-50)
    fact = spark.createDataFrame([(1, 10.0), (99, 20.0)], "user_id LONG, value DOUBLE")
    dim = spark.createDataFrame([(1, "alice")], "user_id LONG, name STRING")
    out = enrich_left_join(fact, dim, on="user_id")
    assert out.count() == 2
    row = out.filter(F.col("user_id") == 99).first()
    assert row.name is None


def test_latest_per_key_tiebreak(spark):
    # duplicate timestamps: highest tiebreak id wins deterministically
    # (SURVEY.md §7.3 item 4 — DISTINCT ON tie hardening)
    t = _ts("2024-01-01T00:00:00")
    df = spark.createDataFrame(
        [(1, t, 100, 1.0), (1, t, 200, 2.0), (2, t, 5, 3.0)],
        "user_id LONG, ts TIMESTAMP, event_id LONG, value DOUBLE",
    )
    out = {r.user_id: r.event_id for r in latest_per_key(df).collect()}
    assert out == {1: 200, 2: 5}


def test_rolling_range_frame_inclusivity(spark):
    # rangeBetween(-300, 0): a row exactly 300s earlier IS in frame,
    # 301s earlier is NOT (frame bounds of spark_transform.py:128)
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 10.0),
        (1, _ts("2024-01-01T00:05:00"), 20.0),   # 300s after first
        (1, _ts("2024-01-01T00:10:01"), 30.0),   # 301s after second
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP, value DOUBLE")
    out = sorted(
        add_rolling_features(df).select("ts", "rolling_avg_5min").collect(),
        key=lambda r: r.ts,
    )
    assert out[0].rolling_avg_5min == 10.0
    assert out[1].rolling_avg_5min == 15.0  # includes the -300s row
    assert out[2].rolling_avg_5min == 30.0  # excludes the -301s row


def test_quality_flags_null_and_range(spark):
    df = spark.createDataFrame(
        [(1, None), (2, -1.0), (3, 5.0)], "id LONG, value DOUBLE"
    )
    out = {r.id: r.is_valid_record for r in add_quality_flags(df).collect()}
    assert out == {1: False, 2: False, 3: True}


def test_broadcast_join_in_plan(spark):
    # dimension joins must broadcast: the fact side may be 100 TB
    fact = spark.range(1000).withColumnRenamed("id", "user_id")
    dim = spark.createDataFrame([(1, "x")], "user_id LONG, name STRING")
    plan = enrich_left_join(fact, dim, on="user_id")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_short_doc_shingles_empty_on_both_engines(spark):
    """Docs under 3 words must yield an EMPTY shingle set. Spark's
    sequence(1, 0) is descending [1, 0] (not empty like DuckDB's
    generate_series), so the guard is a CASE — this pins the parity
    that the testdata (all docs >= 10 words) never exercises."""
    import duckdb
    from pyspark.sql import functions as F
    from iot_etl_spark.plans.queries_text import _shingles_expr, _DUCK_SHINGLES

    texts = ["", "one", "two words", "now three words", "a b c d"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING")
    spark_sets = {
        r.doc_id: sorted(r.s)
        for r in df.select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", F.expr(_shingles_expr()).alias("s"))
        .collect()
    }
    con = duckdb.connect()
    duck_sets = {
        row[0]: sorted(row[1])
        for row in con.execute(
            "SELECT doc_id, " + _DUCK_SHINGLES + " FROM ("
            "SELECT doc_id, string_split(text, ' ') AS ws FROM (VALUES "
            + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
            + ") AS v(doc_id, text))"
        ).fetchall()
    }
    assert spark_sets == duck_sets
    assert spark_sets[0] == [] and spark_sets[2] == []  # < 3 words -> empty
    assert spark_sets[3] == ["now three words"]
    assert spark_sets[4] == ["a b c", "b c d"]


def test_salted_aggregate_matches_plain(spark):
    """Hot-key two-phase aggregation must equal the direct aggregate."""
    from pyspark.sql import functions as F
    from iot_etl_spark.operators.skew import salted_aggregate
    from iot_etl_spark.sources.tables import load_events
    from tests.conftest import SF_DIR

    ev = load_events(spark, SF_DIR)
    direct = {
        (r.event_type,): (r.n, round(r.s, 6), r.mx)
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"), F.max("value").alias("mx"))
        .collect()
    }
    salted = {
        (r.event_type,): (r.n, round(r.s, 6), r.mx)
        for r in salted_aggregate(
            ev,
            keys=["event_type"],
            aggs=[F.count(F.lit(1)).alias("pn"), F.sum("value").alias("ps"),
                  F.max("value").alias("pm")],
            final_aggs=[F.sum("pn").alias("n"), F.sum("ps").alias("s"),
                        F.max("pm").alias("mx")],
            buckets=16,
        ).collect()
    }
    assert salted == direct


def test_planted_anomaly_recall(spark):
    """SURVEY §5 item 4: seeded data with reference-simulator semantics
    (base value + bounded noise; anomalies at 3-5x the variation,
    iot_simulator.py:153-160) — the z-score detector must flag every
    planted row and no normal rows."""
    import random
    import datetime
    from pyspark.sql import functions as F
    from iot_etl_spark.operators.anomaly import add_zscore_anomaly

    rng = random.Random(42)
    base, variation = 22.0, 0.5
    rows, planted = [], set()
    for dev in (1, 2, 3):
        for i in range(300):
            eid = dev * 1000 + i
            ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=60 * i)
            if i in (50, 150):  # planted anomalies, 3-5x variation away
                v = base + rng.uniform(3, 5) * variation * 10
                planted.add(eid)
            else:
                v = base + rng.uniform(-variation, variation)
            rows.append((eid, dev, ts, v))
    df = spark.createDataFrame(rows, "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE")
    flagged = {
        r.event_id
        for r in add_zscore_anomaly(df, key_cols=("user_id",))
        .filter(F.col("is_anomaly_zscore")).collect()
    }
    assert flagged == planted, f"recall/precision failure: {flagged ^ planted}"


def test_time_grid_gapfill_edges(spark, tmp_path):
    """Gapfill edge semantics on a fabricated events table: a leading
    all-NULL bucket stays NULL in both LOCF and interpolation (nothing
    to carry / no left neighbor), missing buckets are synthesized with
    reading_count 0, LOCF carries the previous bucket average, and
    interpolation hits the exact midpoint between neighbors."""
    import datetime

    from iot_etl_spark.plans import QUERIES

    def t(h, m):
        return datetime.datetime(2024, 1, 1, h, m)

    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, t(0, 10), 1, "r", None, None),   # H0: rows but all-NULL -> gap
        (2, t(1, 5), 1, "r", 10.0, None),    # H1
        # H2 missing entirely -> synthesized gap row
        (3, t(3, 5), 1, "r", 28.0, None),    # H3 avg = 30
        (4, t(3, 30), 1, "r", 32.0, None),
        (5, t(4, 15), 1, "r", None, None),   # H4: all-NULL -> gap
        (6, t(5, 0), 1, "r", 50.0, None),    # H5
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {
        r.bucket_epoch: r
        for r in QUERIES["time_grid_gapfill"](spark, str(tmp_path)).collect()
    }
    h0 = datetime.datetime(2024, 1, 1).replace(tzinfo=datetime.timezone.utc)
    b = [int(h0.timestamp()) + 3600 * h for h in range(6)]
    assert sorted(out) == b, "dense hourly grid H0..H5"
    # leading all-NULL bucket: gap, nothing to carry, no left neighbor
    assert out[b[0]].is_gap and out[b[0]].value_locf is None
    assert out[b[0]].value_interp is None and out[b[0]].reading_count == 0
    # synthesized missing bucket H2: locf carries H1, interp = midpoint
    assert out[b[2]].is_gap and out[b[2]].reading_count == 0
    assert out[b[2]].value_locf == 10.0
    assert out[b[2]].value_interp == 20.0  # (10 + 30) / 2
    # all-NULL bucket H4 between H3(avg 30) and H5(50)
    assert out[b[4]].is_gap and out[b[4]].value_locf == 30.0
    assert out[b[4]].value_interp == 40.0
    # non-gap buckets echo their own average
    assert not out[b[3]].is_gap and out[b[3]].avg_value == 30.0
    assert out[b[3]].value_interp == 30.0 and out[b[3]].reading_count == 2


def test_constraint_report_foreign_key_and_rules(spark):
    """constraint_report: row-level rules share one aggregation pass;
    violation counts match hand computation."""
    from iot_etl_spark.operators.quality import (
        constraint_report,
        expression,
        in_range,
        not_null,
        unique,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, -5.0, "b"), (3, None, "a"),
         (4, 250.0, "z"), (4, 7.0, "a")],
        "id LONG, value DOUBLE, dim_key STRING",
    )
    rep = {
        r.constraint: r
        for r in constraint_report(
            df,
            [
                not_null("value"),
                in_range("value", 0, 100),
                unique("id"),
                expression("positive_id", "id > 0"),
            ],
        ).collect()
    }
    assert rep["not_null_value"].n_violations == 1
    assert rep["in_range_value"].n_violations == 2          # -5 and 250
    assert rep["unique_id"].n_violations == 1               # id=4 twice
    assert rep["positive_id"].n_violations == 0 and rep["positive_id"].passed
    assert all(r.n_rows == 5 for r in rep.values())


def test_constraint_report_fk_only_and_empty_suites(spark):
    """An empty suite must not emit a malformed stack(0,) select: it
    yields an empty frame with the report's schema."""
    from iot_etl_spark.operators.quality import constraint_report

    df = spark.createDataFrame(
        [(1, "a"), (2, "z")], "id LONG, dim_key STRING"
    )

    empty = constraint_report(df, [])
    assert empty.columns == ["constraint", "kind", "n_rows", "n_violations", "passed"]
    assert empty.count() == 0


def test_constraint_report_rejects_duplicate_names(spark):
    """Two rules with the same name would produce one ambiguous report
    row; the suite is rejected up front."""
    import pytest
    from iot_etl_spark.operators.quality import constraint_report, not_null

    df = spark.createDataFrame([(1,)], "id LONG")
    with pytest.raises(ValueError, match="duplicate constraint names"):
        constraint_report(df, [not_null("id"), not_null("id")])


def test_constraint_report_quoted_names_survive(spark):
    """Names containing quotes are data, not SQL — the typed-expression
    melt keeps them intact."""
    from iot_etl_spark.operators.quality import constraint_report, expression

    df = spark.createDataFrame([(1,), (-2,)], "id LONG")
    name = "id's \"positive\" check"
    rep = constraint_report(df, [expression(name, "id > 0")]).collect()
    assert len(rep) == 1
    assert rep[0].constraint == name
    assert rep[0].n_violations == 1


def test_editdist1_blocking_complete_for_all_edit_kinds(spark):
    """Deletion-neighborhood blocking must find EVERY Levenshtein-1
    pair — substitution, insertion, and deletion (the customer-name
    corpus only exercises substitutions, so mixed-length cases are
    pinned here against a brute-force quadratic)."""
    import itertools

    from iot_etl_spark.plans.queries_audit import _editdist1_pairs

    words = [
        "cat", "cut", "cart", "carts", "car", "ca", "dog", "dig",
        "digs", "dogs", "sparky", "spark", "spar", "spa", "xyz",
    ]

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = sorted(
        (a, b)
        for a, b in itertools.combinations(sorted(words), 2)
        if lev(a, b) == 1
    )
    names = spark.createDataFrame([(w,) for w in words], "name STRING")
    got = sorted((r.a, r.b) for r in _editdist1_pairs(names).collect())
    assert got == expected and len(expected) >= 8
