"""Signed-zero defenses (round-8, VERDICT r7 item 1).

Round 7's only driver red (`theilsen_trend_recent`) was an IEEE -0.0
vs +0.0 divergence that every builder-side gate missed because all of
them compared with `==`, for which -0.0 == +0.0. These tests plant a
-0.0 and require each gate to FAIL on it, so the class can never hide
again.
"""

from __future__ import annotations

import pandas as pd
import pytest

from tests.oracle import _canon_cell, canonical_rows, negzero_columns
from tools.sweep_bitexact import compare


def test_sweep_compare_fails_on_planted_negzero():
    a = pd.DataFrame({"k": [1, 2], "v": [0.0, 1.5]})
    b = pd.DataFrame({"k": [1, 2], "v": [-0.0, 1.5]})
    reason = compare(a, b)
    assert reason is not None and "v" in reason


def test_sweep_compare_still_passes_on_equal_zeros():
    a = pd.DataFrame({"k": [1], "v": [0.0]})
    b = pd.DataFrame({"k": [1], "v": [0.0]})
    assert compare(a, b) is None


def test_canon_cell_distinguishes_signed_zero():
    assert _canon_cell(0.0) != _canon_cell(-0.0)


def test_canonical_rows_distinguish_signed_zero():
    a = canonical_rows(pd.DataFrame({"v": [0.0]}))
    b = canonical_rows(pd.DataFrame({"v": [-0.0]}))
    assert a != b


def test_negzero_columns_detector():
    df = pd.DataFrame({"x": [-0.0], "y": [0.0], "n": [1], "s": ["a"]})
    assert negzero_columns(df) == ["x"]


def test_assert_matches_oracle_rejects_negzero(spark):
    import duckdb

    from tests.oracle import assert_matches_oracle

    con = duckdb.connect()
    df = spark.createDataFrame([(1, -0.0)], "k int, v double")
    with pytest.raises(AssertionError, match="-0.0"):
        assert_matches_oracle(df, con, "SELECT 1 AS k, -0.0 AS v")
    con.close()



def test_zscore_rounds_to_oracle_signed_zero(spark, tmp_path):
    """User 1's mean is 1.000000001, so z(1.0) = -1e-9, which DuckDB's
    ROUND(.., 6) keeps as -0.0 and Spark's rounds to +0.0.
    ``assert_matches_oracle`` rejects any -0.0, so this compares the
    sign-aware ``canonical_rows`` directly."""
    import duckdb

    from iot_etl_spark.plans import ORACLES, QUERIES

    pd.DataFrame({
        "event_id": range(5),
        "ts": pd.date_range("2024-01-01", periods=5, freq="min", unit="us"),
        "user_id": [1, 1, 1, 2, 2],
        "event_type": "view",
        "value": [0.0, 1.0, 2.000000003, 5.0, 6.0],
        "props": "{}",
    }).to_parquet(tmp_path / "events.parquet", index=False)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    for name in ("zscore_anomaly", "full_transform_pipeline"):
        expected = con.execute(ORACLES[name]).df()
        assert negzero_columns(expected) == ["z_score"], name
        actual = QUERIES[name](spark, str(tmp_path)).toPandas()
        assert canonical_rows(actual) == canonical_rows(expected), name
    con.close()
