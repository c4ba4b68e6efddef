"""The engine session's static confs and what they keep."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_engine_session_turns_off_call_site_capture(spark):
    """The conf is on the session, and PySpark's once-per-process
    reading of it (the one its DataFrame/Column calls consult) is
    off."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_errors_keep_their_class_and_condition_without_call_sites(spark):
    """With call-site capture off an ANSI division by zero in a frame
    built from an engine loader still raises the JVM's
    SparkArithmeticException (PySpark's ArithmeticException) with
    condition DIVIDE_BY_ZERO and its SQLSTATE; the message's DataFrame
    context no longer names the Python line that built the division."""
    from iot_etl_spark.sources.tables import load_table

    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = load_table(spark, SF_DIR, "region").select(
            (F.col("r_regionkey") / F.lit(0)).alias("q")
        )
        with pytest.raises(ArithmeticException) as err:
            df.collect()
        assert err.value.getCondition() == "DIVIDE_BY_ZERO"
        assert err.value.getSqlState() == "22012"
        assert os.path.basename(__file__) not in str(err.value)
    finally:
        spark.conf.set(key, old)
