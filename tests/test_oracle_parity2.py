"""Differential tests, odd half of the sorted registry; the even half
is in test_oracle_parity.py."""

from __future__ import annotations

import pytest

from iot_etl_spark.plans import QUERIES, ORACLES
from tests.conftest import SF_DIR
from tests.oracle import duck_connection, assert_matches_oracle

NAMES = sorted(ORACLES)[1::2]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, ORACLES[name], name)


def test_all_queries_return_rows(spark):
    for name in sorted(QUERIES)[1::2]:
        n = QUERIES[name](spark, SF_DIR).count()
        assert n >= 0, name
