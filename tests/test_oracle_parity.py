"""Differential tests: every registered query with an oracle must
match DuckDB exactly at sf0.001 (fast) — the same comparison the
correctness driver runs at sf0.01.

The registry is split by sorted index across two modules: this one
takes the even half, test_oracle_parity2 the odd half. Together they
cover every registered query once.
"""

from __future__ import annotations

import pytest

from iot_etl_spark.plans import QUERIES, ORACLES
from tests.conftest import SF_DIR
from tests.oracle import duck_connection, assert_matches_oracle

NAMES = sorted(ORACLES)[0::2]


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
    for name in sorted(QUERIES)[0::2]:
        n = QUERIES[name](spark, SF_DIR).count()
        assert n >= 0, name
