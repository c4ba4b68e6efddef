from __future__ import annotations

import pytest

from iot_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"

# Inner-loop tier: `pytest -m fast` runs the driver-contract guards,
# the physical-plan pins and the stage-cache race invariants — the
# tests that catch "this edit broke the driver surface or the plan
# shape" — in about a minute on 4 vCPUs, against about 11 minutes for
# the full suite. Module-level marking (not per-test) so a new test
# added to a guarded module is in the tier by default; the full serial
# `pytest tests/` run remains the gate before any commit claiming green.
_FAST_MODULES = {"test_contract", "test_plans", "test_stagecache"}


def pytest_collection_modifyitems(items):
    for item in items:
        if item.module.__name__.rsplit(".", 1)[-1] in _FAST_MODULES:
            item.add_marker(pytest.mark.fast)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="iot_etl_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()

