from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataval_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: runs for tens of seconds (e.g. starts a local cluster)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dataval_spark_tests", master="local[8]", shuffle_partitions=16)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def no_streaming_query_left_running():
    """Fail a test that leaves a streaming query active (the session is
    shared, so a running query would keep scheduling batches through
    every later test), and stop the queries it left."""
    yield
    s = SparkSession.getActiveSession()
    left = s.streams.active if s is not None else []
    for q in left:
        q.stop()
    if left:
        pytest.fail(
            "streaming queries left active: "
            + ", ".join(str(q.name or q.id) for q in left)
        )
