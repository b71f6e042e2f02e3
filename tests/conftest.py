from __future__ import annotations

import os
import sys

import pytest

TESTS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(TESTS)
sys.path.insert(0, ROOT)
sys.path.insert(0, TESTS)

# Python workers must be able to import the test modules (mock fetchers
# shipped to executors by reference).
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, TESTS, os.environ.get("PYTHONPATH")) if p
)

from op_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("op_etl_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
