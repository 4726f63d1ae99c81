"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_spark_assignment_spark import cache  # noqa: E402
from bigdata_spark_assignment_spark.session import get_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="engine-tests")
    yield spark


@pytest.fixture(autouse=True)
def release_query_cache():
    """Release the persists a test made through ``cache``: registered
    queries release on their own start, but tests that call operators
    directly would otherwise keep every frame they persisted until
    the next registered query runs."""
    yield
    cache.release()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
