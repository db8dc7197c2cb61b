"""Shared Spark session for the test suite (local[*], AQE on)."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


def pytest_configure(config):
    # a label only: slow tests run with the rest of the suite
    config.addinivalue_line(
        "markers", "slow: long-running soak test (still runs by default)")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("mee-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()
