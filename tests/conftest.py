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


# The plans of ``build_incremental``, forced through its gate limits: the
# whole delta on the driver; the live docmap on the driver but the delta
# in Spark (the token gate alone fails); everything in Spark (the
# manifest gate fails). No perfbench workload reaches the Spark tails.
INCREMENTAL_PLANS = {
    "driver": {"DRIVER_MAX_DOCMAP_ROWS": 1 << 40,
               "DRIVER_MAX_DELTA_TOKENS": 1 << 40},
    "spark_tail": {"DRIVER_MAX_DOCMAP_ROWS": 1 << 40,
                   "DRIVER_MAX_DELTA_TOKENS": -1},
    "spark": {"DRIVER_MAX_DOCMAP_ROWS": -1},
}


def _forced(m: pytest.MonkeyPatch, plan: str) -> None:
    from mee_spark import build

    for name, limit in INCREMENTAL_PLANS[plan].items():
        m.setattr(build, name, limit)


@pytest.fixture
def each_plan():
    """-> ``plans()``, which forces each plan of ``build_incremental`` in
    turn and yields its name, whose first word is the ``metrics.plan``
    its manifests record. A loop in one test, so the test keeps its id;
    its own MonkeyPatch, so a test's ``monkeypatch.undo()`` keeps it."""
    def plans():
        for plan in INCREMENTAL_PLANS:
            with pytest.MonkeyPatch.context() as m:
                _forced(m, plan)
                yield plan

    return plans
