import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("cerberus_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(params=["local", "spark"])
def io_branch(request, monkeypatch):
    """Run the test on each small-artifact IO branch: ``local`` is the
    driver-side pyarrow branch a ``file:`` dir takes, ``spark`` the
    Spark branch every other scheme (s3a, hdfs, ...) takes — forced
    here by making the branch decision report a non-local dir."""
    if request.param == "spark":
        from cerberus_spark.plans import checkpoint

        monkeypatch.setattr(checkpoint, "_local_dir", lambda spark, path: None)
    return request.param
