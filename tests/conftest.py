from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from dev_clickhouse_spark.session import STATIC_CONF, tune


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        # the production static confs (the codegen cache size among them)
        .config(map=STATIC_CONF)
        .appName("dev-clickhouse-spark-tests")
        # local mode = executors AND driver bookkeeping in ONE JVM; the 1g
        # default survives the unit suite but the corpus-soak integration
        # test (20 micro-batches x ~10 jobs with growing member unions)
        # OOMs it.  4g is still a fraction of any real driver.
        .config("spark.driver.memory", "4g")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    tune(s)
    yield s
    s.stop()
