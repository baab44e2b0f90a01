import tempfile

import pytest
from pyspark.sql import SparkSession

from modeltracking_spark.session import ensure_pkg_on_workers

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
REF_DIR = "/root/reference"


@pytest.fixture(scope="session")
def spark():
    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .appName("modeltracking-tests")
        .getOrCreate()
    )
    # the workers' path of every driver query that loads a table (T());
    # tests/test_worker_daemon.py checks sessions that start without it
    ensure_pkg_on_workers(s)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs_sf001(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet").cache()
