import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from streamsql_spark.session import WORKER_CONFS

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("streamsql-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(map=WORKER_CONFS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
