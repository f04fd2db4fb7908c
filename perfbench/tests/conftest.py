import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import pytest  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession
    from goose_parser_spark.deploy import ship_package

    session = (SparkSession.builder.master("local[2]")
               .appName("perfbench-tests")
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false")
               .config("spark.sql.shuffle.partitions", "4")
               .config("spark.sql.warehouse.dir",
                       str(tmp_path_factory.mktemp("warehouse")))
               .getOrCreate())
    ship_package(session)
    yield session
    session.stop()
