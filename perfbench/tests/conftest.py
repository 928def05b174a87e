from __future__ import annotations

import os
import sys

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(PERFBENCH))
sys.path.insert(0, PERFBENCH)


@pytest.fixture(scope="session")
def spark():
    from better_cdc_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    spark = get_spark("perfbench-tests", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
