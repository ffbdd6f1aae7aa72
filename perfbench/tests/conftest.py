from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def spark():
    from ciws_server_spark.session import get_spark

    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                      driver_memory="1g")
    yield spark
    spark.stop()
