from __future__ import annotations

import os

import pytest

from oni_ml_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # get_spark's 64g default lets G1 grow the heap past a small host's
    # memory: a full run on a 15 GB, 4-core host was OOM-killed at 15 GB RSS
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("oni_ml_spark_tests", shuffle_partitions=4)
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
SF_DIR_ORACLE = "/root/testdata/sf0.01"
