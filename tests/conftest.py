from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from tada_spark.session import get_spark

    s = get_spark("tada_spark_tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"


# connected_components runs on the driver when the pair list fits under
# spark.sql.autoBroadcastJoinThreshold, and in the distributed loop
# otherwise; a threshold of -1 forces the loop.
CC_PATHS = ("driver", "distributed")


@contextmanager
def cc_path(spark: SparkSession, path: str):
    """Run connected_components on one of CC_PATHS inside the block;
    the broadcast threshold is restored on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    if path == "distributed":
        spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def held_rdds(spark: SparkSession) -> set[int]:
    """Ids of the RDDs that hold storage blocks (cache or checkpoint)."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
