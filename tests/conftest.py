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


# connected_components and jaccard_pairs finish on the driver when
# their input fits under spark.sql.autoBroadcastJoinThreshold
# (plans/semantics.collect_small), and run their distributed plans
# otherwise; a threshold of -1 forces the distributed plans.
SIZE_PATHS = ("driver", "distributed")


@contextmanager
def broadcast_threshold(spark: SparkSession, value: int | None):
    """Set spark.sql.autoBroadcastJoinThreshold inside the block (None
    keeps the session's); the threshold is restored on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def size_path(spark: SparkSession, path: str):
    """Run the size-ruled operators on one of SIZE_PATHS inside the block."""
    return broadcast_threshold(spark, -1 if path == "distributed" else None)


def held_rdds(spark: SparkSession) -> set[int]:
    """Ids of the RDDs that hold storage blocks (cache or checkpoint)."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
