import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from goscrape_spark.session import get_spark

    s = get_spark("goscrape-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def no_auto_broadcast(spark):
    """Turns off Spark's size-based broadcast choice for one test, so a
    BroadcastHashJoin in a plan can only come from a hint in the code under
    test (a fixture built by ``pages_df`` is a LocalRelation whose exact,
    tiny size Spark would otherwise broadcast on its own)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
