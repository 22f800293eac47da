from __future__ import annotations

import pytest

from graphjet_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "graphjet_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


def cached_relations(spark) -> int:
    """Relations in Spark's cache manager (shared by every session)."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().length()


def edges_df(spark, pairs, extra_cols=None):
    """Build an edge DataFrame from (src, dst) pairs."""
    rows = [(int(s), int(d)) for s, d in pairs]
    return spark.createDataFrame(rows, "src long, dst long")
