"""Shared pytest fixtures: one SparkSession per test run."""

from __future__ import annotations

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from spark_pipeline_spark import get_session

    # driver.memory must be set BEFORE the JVM launches (getOrCreate
    # passes it to spark-submit): the default 1g cannot hold a full
    # registry sweep at sf0.1 in one session — give the local JVM real
    # headroom like a production driver would have. The warehouse and
    # Derby's home go to a temp dir, not the working directory.
    scratch = tmp_path_factory.mktemp("spark")
    spark = get_session(
        "tests",
        shuffle_partitions=8,
        conf={
            "spark.driver.memory": "8g",
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={scratch}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(autouse=True)
def _release_query_caches():
    """Drop query-internal persisted intermediates between tests.

    Keeps each test's plan rendering independent of what ran before it:
    Spark's CacheManager keys entries by canonicalized plan, so a stale
    registry frame from an earlier test can alias a plan the current
    test just persisted — evicting the old one would silently uncache
    the new one mid-build (the gram-reinline gate caught exactly this)."""
    from spark_pipeline_spark.session import release_query_caches

    yield
    release_query_caches()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()
