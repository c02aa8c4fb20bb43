import pytest

from engine.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", cores=4, shuffle_partitions=8, driver_mem="8g")
    yield s


@pytest.fixture
def arrow_off(spark):
    """The shared session with Arrow-based pandas conversion turned off (the
    Spark default, and what an external driver may run with) for one test;
    the setting is restored afterwards. A runtime conf, so no second JVM."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield spark
    finally:
        spark.conf.set(key, old)
