import pytest

from identity_matching_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="idmatch-tests", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture
def broadcast_threshold(spark):
    """Setter for ``spark.sql.autoBroadcastJoinThreshold``, restored after the
    test. ``connected_components`` finishes on the driver only when its
    edges fit this threshold (-1: never)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    yield lambda value: spark.conf.set(key, value)
    spark.conf.set(key, old)


@pytest.fixture
def cc_loop(broadcast_threshold):
    """Run ``connected_components`` on its join loop, whatever the graph size:
    for tests that pin the loop's store, resume and checkpoint behaviour."""
    broadcast_threshold("-1")
