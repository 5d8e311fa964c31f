import pytest

from identity_matching_spark.session import get_spark
from identity_matching_spark.streaming import incremental


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
def checkpoint_dir(spark, tmp_path):
    """A checkpoint dir on the SparkContext for the test: every
    ``session.barrier`` then writes a reliable checkpoint into it. Unset
    afterwards, so the other tests keep the ``localCheckpoint`` path
    (PySpark has no unset API; the Scala setter is public in bytecode)."""
    path = str(tmp_path / "spark_ckpt")
    sc = spark.sparkContext
    sc.setCheckpointDir(path)
    yield path
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


@pytest.fixture
def cc_loop(broadcast_threshold):
    """Run ``connected_components`` on its join loop, whatever the graph size:
    for tests that pin the loop's store, resume and checkpoint behaviour."""
    broadcast_threshold("-1")


@pytest.fixture
def store_buckets(monkeypatch):
    """Setter for the bucket count of the fold stores a test opens
    (``incremental.N_BUCKETS``), restored after the test; 8 until set, so
    test stores stay small."""
    def set_buckets(n: int) -> None:
        monkeypatch.setattr(incremental, "N_BUCKETS", n)

    set_buckets(8)
    return set_buckets
