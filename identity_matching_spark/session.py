"""SparkSession helpers tuned for the identity-matching workload.

The defaults target correctness at local scale and the right physical plans at
cluster scale: AQE (runtime coalesce + skew-join splitting), Arrow transfer for
the few pandas UDFs, and a shuffle-partition count sized to the parallelism.
``barrier`` is the one place that cuts lineage between stages.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession


def get_spark(
    app_name: str = "identity-matching-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). On a real cluster, pass ``master=None`` through ``spark-submit``
    and these confs still apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep AQE's parallelismFirst default (true): size-only coalescing
        # (parallelismFirst=false) collapses small-byte but CPU-heavy stages
        # — e.g. normalization over a few-hundred-MB signature table — into
        # one partition and serializes them; respecting parallelism keeps
        # every stage at least cluster-wide
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8 MB, below Spark's 10 MB default and far below the 64 MB this
        # engine used through round 2: every broadcast join collects, builds,
        # and torrent-serializes its hash relation ON THE DRIVER between
        # stages — single-threaded, parallelism-independent work. Profiling
        # the 3.75M-conversation e2e run (tools/profile_e2e.py) showed 64 MB
        # put ~26 s of such builds on the critical path (31 s inter-job gaps
        # → 5.5 s at 8 MB; wall 124 s → 90 s at 4 cores). The same math holds
        # on a real cluster: a 10s-of-MB relation broadcast to 1000 executors
        # costs driver serialization plus N× network fanout every stage,
        # while shuffling it costs one partitioned exchange. Genuinely small
        # dims (blacklists, popular-key sets) stay comfortably under 8 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
        # drop reliable checkpoint files with their RDD, or a stream piles them up
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def barrier(df: DataFrame) -> DataFrame:
    """``df`` materialized where it stands, its lineage cut: the engine's
    only stage barrier. Every job of ``df`` runs before this returns, so an
    ``Observation`` on ``df`` is readable right after it (:func:`observed`).

    With a checkpoint dir on the SparkContext (``sc.setCheckpointDir``) it is
    a reliable ``checkpoint``, which survives executor loss; otherwise a
    ``localCheckpoint``.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def observed(observation: Observation, *names: str) -> dict:
    """The row ``observation`` collected, as a dict. AQE prunes a frame it
    finds empty at run time from the plan with its observation, which then
    completes with an empty row that PySpark cannot convert: that frame had
    no rows, and each of ``names`` reads 0."""
    from py4j.protocol import Py4JJavaError

    try:
        return observation.get
    except Py4JJavaError:
        return dict.fromkeys(names, 0)
