"""SparkSession factory with settings chosen for large-scale batch ETL.

Local test runs use ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster (AQE, skew-join handling, partition-size
driven splits). Nothing here is local-mode-specific except the master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "maap-data-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale rationale:
      * AQE on — runtime coalescing of small shuffle partitions and skew-join
        splitting replace manual tuning when data volume moves 1000x.
      * ``spark.sql.files.maxPartitionBytes`` 128m — keeps scan tasks
        memory-bounded regardless of total input size.
      * Arrow enabled — every Pandas-UDF path (multimodal decode) is
        Arrow-batched, never row-at-a-time.
      * shuffle partitions default to cores locally; on a real cluster this
        is overridden by AQE's coalescing from a high initial value.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(cpus, 8))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def last_job_id(spark: SparkSession) -> int:
    """Id of the newest Spark job, after the listener bus has drained.

    Job counts (the test budgets, ``tools/profile_query.py``) are deltas
    of this id around a call. Without the drain, the status tracker can
    miss jobs the call just started. Only jobs outside a job group are
    seen: a streaming query runs its micro-batches under its run id's
    group.
    """
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)
