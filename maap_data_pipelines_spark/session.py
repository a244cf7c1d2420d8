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
      * ``spark.sql.codegen.cache.maxEntries`` 1000 (static, so set here) —
        a long-lived session re-runs the same queries, and a re-run should
        find its generated classes compiled. The four ``query_mix`` bench
        keys cycle through about 230 classes per pass, and
        ``curation_yield_report`` alone through about 128, so the default
        100 entries evicted each class before its next use (about 217
        Janino compiles per warm pass). 1000 holds the bench pass four
        times over; a whole registry pass at sf0.001
        (``tools/profile_query.py``) compiles 4,014 classes, at most 67
        for one key.
      * ``spark.sql.codegen.useIdInClassName`` false — AQE numbers codegen
        stages in completion order, so with the id in the class name the
        same stage can compile as ``…CodegenStage75`` on one pass and
        ``…CodegenStage80`` on the next, and its source misses the cache.
        With the larger cache alone, warm ``query_mix`` passes still
        compiled 28, 14 and 8 classes; with both settings 2, 0 and 0, and
        the cold pass 189 instead of 217, as identical stages of
        different keys share one class.
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
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
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


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far.

    Each codegen-cache miss compiles one class, so the delta around a
    call counts its misses (``tools/profile_query.py``, the warm re-run
    test). This is the count of ``CodegenMetrics.METRIC_COMPILATION_TIME``,
    not its sum: the histogram's reservoir keeps 1,028 samples, so only
    the count is exact over a long session.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
