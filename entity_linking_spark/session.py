"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same confs apply per-executor (AQE, adaptive skew join, Arrow). The defaults
are chosen for the 100 TB design point: AQE on (runtime re-plan + skew-join
splitting), Arrow-batched pandas UDFs, UTC session timezone so results are
comparable across engines, and shuffle partitions sized to the parallelism
actually available rather than the historic 200 default.

The generated-code cache is sized so one session compiles each
whole-stage class once (``spark.sql.codegen.cache.maxEntries``, see
``get_spark``): at Spark's default of 100 entries every ``link_pages``
run recompiled ~220 classes, even in a long-lived session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "entity_linking_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS]``. ``master`` overrides
    the master URL entirely (e.g. ``local-cluster[8,1,4096]`` for the
    multi-executor-JVM scaling evidence). On a cluster this module is a
    no-op passthrough: spark-submit owns the master URL and the builder
    just layers engine confs on top.
    """
    n = cores or cpu_count()
    builder = (
        SparkSession.builder.master(master or f"local[{n}]")
        .appName(app_name)
        # shuffle width ~ parallelism; AQE coalesces small post-shuffle
        # partitions at runtime so slight over-provisioning is free.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # finer post-shuffle targets so AQE coalescing never drops below
        # the core count on mid-size local data (default 64MB advisory
        # collapses a 100MB shuffle onto 2 cores)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # AQE coalescing is byte-based and cannot see per-row compute cost:
        # with the default 1MB minPartitionSize a ~1MB pair-scoring stage
        # coalesces to ONE task and the per-pair string-similarity work
        # serializes (a 4.1s single-task stage at sf0.1, measured when
        # Jaro-Winkler was a Python UDF). A 64k floor keeps cheap-bytes/
        # expensive-compute stages wide; at real scale partitions are far
        # above 1MB and this floor is inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Tungsten memory page size. With an 8g driver the default is the
        # 64 MB cap, and a broadcast hash relation on a non-long key holds
        # at least one page in the driver until the ContextCleaner drops
        # the broadcast: two string-keyed broadcasts of a few hundred rows
        # in blocking held 128 MB there (heap dump, giant_component). A
        # larger buffer still gets as many pages as it needs.
        .config("spark.buffer.pageSize", "4m")
        # the codegen cache is an LRU keyed by (class loader, code), and in
        # local mode each whole-stage class is compiled under both the
        # driver's and the executor's loader. One link_pages run needs
        # ~110-150 distinct bodies, i.e. ~220-300 entries, so at the
        # default 100 every lookup missed: each repeat run over the same
        # input recompiled (and re-JITted) 217-249 classes, and a whole
        # perfbench process creates ~276 entries. 1000 leaves headroom;
        # a repeat run now compiles 0-30.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
