"""SparkSession factory tuned for the engine.

Local mode is the sandbox proxy for a multi-executor cluster: partitioning
decisions (tile buckets, salted joins, AQE skew handling) are made as if each
partition lived on a different executor, so the same code scales out under
spark-submit --py-files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "geospatialtools_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (else all cores). Shuffle
    partitions default to the core count — at cluster scale this would be
    2-3x the total executor cores; AQE coalesces the excess either way.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative operators localCheckpoint per round, and no commit forces
        # a GC: without periodic JVM GC the ContextCleaner never sees the
        # dropped weak refs (a big heap rarely fills) and dead checkpoint
        # blocks pile up, degrading every later query in a long session
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_blocks(spark: SparkSession) -> None:
    """Force a Python and a full JVM GC so the ContextCleaner drops
    checkpoint/broadcast blocks whose Python references are gone.

    The gate's terrain entry calls it on entry: after dozens of queries in
    one session, dead localCheckpoint blocks in the unified memory pool
    slowed the terrain chain 5.7x at query 46 vs a fresh session. Stage
    commits do not: a full GC cost 0.16-0.31 s per commit on 4 vCPUs and
    shrinks the heap the next stage regrows; the periodic GC reclaims.
    """
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
