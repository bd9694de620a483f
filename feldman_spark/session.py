"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same settings (AQE, Arrow, sensible
shuffle partitioning) are what you want on a real cluster — only
``master`` and the partition counts change.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "feldman-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join handling
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas-UDF boundary (the W1 scan, pipeline UDFs)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long
        # (convert with ns_to_timestamp where needed)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # JDK-17 G1: a large humongous allocation retries only twice when
        # it loses the race against JNI critical sections (Arrow/Netty
        # hold GetPrimitiveArrayCritical constantly under 32 concurrent
        # tasks) and then kills the task as a spurious OOM with most of
        # the heap free — observed at sf20 as "Retried waiting for
        # GCLocker too often allocating 16777218 words" followed by lost
        # shuffle files. Raising the retry count is the documented
        # mitigation (JDK-8192647); on a real cluster this belongs in
        # spark.executor.extraJavaOptions too.
        .config("spark.driver.extraJavaOptions",
                "-XX:+UnlockDiagnosticVMOptions "
                "-XX:GCLockerRetryAllocationCount=100 "
                + os.environ.get("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", ""))
        .config("spark.ui.enabled", "false")
        # PySpark 4.1 classic wraps every Column/functions call in an
        # origin capture: walk the Python stack, read this conf over py4j,
        # then set and clear PySparkCurrentOrigin in the JVM. F.col costs
        # 13 py4j round trips with it on and 3 with it off; the ?-null
        # when(isin of 3).otherwise().alias of one column costs 81 on and
        # 31 off. Off alone, a GLAD9-sized convert + export's steps fell
        # from ~10.5 s to ~8.6 s. The loss is the DataFrame call-site
        # context in error messages; extra_conf can set this key to "true"
        # again. PySpark caches the flag per process when first used.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/feldman-spark-warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 256,
) -> dict:
    """Recommended settings for a real cluster run against ~100 TB —
    returned as a dict to feed ``SparkSession.builder.config(map=...)``.

    Sizing logic:

    * ``files.maxPartitionBytes`` at 256 MB keeps scan tasks coarse enough
      to amortize parquet footer/dictionary overhead while fitting
      comfortably in executor memory after decompression;
    * shuffle partitions ≈ 2-3× total cores so AQE has room to coalesce
      down rather than split up (only the beyond-reference large-large
      joins shuffle; the Feldman path is broadcast-only);
    * broadcast threshold raised to 256 MB: every splice-side table
      (affine, SIT, section summary) is tiny relative to executors, and
      the E2 plan depends on them broadcasting;
    * RocksDB state store for streaming state (dedup/session keys at
      corpus scale exceed executor heap).
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # see get_spark: Arrow's JNI critical sections starve humongous
        # allocations under high task concurrency on JDK-17 G1
        "spark.executor.extraJavaOptions":
            "-XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=100",
    }
