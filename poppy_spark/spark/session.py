"""SparkSession helper with the settings this library assumes."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: glibc malloc tuning for numpy-heavy workers: without it every large
#: temporary is mmap'd and munmap'd per operation, and under 32-way
#: concurrency the kernel's page-fault/mmap path dominates (measured 66%
#: system time and a 31x slowdown on this host).  Keeping freed blocks on
#: the heap makes allocation churn run at user-space speed.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(16 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(16 << 30),
    "MALLOC_TOP_PAD_": str(256 << 20),
}


def get_spark(
    app_name: str = "poppy-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str | None = None,
) -> SparkSession:
    # must land in os.environ before the JVM gateway launches so forked
    # Python workers inherit it
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = SparkSession.builder
    if max_partition_bytes:
        # pin scan partitioning to file-split sizes (core-count independent)
        builder = builder.config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
    return (
        builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16k-row Arrow batches keep each kernel invocation's working set
        # L2-resident — measured to be the difference between flat and ~8x
        # degraded per-core throughput at 32-way parallelism on this host
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # before Python 3.12 every task's importlib.invalidate_caches()
        # re-parses pyspark.zip's 1,328-entry directory once per zip
        # importer: 16 reads, 130-190 ms CPU per task on a 4-core Xeon
        # with CPython 3.11 (0 reads, 0.1 ms under this daemon), and 32
        # trivial mapInArrow tasks at local[4] took 1.9 s against 0.77 s
        .config("spark.python.daemon.module", "poppy_spark.spark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
