"""SparkSession factory with scale-appropriate defaults.

The reference has no engine config at all (eager single-process pandas);
on Spark the session config IS part of the design: AQE for runtime
re-planning and skew joins, Arrow for every pandas UDF boundary, UTC so
results are oracle-comparable, and shuffle partitions sized to the local
core count (on a real cluster: ~2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """``spark.driver.memory`` unless ``extra_conf`` sets it:
    ``SPARK_DRIVER_MEM`` if set, else half the host's physical memory in
    whole GiB, at least 1g and at most 48g.

    Local mode runs every task in the driver JVM, so the heap grows with
    the thread count (32 concurrent tasks GC-thrash an 8g heap), but a
    heap near the host's RAM gets the JVM killed by the kernel.
    """
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, phys // 2**31))}g"


def get_spark(
    app_name: str = "nem-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    tmpfs_shuffle: bool | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On the 100 TB cluster the same confs apply, with ``shuffle_partitions``
    sized to executor cores and ``maxPartitionBytes`` left at 128m so a
    parquet scan yields memory-sized tasks.
    """
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            shuffle_partitions = int(cpus)
        elif master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # shuffle/spill files default to /tmp — on the dev sandbox a throttled
    # virtual block device whose IOPS stalls serialize whole stages
    # unpredictably (measured: multi-second 5%-CPU dips wandering between
    # phases run-to-run). A real cluster puts shuffle on local NVMe; the
    # tmpfs stand-in restores that assumption — but shuffle-on-RAM can OOM
    # a host whose shuffle would otherwise spill to disk, so it is OPT-IN
    # (``tmpfs_shuffle=True`` or NEM_TMPFS_SHUFFLE=1; the bench/test entry
    # points enable it, library callers get Spark's default spill path).
    # SPARK_LOCAL_DIRS always wins.
    if tmpfs_shuffle is None:
        tmpfs_shuffle = os.environ.get("NEM_TMPFS_SHUFFLE", "") == "1"
    if (
        tmpfs_shuffle
        and "SPARK_LOCAL_DIRS" not in os.environ
        and os.path.isdir("/dev/shm")
    ):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
