"""SparkSession factory with the engine's scale-oriented defaults.

AQE on (runtime skew-join + partition coalescing), Arrow on (pandas UDF
batches).  Defaults are sized to the host that runs them: local[N] with N
the cores in the process's affinity mask, driver memory a quarter of
physical RAM, shuffle partitions 2N (at least 16) unless the caller
passes ``shuffle_partitions``.  SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM
override the first two.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "tosidewalk-spark", cpus: str | int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    shuffle = shuffle_partitions or 2 * max(int(cpus), 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not driver_mem:
        # a quarter of physical RAM: a heap larger than the host lets the
        # JVM grow until the kernel kills it instead of collecting garbage
        with open("/proc/meminfo") as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        driver_mem = f"{total_kb // 4096}m"
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
