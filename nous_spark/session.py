"""SparkSession factory tuned for the nous_spark pipeline.

Local-mode testing uses ``local[N]``; the same configs are what we would
ship in spark-defaults for a multi-executor cluster (AQE, skew-join,
Arrow). ``shuffle_partitions`` defaults to 2x cores locally; on a real
cluster it should be sized so that a shuffle partition of the largest
stage fits comfortably in executor memory (~128-200 MB of shuffle data
per partition at 100 TB input means tens of thousands of partitions —
AQE coalescing makes over-provisioning cheap).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``NOUS_SPARK_DRIVER_MEM`` if set, else a
    third of the host's MemTotal capped at 48g (48g where ``meminfo``
    does not exist). In local mode the driver heap is every executor's
    heap too, so a fixed size larger than the host gets the process
    killed by the kernel instead of spilling."""
    env = os.environ.get("NOUS_SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except FileNotFoundError:
        return "48g"
    return f"{min(kib // 3 // 1024, 48 * 1024)}m"


def get_spark(
    app_name: str = "nous_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]``. Pass ``cores=8`` / ``cores=32`` for
    the two-parallelism scaling benchmark mandated by BASELINE.md.
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cores}]" if env_cores else "local[*]"
        n = int(env_cores) if env_cores else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
