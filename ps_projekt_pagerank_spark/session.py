"""SparkSession factory tuned for this engine.

Local mode is the test harness (single JVM, N threads); the settings are
chosen so the same code ships unchanged via ``spark-submit --py-files`` to a
multi-executor cluster: shuffle partitions sized to cores, AQE on (runtime
re-plan + skew-join splitting), Arrow on (all our Python-side work is
pandas/Arrow-vectorized, never per-row).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def mem_total_bytes(meminfo: str = "/proc/meminfo") -> int | None:
    """This machine's physical memory (``MemTotal``) in bytes; None where
    ``meminfo`` is unreadable (no procfs)."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of this machine's physical memory (``MemTotal``), in whole GB
    and at least 1g — the driver heap must stay below what the machine
    has, or the kernel kills the JVM. Spark's own 1g default where
    ``meminfo`` is unreadable (no procfs)."""
    total = mem_total_bytes(meminfo)
    if total is None:
        return "1g"
    return f"{max(1, total // (2 * 1024**3))}g"


def get_spark(
    app_name: str = "ps-projekt-pagerank-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores; the driver
    heap to $SPARK_DRIVER_MEM or ``default_driver_memory()``. On a real
    cluster the ``master`` is supplied by spark-submit and the local[] master
    set here is ignored (builder config does not override CLI --master).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # ~1 shuffle partition per core locally; a cluster deployment would
        # size this to 2-3x total executor cores (or rely on AQE coalesce).
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a K=6-scale graph build under CPU steal can hold a broadcast
        # future past the 300 s default and kill the job — a long-running
        # ingest wants a deadline measured in build time, not join time
        .config("spark.sql.broadcastTimeout", "3600")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
