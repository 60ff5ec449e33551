"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def driver_memory(extra_conf: dict | None = None) -> str:
    """The driver's maximum heap. A ``-Xms`` pinned in ``extra_conf``'s
    ``spark.driver.extraJavaOptions`` sets it, so the JVM never starts
    with its initial heap above its maximum; else ``SPARK_DRIVER_MEM``
    when set; else half the host's physical memory in MiB, in [1g, 48g]:
    8g measurably spills at 32 threads (BENCH/BASELINE.md), but a fixed
    48g cannot map on a smaller host."""
    opts = (extra_conf or {}).get("spark.driver.extraJavaOptions", "")
    pinned = re.findall(r"(?:^|\s)-Xms(\S+)", opts)
    if pinned:
        return pinned[-1]  # the JVM honours the last -Xms
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(48 * 1024, phys // 2 // 2**20))}m"


def get_spark(
    app_name: str = "luc4ir_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local-mode defaults: shuffle partitions ~ cores (not the 200 default),
    AQE on (runtime coalesce + skew-join split), Arrow on (all custom
    kernels are pandas UDFs), UTC (oracle comparability).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep bucketed scans on even when no operator needs the
        # distribution: bucket PRUNING (a dictionary filter over a
        # term-bucketed positional store reading k of N buckets)
        # rides the bucketed scan, and the DisableUnnecessaryBucketedScan
        # rule would silently drop it for filter-only plans
        .config(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "false",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory(extra_conf))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
