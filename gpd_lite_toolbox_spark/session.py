"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per-job:
AQE on (skew-join + partition coalescing matter for spatial self-joins),
Arrow on (every geometry kernel is an Arrow-batched pandas_udf), shuffle
partitions sized to cores rather than the 200 default, UTC timezone so
DuckDB-oracle timestamp comparison is stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """CPUs this process may run on (its affinity mask, which a
    container's cpuset narrows) — the default ``local[N]`` width."""
    return len(os.sched_getaffinity(0))


def host_driver_memory() -> str:
    """Default driver heap for the bench harnesses: half of MemTotal,
    between 1g and 16g."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
    return f"{max(1, min(16, kb // (2 * 1024 * 1024)))}g"


def get_spark(app_name: str = "gpd_lite_toolbox_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus()))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # the driver's events.parquet carries TIMESTAMP(NANOS); read the
        # raw int64 and convert in the view layer (fixtures.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from .deploy import ship_package

    ship_package(spark)
    return spark
