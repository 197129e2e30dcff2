"""SparkSession construction with scale-oriented defaults.

Local tests run on local[$SPARK_GRAFT_CPUS]; the same conf scales to a
multi-executor cluster — nothing here assumes single-JVM execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that matter at 100 TB and are harmless at sf0.001:
#  - AQE re-plans shuffles at runtime (skew joins, partition coalescing).
#  - Arrow makes the few edge UDFs vectorized instead of row-at-a-time.
#  - UTC session timezone keeps timestamp arithmetic engine-independent.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # 10 MB default is conservative; dims (region/nation/labels) are tiny.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # PySpark wraps every Column and functions call to record its Python
    # call site, about 10 extra py4j round trips per call. Plans built
    # from hundreds of Columns pay seconds of driver time for it. Off,
    # an analysis error loses only the Python file:line of its
    # DataFrame context.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


MAX_DRIVER_MEMORY_MB = 16 * 1024


def default_driver_memory(phys_bytes: int | None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    16g, or half of the host's physical memory when that is less, so a
    long single-session run cannot grow its heap past the machine.
    ``None`` (memory size unknown) keeps 16g."""
    if phys_bytes is None:
        return f"{MAX_DRIVER_MEMORY_MB}m"
    return f"{min(MAX_DRIVER_MEMORY_MB, phys_bytes // 2 // 2**20)}m"


def _physical_memory() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no POSIX sysconf
        return None


def get_spark(app_name: str = "shippai-knowledge-etl-spark") -> SparkSession:
    """Build (or reuse) a local session sized from the environment.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32); shuffle
    partition count follows it so small-SF runs don't pay 200-partition
    scheduling overhead while a real cluster would override it upward.
    ``SPARK_DRIVER_MEMORY`` sets the driver heap; unset, it follows the
    host (``default_driver_memory``).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(
        _physical_memory()
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
