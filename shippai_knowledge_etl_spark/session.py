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


def get_spark(app_name: str = "shippai-knowledge-etl-spark") -> SparkSession:
    """Build (or reuse) a local session sized from the environment.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32); shuffle
    partition count follows it so small-SF runs don't pay 200-partition
    scheduling overhead while a real cluster would override it upward.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
