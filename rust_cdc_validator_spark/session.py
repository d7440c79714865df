"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we would ship
to a 1000-executor cluster (AQE on, adaptive partition coalescing, Arrow for
the pandas-UDF paths). Nothing here is cluster-manager specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def base_conf(shuffle_partitions: int) -> dict[str, str]:
    """The engine's config block, as data (testable without a JVM)."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.parquet.filterPushdown": "true",
        # 128 MB splits: the parquet-scan granularity we want at 100 TB too.
        "spark.sql.files.maxPartitionBytes": "134217728",
    }


def get_spark(
    app_name: str = "rust_cdc_validator_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size it to ~2-3x total executor cores, or simply rely
    on AQE coalescing (enabled here) to shrink post-shuffle partitions.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in base_conf(shuffle_partitions).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
