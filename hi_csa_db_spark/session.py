"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests, bench.py and the driver entry
points; configuration is chosen for a 1000-executor / 100 TB target
even though CI runs local[N]:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- zstd parquet (best scan-bytes/cpu tradeoff at fleet scale)
- UTC session timezone (determinism + oracle parity)
- Arrow for any pandas exchange (vectorized, never row-at-a-time)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hi-csa-db-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all
    cores). Shuffle partitions default to the core count — at cluster
    scale this is overridden by AQE coalescing anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or int(cpus or os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver fixtures carry TIMESTAMP(NANOS) parquet columns, which
        # Spark's vectorized reader rejects by default; read as int64 ns
        # and normalize in the catalog layer (catalog.load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
