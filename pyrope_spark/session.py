"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
config here is chosen to also hold on a multi-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow on (vectorized pandas UDF / mapInPandas transfer).
- UTC session timezone (parity with the DuckDB oracle, which is UTC-naive).
- shuffle partitions sized to cores locally; on a real cluster AQE coalesces
  from a higher initial number, so we set the initial high and let AQE shrink.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyrope_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one BLAS thread per Python worker: Spark already parallelizes
        # across task slots, so multi-threaded OpenBLAS inside each of 32
        # concurrent workers just oversubscribes cores (measured 4x slowdown
        # on the segment GEMM scan). Correct on a real cluster too — one
        # task = one core's worth of BLAS.
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # listing a dataset of more than 32 leaf dirs (e.g. 100 cluster_id=
        # segment dirs) is a Spark job with one task per dir by default;
        # one task per core lists the same dirs in one wave (0.65 -> 0.11 s
        # for 100 dirs on a 4-core host)
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cores))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Pin the session settings that affect value-level parity with the
    DuckDB oracle (driver-supplied sessions may differ)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
