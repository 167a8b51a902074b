"""SparkSession factory.

Local tests run on ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``),
but every setting here is chosen to also make sense on a large cluster:
AQE on (runtime coalesce + skew-join splitting), modest shuffle
partition count for the small test scale (AQE coalesces further), Arrow
enabled for the pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "firefly_vcut_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Single-JVM local mode: every task is PROCESS_LOCAL, so delay
        # scheduling's per-taskset locality wait is pure dead time —
        # dropping it cuts the measured empty-job floor 0.137 s ->
        # 0.094 s (SCALING.md §Latency floor). Cluster note: keep the
        # default (or rack-tune) where HDFS/shuffle locality matters;
        # short-stage-dominated clusters commonly zero it too.
        .config("spark.locality.wait", "0")
    )
    return builder.getOrCreate()


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Session tweaks every registry query assumes.

    Queries may be executed under the *driver's* session (which we do
    not build), so each query callable routes through this to pin the
    semantics that must match the DuckDB oracle:

    - UTC session timezone (timestamp formatting / extraction parity).
    - ANSI off is NOT required — queries avoid ANSI-divergent edges.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def drop_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint()``ed DataFrame.

    ``DataFrame.unpersist()`` does nothing here: it drops cache-manager
    entries, while a local checkpoint's blocks belong to the RDD behind
    the DataFrame's LogicalRDD. Only call this once nothing still to
    run reads ``df``."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
