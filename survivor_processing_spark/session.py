"""SparkSession factory with scale-conscious defaults.

Local tests run ``local[$SPARK_GRAFT_CPUS]``; the same conf block is
what we would ship to a 1000-executor cluster (AQE on, skew-join
handling on, broadcast threshold sized for dimension tables, UTC
session timezone so timestamp semantics are deployment-independent).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "survivor-processing-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``spark.sql.shuffle.partitions`` defaults to the local core count:
    on a real cluster this would be ~2-3x total executor cores (and AQE
    coalesces small post-shuffle partitions back down anyway).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Small single-file tables must still fan out across all cores:
        # without a floor, a 2 MB parquet scans as ONE partition and a
        # CPU-heavy projection (minhash, simhash) runs 1/Nth speed. On a
        # real cluster 100 TB splits naturally; the floor is a no-op there.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off: its listener and HTTP server cost is measurable on
        # sub-second gates, and the event log gives the same jobs,
        # stages and gaps.
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
