"""The one SparkSession factory: every job, test and bench gets its
session here.

Master rule: a process launched by spark-submit (or the pyspark shell)
keeps the master it was given; spark-submit hands its Python driver a
running JVM through PYSPARK_GATEWAY_PORT. Any other process (plain
`python jobs/<job>.py`, pytest) runs `local[cores]`. The master is set
on every build, so a session built after an earlier one stopped gets
its own core count, not the earlier session's.

Settings: UTC session time zone, Arrow for pandas conversion, no UI,
a 64 MB broadcast-join threshold and `shuffle_partitions` (default
`cores`; on a cluster rule of thumb 2-3x total cores). Spark's own
defaults already enable AQE coalescing and skew-join splitting. The
driver heap is left to the deploy (`--driver-memory`) or to a caller's
`extra_conf`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tzbb-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
