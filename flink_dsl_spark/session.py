"""SparkSession factory with scale-oriented defaults.

Test profile is local[N] (single JVM), but every knob here is chosen for
the 1000-executor case too: AQE on (runtime re-planning, skew-join
handling, partition coalescing), auto broadcast for small dims, Arrow for
the Pandas-UDF paths (LLM ops).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs the engine's results depend on.  They are
# set by get_session's builder AND applied by FsqlEngine to whatever
# SparkSession the caller hands it (callers are NOT required to build
# their session via get_session):
#  - nanosAsLong: older driver testdata was parquet TIMESTAMP(NANOS);
#    without this, spark.read.parquet raises PARQUET_TYPE_ILLEGAL.
#  - inferTimestampNTZ disabled: parquet micros WITHOUT a timezone
#    annotation (isAdjustedToUTC=false — what the driver testdata ships
#    now) would otherwise load as TIMESTAMP_NTZ, which Structured
#    Streaming watermarks reject and several epoch-arithmetic paths
#    can't cast.  With the session timezone forced to UTC the LTZ
#    reading denotes the same wall clock, so this is lossless.
#  - UTC session timezone: window bounds and make_timestamp-based
#    oracles assume UTC.
#  - Arrow: pandas-UDF paths (llm_ops) use Arrow batch transfer.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_session(app_name: str = "flink-dsl-spark",
                shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _REQUIRED_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
