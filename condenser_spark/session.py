"""SparkSession factory with the engine's recommended configs.

These are the scale-relevant defaults (AQE for runtime re-planning and skew
handling, UTC session time, nanosecond-parquet compatibility).  On a real cluster
the same configs apply; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The driver fixtures carry one timestamp[ns] column (events.ts).  Spark's parquet
# reader rejects INT64(TIMESTAMP(NANOS)) unless told to surface it as a long;
# the loader (registry.load_source_tables) then casts nanos -> timestamp_ntz.
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


def get_spark(
    app_name: str = "condenser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(NANOS_CONF, "true")
        .config(ARROW_CONF, "true")
        # wide aggregates (128-permutation MinHash, 64-bit SimHash votes) fall
        # out of whole-stage codegen at the default 100-field cap — measured 3x
        # slower interpreted
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def ensure_compat(spark: SparkSession) -> None:
    """Apply runtime-settable compat/perf confs to an externally-created session
    (the driver harness builds its own SparkSession)."""
    spark.conf.set(NANOS_CONF, "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.codegen.maxFields", "256")
    # toPandas() (the bloom-key and shingle-sample collects) transfers
    # through Arrow only with this conf; it defaults to false
    spark.conf.set(ARROW_CONF, "true")
