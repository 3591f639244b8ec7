"""SparkSession factory with the engine's recommended configs.

These are the scale-relevant defaults (AQE for runtime re-planning and skew
handling, UTC session time, nanosecond-parquet compatibility, a codegen class
cache that holds a curation run's generated code).  On a real cluster the same
configs apply; only master/memory change.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

# The driver fixtures carry one timestamp[ns] column (events.ts).  Spark's parquet
# reader rejects INT64(TIMESTAMP(NANOS)) unless told to surface it as a long;
# the loader (registry.load_source_tables) then casts nanos -> timestamp_ntz.
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"
# Spark keeps the classes Janino compiled from generated code in one cache
# per JVM, created at the JVM's first codegen and sized from this static
# conf (default 100).  A warm perfbench curate iteration (curate_corpus then
# curate_stream) uses ~210 distinct classes and a CLI subset run ~70, more
# than the default cache keeps (it evicts per segment, before it holds 100):
# at 100 every warm curate iteration compiled 207-213 classes again (~1 s)
# and every warm subset run 20-21; at 1000 the curate iterations compiled
# 181, 14, then 0.  The cache holds only classes a plan compiled, so the
# bound costs memory only as a session uses it.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 1000

# applicationIds whose small codegen cache ensure_compat already warned of
_warned_apps: set[str] = set()


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
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def ensure_compat(spark: SparkSession) -> None:
    """Apply runtime-settable compat/perf confs to an externally-created session
    (the driver harness builds its own SparkSession).

    The codegen class cache is static: it cannot be resized once the JVM
    runs, so a session launched with a smaller one gets a warning (once per
    application) naming the launch flag instead."""
    spark.conf.set(NANOS_CONF, "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.codegen.maxFields", "256")
    # toPandas() (the bloom-key and shingle-sample collects) transfers
    # through Arrow only with this conf; it defaults to false
    spark.conf.set(ARROW_CONF, "true")
    entries = int(spark.conf.get(CODEGEN_CACHE_CONF))
    app = spark.sparkContext.applicationId
    if entries < CODEGEN_CACHE_ENTRIES and app not in _warned_apps:
        _warned_apps.add(app)
        logger.warning(
            "%s is %d: warm runs will recompile generated code that no "
            "longer fits the cache; launch the session with "
            "--conf %s=%d", CODEGEN_CACHE_CONF, entries, CODEGEN_CACHE_CONF,
            CODEGEN_CACHE_ENTRIES)


def codegen_compile_count(spark: SparkSession) -> int:
    """Classes Janino has compiled from generated code in this session's
    JVM so far (a cache hit compiles none)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
