import os

# The literal-heavy golden plans (SRP hyperplanes, IVF centroids, PQ LUTs)
# plus a 360-test session's accumulated broadcast relations exceed the 1g
# local-mode default driver heap — the full suite hit
# notEnoughMemoryToBuildAndBroadcastTableError on the SRP overflow oracle
# once the rotation moved it past the cap.  Same convention as
# scripts/check_oracles.py; must be set before the JVM launches.
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 8g pyspark-shell")

import pytest  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from condenser_spark.session import get_spark

    spark = get_spark("condenser-spark-tests", master=f"local[{CPUS}]",
                      shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def source(spark, sf_dir):
    from condenser_spark.registry import load_source_tables

    return load_source_tables(spark, sf_dir)


def normalize_event_ts(df):
    """Make the events fixture's ``ts`` a proper event-time TIMESTAMP whether
    the parquet surfaced it as nanos-as-long (session.NANOS_CONF on ns-precision
    files) or as a native timestamp (us-precision files)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def jobs_in_group(spark, group, fn):
    """``(fn(), ids of the Spark jobs it ran)``, counted under job group
    ``group`` with ``statusTracker`` (works with the UI off).  Use a group
    name no other test uses."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def codegen_compiles(spark, fn):
    """``(fn(), classes Janino compiled while it ran)``, from Spark's
    ``CodegenMetrics`` compile count; a class found in the codegen cache
    compiles none.  The count is JVM-wide, so nothing else may run in the
    session meanwhile."""
    from condenser_spark.session import codegen_compile_count

    before = codegen_compile_count(spark)
    out = fn()
    return out, codegen_compile_count(spark) - before
