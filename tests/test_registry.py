"""registry: source registration reads parquet schemas from footers on the
driver (no Spark job) and must give exactly the schema Spark's own inference
gives; nanosecond-timestamp restoration; plan-embedded lookup frames."""

import os
import sys

import pyarrow as pa
import pyarrow.parquet as paq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from condenser_spark.registry import (
    MERGE_SCHEMA_CONF,
    load_source_tables,
    lookup_df,
    write_dest_partitioned,
)
from condenser_spark.session import ARROW_CONF, ensure_compat
from tests.conftest import SF_DIR, jobs_in_group

# the fixture scales live side by side (TESTDATA.md)
FIXTURES_ROOT = os.path.dirname(SF_DIR)


def _inferred(spark, path):
    """What ``spark.read.parquet`` infers, with the loader's one documented
    change applied: nanosecond columns (long under NANOS_CONF) become
    timestamp_ntz."""
    from pyspark.sql.types import StructField, StructType

    fields = []
    nanos = {f.name for f in paq.read_schema(_first_file(path))
             if str(f.type) == "timestamp[ns]"}
    for f in spark.read.parquet(path).schema.fields:
        if f.name in nanos and isinstance(f.dataType, LongType):
            f = StructField(f.name, TimestampNTZType(), f.nullable, f.metadata)
        fields.append(f)
    return StructType(fields)


def _first_file(path):
    if os.path.isfile(path):
        return path
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                return os.path.join(root, f)
    raise AssertionError(f"no data file under {path}")


def _assert_loads_as_inferred(spark, source_dir, tables=None):
    loaded = load_source_tables(spark, source_dir, tables=tables)
    assert loaded
    for name, df in loaded.items():
        path = os.path.join(source_dir, f"{name}.parquet")
        assert df.schema == _inferred(spark, path), name
    return loaded


# ------------------------------------------------- schema equals inference

@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_fixture_schemas_equal_inference(spark, scale):
    loaded = _assert_loads_as_inferred(
        spark, os.path.join(FIXTURES_ROOT, scale))
    assert len(loaded) == 10


def _many_types(spark):
    return spark.range(3).select(
        F.col("id").alias("l"),
        F.col("id").cast("int").alias("i"),
        F.col("id").cast("short").alias("s"),
        F.col("id").cast("byte").alias("b"),
        (F.col("id") / 3).cast("float").alias("f"),
        (F.col("id") / 3).alias("d"),
        F.col("id").cast("decimal(10,2)").alias("dec"),
        F.col("id").cast("decimal(38,10)").alias("wide_dec"),
        F.col("id").cast("string").alias("str"),
        F.col("id").cast("string").cast("binary").alias("bin"),
        (F.col("id") % 2 == 0).alias("flag"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int"))
        .alias("day"),
        F.current_timestamp().alias("ts"),
        F.lit("2020-01-01 00:00:00").cast("timestamp_ntz").alias("ts_ntz"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.create_map(F.col("id").cast("string"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("z")).alias("st"),
    )


def test_spark_written_many_types_equal_inference(spark, tmp_path):
    _many_types(spark).write.parquet(str(tmp_path / "wide.parquet"))
    _assert_loads_as_inferred(spark, str(tmp_path), ["wide"])


def test_spark_written_timestamp_loads_with_values(spark, tmp_path):
    """Spark writes TIMESTAMP as INT96, which pyarrow reports as
    timestamp[ns]; the nanos fix-up must leave such a column alone (it used
    to apply ``ts div 1000`` to a TIMESTAMP and fail analysis)."""
    df = _many_types(spark).select("l", "ts").localCheckpoint()
    df.write.parquet(str(tmp_path / "stamped.parquet"))
    got = load_source_tables(spark, str(tmp_path), tables=["stamped"])["stamped"]
    assert got.schema["ts"].dataType == df.schema["ts"].dataType
    assert sorted(got.collect()) == sorted(df.collect())


def test_partitioned_dest_equals_inference(spark, tmp_path):
    dest = {
        "orders": spark.createDataFrame(
            [(1, "F", 10.0), (2, "O", 20.0), (3, "F", 30.0)],
            "o_orderkey long, o_orderstatus string, o_totalprice double"),
    }
    write_dest_partitioned(
        dest, str(tmp_path), {"orders": ["o_orderstatus", "bucket"]},
        derive={"orders": {"bucket": F.col("o_orderkey") % 2}})
    loaded = _assert_loads_as_inferred(spark, str(tmp_path), ["orders"])
    assert loaded["orders"].columns[-2:] == ["o_orderstatus", "bucket"]
    assert loaded["orders"].count() == 3


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    paq.write_table(table, path)


def test_hidden_and_success_files_are_skipped(spark, tmp_path):
    """``_SUCCESS``, dot files, ``_``-prefixed files and directories are not
    data: a hidden file with another schema must not decide the schema,
    while an ``_x=...`` partition directory is data."""
    ds = tmp_path / "t.parquet"
    spark.range(4).selectExpr("id", "cast(id as string) AS name") \
        .write.parquet(str(ds))
    assert (ds / "_SUCCESS").exists()
    other = pa.table({"zzz": pa.array([1.5])})
    for hidden in (".a.parquet", "_a.parquet", "_temporary/0/a.parquet",
                   ".staging/a.parquet", "a.parquet._COPYING_"):
        _write(str(ds / hidden), other)
    _assert_loads_as_inferred(spark, str(tmp_path), ["t"])

    part = tmp_path / "p.parquet"
    _write(str(part / "_x=1" / "b.parquet"), pa.table({"v": [1, 2]}))
    _write(str(part / "_x=2" / "a.parquet"), pa.table({"v": [3]}))
    loaded = _assert_loads_as_inferred(spark, str(tmp_path), ["p"])
    assert loaded["p"].columns == ["v", "_x"]


def test_summary_files_and_path_order_decide_the_schema(spark, tmp_path):
    """Spark reads ``_common_metadata``, then ``_metadata``, then the first
    data file in path order — each layout gives a different schema here."""
    narrow = pa.table({"a": pa.array([1], pa.int64())})
    wide = pa.table({"a": pa.array([1], pa.int64()),
                     "b": pa.array(["x"])})
    widest = pa.schema([("a", pa.int64()), ("b", pa.string()),
                        ("c", pa.float64())])

    _write(str(tmp_path / "order.parquet" / "k=2" / "a.parquet"), narrow)
    _write(str(tmp_path / "order.parquet" / "k=1" / "z.parquet"), wide)

    both = tmp_path / "both.parquet"
    _write(str(both / "part-0.parquet"), narrow)
    paq.write_metadata(wide.schema, str(both / "_metadata"))
    paq.write_metadata(widest, str(both / "_common_metadata"))

    meta = tmp_path / "meta.parquet"
    _write(str(meta / "part-0.parquet"), narrow)
    paq.write_metadata(wide.schema, str(meta / "_metadata"))

    loaded = _assert_loads_as_inferred(
        spark, str(tmp_path), ["order", "both", "meta"])
    assert loaded["order"].columns == ["a", "b", "k"]
    assert loaded["both"].columns == ["a", "b", "c"]
    assert loaded["meta"].columns == ["a", "b"]


def test_merge_schema_conf_is_honoured(spark, tmp_path):
    ds = tmp_path / "m.parquet"
    _write(str(ds / "part-0.parquet"), pa.table({"a": pa.array([1])}))
    _write(str(ds / "part-1.parquet"),
           pa.table({"a": pa.array([2]), "b": pa.array(["y"])}))
    assert load_source_tables(spark, str(tmp_path))["m"].columns == ["a"]
    spark.conf.set(MERGE_SCHEMA_CONF, "true")
    try:
        loaded = _assert_loads_as_inferred(spark, str(tmp_path), ["m"])
    finally:
        spark.conf.unset(MERGE_SCHEMA_CONF)
    assert loaded["m"].columns == ["a", "b"]


def test_dataset_without_data_files_raises_sparks_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    (tmp_path / "empty.parquet").mkdir()
    (tmp_path / "empty.parquet" / "_SUCCESS").touch()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        load_source_tables(spark, str(tmp_path), tables=["empty"])


# ----------------------------------------------------------------- no jobs

def test_parquet_load_launches_zero_jobs(spark, sf_dir):
    loaded, jobs = jobs_in_group(
        spark, "test-registry-load", lambda: load_source_tables(spark, sf_dir))
    assert len(loaded) == 10
    assert jobs == []
    # the counter sees the per-table inference job this load avoids
    _, inferred = jobs_in_group(
        spark, "test-registry-infer",
        lambda: spark.read.parquet(os.path.join(sf_dir, "orders.parquet")))
    assert len(inferred) == 1


# ------------------------------------------------ ns timestamp restoration

def test_nanos_floor_pre_1970(spark, tmp_path):
    # -1500 ns and +1500 ns: floor to -2 us / +1 us (ns->us must round DOWN,
    # matching DuckDB/pandas; truncation toward zero gives -1 us — off by 1)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([-1500, 1500], pa.timestamp("ns")),
        }
    )
    paq.write_table(tbl, os.path.join(tmp_path, "events.parquet"))
    out = load_source_tables(spark, str(tmp_path), tables=["events"])
    got = {
        r.event_id: r.micros
        for r in out["events"]
        .select("event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("micros"))
        .collect()
    }
    assert got == {1: -2, 2: 1}


# --------------------------------------------------------------- lookup_df

def _plans_local_relation(df):
    return "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()


def test_lookup_df_list_schema_keeps_int_with_none(spark):
    df = lookup_df(spark, [(1, "a"), (None, "b")], ["k", "v"])
    assert isinstance(df.schema["k"].dataType, LongType)
    assert sorted(df.collect(), key=str) == sorted(
        [(1, "a"), (None, "b")], key=str)
    assert _plans_local_relation(df)


def test_lookup_df_ddl_schema_keeps_large_int_with_none(spark):
    big = 2**60 + 1  # not representable as float64
    df = lookup_df(spark, [(big,), (None,)], "k long")
    assert sorted(r.k for r in df.collect() if r.k is not None) == [big]


def test_lookup_df_without_pandas_takes_plain_path(spark, monkeypatch):
    monkeypatch.setitem(sys.modules, "pandas", None)
    df = lookup_df(spark, [(1, "a")], "k long, v string")
    assert [tuple(r) for r in df.collect()] == [(1, "a")]


def test_lookup_df_is_local_relation_without_arrow_conf(spark):
    """A session built without ``get_spark`` has the Arrow conf off by
    default, where ``createDataFrame(pandas)`` parallelizes to an RDD;
    ``lookup_df`` still plans a LocalRelation, and collecting it runs no
    job.  ``ensure_compat`` still turns the conf on (``toPandas`` uses it)."""
    plain = spark.newSession()
    plain.conf.unset(ARROW_CONF)
    assert plain.conf.get(ARROW_CONF) == "false"
    rows = [(1, "a"), (2, "b")]
    df = lookup_df(plain, rows, "k long, v string")
    assert _plans_local_relation(df)
    got, jobs = jobs_in_group(plain, "test-lookup-no-arrow", df.collect)
    assert [tuple(r) for r in got] == rows
    assert jobs == []
    ensure_compat(plain)
    assert plain.conf.get(ARROW_CONF) == "true"
