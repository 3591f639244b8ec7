"""operators.validate: per-edge orphan counts; the subset report, counted
from parquet footers where the frame allows and by Spark otherwise."""

import os
import shutil

import pytest

from condenser_spark.config import Relationship, SubsetConfig
from condenser_spark.engine import SubsetEngine
from condenser_spark.fixtures import base_config_dict
from condenser_spark.operators.validate import referential_violations, tabulate
from condenser_spark.registry import (
    FILE_THRESHOLD_CONF,
    empty_like,
    load_source_tables,
    metadata_row_count,
    write_dest_partitioned,
)
from tests.conftest import SF_DIR, jobs_in_group


def _edge(child, fk, parent, pk):
    return Relationship(fk_table=child, fk_columns=(fk,),
                        target_table=parent, target_columns=(pk,))


def test_referential_violations_counts_per_edge(spark):
    """Duplicate parent keys match like one key, NULL FKs are never orphans,
    an edge without orphans reports 0, and a self-referencing edge (which
    used to fail analysis as an ambiguous self-join) counts its own
    orphans."""
    emp = spark.createDataFrame(
        [(1, None), (2, 1), (3, 9), (4, 2), (5, 77)], "id long, mgr long")
    dup = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    child = spark.createDataFrame([(1,), (3,), (None,), (3,)], "k long")
    dest = {"emp": emp, "dup": dup, "child": child}
    edges = [_edge("emp", "mgr", "emp", "id"),
             _edge("child", "k", "dup", "k"),
             _edge("dup", "k", "emp", "id"),
             _edge("child", "k", "absent", "k")]
    got = referential_violations(dest, edges)
    assert got == {edges[0]: 2, edges[1]: 2, edges[2]: 0}


# ------------------------------------------------------------------ tabulate

@pytest.fixture(scope="module")
def source_sf001(spark):
    return load_source_tables(
        spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01"))


def _assert_tabulates(spark, source, dest):
    """``tabulate`` equals per-frame ``count()`` with the zero-division
    guard, table by table."""
    got = {r.table_name: tuple(r)[1:]
           for r in tabulate(spark, source, dest).collect()}
    want = {}
    for name, df in source.items():
        sc = df.count()
        dc = dest[name].count() if name in dest else 0
        want[name] = (sc, dc, 100.0 * dc / sc if sc > 0 else 0.0)
    assert got == want


def _engine(spark, source, mode, dest_path=None):
    cfg = SubsetConfig.from_dict(base_config_dict(
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
        passthrough_tables=["region"],
        excluded_tables=["embeddings"],
    ))
    eng = SubsetEngine(spark, cfg, source, materialize=mode,
                       dest_path=dest_path)
    eng.run_middle_out()
    return eng


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("mode", ["none", "persist", "checkpoint", "parquet"])
def test_tabulate_equals_counts_per_mode(spark, source, source_sf001, scale,
                                         mode, tmp_path):
    """Parquet-mode dest frames are plain scans or ``empty_like`` frames,
    all counted from metadata; the other modes' dest frames fall back to
    the Spark aggregate.  Excluded tables count on both sides."""
    src = source if scale == "sf0.001" else source_sf001
    eng = _engine(spark, src, mode, str(tmp_path))
    try:
        report_src = {**eng.source, **eng.excluded}
        _assert_tabulates(spark, report_src, eng.dest)
        countable = [t for t, df in eng.dest.items()
                     if metadata_row_count(df) is not None]
        if mode == "parquet":
            assert sorted(countable) == sorted(eng.dest)
        else:
            assert "orders" not in countable  # a sample, not a scan
    finally:
        eng.cleanup()


def test_tabulate_counts_partitioned_and_empty_frames(spark, source,
                                                      tmp_path):
    """A hive-partitioned dataset with a ``_metadata`` summary file (which
    Spark lists but never scans) and an ``empty_like`` frame are counted on
    the driver."""
    write_dest_partitioned({"orders": source["orders"]}, str(tmp_path),
                           {"orders": ["o_orderstatus"]})
    path = os.path.join(tmp_path, "orders.parquet")
    part = next(os.path.join(root, f)
                for root, _, files in os.walk(path)
                for f in files if f.endswith(".parquet"))
    shutil.copy(part, os.path.join(path, "_metadata"))
    landed = spark.read.parquet(path)
    empty = empty_like(source["part"])
    assert metadata_row_count(landed) == landed.count()
    assert metadata_row_count(empty) == 0
    _assert_tabulates(spark, source, {"orders": landed, "part": empty})


def test_tabulate_falls_back_for_uncountable_frames(spark, source):
    """Filtered, limited, sampled, cached and union frames are counted by
    the Spark aggregate, side by side with footer-counted frames."""
    cached = source["customer"].select("*").persist()
    dest = {
        "orders": source["orders"].filter("o_orderkey % 7 = 0"),
        "nation": source["nation"].limit(5),
        "part": source["part"].sample(0.3, seed=11),
        "customer": cached,
        "region": source["region"].unionByName(source["region"]),
        "lineitem": source["lineitem"],
    }
    try:
        for name, df in dest.items():
            if name != "lineitem":
                assert metadata_row_count(df) is None, name
        assert metadata_row_count(dest["lineitem"]) is not None
        _assert_tabulates(spark, source, dest)
    finally:
        cached.unpersist()


def _three_part_files(spark, path):
    spark.range(30).repartition(3).write.parquet(path)
    return spark.read.schema("id long").parquet(path)


def test_tabulate_falls_back_above_file_threshold(spark, tmp_path):
    """Past Spark's driver-side listing threshold the files are Spark's to
    count: the driver's work stays bounded however many files a table
    has."""
    df = _three_part_files(spark, str(tmp_path / "t.parquet"))
    before = spark.conf.get(FILE_THRESHOLD_CONF)
    try:
        spark.conf.set(FILE_THRESHOLD_CONF, "3")
        assert metadata_row_count(df) == 30
        spark.conf.set(FILE_THRESHOLD_CONF, "2")
        assert metadata_row_count(df) is None
        _assert_tabulates(spark, {"t": df}, {"t": df})
    finally:
        spark.conf.set(FILE_THRESHOLD_CONF, before)


def test_tabulate_counts_a_frame_persisted_after_it_was_counted(spark,
                                                                tmp_path):
    """The cache is looked up when ``tabulate`` is called: a frame
    persisted after its first report is counted by the Spark aggregate,
    with the same counts."""
    df = _three_part_files(spark, str(tmp_path / "t.parquet"))

    def report():
        rep = tabulate(spark, {"t": df}, {"t": df})
        local = rep._jdf.queryExecution().optimizedPlan().nodeName()
        return rep.collect(), local == "LocalRelation"

    first, first_local = report()
    assert first_local
    df.persist()
    try:
        assert metadata_row_count(df) is None
        second, second_local = report()
        assert not second_local
        assert second == first
        _assert_tabulates(spark, {"t": df}, {"t": df})
    finally:
        df.unpersist()


def test_tabulate_leaves_corrupt_files_to_spark(spark, tmp_path):
    """Under ``ignoreCorruptFiles`` Spark skips a part-file whose footer is
    garbage; the footer read fails, so Spark counts."""
    path = str(tmp_path / "t.parquet")
    df = _three_part_files(spark, path)
    victim = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
    with open(os.path.join(path, victim), "wb") as f:
        f.write(b"not a parquet file")
    conf = "spark.sql.files.ignoreCorruptFiles"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert metadata_row_count(df) is None
        assert df.count() < 30
        _assert_tabulates(spark, {"t": df}, {"t": df})
    finally:
        spark.conf.set(conf, before)


def test_parquet_mode_report_runs_no_job(spark, source, tmp_path):
    eng = _engine(spark, source, "parquet", str(tmp_path))
    rows, jobs = jobs_in_group(spark, "test-tabulate-report",
                               lambda: eng.report().collect())
    assert len(rows) == len(source)
    assert jobs == []
    # the counter sees a job: collecting a landed table runs one
    _, control = jobs_in_group(spark, "test-tabulate-control",
                               eng.dest["region"].collect)
    assert len(control) == 1
