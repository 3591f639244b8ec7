"""CLI / sink / teardown coverage: the ``python -m condenser_spark`` lifecycle
(reference: direct_subset.py), S7 teardown, S9 write_dest, schema-qualified
table names, and the downstream multi-edge key guard."""

import json
import os

import pytest
from pyspark.sql import functions as F

from condenser_spark.fixtures import base_config_dict


@pytest.fixture()
def config_file(tmp_path):
    cfg = base_config_dict(
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
        passthrough_tables=["region"],
    )
    path = tmp_path / "config.json"
    path.write_text(json.dumps(cfg))
    return str(path)


def test_cli_end_to_end(spark, sf_dir, tmp_path, config_file, capsys):
    from condenser_spark.__main__ import main

    dest = str(tmp_path / "dest")
    rc = main(
        [config_file, "--source", sf_dir, "--dest", dest,
         "--materialize", "parquet"],
        spark=spark,
    )
    assert rc == 0
    # every fixture table materialized, subset tables non-empty and closed
    written = sorted(
        f[:-len(".parquet")] for f in os.listdir(dest) if f.endswith(".parquet")
    )
    assert "orders" in written and "lineitem" in written and "region" in written
    orders = spark.read.parquet(os.path.join(dest, "orders.parquet"))
    src_orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    assert 0 < orders.count() < src_orders.count()
    # printed tabulation reached stdout (reference result_tabulator parity)
    out = capsys.readouterr().out
    assert "orders:" in out and "region:" in out


def test_cli_stdin_parity(spark, sf_dir, tmp_path, monkeypatch):
    """--stdin variant (direct_subset.py:21-24)."""
    import io

    from condenser_spark.__main__ import main

    cfg = base_config_dict(
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
    )
    monkeypatch.setattr("sys.stdin", io.StringIO(json.dumps(cfg)))
    dest = str(tmp_path / "dest")
    rc = main(["--stdin", "--source", sf_dir, "--dest", dest], spark=spark)
    assert rc == 0
    assert os.path.exists(os.path.join(dest, "orders.parquet"))


def test_teardown_removes_stale_tables(spark, sf_dir, tmp_path, config_file):
    """S7 — a table produced by an OLD config must not survive a re-run
    (/root/reference/psql_database_creator.py:56-67)."""
    from condenser_spark.__main__ import main
    from condenser_spark.registry import teardown_dest

    dest = str(tmp_path / "dest")
    os.makedirs(dest)
    stale = os.path.join(dest, "stale_table.parquet")
    spark.range(5).write.parquet(stale)
    assert os.path.exists(stale)
    rc = main(
        [config_file, "--source", sf_dir, "--dest", dest], spark=spark
    )
    assert rc == 0
    assert not os.path.exists(stale)
    # direct teardown empties everything
    teardown_dest(dest)
    assert [f for f in os.listdir(dest) if f.endswith(".parquet")] == []


def test_write_dest_roundtrip(spark, source, tmp_path):
    """S9 — the parquet sink round-trips contents exactly."""
    from condenser_spark.registry import write_dest

    dest = str(tmp_path / "out")
    write_dest({"nation": source["nation"]}, dest)
    back = spark.read.parquet(os.path.join(dest, "nation.parquet"))
    assert back.schema == source["nation"].schema
    assert sorted(back.collect()) == sorted(source["nation"].collect())


def test_schema_qualified_tables_end_to_end(spark, source, tmp_path):
    """The reference is schema-qualified throughout
    (/root/reference/subset_utils.py:72-83); table names with a schema prefix
    flow through config ('tonic format'), registry, graph, and engine."""
    from condenser_spark.config import SubsetConfig
    from condenser_spark.engine import SubsetEngine
    from condenser_spark.registry import load_source_tables, write_dest

    src_dir = str(tmp_path / "src")
    write_dest(
        {"public.orders": source["orders"], "public.customer": source["customer"]},
        src_dir,
    )
    qualified = load_source_tables(spark, src_dir)
    assert set(qualified) == {"public.orders", "public.customer"}

    cfg = SubsetConfig.from_dict({
        "initial_targets": [{"table": "public.orders", "percent": 10,
                             "sample_key": "o_orderkey"}],
        "fk_augmentation": [{
            # reference "tonic format" with split schema fields
            # (/root/reference/config_reader.py:65-74)
            "fk_schema": "public", "fk_table": "orders",
            "fk_columns": ["o_custkey"],
            "target_schema": "public", "target_table": "customer",
            "target_columns": ["c_custkey"],
        }],
    })
    eng = SubsetEngine(spark, cfg, qualified)
    dest = eng.run_middle_out()
    n_orders = dest["public.orders"].count()
    n_cust = dest["public.customer"].count()
    assert n_orders > 0 and n_cust > 0
    assert all(v == 0 for v in eng.validate().values())


def test_downstream_multi_edge_key_mismatch_raises(spark, source):
    """Two edges referencing DIFFERENT key columns of one table must fail with
    a clear message, not a confusing union error (VERDICT r1 latent #5)."""
    from condenser_spark.config import SubsetConfig
    from condenser_spark.engine import SubsetEngine

    cfg = SubsetConfig.from_dict(base_config_dict(
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
        fk_augmentation=[
            {"fk_table": "orders", "fk_columns": ["o_custkey"],
             "target_table": "customer", "target_columns": ["c_custkey"]},
            {"fk_table": "events", "fk_columns": ["user_id"],
             "target_table": "customer", "target_columns": ["c_nationkey"]},
        ],
    ))
    eng = SubsetEngine(spark, cfg, source)
    with pytest.raises(ValueError, match="disagree on target key columns"):
        eng.run_middle_out()


def test_csv_source_format_end_to_end(spark, source, tmp_path):
    """Multi-format sources: subset straight from CSV exports (the reference's
    two-RDBMS-dialect concern becomes a format concern on Spark)."""
    from condenser_spark.config import SubsetConfig
    from condenser_spark.engine import SubsetEngine
    from condenser_spark.registry import load_source_tables

    src_dir = str(tmp_path / "csv_src")
    for t in ("orders", "customer"):
        source[t].write.option("header", True).csv(f"{src_dir}/{t}.csv")
    loaded = load_source_tables(spark, src_dir, source_format="csv")
    assert set(loaded) == {"orders", "customer"}
    assert loaded["orders"].count() == source["orders"].count()

    cfg = SubsetConfig.from_dict({
        "initial_targets": [{"table": "orders", "percent": 10,
                             "sample_key": "o_orderkey"}],
        "fk_augmentation": [
            {"fk_table": "orders", "fk_columns": ["o_custkey"],
             "target_table": "customer", "target_columns": ["c_custkey"]},
        ],
    })
    eng = SubsetEngine(spark, cfg, loaded)
    dest = eng.run_middle_out()
    assert dest["orders"].count() > 0
    assert all(v == 0 for v in eng.validate().values())


def test_example_config_runs(spark, sf_dir, tmp_path, capsys):
    """The shipped examples/config.example.json runs end-to-end through the
    CLI — the 'a reference user can switch' check."""
    import os

    from condenser_spark.__main__ import main

    dest = str(tmp_path / "dest")
    rc = main(
        ["examples/config.example.json", "--source", sf_dir, "--dest", dest],
        spark=spark,
    )
    assert rc == 0
    assert os.path.exists(os.path.join(dest, "orders.parquet"))
    out = capsys.readouterr().out
    assert "lineitem:" in out


def test_cli_verbose_logs_phase_timings_to_stderr(spark, sf_dir, tmp_path,
                                                  config_file, capsys):
    """``-v`` logs the engine's five phase timings to stderr and leaves the
    stdout tabulation byte-identical; only the engine logger is touched,
    and only for the run."""
    import logging

    from condenser_spark.__main__ import main

    root = logging.getLogger()
    engine_log = logging.getLogger("condenser_spark.engine")
    before = (root.level, list(root.handlers),
              engine_log.level, list(engine_log.handlers))
    runs = []
    for i, extra in enumerate(([], ["-v"])):
        rc = main([config_file, "--source", sf_dir,
                   "--dest", str(tmp_path / f"dest{i}"), *extra], spark=spark)
        assert rc == 0
        runs.append(capsys.readouterr())
    quiet, verbose = runs
    assert verbose.out == quiet.out and "orders:" in quiet.out
    assert "completed in" not in quiet.err
    for phase in ("Direct target tables", "Greedy subsettings",
                  "Pass-through", "Downstream subsetting",
                  "Disconnected tables"):
        assert f"{phase} completed in " in verbose.err, phase
    assert (root.level, list(root.handlers),
            engine_log.level, list(engine_log.handlers)) == before
