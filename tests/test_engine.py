"""End-to-end middle-out subset tests + invariant checks (SURVEY §5.2.2-3),
exercising the representative configs from FIXTURES.md."""

import logging

import pytest
from pyspark.sql import functions as F

from condenser_spark.config import SubsetConfig
from condenser_spark.engine import SubsetEngine
from condenser_spark.fixtures import base_config_dict


def run(spark, source, **overrides):
    cfg = SubsetConfig.from_dict(base_config_dict(**overrides))
    eng = SubsetEngine(spark, cfg, source)
    eng.run_middle_out()
    return eng


def assert_closed(eng):
    violations = {r: n for r, n in eng.validate().items() if n > 0}
    assert not violations, f"referential integrity violations: {violations}"


def assert_subset_of_source(eng):
    # subset rows ⊆ source rows, table by table (ignoring NULLed FK columns we
    # can't compare directly: use anti-join on full row for tables w/o breaks)
    for t, df in eng.dest.items():
        src = eng.source.get(t, eng.excluded.get(t))
        assert df.count() <= src.count(), f"{t} grew beyond source"


def test_percent_target_deterministic(spark, source):
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 10, "sample_key": "o_orderkey"}],
    )
    assert_closed(eng)
    assert_subset_of_source(eng)
    n_orders = eng.dest["orders"].count()
    total = source["orders"].count()
    assert n_orders == pytest.approx(total * 0.10, rel=0.05)
    # upstream greed: every lineitem of a kept order is present
    kept_li = eng.dest["lineitem"].count()
    expected_li = (
        source["lineitem"]
        .join(eng.dest["orders"].select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .count()
    )
    assert kept_li == expected_li
    # events is NOT upstream of orders (same stratum) -> empty
    assert eng.dest["events"].count() == 0
    # disconnected tables empty by default
    assert eng.dest["documents"].count() == 0
    assert eng.dest["embeddings"].count() == 0


def test_where_target(spark, source):
    eng = run(
        spark, source,
        initial_targets=[{"table": "customer", "where": "c_mktsegment = 'BUILDING'"}],
    )
    assert_closed(eng)
    n = eng.dest["customer"].count()
    expected = source["customer"].filter("c_mktsegment = 'BUILDING'").count()
    assert n == expected
    # downstream pulled nations/regions for those customers only
    assert 0 < eng.dest["nation"].count() <= source["nation"].count()
    # upstream greed pulled orders and events of those customers, and lineitems
    assert eng.dest["orders"].count() > 0
    assert eng.dest["events"].count() > 0
    assert eng.dest["lineitem"].count() > 0


def test_bernoulli_percent_target(spark, source):
    eng = run(spark, source,
              initial_targets=[{"table": "orders", "percent": 20}])
    assert_closed(eng)
    n, total = eng.dest["orders"].count(), source["orders"].count()
    # Bernoulli: loose bounds only
    assert 0.10 * total < n < 0.35 * total


def test_passthrough(spark, source):
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 10, "sample_key": "o_orderkey"}],
        passthrough_tables=["region", "part"],
    )
    assert_closed(eng)
    assert eng.dest["region"].count() == source["region"].count()
    assert eng.dest["part"].count() == source["part"].count()


def test_excluded(spark, source):
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 10, "sample_key": "o_orderkey"}],
        excluded_tables=["events"],
    )
    assert "events" in eng.dest
    assert eng.dest["events"].count() == 0
    # excluded tables don't participate in closure
    assert "events" not in eng.source


def test_dependency_break_nulls_fk(spark, source):
    # synthetic cycle customer -> orders -> customer via a NON-key column of
    # customer (c_nationkey), broken on the customer side.  Breaking an edge whose
    # fk column is the table's own PK would orphan its children by construction —
    # same in the reference, where constraint application would then fail.
    aug = base_config_dict()["fk_augmentation"] + [
        {"fk_table": "customer", "fk_columns": ["c_nationkey"],
         "target_table": "orders", "target_columns": ["o_orderkey"]},
    ]
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 10, "sample_key": "o_orderkey"}],
        fk_augmentation=aug,
        dependency_breaks=[{"fk_table": "customer", "target_table": "orders"}],
    )
    cust = eng.dest["customer"]
    assert cust.count() > 0
    # the broken edge's FK column is NULLed on every copied customer row
    # (/root/reference/subset_utils.py:8-21)
    assert cust.filter(F.col("c_nationkey").isNotNull()).count() == 0
    # non-broken edges still closed (NULL FKs are exempt, as in SQL FK semantics)
    assert_closed(eng)


def test_dependency_break_opportunistic_preserves(spark, source):
    aug = base_config_dict()["fk_augmentation"] + [
        {"fk_table": "customer", "fk_columns": ["c_nationkey"],
         "target_table": "orders", "target_columns": ["o_orderkey"]},
    ]
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 10, "sample_key": "o_orderkey"}],
        fk_augmentation=aug,
        dependency_breaks=[{"fk_table": "customer", "target_table": "orders",
                            "perserve_fk_opportunistically": True}],
    )
    cust = eng.dest["customer"]
    assert cust.filter(F.col("c_nationkey").isNull()).count() == 0


def test_upstream_filters(spark, source):
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 50, "sample_key": "o_orderkey"}],
        upstream_filters=[
            {"table": "lineitem", "condition": "l_shipdate > timestamp '1995-01-01'"}
        ],
    )
    li = eng.dest["lineitem"]
    assert li.count() > 0
    assert li.filter("l_shipdate <= timestamp '1995-01-01'").count() == 0


def test_upstream_filter_column_match(spark, source):
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 50, "sample_key": "o_orderkey"}],
        upstream_filters=[{"column": "l_quantity", "condition": "l_quantity > 25"}],
    )
    li = eng.dest["lineitem"]
    assert li.count() > 0
    assert li.filter("l_quantity <= 25").count() == 0


def test_max_rows_per_table(spark, source):
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 50, "sample_key": "o_orderkey"}],
        passthrough_tables=["part"],
        max_rows_per_table=50,
    )
    assert eng.dest["part"].count() == 50
    assert eng.dest["lineitem"].count() <= 50


def test_keep_disconnected(spark, source):
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 10, "sample_key": "o_orderkey"}],
        keep_disconnected_tables=True,
    )
    assert eng.dest["documents"].count() == source["documents"].count()
    assert eng.dest["embeddings"].count() == source["embeddings"].count()


def test_null_key_rows_dropped(spark, source):
    # inject NULL user_id events via a union (testdata itself is read-only)
    ev = source["events"]
    nulls = ev.limit(5).withColumn("user_id", F.lit(None).cast("long"))
    patched = dict(source)
    patched["events"] = ev.unionByName(nulls)
    eng = SubsetEngine(
        spark,
        SubsetConfig.from_dict(base_config_dict(
            initial_targets=[{"table": "customer", "where": "c_mktsegment = 'BUILDING'"}],
        )),
        patched,
    )
    eng.run_middle_out()
    # NULL-keyed events must not fetch extra customers and must not crash
    assert_closed(eng)


def test_tabulate_report(spark, source):
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 10, "sample_key": "o_orderkey"}],
    )
    rep = eng.report().collect()
    by_name = {r["table_name"]: r for r in rep}
    assert by_name["orders"].dest_count == eng.dest["orders"].count()
    assert by_name["orders"].source_count == source["orders"].count()


def test_run_full_lifecycle_with_hooks(spark, source):
    cfg = SubsetConfig.from_dict(base_config_dict(
        initial_targets=[{"table": "orders", "percent": 10, "sample_key": "o_orderkey"}],
        post_subset_sql=["SELECT COUNT(*) FROM dest_orders"],
    ))
    eng = SubsetEngine(spark, cfg, source)
    eng.run()  # validates closure internally, raises on violation


# ------------------------------------------------------- self-referencing edge

def _self_edge_source(spark):
    emp = spark.createDataFrame(
        [(1, None, 10), (2, 1, 10), (3, 1, 20), (4, 3, 20), (5, 9, 30)],
        "id long, mgr long, dept long")
    dept = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "c"), (40, "d")], "d_id long, name string")
    return {"emp": emp, "dept": dept}


def _self_edge_config(breaks):
    return SubsetConfig.from_dict({
        "initial_targets": [{"table": "emp", "where": "id IN (2, 4)"}],
        "dependency_breaks": breaks,
        "fk_augmentation": [
            {"fk_table": "emp", "fk_columns": ["mgr"],
             "target_table": "emp", "target_columns": ["id"]},
            {"fk_table": "emp", "fk_columns": ["dept"],
             "target_table": "dept", "target_columns": ["d_id"]},
        ],
    })


@pytest.mark.parametrize("mode", ["none", "persist", "checkpoint", "parquet"])
def test_broken_self_edge_runs_in_every_mode(spark, tmp_path, mode):
    """A self-referencing FK edge listed in ``dependency_breaks`` goes
    through the full lifecycle: its FK column is NULLed, the remaining edge
    is closed, and the report runs."""
    cfg = _self_edge_config([{"fk_table": "emp", "target_table": "emp"}])
    eng = SubsetEngine(spark, cfg, _self_edge_source(spark), materialize=mode,
                       dest_path=str(tmp_path / "dest"))
    dest = eng.run()
    assert sorted(tuple(r) for r in dest["emp"].collect()) == [
        (2, None, 10), (4, None, 20)]
    assert sorted(r.d_id for r in dest["dept"].collect()) == [10, 20]
    assert all(n == 0 for n in eng.validate().values())
    report = {r.table_name: (r.source_count, r.dest_count)
              for r in eng.report().collect()}
    assert report == {"emp": (5, 2), "dept": (4, 2)}
    eng.cleanup()


def test_unbroken_self_edge_is_a_circular_dependency(spark):
    eng = SubsetEngine(spark, _self_edge_config([]), _self_edge_source(spark))
    with pytest.raises(ValueError, match="Circular dependency"):
        eng.run()


def test_engine_redacts_the_edges_once(spark, source, monkeypatch):
    import condenser_spark.engine as engine_mod

    calls = []
    real = engine_mod.redact_relationships
    monkeypatch.setattr(engine_mod, "redact_relationships",
                        lambda *a: calls.append(a) or real(*a))
    eng = run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
        passthrough_tables=["region"],
    )
    assert_closed(eng)
    assert len(calls) == 1


def test_phase_timings_are_logged(spark, source, caplog):
    caplog.set_level(logging.INFO, logger="condenser_spark.engine")
    run(
        spark, source,
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
    )
    phases = [r.getMessage().split(" completed in ")[0]
              for r in caplog.records if r.name == "condenser_spark.engine"]
    assert phases == ["Direct target tables", "Greedy subsettings",
                      "Pass-through", "Downstream subsetting",
                      "Disconnected tables"]
