"""The session's confs: the codegen class cache ``get_spark`` sizes, the
warning ``ensure_compat`` gives a session launched without it, and warm runs
of a curation chain and of the CLI reusing their generated code."""

from __future__ import annotations

import json
import logging

from pyspark.sql import functions as F

from condenser_spark import session
from condenser_spark.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
    ensure_compat,
)
from tests.conftest import codegen_compiles


def test_get_spark_sizes_the_codegen_cache(spark):
    want = str(CODEGEN_CACHE_ENTRIES)
    assert spark.sparkContext.getConf().get(CODEGEN_CACHE_CONF) == want
    assert spark.conf.get(CODEGEN_CACHE_CONF) == want


def _cache_warnings(caplog):
    return [r for r in caplog.records if r.name == session.__name__
            and CODEGEN_CACHE_CONF in r.getMessage()]


def test_ensure_compat_warns_once_of_a_small_codegen_cache(
        spark, monkeypatch, caplog):
    monkeypatch.setattr(session, "_warned_apps", set())
    caplog.set_level(logging.WARNING, logger=session.__name__)
    ensure_compat(spark)
    assert _cache_warnings(caplog) == []  # get_spark's session is sized

    # a session launched with a cache below the constant: the warning names
    # the launch flag, once per application however often it is called
    entries = CODEGEN_CACHE_ENTRIES + 1
    monkeypatch.setattr(session, "CODEGEN_CACHE_ENTRIES", entries)
    ensure_compat(spark)
    ensure_compat(spark)
    (warning,) = _cache_warnings(caplog)
    assert warning.levelno == logging.WARNING
    assert f"--conf {CODEGEN_CACHE_CONF}={entries}" in warning.getMessage()
    assert str(CODEGEN_CACHE_ENTRIES) in warning.getMessage()


def test_warm_curate_chain_reuses_its_generated_code(spark, source):
    """The perfbench curate chain (C4, Gopher, near dedup, decontamination
    with a bloom, DSIR) compiles ~170 classes here, more than Spark's
    default 100-entry codegen cache holds: there every warm run compiled
    ~190 again.  In the cache ``get_spark`` sizes, the second run compiled
    3-19 classes, the third 0-16 and the fifth 0: now and then a warm run
    still generates code for some stage that no earlier run did."""
    from condenser_spark.curate import curate_corpus
    from condenser_spark.functions.dedup import build_shingle_bloom
    from condenser_spark.functions.dsir import train_hashed_ngram_lm

    # a punctuated line ending in the doc id, so C4 keeps it and no 8-gram
    # is shared by every doc (decontamination would drop them all)
    docs = source["documents"].select(
        "doc_id",
        F.concat("text", F.lit(" in document "),
                 F.col("doc_id").cast("string"), F.lit(".")).alias("text"),
        "lang")
    eval_df = docs.filter("doc_id < 20")
    bloom = build_shingle_bloom(eval_df, n=8)
    target_lm = train_hashed_ngram_lm(
        docs.filter("lang = 'en'")).localCheckpoint()
    raw_lm = train_hashed_ngram_lm(docs).localCheckpoint()

    def run():
        cur, rep = curate_corpus(
            docs, c4={"min_kept_lines": 1},
            gopher={"min_stop_hits": 1, "min_words": 10}, dedup="near",
            eval_df=eval_df, decontaminate_opts={"bloom": bloom},
            dsir_opts={"target_lm": target_lm, "raw_lm": raw_lm, "k": 50})
        report = [tuple(r) for r in rep.collect()]
        kept = sorted(r.doc_id for r in cur.select("doc_id").collect())
        return report, kept

    runs = [codegen_compiles(spark, run) for _ in range(3)]
    report, kept = runs[0][0]
    # every stage drops some docs, and no run differs
    assert [r[0] for r in report] == ["c4_clean", "gopher_rules",
                                      "near_dedup", "decontaminate",
                                      "dsir_select"]
    assert all(r[1] > r[2] for r in report[1:]) and len(kept) == 50
    assert all(out == runs[0][0] for out, _ in runs)
    compiles = [n for _, n in runs]
    assert compiles[0] > 100, compiles  # more than the default cache
    assert compiles[2] <= compiles[0] // 5, compiles


def test_second_cli_subset_run_compiles_no_code(spark, sf_dir, tmp_path):
    from condenser_spark.__main__ import main
    from condenser_spark.fixtures import base_config_dict

    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps(base_config_dict(
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
        passthrough_tables=["region"])))
    argv = [str(cfg), "--source", sf_dir, "--dest", str(tmp_path / "dest"),
            "--materialize", "parquet"]
    runs = [codegen_compiles(spark, lambda: main(argv, spark=spark))
            for _ in range(2)]
    assert [rc for rc, _ in runs] == [0, 0]
    assert runs[1][1] == 0, [n for _, n in runs]
