"""curate_stream (streaming/curate.py): the stateless ingest-time chain —
stage-by-stage parity with the manual composition on a batch frame, a real
readStream run, and schema/audit contracts."""

import pytest
from pyspark.sql import functions as F

from condenser_spark.streaming.curate import curate_stream
from condenser_spark.streaming.textdedup import (
    build_kgram_bloom,
    build_line_bloom,
    dedup_lines_stream,
    exact_substring_stream,
)

SCHEMA = "doc_id long, text string, lang string"

SPAN = "w1 w2 w3 w4 w5 w6"  # 6 tokens; k=4 below

_STOPS = ("the and for that with this from they have more".split())
# 80 words, >= 2 stop hits, NO repeated 4-gram (every 2nd token unique),
# no overlap with the landed corpus — survives every enabled stage
GOOD = " ".join(
    f"{_STOPS[i % len(_STOPS)]} aword{i:02d}" for i in range(40))


def _landed(spark):
    return spark.createDataFrame([
        (0, "shared boilerplate footer\nlxa lxb " + SPAN + " lxc", "en"),
    ], SCHEMA)


def _incoming(spark):
    return spark.createDataFrame([
        # survives: long, stop-wordy, unique text
        (10, GOOD + "\nunique ten line", "en"),
        # landed boilerplate line resent + landed span: both cut, doc
        # then fails Gopher's min word count -> dropped
        (11, "shared  BOILERPLATE footer\n" + SPAN, "en"),
        # too short for Gopher even before rewrites -> dropped
        (12, "tiny doc", "en"),
    ], SCHEMA)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_parity_with_manual_chain(spark):
    from condenser_spark.functions.text import gopher_quality_flags

    landed, incoming = _landed(spark), _incoming(spark)
    lb = build_line_bloom(landed)
    kb = build_kgram_bloom(landed, k=4)

    got = curate_stream(incoming, line_bloom=lb, kgram_bloom=kb, k=4,
                        gopher=True)

    manual = dedup_lines_stream(incoming, lb)
    for old, new in (("n_lines", "ld_n_lines"),
                     ("n_removed_lines", "ld_removed_lines"),
                     ("n_removed_tokens", "ld_removed_tokens"),
                     ("n_removed_chars", "ld_removed_chars")):
        manual = manual.withColumnRenamed(old, new)
    manual = exact_substring_stream(manual, kb, k=4)
    for old, new in (("n_tokens", "es_n_tokens"),
                     ("n_removed_tokens", "es_removed_tokens"),
                     ("n_removed_chars", "es_removed_chars")):
        manual = manual.withColumnRenamed(old, new)
    keep = [c for c in manual.columns if c != "doc_id"]
    flagged = gopher_quality_flags(manual, keep_cols=tuple(keep))
    manual = flagged.filter("gopher_pass").select("doc_id", *keep)

    assert got.columns == manual.columns
    assert _rows(got) == _rows(manual)
    # and the chain kept exactly the good document
    assert [r[0] for r in _rows(got)] == [10]


def test_audit_columns_and_schema(spark):
    landed, incoming = _landed(spark), _incoming(spark)
    out = curate_stream(
        incoming,
        line_bloom=build_line_bloom(landed),
        kgram_bloom=build_kgram_bloom(landed, k=4), k=4,
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {10, 11, 12}  # no filter stages enabled
    # doc 11: one landed line cut by stage 1, the span cut by stage 2
    assert rows[11].ld_removed_lines == 1
    assert rows[11].es_removed_tokens == 6
    assert rows[11].text == ""
    # untouched doc carries zero audits and full text
    assert rows[10].ld_removed_lines == 0
    assert rows[10].es_removed_tokens == 0
    # passthrough column survives every stage
    assert rows[10].lang == "en"
    assert out.columns[:3] == ["doc_id", "text", "lang"]


def test_models_rewrite_lang_and_filter_quality(spark):
    from condenser_spark.functions.langid import train_language_model
    from condenser_spark.functions.quality import train_quality_model

    train = spark.createDataFrame(
        [(i, "aaa bbb ccc ddd", "xx") for i in range(10)]
        + [(i + 10, "zzz yyy xxx www", "yy") for i in range(10)],
        SCHEMA)
    lm = train_language_model(train, dim=64, ngram=3)
    qtrain = spark.createDataFrame(
        [(i, "aaa bbb ccc ddd", 1) for i in range(10)]
        + [(i + 10, "zzz yyy xxx www", 0) for i in range(10)],
        "doc_id long, text string, quality_label int")
    qm = train_quality_model(qtrain, dim=64)

    incoming = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd", "wrong"), (2, "zzz yyy xxx www", "wrong")],
        SCHEMA)
    out = curate_stream(incoming, language_model=lm, quality_model=qm,
                        quality_threshold=0.0)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1}                # low-quality doc filtered
    assert rows[1].lang == "xx"            # lang rewritten by the model
    assert rows[1].quality_logit >= 0.0


def test_runs_on_a_real_stream(spark, tmp_path):
    landed, incoming = _landed(spark), _incoming(spark)
    lb = build_line_bloom(landed)
    kb = build_kgram_bloom(landed, k=4)
    src, out_dir = str(tmp_path / "src"), str(tmp_path / "out")
    incoming.write.parquet(src)
    s = spark.readStream.schema(SCHEMA).parquet(src)
    q = (curate_stream(s, line_bloom=lb, kgram_bloom=kb, k=4, gopher=True)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _rows(spark.read.parquet(out_dir))
    want = _rows(curate_stream(incoming, line_bloom=lb, kgram_bloom=kb,
                               k=4, gopher=True))
    assert got == want and [r[0] for r in got] == [10]


def test_c4_stage_swaps_clean_text(spark):
    incoming = spark.createDataFrame([
        (1, "Good leading sentence with many words here today.\n"
            "short line\n"
            "Another full sentence that definitely qualifies nicely.\n"
            "A third proper sentence keeps the document alive fine.\n"
            "Fourth full sentence is present and properly terminated.\n"
            "Fifth full sentence rounds out the cleaned document here.",
         "en"),
        (2, "lorem ipsum filler junk document.", "en"),
    ], SCHEMA)
    out = curate_stream(incoming, c4=True)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1}               # lorem-ipsum doc dropped
    assert "short line" not in rows[1].text
    assert rows[1].lang == "en"
    assert out.columns == ["doc_id", "text", "lang"]


def test_url_first_stage(spark, tmp_path):
    from condenser_spark.streaming.curate import build_url_bloom

    landed = spark.createDataFrame(
        [(0, "http://www.seen.com/a?x=1", "t")],
        "doc_id long, url string, text string")
    incoming = spark.createDataFrame([
        (1, "http://SEEN.com:80/a/?x=1#f", "dup of landed"),   # dropped
        (2, "http://seen.com/b", "new path on landed host"),   # kept
        (3, "http://sub.bad.com/x", "blocked domain"),         # dropped
        (4, "http://fresh.org/y", "clean"),                    # kept
    ], "doc_id long, url string, text string")
    ub = build_url_bloom(landed, fp_rate=1e-18)
    out = curate_stream(incoming, url_bloom=ub,
                        blocked_domains=["bad.com"])
    assert {r.doc_id for r in out.collect()} == {2, 4}
    assert out.columns == incoming.columns  # schema-preserving

    # stream-legality: the URL stage runs on a real readStream
    src, out_dir = str(tmp_path / "usrc"), str(tmp_path / "uout")
    incoming.write.parquet(src)
    s = spark.readStream.schema(
        "doc_id long, url string, text string").parquet(src)
    q = (curate_stream(s, url_bloom=ub, blocked_domains=["bad.com"])
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "uckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert {r.doc_id for r in spark.read.parquet(out_dir).collect()} \
        == {2, 4}


def test_null_url_docs_pass_the_url_stage(spark):
    """ADVICE r11: null-URL docs must PASS the URL stage deterministically
    — the blocklist flag coalesces to False and the bloom probe
    short-circuits NULL JVM-side (a NaN hash reaching the kernel was a
    nondeterministic verdict AND upcast every hash in the Arrow batch to
    float64)."""
    from condenser_spark.streaming.curate import build_url_bloom, curate_stream

    landed = spark.createDataFrame(
        [(100 + i, f"http://landed{i}.com/p") for i in range(8)],
        "doc_id long, url string")
    ub = build_url_bloom(landed, fp_rate=1e-18)
    docs = spark.createDataFrame(
        [(1, "http://landed3.com/p", "dup of landed"),
         (2, None, "no url"),
         (3, "http://bad.com/x", "blocked"),
         (4, "http://fresh.org/y", "fresh")],
        "doc_id long, url string, text string")
    out = curate_stream(docs, url_bloom=ub, blocked_domains=["bad.com"])
    assert sorted(r.doc_id for r in out.collect()) == [2, 4]


def test_diversity_gate(spark, tmp_path):
    """VERDICT r11 punch #4: the diversity= stage drops repetitive docs on
    the configured min_ratio_n, passes short docs with NULL ratios
    (no evidence), carries dv_* audit columns + passthroughs, and runs
    identically on a real stream (batch/stream parity)."""
    incoming = spark.createDataFrame([
        (1, "the quick brown fox jumps over a lazy dog near town", "en"),
        (2, "spam " * 50 + "spam", "en"),   # ratio_2 ~ 1/50
        (3, "one", "en"),                   # 1 token: ratio_2/3 NULL -> pass
        (4, "alpha beta alpha beta alpha beta alpha beta", "en"),
    ], SCHEMA)
    out = curate_stream(incoming, diversity={"min_ratio_2": 0.5})
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 3}
    assert rows[3].dv_ratio_2 is None and rows[3].dv_n_tokens == 1
    assert rows[1].dv_distinct_2 == 10 and rows[1].lang == "en"
    assert out.columns == [
        "doc_id", "text", "lang", "dv_n_tokens", "dv_distinct_1",
        "dv_distinct_2", "dv_distinct_3", "dv_ratio_1", "dv_ratio_2",
        "dv_ratio_3"]

    # stream parity, chained after a rewrite stage (ld_* + dv_* coexist)
    landed = _landed(spark)
    lb = build_line_bloom(landed)
    src, out_dir = str(tmp_path / "dsrc"), str(tmp_path / "dout")
    incoming.write.parquet(src)
    s = spark.readStream.schema(SCHEMA).parquet(src)
    q = (curate_stream(s, line_bloom=lb, diversity={"min_ratio_2": 0.5})
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "dckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _rows(spark.read.parquet(out_dir))
    want = _rows(curate_stream(incoming, line_bloom=lb,
                               diversity={"min_ratio_2": 0.5}))
    assert got == want and len(got) > 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_ratio"):
        curate_stream(incoming, diversity={"bogus": 1.0})
    with _pytest.raises(ValueError, match="min_ratio"):
        curate_stream(incoming, diversity={})


def test_gopher_repetition_stage_and_parity(spark, tmp_path):
    """The A1.2 ingest gate: stateless flags equal the batch operator's
    row-for-row on crafted docs (same rounded fractions, same flags),
    the curate_stream stage filters on the conjunction, and the chain
    runs identically on a real stream."""
    from condenser_spark.functions.text import gopher_repetition_flags
    from condenser_spark.streaming.textdedup import (
        gopher_repetition_stateless,
    )

    clean = (" ".join(f"a{i} b{i}" for i in range(20)) + "\n"
             + " ".join(f"c{i}" for i in range(20)) + "\n\n"
             + " ".join(f"d{i}" for i in range(20)))
    docs = spark.createDataFrame([
        (1, clean, "en"),
        (2, "same line\n" * 6 + "tail", "en"),
        (3, ("spam blast " * 25).strip(), "en"),
        (4, "para\n\npara\n\npara\n\nunique closing paragraph", "en"),
    ], SCHEMA)

    batch = {r.doc_id: r.asDict()
             for r in gopher_repetition_flags(docs).collect()}
    stream = {r.doc_id: r.asDict()
              for r in gopher_repetition_stateless(docs).collect()}
    # the stateless form scores the COMPLETE 12-rule table; parity holds
    # on the shared A1.2 rows 1-6 columns (gopher_rep_pass conjoins 6
    # extra rules stream-side, so it is excluded from the row equality
    # and checked by implication instead)
    assert set(batch[1]) <= set(stream[1])  # stream is a superset
    shared = [c for c in batch[1] if c != "gopher_rep_pass"]
    for d in batch:
        assert {c: batch[d][c] for c in shared} == \
            {c: stream[d][c] for c in shared}, d
        # stream pass implies batch pass (strictly more rules)
        assert not stream[d]["gopher_rep_pass"] or \
            batch[d]["gopher_rep_pass"], d

    out = curate_stream(docs, gopher_repetition=True)
    assert sorted(r.doc_id for r in out.collect()) == [1]
    assert out.columns == ["doc_id", "text", "lang"]

    src, out_dir = str(tmp_path / "gsrc"), str(tmp_path / "gout")
    docs.write.parquet(src)
    s = spark.readStream.schema(SCHEMA).parquet(src)
    q = (curate_stream(s, gopher_repetition=True)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "gckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _rows(spark.read.parquet(out_dir))
    assert got == _rows(curate_stream(docs, gopher_repetition=True))


def test_script_gate_both_chains(spark, tmp_path):
    """The mixed-script spam gate (CCNet pre-langid slot): pure-codegen
    fractions, sc_* audits on the stream side, schema-preserving report
    stage on the batch side, fail-loud threshold parsing."""
    import pytest as _pytest

    from condenser_spark.curate import curate_corpus
    from condenser_spark.streaming.curate import curate_stream

    docs = spark.createDataFrame([
        (1, "plain latin text with words", "en"),
        (2, "latin base привет "
            "мир спам heavy "
            "спам", "en"),
        (3, "abcdefghij 1234567890", "en"),  # digit_frac 10/21 ~ 0.476
    ], SCHEMA)

    out, rep = curate_corpus(docs, script={"max_cyrillic_frac": 0.1,
                                           "max_digit_frac": 0.5})
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]
    row = [r for r in rep.collect() if r.stage == "script_gate"][0]
    assert (row.docs_in, row.docs_out) == (3, 2)
    assert out.columns == docs.columns

    got = curate_stream(docs, script={"max_cyrillic_frac": 0.1,
                                      "max_digit_frac": 0.5})
    assert sorted(r.doc_id for r in got.collect()) == [1, 3]
    assert "sc_other_frac" in got.columns and "sc_latin_frac" in got.columns
    by_id = {r.doc_id: r for r in got.collect()}
    assert by_id[1].sc_cyrillic_frac == 0.0
    assert by_id[3].sc_digit_frac > 0.3

    src, out_dir = str(tmp_path / "scsrc"), str(tmp_path / "scout")
    docs.write.parquet(src)
    s = spark.readStream.schema(SCHEMA).parquet(src)
    q = (curate_stream(s, script={"max_cyrillic_frac": 0.1})
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "scckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in
                  spark.read.parquet(out_dir).collect()) == [1, 3]

    with _pytest.raises(ValueError, match="unknown/empty"):
        curate_corpus(docs, script={})
    with _pytest.raises(ValueError, match="unknown/empty"):
        curate_stream(docs, script={"max_klingon_frac": 0.1})


def test_fineweb_stage_and_parity(spark, tmp_path):
    """The FineWeb ingest gate: the stream name is the batch operator
    itself, its statistics on crafted and edge rows are fixed, the
    curate_stream stage filters on the conjunction, and the chain runs
    identically on a real stream."""
    from condenser_spark.functions.text import (
        fineweb_quality_flags,
        fineweb_quality_stateless,
    )

    assert fineweb_quality_stateless is fineweb_quality_flags
    prose = "\n".join(
        f"This is proper sentence number {i} with many decent words."
        for i in range(10))
    listing = "\n".join(f"item {i}" for i in range(10))
    nav = ("A good long leading sentence with plenty of words here.\n"
           + "repeated nav line\n" * 5)
    docs = spark.createDataFrame(
        [(1, prose, "en"), (2, listing, "en"), (3, nav, "en"),
         (4, "", "en"), (5, None, "en"), (6, "   \n  ", "en"),
         (7, "word.", "en"), (8, "a single short line", "en"),
         (9, "Same line here.\nSame line here.\nSame line here.", "en")],
        SCHEMA)

    # (n_lines, line_punct_frac, short_line_frac, dup_line_char_frac,
    #  ok_line_punct, ok_short_lines, ok_dup_line_chars, fineweb_pass)
    no_lines = (0, 0.0, 0.0, 0.0, False, True, True, False)
    want = {
        1: (10, 1.0, 0.0, 0.0, True, True, True, True),
        2: (10, 0.0, 1.0, 0.0, False, False, True, False),
        3: (6, 0.1667, 0.8333, 0.4658, True, False, False, False),
        4: no_lines, 5: no_lines, 6: no_lines,
        7: (1, 1.0, 1.0, 0.0, True, False, True, False),
        8: (1, 0.0, 1.0, 0.0, False, False, True, False),
        # two repeats of a 15-char line over 47 chars
        9: (3, 1.0, 1.0, 0.6383, True, False, False, False),
    }
    flagged = fineweb_quality_flags(docs)
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in flagged.schema.fields] == [
        ("doc_id", "bigint", True), ("n_lines", "bigint", False),
        ("line_punct_frac", "double", True),
        ("short_line_frac", "double", True),
        ("dup_line_char_frac", "double", True),
        ("ok_line_punct", "boolean", True),
        ("ok_short_lines", "boolean", True),
        ("ok_dup_line_chars", "boolean", True),
        ("fineweb_pass", "boolean", True)]
    assert {r[0]: tuple(r[1:]) for r in flagged.collect()} == want

    out = curate_stream(docs, fineweb=True)
    assert [r.doc_id for r in out.collect()] == [1]
    assert out.columns == ["doc_id", "text", "lang"]

    src, out_dir = str(tmp_path / "fwsrc"), str(tmp_path / "fwout")
    docs.write.parquet(src)
    s = spark.readStream.schema(SCHEMA).parquet(src)
    q = (curate_stream(s, fineweb=True)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "fwckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert [r.doc_id
            for r in spark.read.parquet(out_dir).collect()] == [1]
