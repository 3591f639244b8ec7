"""Streaming twins of the text-REWRITE dedup ops (streaming/textdedup.py):
row-for-row parity with the batch operators over (landed UNION stream)
restricted to stream ids, plus real file-stream smoke runs.

Parity scope (the module contract): landed ids sort before stream ids
(the landed site is the keep-first winner) and no two STREAM docs share a
new line/span (stream-vs-stream dedup is out of scope by design — the
neardup.py doctrine)."""

import pytest

from condenser_spark.functions.text import (
    dedup_lines,
    exact_substring_dedup,
)
from condenser_spark.streaming.textdedup import (
    build_kgram_bloom,
    build_line_bloom,
    dedup_lines_stream,
    exact_substring_stream,
)

SCHEMA = "doc_id long, text string"


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


LINE_COLS = ["doc_id", "text", "n_lines", "n_removed_lines",
             "n_removed_tokens", "n_removed_chars"]
SUB_COLS = ["doc_id", "text", "n_tokens", "n_removed_tokens",
            "n_removed_chars"]


# --------------------------------------------------------------- line twin

def _line_fixture(spark):
    landed = spark.createDataFrame([
        (0, "landed unique zero\ncopyright acme corp\nbody zero"),
        (1, "landed one\nshared footer line"),
    ], SCHEMA)
    stream = spark.createDataFrame([
        # landed dup exact + as case/whitespace variant + a kept line
        (10, "Copyright  ACME Corp\nfresh ten line\nshared footer line"),
        # within-doc repeat of a NEW line: first kept, second dropped
        (11, "novel eleven line\nnovel eleven line\ntail eleven"),
        # blank lines always survive; unique content kept
        (12, "only twelve\n\nafter blank"),
    ], SCHEMA)
    return landed, stream


def test_line_twin_parity_with_batch(spark):
    landed, stream = _line_fixture(spark)
    bloom = build_line_bloom(landed)
    got = _rows(dedup_lines_stream(stream, bloom), LINE_COLS)
    want = _rows(
        dedup_lines(landed.unionByName(stream), keep="first", min_count=2)
        .filter("doc_id >= 10"),
        LINE_COLS,
    )
    assert got == want
    # and the interesting rows are what we think they are
    texts = {r[0]: r[1] for r in got}
    assert texts[10] == "fresh ten line"
    assert texts[11] == "novel eleven line\ntail eleven"
    assert texts[12] == "only twelve\n\nafter blank"


def test_line_twin_strip_digits_parity(spark):
    landed = spark.createDataFrame(
        [(0, "page 3 of 7\nlanded body")], SCHEMA)
    stream = spark.createDataFrame(
        [(10, "page 5 of 7\nfresh body ten")], SCHEMA)
    bloom = build_line_bloom(landed, strip_digits=True)
    got = _rows(dedup_lines_stream(stream, bloom, strip_digits=True),
                LINE_COLS)
    want = _rows(
        dedup_lines(landed.unionByName(stream), keep="first",
                    strip_digits=True).filter("doc_id >= 10"),
        LINE_COLS,
    )
    assert got == want
    assert got[0][1] == "fresh body ten"  # the digit-variant line dropped


def test_line_twin_no_landed_corpus(spark):
    # bloom=None (empty landed side): only the within-doc rule applies
    _, stream = _line_fixture(spark)
    out = {r.doc_id: r for r in
           dedup_lines_stream(stream, None).collect()}
    assert out[10].n_removed_lines == 0
    assert out[11].text == "novel eleven line\ntail eleven"
    assert build_line_bloom(
        stream.filter("doc_id < 0")) is None


def test_line_twin_runs_on_stream(spark, tmp_path):
    landed, stream = _line_fixture(spark)
    bloom = build_line_bloom(landed)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    stream.write.parquet(src)
    s = spark.readStream.schema(SCHEMA).parquet(src)
    q = (dedup_lines_stream(s, bloom).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _rows(spark.read.parquet(out), LINE_COLS)
    want = _rows(dedup_lines_stream(stream, bloom), LINE_COLS)
    assert got == want


def test_line_bloom_cap_fails_loud(spark):
    landed, _ = _line_fixture(spark)
    with pytest.raises(ValueError, match="batch operator"):
        build_line_bloom(landed, max_lines=2)


# ---------------------------------------------------------- substring twin

K = 4
SPAN = "w1 w2 w3 w4 w5"  # k+1 tokens


def _sub_fixture(spark):
    landed = spark.createDataFrame([
        (0, f"landed intro {SPAN} landed outro words here"),
    ], SCHEMA)
    stream = spark.createDataFrame([
        # landed span recurs: cut (twin) == cut (batch count>=2, keep=none)
        (10, f"alpha beta {SPAN} gamma delta"),
        # within-doc repeated NEW span: both sites cut in both forms
        (11, "n1 n2 n3 n4 mid filler n1 n2 n3 n4 tail1 tail2"),
        # shorter than k: passes through (whitespace-normalized)
        (12, "just three tokens"),
        # untouched long doc
        (13, "u1 u2 u3 u4 u5 u6 u7"),
        # fully duplicated doc (the landed span is its whole text)
        (14, SPAN),
    ], SCHEMA)
    return landed, stream


def test_substring_twin_parity_with_batch(spark):
    landed, stream = _sub_fixture(spark)
    bloom = build_kgram_bloom(landed, k=K)
    got = _rows(exact_substring_stream(stream, bloom, k=K), SUB_COLS)
    want = _rows(
        exact_substring_dedup(landed.unionByName(stream), k=K,
                              min_count=2, keep="none")
        .filter("doc_id >= 10"),
        SUB_COLS,
    )
    assert got == want
    texts = {r[0]: r[1] for r in got}
    assert texts[10] == "alpha beta gamma delta"
    assert texts[11] == "mid filler tail1 tail2"
    assert texts[12] == "just three tokens"
    assert texts[14] == ""  # fully duplicated doc comes back empty


def test_substring_twin_no_landed_corpus(spark):
    _, stream = _sub_fixture(spark)
    out = {r.doc_id: r for r in
           exact_substring_stream(stream, None, k=K).collect()}
    assert out[10].n_removed_tokens == 0     # landed span unknown
    assert out[11].text == "mid filler tail1 tail2"  # within-doc still cut
    assert build_kgram_bloom(
        stream.filter("doc_id < 0"), k=K) is None


def test_substring_twin_runs_on_stream(spark, tmp_path):
    landed, stream = _sub_fixture(spark)
    bloom = build_kgram_bloom(landed, k=K)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    stream.write.parquet(src)
    s = spark.readStream.schema(SCHEMA).parquet(src)
    q = (exact_substring_stream(s, bloom, k=K).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _rows(spark.read.parquet(out), SUB_COLS)
    want = _rows(exact_substring_stream(stream, bloom, k=K), SUB_COLS)
    assert got == want


def test_substring_twin_empty_text(spark):
    df = spark.createDataFrame([(1, ""), (2, "   ")], SCHEMA)
    out = {r.doc_id: r for r in
           exact_substring_stream(df, None, k=K).collect()}
    assert out[1].text == "" and out[1].n_tokens == 0
    assert out[2].text == "" and out[2].n_removed_tokens == 0


#: diversity_stats' output schema, nullability included (the counts are
#: never NULL; a ratio is NULL below its n-gram length)
DIV_SCHEMA = [("doc_id", "bigint", True), ("n_tokens", "bigint", False),
              ("distinct_1", "bigint", False),
              ("distinct_2", "bigint", False),
              ("distinct_3", "bigint", False), ("ratio_1", "double", True),
              ("ratio_2", "double", True), ("ratio_3", "double", True)]


def test_diversity_stateless_parity_and_stream(spark, tmp_path):
    """The stream name is the batch operator itself; its values on edge
    rows (NULL, empty, whitespace-only, one token, one line, repeated
    lines) are fixed, and a real stream gives the same rows."""
    from condenser_spark.functions.text import (
        diversity_stats,
        diversity_stats_stateless,
    )

    assert diversity_stats_stateless is diversity_stats
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  \n\t "), (4, "solo"), (5, "a a b"),
         (6, "p q r\np q r\np q")],
        SCHEMA)
    cols = [c for c, _, _ in DIV_SCHEMA]
    want = [
        (1, 0, 0, 0, 0, None, None, None),
        (2, 0, 0, 0, 0, None, None, None),
        (3, 0, 0, 0, 0, None, None, None),
        (4, 1, 1, 0, 0, 1.0, None, None),
        (5, 3, 2, 2, 1, 2 / 3, 1.0, 1.0),
        (6, 8, 3, 3, 3, 3 / 8, 3 / 7, 3 / 6),
    ]
    out = diversity_stats(docs)
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in out.schema.fields] == DIV_SCHEMA
    assert _rows(out, cols) == want

    src, out = str(tmp_path / "dsrc"), str(tmp_path / "dout")
    docs.write.parquet(src)
    s = spark.readStream.schema(SCHEMA).parquet(src)
    q = (diversity_stats_stateless(s).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "dckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert _rows(spark.read.parquet(out), cols) == want


def test_diversity_stateless_keep_cols_collision_raises(spark):
    import pytest as _pytest
    from condenser_spark.functions.text import diversity_stats_stateless

    docs = spark.createDataFrame(
        [(1, "a b c", 7)], "doc_id long, text string, n_tokens long")
    with _pytest.raises(ValueError, match="keep_cols collide"):
        diversity_stats_stateless(docs, keep_cols=("n_tokens",))


def test_gopher_dup_ngram_coverage_crafted(spark):
    """A1.2 rows 7-12 (duplicated 5..10-gram char coverage) on
    hand-computed docs: interval union with overlap merge, n-cutoff
    (a twice-occurring 6-token phrase scores for n<=6, zero for n>=7),
    and the raw-document-chars denominator."""
    from condenser_spark.streaming.textdedup import (
        gopher_repetition_stateless,
    )

    docs = spark.createDataFrame([
        # "a b c d e f" twice: abcde/bcdef dup at n=5, abcdef dup at
        # n=6, nothing at n=7 (every 7-gram unique).  Stream
        # "a b c d e f a b c d e f" (23 chars): n=5 union
        # [0,11)+[12,23)=22; n=6 same intervals -> 22.
        (1, "a b c d e f a b c d e f"),
        # alternating x/y, 8 tokens: both 5-grams appear twice,
        # intervals [0,9),[2,11),[4,13),[6,15) merge to [0,15) -> the
        # whole doc, frac 1.0
        (2, "x y x y x y x y"),
        # clean: no repeated n-gram at any n
        (3, " ".join(f"t{i}" for i in range(12))),
    ], "doc_id long, text string")
    out = {r.doc_id: r
           for r in gopher_repetition_stateless(docs).collect()}

    assert out[1].dup_5gram_char_frac == round(22 / 23, 4)
    assert out[1].dup_6gram_char_frac == round(22 / 23, 4)
    assert out[1].dup_7gram_char_frac == 0.0
    assert out[1].dup_10gram_char_frac == 0.0
    assert not out[1].ok_dup_5gram and out[1].ok_dup_7gram
    assert not out[1].gopher_rep_pass

    assert out[2].dup_5gram_char_frac == 1.0
    assert out[3].dup_5gram_char_frac == 0.0
    assert all(out[3][f"ok_dup_{n}gram"] for n in range(5, 11))

    # published convention: denominator is RAW document chars — pad
    # with whitespace and the fraction dilutes
    padded = spark.createDataFrame(
        [(4, "   a b c d e f a b c d e f   ")],
        "doc_id long, text string")
    row = gopher_repetition_stateless(padded).collect()[0]
    assert row.dup_5gram_char_frac == round(22 / 29, 4)

    # empty/whitespace/NULL docs, including a batch ENDING in one (the
    # trailing-row doc_off == total-token-count regression): zero
    # coverage, no crash, non-empty neighbors unaffected
    edge = spark.createDataFrame([
        (5, ""),
        (6, "a b c d e a b c d e"),
        (7, "   "),
        (8, None),
    ], "doc_id long, text string").coalesce(1)
    rows = {r.doc_id: r
            for r in gopher_repetition_stateless(edge).collect()}
    assert rows[6].dup_5gram_char_frac == round(18 / 19, 4)
    for d in (5, 7, 8):
        assert rows[d].dup_5gram_char_frac == 0.0
        assert rows[d].dup_10gram_char_frac == 0.0


def test_curate_corpus_dup_ngram_switches_to_stateless(spark):
    """curate_corpus(gopher_repetition=) switches to the complete
    stateless kernel when a dup-ngram threshold is requested."""
    from condenser_spark.curate import curate_corpus

    clean = " ".join(f"w{i} z{i}" for i in range(30))
    phrase = "pa pb pc pd pe"
    spammy = (" ".join(f"w{i} z{i}" for i in range(15))
              + f" {phrase} "
              + " ".join(f"w{i} z{i}" for i in range(15, 30))
              + f" {phrase}")
    docs = spark.createDataFrame(
        [(1, clean, "en"), (2, spammy, "en")],
        "doc_id long, text string, lang string")
    # without dup-ngram thresholds the SQL-native form passes BOTH
    # (a twice-repeated 5-token phrase slips rows 1-6: no dup lines,
    # every n<=4-gram's char mass is small)
    out1, _ = curate_corpus(docs, gopher_repetition=True)
    assert sorted(r.doc_id for r in out1.collect()) == [1, 2]
    # with a dup-5gram threshold the full 12-rule table drops doc 2
    out2, rep = curate_corpus(
        docs, gopher_repetition={"max_dup_5gram_char_frac": 0.10})
    assert [r.doc_id for r in out2.collect()] == [1]
    row = [r for r in rep.collect() if r.stage == "gopher_repetition"][0]
    assert (row.docs_in, row.docs_out) == (2, 1)
