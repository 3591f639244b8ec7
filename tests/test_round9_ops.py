"""Round-9 operator semantics: the Gopher rule set on crafted documents
that trip each rule individually (the fixture corpus only exercises
word-count and stop-word failures; the oracle pins the arithmetic, these
pin the SEMANTICS)."""

import pytest
from pyspark.sql import functions as F

from condenser_spark.functions.text import gopher_quality_flags

GOOD = ("the quick brown fox jumps over the lazy dog and then runs off to "
        "find more interesting things that have been hidden with great "
        "care in the forest ") * 3  # ~90 words, all rules pass


def _flags(spark, text):
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    return gopher_quality_flags(df).first()


def test_gopher_good_doc_passes_all(spark):
    r = _flags(spark, GOOD)
    assert r.gopher_pass and r.ok_word_count and r.ok_stop_words
    assert 3.0 <= r.mean_word_len <= 10.0 and r.alpha_word_frac == 1.0


@pytest.mark.parametrize("mutate, failing_flag", [
    (lambda t: "short text only", "ok_word_count"),
    (lambda t: " ".join(["a"] * 80) + " the of", "ok_mean_word_len"),
    (lambda t: t + " " + " ".join(["#"] * 20), "ok_symbol_ratio"),
    (lambda t: "\n".join("- " + l for l in t.split() * 1), "ok_bullet_lines"),
    (lambda t: "\n".join(w + "..." for w in t.split()[:60]),
     "ok_ellipsis_lines"),
    (lambda t: t + " " + " ".join(["12345"] * 200), "ok_alpha_words"),
    (lambda t: " ".join(["apple banana cherry"] * 30), "ok_stop_words"),
])
def test_gopher_each_rule_fails_independently(spark, mutate, failing_flag):
    r = _flags(spark, mutate(GOOD))
    assert not getattr(r, failing_flag), (failing_flag, r)
    assert not r.gopher_pass


def test_gopher_empty_and_null_docs(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, None), (2, "   ")], "doc_id long, text string")
    rows = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    for i in range(3):
        r = rows[i]
        assert r.n_words == 0 and not r.ok_word_count and not r.gopher_pass
        assert r.mean_word_len == 0.0 and r.symbol_ratio == 0.0


def test_gopher_unicode_ellipsis_and_bullet(spark):
    """The single-char ellipsis and bullet forms count like their ASCII
    spellings."""
    t = "\n".join(["• first line here"] * 9 + ["normal line"])
    r = _flags(spark, t)
    assert r.bullet_line_frac == 0.9 and r.ok_bullet_lines  # inclusive boundary
    t2 = "\n".join(["ends with dots…"] * 4 + ["plain"] * 6)
    r2 = _flags(spark, t2)
    assert r2.ellipsis_line_frac == 0.4 and not r2.ok_ellipsis_lines


# --------------------------------------------------------------- c4_clean

def test_c4_clean_line_rules(spark):
    from condenser_spark.functions.text import c4_clean

    text = "\n".join([
        "this sentence ends with a period and is long enough.",   # kept
        "short one.",                                             # <3 words
        "no terminal punctuation on this line at all",            # no punct
        "a JavaScript mention sinks this line entirely.",         # marker
        'he said "hello there everyone present today."',          # kept (.)
        "does this question count properly?",                     # kept
    ])
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    r = c4_clean(df, min_kept_lines=2).first()
    assert r.n_lines == 6 and r.n_lines_kept == 3, r
    assert r.doc_ok
    kept = r.text_clean.split("\n")
    assert kept[0].startswith("this sentence") and kept[2].startswith("does")


def test_c4_clean_doc_flags(spark):
    from condenser_spark.functions.text import c4_clean

    good = "\n".join(["a good line that ends with punctuation."] * 6)
    rows = [
        (0, good),                                   # ok
        (1, good + "\nLorem Ipsum dolor"),           # lorem -> not ok
        (2, good + "\nfunction() { return 1; }"),    # brace -> not ok
        (3, "only two good lines here.\nand the second one too."),  # < 5
        (4, None),                                   # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.doc_ok for r in c4_clean(df).collect()}
    assert got == {0: True, 1: False, 2: False, 3: False, 4: False}


# ------------------------------------------------------- keep-best dedup

def test_near_dedup_keep_col_keeps_best_duplicate(spark, source):
    """keep_col survivor selection: within a planted near-dup cluster the
    LONGEST member wins (not the min id); singletons pass through; with a
    constant score the min-id tiebreak reproduces the default exactly."""
    from condenser_spark.functions.dedup import near_dedup_documents

    docs = source["documents"].filter(F.col("doc_id") < 100).select(
        "doc_id", "text")
    # planted cluster: 3 near-identical variants of doc 0's text where the
    # HIGHEST id is the longest (so min-id and best diverge)
    base = docs.filter("doc_id = 0").first().text
    extra = spark.createDataFrame(
        [(9001, base + " tail"), (9002, base + " tail longer"),
         (9003, base + " tail longer still here")],
        "doc_id long, text string")
    corpus = docs.unionByName(extra).withColumn(
        "n_chars", F.length("text"))

    best = near_dedup_documents(corpus, n=3, threshold=0.8,
                                keep_col="n_chars")
    kept_best = {r.doc_id for r in best.select("doc_id").collect()}
    cluster = {0, 9001, 9002, 9003}
    assert kept_best & cluster == {9003}          # longest member wins
    assert 1 in kept_best and 2 in kept_best      # singletons untouched

    default = near_dedup_documents(corpus, n=3, threshold=0.8)
    kept_default = {r.doc_id for r in default.select("doc_id").collect()}
    assert kept_default & cluster == {0}          # min id by default
    const = near_dedup_documents(
        corpus.withColumn("n_chars", F.lit(1)), n=3, threshold=0.8,
        keep_col="n_chars")
    assert ({r.doc_id for r in const.select("doc_id").collect()}
            == kept_default)                       # tiebreak == default


def test_semantic_dedup_keep_col(spark, source):
    """semantic_dedup keep_col: the planted exact clone with the higher
    score survives instead of the lower-id original."""
    from condenser_spark.functions.similarity import semantic_dedup

    emb = source["embeddings"].limit(200).select("vec_id", "embedding")
    clones = emb.filter("vec_id < 5").select(
        (F.col("vec_id") + 70000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(clones).withColumn(
        "score", F.col("vec_id").cast("double"))   # clone always scores higher
    kept = {r.vec_id for r in
            semantic_dedup(corpus, threshold=0.95, n_centroids=8,
                           keep_col="score").select("vec_id").collect()}
    for i in range(5):
        assert 70000 + i in kept and i not in kept
    assert len(kept) == 200


def test_gopher_and_c4_run_on_streams_unchanged(spark, source, tmp_path):
    """gopher_quality_flags and c4_clean are pure scan-level projections —
    no window, no aggregate — so the SAME functions run on a streaming
    DataFrame unchanged, and the streamed output equals the batch output
    row for row."""
    from condenser_spark.functions.text import c4_clean, gopher_quality_flags

    docs = source["documents"].filter(F.col("doc_id") < 80).select(
        "doc_id", "text")
    stream_dir = tmp_path / "clean_stream"
    docs.write.parquet(str(stream_dir))
    stream = spark.readStream.schema(docs.schema).parquet(str(stream_dir))

    gq = gopher_quality_flags(stream)
    q1 = (gq.writeStream.format("memory").queryName("gq_stream")
          .trigger(availableNow=True).start())
    q1.awaitTermination(120)
    got_g = {tuple(r) for r in spark.sql("select * from gq_stream").collect()}
    want_g = {tuple(r) for r in gopher_quality_flags(docs).collect()}
    assert got_g == want_g and len(got_g) == 80

    cc = c4_clean(stream)
    q2 = (cc.writeStream.format("memory").queryName("c4_stream")
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    got_c = {tuple(r) for r in spark.sql("select * from c4_stream").collect()}
    want_c = {tuple(r) for r in c4_clean(docs).collect()}
    assert got_c == want_c and len(got_c) == 80
