"""curate_corpus stage by stage, and the stage bodies it shares with
curate_stream.

`gopher_pass_condition` is the single-expression filter form the curate
composers use in place of ``gopher_quality_flags(...).filter("gopher_pass")``
(the flags-then-filter shape gets its predicate alias-substituted into one
interpreted Filter with the tokenize subtree re-inlined ~14x — see the
function docstrings).  The first tests pin that the condition selects EXACTLY
the rows whose ``gopher_pass`` flag is true, on the real corpus fixture and
on adversarial edge rows, at both default and non-default thresholds."""

import pytest
from pyspark.sql import functions as F

from condenser_spark.functions.text import (
    gopher_pass_condition,
    gopher_quality_flags,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


EDGE_ROWS = [
    (1, None),                       # null text
    (2, ""),                         # empty
    (3, "   \n \n  "),               # whitespace/newlines only
    (4, "• a\n- b\n* c\nplain"),     # bullet lines
    (5, "end...\nend…\nno"),         # ellipsis lines + symbol ratio
    (6, "# " * 40 + "word " * 60),   # hash symbols
    (7, ("the and is of to " * 30).strip()),   # stop-word rich, short words
    (8, " ".join(["supercalifragilistic"] * 80)),  # long words, no stops
    (9, "a " * 200),                 # 1-char words
    (10, ("The quick brown fox jumps over the lazy dog and then "
          "it runs away with that in a field of green grass. ") * 8),
]


@pytest.mark.parametrize("opts", [
    {},
    {"min_words": 5, "min_stop_hits": 1, "max_symbol_ratio": 0.5,
     "min_alpha_word_frac": 0.5, "max_bullet_line_frac": 0.4,
     "max_ellipsis_line_frac": 0.2, "min_mean_word_len": 1.5,
     "max_mean_word_len": 20.0, "max_words": 150},
])
def test_condition_matches_flags_on_edge_rows(spark, opts):
    df = spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")
    via_flags = sorted(
        r[0] for r in gopher_quality_flags(df, **opts)
        .filter(F.col("gopher_pass")).select("doc_id").collect())
    via_cond = sorted(
        r[0] for r in df.filter(gopher_pass_condition(**opts))
        .select("doc_id").collect())
    assert via_cond == via_flags


def test_condition_matches_flags_on_corpus(spark, sf_dir):
    df = _docs(spark, sf_dir)
    opts = {"min_stop_hits": 1}
    via_flags = sorted(
        r[0] for r in gopher_quality_flags(df, **opts)
        .filter(F.col("gopher_pass")).select("doc_id").collect())
    via_cond = sorted(
        r[0] for r in df.filter(gopher_pass_condition(**opts))
        .select("doc_id").collect())
    assert via_cond == via_flags
    # the gate must actually partition the corpus (not vacuously all/none)
    n = df.count()
    assert 0 < len(via_cond) < n


# ------------------------------------------------------------ curate_corpus

@pytest.fixture(scope="module")
def curatable(spark, source):
    """Fixture docs rewritten as multi-line punctuated text whose lines
    are DOC-SPECIFIC (so decontamination only fires on genuine overlap),
    plus 5 exact clones for the dedup stage."""
    docs = source["documents"].select(
        "doc_id", "text", "lang", "source", "n_chars")
    # both appended lines embed the doc id: an identical appended sentence
    # is itself a shared 8-gram, which (correctly) flags every doc as
    # contaminated against any eval slice — the first draft of this
    # fixture did exactly that
    multi = docs.withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.concat(F.col("text"), F.lit(" so document "),
                     F.col("doc_id").cast("string"),
                     F.lit(" makes the point its own way.")),
            F.concat(F.lit("document "), F.col("doc_id").cast("string"),
                     F.lit(" has a perfectly fine second line too.")),
        ))
    clones = multi.filter("doc_id < 5").select(
        (F.col("doc_id") + 90000).alias("doc_id"), "text", "lang",
        "source", "n_chars")
    return multi.unionByName(clones)


def test_curate_corpus_stage_order_counts_and_schema(spark, curatable):
    from condenser_spark.curate import curate_corpus
    from condenser_spark.functions.dsir import train_hashed_ngram_lm

    eval_df = curatable.filter("doc_id >= 480 and doc_id < 500").select(
        "doc_id", "text")
    train = curatable.filter("doc_id < 480 or doc_id >= 90000")
    tlm = train_hashed_ngram_lm(train.filter("lang = 'en'"), dim=256)
    rlm = train_hashed_ngram_lm(train, dim=256)
    out, rep = curate_corpus(
        train,
        c4={"min_kept_lines": 2},
        gopher={"min_stop_hits": 1, "min_words": 10},
        dedup="exact",
        eval_df=eval_df,
        dsir_opts={"target_lm": tlm, "raw_lm": rlm, "k": 50, "dim": 256},
    )
    r = {row.stage: (row.docs_in, row.docs_out) for row in rep.collect()}
    assert list(r) == ["c4_clean", "gopher_rules", "exact_dedup",
                       "decontaminate", "dsir_select"]
    # counts telescope and never increase
    seq = rep.orderBy(F.monotonically_increasing_id()).collect()
    for a, b in zip(seq, seq[1:]):
        assert a.docs_out == b.docs_in
    assert all(row.docs_out <= row.docs_in for row in seq)
    assert r["exact_dedup"][0] - r["exact_dedup"][1] == 5   # the clones
    assert r["dsir_select"][1] == 50
    assert out.columns == train.columns and out.count() == 50
    # c4 swapped text content: no doc retains its dropped 'short' lines,
    # and every surviving text still ends with terminal punctuation
    assert all(t.text.endswith((".", "!", "?", '"'))
               for t in out.select("text").collect())


def test_curate_corpus_lazy_mode_and_validation(spark, curatable):
    from condenser_spark.curate import curate_corpus

    out, rep = curate_corpus(curatable, gopher={"min_stop_hits": 1,
                                                "min_words": 10},
                             report=False)
    assert rep is None and out.count() > 0
    with pytest.raises(ValueError, match="dedup must be"):
        curate_corpus(curatable, dedup="fuzzy")


def test_curate_corpus_diversity_gate(spark):
    """Batch twin of curate_stream's diversity= stage: repetitive docs
    drop on min_ratio_2, NULL-ratio short docs pass, schema preserved,
    report row named diversity_gate, anchor usable, bad keys fail loud."""
    from condenser_spark.curate import curate_corpus

    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over a lazy dog near town", "en"),
        (2, "spam " * 50 + "spam", "en"),
        (3, "one", "en"),
        (4, "alpha beta alpha beta alpha beta alpha beta", "en"),
    ], "doc_id long, text string, lang string")
    out, rep = curate_corpus(docs, diversity={"min_ratio_2": 0.5})
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]
    assert out.columns == docs.columns
    row = {r.stage: r for r in rep.collect()}["diversity_gate"]
    assert (row.docs_in, row.docs_out, row.docs_dropped) == (4, 2, 2)

    # anchor composition right after the gate
    out2, rep2 = curate_corpus(
        docs, diversity={"min_ratio_2": 0.5},
        extra_stages=[("keep_short", lambda d: d.filter("doc_id = 3"),
                       "diversity_gate")])
    assert [r.doc_id for r in out2.collect()] == [3]
    assert [r.stage for r in rep2.collect()] == ["diversity_gate",
                                                 "keep_short"]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_ratio"):
        curate_corpus(docs, diversity={"nope": 1})


def test_curate_corpus_gopher_repetition_stage(spark):
    from condenser_spark.curate import curate_corpus

    clean = " ".join(f"w{i} x{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, clean, "en"),
         (2, "same line\n" * 6 + "tail", "en")],
        "doc_id long, text string, lang string")
    out, rep = curate_corpus(docs, gopher_repetition=True)
    assert [r.doc_id for r in out.collect()] == [1]
    row = rep.collect()[0]
    assert (row.stage, row.docs_in, row.docs_out) == (
        "gopher_repetition", 2, 1)
    # threshold override loosens the rule back open
    loose = {k: 1.0 for k in (
        "max_dup_line_frac", "max_dup_line_char_frac",
        "max_top_2gram_char_frac", "max_top_3gram_char_frac",
        "max_top_4gram_char_frac")}
    out2, _ = curate_corpus(docs, gopher_repetition=loose)
    assert sorted(r.doc_id for r in out2.collect()) == [1, 2]


def test_curate_corpus_fineweb_stage(spark):
    from condenser_spark.curate import curate_corpus

    prose = "\n".join(
        f"This is proper sentence number {i} with many decent words."
        for i in range(10))
    listing = "\n".join(f"item {i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, prose, "en"), (2, listing, "en")],
        "doc_id long, text string, lang string")
    out, rep = curate_corpus(docs, fineweb=True)
    assert [r.doc_id for r in out.collect()] == [1]
    row = [r for r in rep.collect() if r.stage == "fineweb_rules"][0]
    assert (row.docs_in, row.docs_out) == (2, 1)
    # loosened thresholds keep both
    out2, _ = curate_corpus(docs, fineweb={
        "min_line_punct_frac": 0.0, "max_short_line_frac": 1.0})
    assert sorted(r.doc_id for r in out2.collect()) == [1, 2]


# ------------------------------------------- batch and stream composers

def test_curate_corpus_c4_keeps_repeated_ids_apart(spark):
    """A repeated ``doc_id`` is several documents to the C4 stage: the one
    that fails drops and every survivor keeps its own cleaned text (a join
    back on the id multiplied the rows)."""
    from condenser_spark.curate import curate_corpus

    texts = {
        "a": "This first line is long enough.\nThe second one is too.",
        "b": "Another document of good lines.\nIt also ends well.",
        "c": "A third good document is here.",
    }
    docs = spark.createDataFrame(
        [(1, texts["a"]), (1, "short\nlines"), (2, texts["b"]),
         (2, texts["c"]), (3, texts["a"])],
        "doc_id long, text string")
    out, rep = curate_corpus(docs, c4={"min_kept_lines": 1})
    assert sorted(tuple(r) for r in out.collect()) == sorted([
        (1, texts["a"]), (2, texts["b"]), (2, texts["c"]), (3, texts["a"])])
    row = rep.collect()[0]
    assert (row.docs_in, row.docs_out, row.docs_dropped) == (5, 4, 1)


_PROSE = "\n".join(
    f"This is proper sentence number {i} with many decent words."
    for i in range(10))
_COMPOSER_ROWS = [
    (1, None, None),
    (2, "", "http://a.example.com/x"),
    (3, _PROSE, "http://a.example.com/y"),
    (4, "\n".join(f"item {i}" for i in range(10)), "http://a.example.com/z"),
    (5, "spam " * 50 + "spam", "http://b.example.org/1"),
    (6, "<html><body><nav>home | about</nav><p>The body text is here."
        "</p><p>And a second paragraph.</p></body></html>",
     "http://b.example.org/2"),
    (7, "Привет мир, это документ на русском языке. hello", None),
    (8, '<?xml version="1.0"?>\n<root>value</root>', "http://c.example.net"),
    (9, "Write to me at someone@example.com or call 555-123-4567.",
     "http://c.example.net/p"),
    (10, "cafe\u0301 and re\u0301sume\u0301 texts.", None),
    (11, "lorem ipsum dolor sit amet.\nThe second line is quite fine.",
     "http://d.example.com"),
    (12, ("the cat sat on the mat and then it went to the door of the "
          "house.\n") * 3, "http://e.example.com"),
]


def _composer_stage_opts(docs):
    from condenser_spark.functions.urls import domain_stats

    return {
        "domain_prior": {"max_share": 0.3, "stats": domain_stats(docs)},
        "html": True,
        "normalize": True,
        "badwords": ["spam"],
        "c4": {"min_kept_lines": 1},
        "diversity": {"min_ratio_2": 0.5},
        "script": {"min_latin_frac": 0.5},
        "gopher": {"min_words": 5, "min_stop_hits": 1},
        "fineweb": True,
        "code": True,
        "pii": True,
    }


@pytest.mark.parametrize("stage", [
    "domain_prior", "html", "normalize", "badwords", "c4", "diversity",
    "script", "gopher", "fineweb", "code", "pii"])
def test_composers_share_each_stage(spark, stage):
    """Each per-document stage the two composers share gives the same rows
    in both, once the stream's output is projected to the input columns;
    and the stage does something on the frame (drops or rewrites)."""
    from condenser_spark.curate import curate_corpus
    from condenser_spark.streaming.curate import curate_stream

    docs = spark.createDataFrame(_COMPOSER_ROWS,
                                 "doc_id long, text string, url string")
    opts = {stage: _composer_stage_opts(docs)[stage]}
    batch, rep = curate_corpus(docs, report=False, **opts)
    stream = curate_stream(docs, **opts).select(*docs.columns)
    got = sorted(tuple(r) for r in batch.collect())
    assert got == sorted(tuple(r) for r in stream.collect())
    assert rep is None and batch.columns == docs.columns
    assert got and got != sorted(_COMPOSER_ROWS, key=lambda r: r[0])


@pytest.mark.parametrize("stage, opts", [
    ("c4", {"min_kept_lines": 1}),
    ("diversity", {"min_ratio_2": 0.5}),
    ("fineweb", True),
    ("gopher_repetition", {"max_dup_5gram_char_frac": 0.15}),
])
def test_stage_passes_columns_named_like_its_outputs(spark, stage, opts):
    """Input columns named like a stage kernel's own output columns pass
    through both composers unchanged."""
    from condenser_spark.curate import curate_corpus
    from condenser_spark.streaming.curate import curate_stream

    extra = (-1, False, -1, False, False)
    docs = spark.createDataFrame(
        [r[:2] + extra for r in _COMPOSER_ROWS],
        "doc_id long, text string, n_lines long, doc_ok boolean, "
        "n_tokens long, fineweb_pass boolean, gopher_rep_pass boolean")
    batch, _ = curate_corpus(docs, report=False, **{stage: opts})
    stream = curate_stream(docs, **{stage: opts}).select(*docs.columns)
    got = sorted(tuple(r) for r in batch.collect())
    assert got == sorted(tuple(r) for r in stream.collect())
    assert 0 < len(got) < len(_COMPOSER_ROWS)
    assert all(r[2:] == extra for r in got)
