"""Text-analysis operators for training-data pipelines (SURVEY §7.4 north-star
scope — beyond the reference's own surface, which has no text functions).

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd, Arrow-free): at 100 TB these run at scan speed with zero
Python in the loop.  Every operator is a narrow projection — Parquet column
pruning means only ``text`` (+ id) is ever read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Rabin-Karp rolling-hash parameters: base/modulus chosen so every
# intermediate fits comfortably in signed 64-bit on ANY engine
# (token hash < 2^32, B^3 < 2^15 -> max term < 2^47, window sum < 2^49).
_RK_BASE = 31
_RK_MOD = (1 << 31) - 1

# Tiny per-language stopword marker sets for the n-gram/stopword-hit heuristic.
# Chosen to be (a) discriminative, (b) identically expressible in ANSI SQL for
# the DuckDB oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "los", "que", "de"),
    "fr": ("le", "les", "des", "est", "une"),
    "de": ("der", "die", "das", "und", "ist"),
}


def token_count(text: Column | str) -> Column:
    """Whitespace token count — exactly ``len(text.split())``: split on any
    whitespace run and count non-empty pieces.  Blank/whitespace-only
    strings count 0.  (The earlier ``trim`` + split form overcounted text
    with tabs/newlines at the edges: SQL ``trim`` strips only SPACES, so
    ``"a\\t"`` counted 2 — caught by the token-count property test and fixed
    identically in the DuckDB oracles.)"""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.filter(F.split(c, r"\s+"), lambda t: t != ""))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: count of word-or-punctuation chunks
    (``\\w+|[^\\w\\s]`` matches), the standard pre-tokenization regex shape."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"\w+|[^\w\s]"), 0))


def language_id(text: Column | str) -> Column:
    """Stopword-hit language heuristic: count marker-word hits per language over
    whitespace tokens, argmax wins, ties broken by language code order, zero hits
    -> 'und' (undetermined).  Pure JVM expressions (filter/size on the token
    array), no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    tokens = F.split(F.lower(c), r"\s+")

    def _hit(words: tuple[str, ...]):
        # factory, not default-arg capture (PySpark reads lambda arity)
        return lambda t: t.isin(*words)

    scores = [
        (lang, F.size(F.filter(tokens, _hit(words))))
        for lang, words in LANG_MARKERS.items()
    ]
    # argmax via chained CASE: strictly-greater beats, ties keep earlier lang
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, score in scores:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]: mean of three signals —
    length_ok (64..4096 chars), alpha ratio (letters+spaces / chars),
    stopword presence (any English marker hit).  Deterministic, rounded to 4
    decimals so cross-engine float drift can't flip a hash."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    length_ok = F.when((n >= 64) & (n <= 4096), 1.0).otherwise(0.0)
    alpha = F.length(F.regexp_replace(c, r"[^a-zA-Z ]", ""))
    alpha_ratio = F.when(n > 0, alpha.cast("double") / n).otherwise(F.lit(0.0))
    tokens = F.split(F.lower(c), r"\s+")
    has_stop = F.when(
        F.size(F.filter(tokens, lambda t: t.isin(*LANG_MARKERS["en"]))) > 0, 1.0
    ).otherwise(0.0)
    return F.round((length_ok + alpha_ratio + has_stop) / F.lit(3.0), 4)


def document_fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-normalized,
    lowercased text.  md5 is identical in every engine, so fingerprint joins
    between systems agree; used as the exact-dedup key."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(normalized)


def rolling_fingerprints(
    df: DataFrame,
    window: int = 4,
    boundary_divisor: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rabin-Karp-style rolling fingerprints over token windows, plus
    content-defined chunk assignment — the sub-document dedup primitive
    (shared passages across documents get identical fingerprints regardless
    of position).

    Output: (id, pos, fp, chunk_id) — one row per token position that heads a
    full window.  ``fp = sum_j hash(tok[pos+j]) * B^j mod P``; a position is a
    chunk BOUNDARY when ``fp % boundary_divisor == 0``, and ``chunk_id`` is
    the running boundary count — chunk edges move with content, not offsets,
    so an insertion early in a document does not re-chunk the rest (the CDC
    property backup/dedup systems rely on).

    Token hashes come from md5 (first 8 hex chars as an integer), so every
    engine reproduces fingerprints bit-for-bit — this operator carries a full
    DuckDB oracle, unlike the xxhash64-seeded MinHash family.  All window
    expressions; one shuffle on id."""
    tokens = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    tok_rows = df.select(
        F.col(id_col).alias("id"), F.posexplode(tokens).alias("pos0", "tok")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    hashed = tok_rows.select("id", "pos", h.alias("h"))
    w = Window.partitionBy("id").orderBy("pos")
    terms = [
        F.lead("h", j).over(w) * F.lit(_RK_BASE ** j) for j in range(window)
    ]
    fp_raw = terms[0]
    for t in terms[1:]:
        fp_raw = fp_raw + t
    last = F.lead("h", window - 1).over(w)
    fps = (
        hashed.select("id", "pos", F.pmod(fp_raw, F.lit(_RK_MOD)).alias("fp"),
                      last.alias("_last"))
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    is_boundary = F.when(
        F.col("fp") % boundary_divisor == 0, F.lit(1)
    ).otherwise(F.lit(0))
    w2 = Window.partitionBy("id").orderBy("pos")
    return fps.withColumn(
        "chunk_id", (F.sum(is_boundary).over(w2) - is_boundary).cast("long")
    )


def shared_passages(
    df: DataFrame,
    window: int = 4,
    boundary_divisor: int = 16,
    min_windows: int = 2,
    max_chunk_df: int | None = 1_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document shared-passage detection: documents that contain an
    identical content-defined chunk (per :func:`rolling_fingerprints`) share a
    passage, wherever it sits in either document.  This is the sub-document
    complement to whole-document dedup — boilerplate headers, licence blocks,
    and quoted passages surface here while the containing documents differ.

    Plan shape (the one that survives 100 TB):

    1. ``rolling_fingerprints`` — windows + CDC chunk ids (one shuffle on id).
    2. Chunk signature = md5 of the ordered fingerprint sequence, built with
       ``collect_list`` at CHUNK granularity — a chunk is expected
       ``boundary_divisor`` windows long, so the per-group list is tiny and
       bounded by construction, never a whole document.
    3. ``max_chunk_df`` drops signatures appearing in more documents than the
       cap before the self-join — the hot-chunk guard that keeps one viral
       boilerplate block from making the join quadratic (same trick as
       ``max_shingle_df`` in ngram_jaccard_pairs).
    4. Signature self-join (a < b) + pair-level count: shuffles signatures,
       never token rows.

    Output: (doc_a, doc_b, n_shared_chunks, n_shared_windows) — pairs sharing
    at least one chunk of ``min_windows``+ windows.  Fully md5-derived, so the
    DuckDB oracle reproduces it bit-for-bit."""
    fps = rolling_fingerprints(
        df, window=window, boundary_divisor=boundary_divisor,
        text_col=text_col, id_col=id_col,
    )
    chunks = (
        fps.groupBy("id", "chunk_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "fp"))),
                        lambda s: s["fp"].cast("string"),
                    ),
                )
            ).alias("sig"),
            F.count("*").alias("n_windows"),
        )
        .filter(F.col("n_windows") >= min_windows)
        # the same signature can legitimately repeat WITHIN a document
        # (repeated boilerplate); collapse so the pair join is per-doc
        .groupBy("sig")
        .agg(
            F.collect_set("id").alias("ids"),
            F.max("n_windows").alias("n_windows"),
        )
    )
    if max_chunk_df is not None:
        from condenser_spark.functions.dedup import _log_dropped_hot_keys

        _log_dropped_hot_keys(
            chunks.filter(F.size("ids") > max_chunk_df).select("sig"),
            max_chunk_df, "shared_passages chunk signature",
        )
        chunks = chunks.filter(F.size("ids") <= max_chunk_df)
    pairs = chunks.select(
        F.explode("ids").alias("doc_a"), "ids", "n_windows"
    ).select(
        "doc_a", F.explode("ids").alias("doc_b"), "n_windows"
    ).filter(F.col("doc_a") < F.col("doc_b"))
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_shared_chunks"),
        F.sum("n_windows").alias("n_shared_windows"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    * ``n_lines`` — non-empty (trimmed) line count.
    * ``dup_line_frac`` — extra copies of repeated lines / total lines (a
      document whose every line appears twice scores 0.5).
    * ``dup_line_char_frac`` — characters inside repeated lines / total line
      characters (the Gopher rule weights long boilerplate lines more).
    * ``top_bigram_frac`` — occurrences of the most frequent word bigram /
      total bigrams (catches "foo bar foo bar ..." degenerate generations).

    These are the standard repetition filters a corpus pipeline applies
    between exact dedup and model-based quality scoring (Gopher/MassiveText
    rules; public in the Gopher paper, table A1).

    Plan shape: two explode -> (id, unit) hash-aggregates (lines, bigrams),
    both map-side combined, then per-id rollups joined back to the id base —
    scan-linear, shuffles carry (id, line/bigram, count) rows only, never
    document bodies.  All JVM expressions; ratios rounded to 4 decimals so
    the DuckDB oracle hash-matches."""
    base = df.select(F.col(id_col).alias("id"))
    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.filter(
                    F.transform(
                        F.split(F.col(text_col), "\n"), lambda l: F.trim(l)
                    ),
                    lambda l: l != "",
                )
            ).alias("line"),
        )
        .groupBy("id", "line")
        .agg(F.count("*").alias("cnt"))
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_lines"),
            (F.sum("cnt") - F.count("*")).alias("dup_lines"),
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.length("line"))
                .otherwise(F.lit(0))
            ).alias("dup_chars"),
            F.sum(F.col("cnt") * F.length("line")).alias("all_chars"),
        )
    )
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (
        df.select(F.col(id_col).alias("id"), F.explode(bigrams).alias("bg"))
        .groupBy("id", "bg")
        .agg(F.count("*").alias("cnt"))
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.max("cnt").alias("top_bigram"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        base.join(lines, on="id", how="left")
        .join(bg, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_lines", zero).alias("n_lines"),
            F.round(
                F.when(
                    F.coalesce("n_lines", zero) > 0,
                    F.col("dup_lines") / F.col("n_lines"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_line_frac"),
            F.round(
                F.when(
                    F.coalesce("all_chars", zero) > 0,
                    F.col("dup_chars") / F.col("all_chars"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_line_char_frac"),
            F.round(
                F.when(
                    F.coalesce("n_bigrams", zero) > 0,
                    F.col("top_bigram") / F.col("n_bigrams"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("top_bigram_frac"),
        )
    )


def strip_repeated_blocks(
    df: DataFrame,
    block: int = 32,
    max_df: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document boilerplate removal (the CCNet/Gopher "drop paragraphs
    duplicated across documents" rule, adapted to flat token streams):
    rewrite every document keeping only the token blocks whose exact content
    appears in at most ``max_df`` documents corpus-wide.

    A block is ``block`` consecutive whitespace tokens (the final partial
    block counts too); its identity is the md5 of the joined tokens, so a
    block's document frequency is exact, engine-portable, and computable by
    one hash-aggregate.  Documents whose every block is boilerplate come
    back with empty text rather than disappearing — the caller decides
    whether to drop them (``filter(length(text) > 0)``).

    Plan shape at 100 TB: tokenize + block-group per document (one shuffle
    on id, same windowed pattern as the shingle paths), hash-aggregate block
    signatures for the df count (map-side combined; the shuffle carries one
    (md5, count) row per distinct block), anti-join hot signatures back
    (broadcast-sized: only signatures with df > ``max_df`` ship), then one
    ordered ``collect_list`` per document to rebuild the text — per-group
    state is bounded by the document's own block count, never the corpus.
    All JVM expressions; fully SQL-expressible, so the golden carries a
    complete DuckDB value oracle.

    Output: (id_col, text) with the same id type, text rewritten."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(
                F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " "
            )
        ).alias("pos", "tok"),
    )
    blocks = (
        toks.withColumn("block_id", (F.col("pos") / block).cast("long"))
        .groupBy("id", "block_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("block_text")
        )
        .withColumn("sig", F.md5("block_text"))
    )
    hot = (
        blocks.groupBy("sig")
        .agg(F.count_distinct("id").alias("bdf"))
        .filter(F.col("bdf") > max_df)
        .select("sig")
    )
    kept = blocks.join(hot, on="sig", how="left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("block_id", "block_text"))),
                lambda s: s["block_text"],
            ),
        ).alias("text")
    )
    # docs whose every block was stripped must survive with empty text
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
        )
    )


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document stats frame: token count, BPE-ish token count,
    char length, language guess, quality score, fingerprint."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(c).alias("char_len"),
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        language_id(c).alias("lang_guess"),
        quality_score(c).alias("quality"),
        document_fingerprint(c).alias("fingerprint"),
    )


#: Gopher rule 7's required stop words (Rae et al. 2021, appendix A1.1).
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_words_lines(c):
    """The tokenize subtrees both gopher forms bind: the non-empty word
    array of the whitespace-normalized text, and the raw line array."""
    words_expr = F.filter(
        F.split(F.regexp_replace(F.trim(c), r"\s+", " "), " "),
        lambda w: w != "",
    )
    return words_expr, F.split(c, "\n")


def _gopher_stats(c, words, lines) -> dict:
    """The Gopher rule statistics as expressions over already-bound
    ``words``/``lines`` array Columns and the coalesced text ``c`` —
    ONE definition shared by :func:`gopher_quality_flags` (which binds
    the arrays as helper columns) and :func:`gopher_pass_condition`
    (which binds them as higher-order lambda variables), so the two can
    never drift on a threshold/formula edit (ADVICE r17).  Counts are
    emitted pre-cast (``n_words``/``n_stop_hits`` cast to long at the
    consumer) exactly as the oracle-pinned flags operator always did."""
    n_words = F.size(words)
    word_chars = F.length(F.concat_ws("", words))
    mean_wl = F.when(
        n_words > 0, F.round(word_chars.cast("double") / n_words, 4)
    ).otherwise(F.lit(0.0))
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = (
        (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
        + F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit("")))
    )
    symbol_ratio = F.when(
        n_words > 0,
        F.round((n_hash + n_ellipsis).cast("double") / n_words, 4),
    ).otherwise(F.lit(0.0))
    n_lines = F.size(lines)
    bullet_frac = F.round(
        F.size(F.filter(
            lines,
            lambda l: l.startswith("•") | l.startswith("- ")
            | l.startswith("* "),
        )).cast("double") / n_lines, 4)
    ellipsis_frac = F.round(
        F.size(F.filter(
            lines,
            lambda l: l.endswith("...") | l.endswith("…"),
        )).cast("double") / n_lines, 4)
    alpha_frac = F.when(
        n_words > 0,
        F.round(
            F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
            .cast("double") / n_words, 4),
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.transform(words, F.lower),
            F.lit(list(GOPHER_STOP_WORDS)),
        )
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "n_stop_hits": stop_hits,
    }


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    keep_cols: tuple = (),
) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    ... Gopher", appendix A1.1) as per-document flags — the published
    heuristic filter set between raw crawl and LM scoring, with each
    rule's underlying statistic emitted alongside its boolean so
    thresholds can be re-derived downstream without a second scan:

    (id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
    ellipsis_line_frac, alpha_word_frac, n_stop_hits,
    ok_word_count, ok_mean_word_len, ok_symbol_ratio, ok_bullet_lines,
    ok_ellipsis_lines, ok_alpha_words, ok_stop_words, gopher_pass)

    Rules (defaults are the paper's): 50 <= words <= 100k; mean word
    length in [3, 10]; (# + ellipsis) to word ratio <= 0.1; <= 90% of
    lines bullet-started; <= 30% of lines ellipsis-ended; >= 80% of words
    contain an alphabetic character; >= 2 hits from the required
    stop-word set.  ``gopher_pass`` is the conjunction.

    All-JVM single-scan projection (word totals via ``concat_ws`` length,
    occurrence counts via length-difference after ``replace`` — no
    per-character folds); the line/word fraction lambdas are the same
    bounded ``filter``/``isin`` HOF shape ``language_id`` already uses.
    Ratios round to 4 dp; empty docs report zeroed stats and fail
    ``ok_word_count`` rather than erroring.  Fully DuckDB-replayable
    (goldens_ext.ext_gopher_flags)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    # words/lines are projected ONCE as helper columns and every stat
    # reads the attribute: inlining the filter(split(regexp_replace(...)))
    # subtree at each of its ~10 references copies it into the plan that
    # many times — measured ~0.6 s of pure driver analysis/codegen per
    # fresh plan at this operator alone (r17), and a per-row recompute
    # wherever subexpression elimination does not reach (interpreted HOF
    # evaluation).  CollapseProject keeps multi-referenced non-cheap
    # aliases intact, so the factored shape survives optimization; the
    # expressions themselves are unchanged, so values are identical.
    # The per-rule stat formulas live in _gopher_stats, shared with
    # gopher_pass_condition (ADVICE r17: one definition, no drift).
    words_expr, lines_expr = _gopher_words_lines(c)
    base = df.select(
        "*", words_expr.alias("_gq_words"), lines_expr.alias("_gq_lines"))
    stats_exprs = _gopher_stats(c, F.col("_gq_words"), F.col("_gq_lines"))
    n_words = stats_exprs["n_words"]
    mean_wl = stats_exprs["mean_word_len"]
    symbol_ratio = stats_exprs["symbol_ratio"]
    bullet_frac = stats_exprs["bullet_line_frac"]
    ellipsis_frac = stats_exprs["ellipsis_line_frac"]
    alpha_frac = stats_exprs["alpha_word_frac"]
    stop_hits = stats_exprs["n_stop_hits"]
    flags = {
        "ok_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "ok_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "ok_symbol_ratio": F.col("symbol_ratio") <= max_symbol_ratio,
        # inclusive like every other Gopher threshold (ADVICE r9): the
        # paper removes docs with MORE than 90% bullet lines, so exactly
        # 0.9 passes
        "ok_bullet_lines": F.col("bullet_line_frac") <= max_bullet_line_frac,
        "ok_ellipsis_lines":
            F.col("ellipsis_line_frac") <= max_ellipsis_line_frac,
        "ok_alpha_words": F.col("alpha_word_frac") >= min_alpha_word_frac,
        "ok_stop_words": F.col("n_stop_hits") >= min_stop_hits,
    }
    stats = base.select(
        F.col(id_col),
        # keep_cols: extra input columns carried through the projection —
        # the stream-safe (join-free) passthrough streaming/curate.py
        # composes on; default () leaves the oracled output unchanged
        *[F.col(c) for c in keep_cols],
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.cast("long").alias("n_stop_hits"),
    )
    out = stats.select("*", *[v.alias(k) for k, v in flags.items()])
    gopher_pass = None
    for k in flags:
        gopher_pass = (F.col(k) if gopher_pass is None
                       else gopher_pass & F.col(k))
    return out.withColumn("gopher_pass", gopher_pass)


def gopher_pass_condition(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> Column:
    """``gopher_pass`` as ONE self-contained boolean expression — the
    filter form the curate composers use.

    Why this exists (r17): a composer gate written as
    ``gopher_quality_flags(df).filter("gopher_pass")`` gets its predicate
    alias-substituted down through every projection by Catalyst's filter
    pushdown, which re-inlines the tokenize subtree at each of its ~14
    references into a single giant Filter condition.  Above a parquet
    scan that condition lands in a codegen stage where subexpression
    elimination shares the copies — but above an Arrow kernel (the
    composer's rewrite stages) the Filter evaluates interpreted with NO
    sharing: measured 2.34 s vs 0.42 s for the same stage at sf0.1.
    Here the words/lines arrays are bound ONCE as higher-order-function
    lambda variables, so no optimizer rule can duplicate their
    construction — the condition is substitution-proof by shape.

    The per-rule arithmetic is the shared :func:`_gopher_stats` builder
    :func:`gopher_quality_flags` computes its stat columns from (ADVICE
    r17: one definition, no drift), so the boolean is row-for-row
    identical to that operator's ``gopher_pass`` (pinned by
    tests/test_curate_stages.py)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    words_expr, lines_expr = _gopher_words_lines(c)

    def _cond(s):
        stats = _gopher_stats(c, s["w"], s["l"])
        n_words = stats["n_words"].cast("long")
        stop_hits = stats["n_stop_hits"].cast("long")
        return (
            (n_words >= min_words) & (n_words <= max_words)
            & (stats["mean_word_len"] >= min_mean_word_len)
            & (stats["mean_word_len"] <= max_mean_word_len)
            & (stats["symbol_ratio"] <= max_symbol_ratio)
            & (stats["bullet_line_frac"] <= max_bullet_line_frac)
            & (stats["ellipsis_line_frac"] <= max_ellipsis_line_frac)
            & (stats["alpha_word_frac"] >= min_alpha_word_frac)
            & (stop_hits >= min_stop_hits)
        )

    # one-element array binds both arrays as lambda variables: exists()
    # evaluates the struct exactly once per row
    return F.exists(
        F.array(F.struct(words_expr.alias("w"), lines_expr.alias("l"))),
        _cond,
    )


def code_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_avg_line_len: float = 100.0,
    max_line_len: int = 1000,
    min_alpha_frac: float = 0.25,
    drop_xml_header: bool = True,
    keep_cols: tuple = (),
    out_prefix: str = "",
) -> DataFrame:
    """The Stack's source-file filters (Kocetkov et al. 2022 §2.3; kept
    by StarCoder's data prep, Li et al. 2023) — the code-corpus
    counterpart of the Gopher/C4/FineWeb prose rules, per document:

    * ``avg_line_len`` — characters per RAW line (split on ``\\n``,
      empties counted, newlines excluded) — autogenerated/minified files
      run long; fail above ``max_avg_line_len``.
    * ``has_long_line`` — whether ANY line exceeds ``max_line_len``
      chars.  Computed as ONE codegen regex (``[^\\n]{N}[^\\n]`` — a run
      longer than N; written as a 1000-run plus one char because RE2
      caps bounded repetition at 1000, so the same pattern replays in
      DuckDB), NOT an interpreted per-line HOF — the stage-10 lesson.
    * ``alpha_frac`` — ``[A-Za-z]`` characters over all characters;
      encoded blobs/minified data fail below ``min_alpha_frac``.
    * ``is_xml_header`` — file starts with ``<?xml version=`` (The
      Stack drops these outright).

    ``code_pass`` is the conjunction (every rule passes AT its
    threshold).  Empty/NULL text: zero statistics, passes everything
    except nothing — i.e. survives; pair with a length floor if empties
    should drop.  Everything is whole-stage codegen riding the scan —
    zero shuffles, zero Python, zero HOFs; fully DuckDB-replayable
    (goldens_ext.ext_code_flags).

    ``keep_cols`` is the join-free passthrough contract the composers
    ride; ``out_prefix`` namespaces every stat/flag column (the
    composers use ``"cq_"`` — the fixture ``documents`` table has its
    own ``n_chars``, the ADVICE-r12 collision class), and a passthrough
    column colliding with a prefixed output fails loud."""
    if max_line_len < 1:
        raise ValueError("max_line_len must be >= 1")
    P = out_prefix
    out_names = {f"{P}{s}" for s in (
        "n_chars", "n_lines", "avg_line_len", "has_long_line",
        "alpha_frac", "is_xml_header", "ok_avg_line_len",
        "ok_max_line_len", "ok_alpha_frac", "ok_not_xml", "code_pass")}
    clash = sorted(out_names.intersection(keep_cols))
    if clash:
        raise ValueError(
            "keep_cols collide with code_quality output columns: "
            f"{clash}; rename them or set out_prefix")
    c = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(c)
    # raw-line average: newline count via replace-and-measure
    n_nl = n - F.length(F.regexp_replace(c, r"\n", ""))
    n_lines = n_nl + 1
    avg = F.round(
        F.when(n > 0, (n - n_nl).cast("double") / n_lines.cast("double"))
        .otherwise(F.lit(0.0)), 4)
    # a run of max_line_len+1 non-newline chars, expressed inside RE2's
    # 1000-cap on bounded repetition
    q, r = divmod(int(max_line_len), 1000)
    pat = "[^\n]{1000}" * q + (f"[^\\n]{{{r}}}" if r else "") + "[^\n]"
    alpha = F.round(
        F.when(n > 0,
               (n - F.length(F.regexp_replace(c, "[A-Za-z]", "")))
               .cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0)), 4)
    out = df.select(
        F.col(id_col),
        *[F.col(k) for k in keep_cols],
        n.cast("long").alias(f"{P}n_chars"),
        F.coalesce(n_lines, F.lit(1)).cast("long").alias(f"{P}n_lines"),
        avg.alias(f"{P}avg_line_len"),
        c.rlike(pat).alias(f"{P}has_long_line"),
        alpha.alias(f"{P}alpha_frac"),
        F.substring(c, 1, 14).eqNullSafe("<?xml version=")
        .alias(f"{P}is_xml_header"),
    )
    flags = {
        f"{P}ok_avg_line_len":
            F.col(f"{P}avg_line_len") <= max_avg_line_len,
        f"{P}ok_max_line_len": ~F.col(f"{P}has_long_line"),
        f"{P}ok_alpha_frac": (F.col(f"{P}n_chars") == 0)
        | (F.col(f"{P}alpha_frac") >= min_alpha_frac),
        f"{P}ok_not_xml": (~F.col(f"{P}is_xml_header")
                           if drop_xml_header else F.lit(True)),
    }
    for name, cond in flags.items():
        out = out.withColumn(name, cond)
    conj = F.lit(True)
    for name in flags:
        conj = conj & F.col(name)
    return out.withColumn(f"{P}code_pass", conj)


def fineweb_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
    min_line_punct_frac: float = 0.12,
    max_short_line_frac: float = 0.67,
    short_line_chars: int = 30,
    max_dup_line_char_frac: float = 0.10,
    terminal_punct: tuple = (".", "!", "?", '"'),
) -> DataFrame:
    """The three CUSTOM FineWeb filters (Penedo et al. 2024, "The
    FineWeb Datasets" §3.4 — the heuristics FineWeb adds ON TOP of its
    Gopher and C4 reimplementations, found by ablating against
    high-quality references), per document with each rule's statistic
    beside its boolean:

    * ``line_punct_frac`` — fraction of lines ending in terminal
      punctuation; documents BELOW ``min_line_punct_frac`` fail
      (``ok_line_punct``): prose ends sentences, boilerplate/nav/listing
      pages do not.  A zero-line document FAILS this rule (an empty page
      is not prose — unlike the chain's survive-by-default gates, this
      is positive evidence the paper requires).
    * ``short_line_frac`` — fraction of lines shorter than
      ``short_line_chars`` characters; above ``max_short_line_frac``
      fails (``ok_short_lines``): the list-like/navigation page shape.
    * ``dup_line_char_frac`` — characters in the occurrences after the
      first of each repeated line over total document characters (the
      SAME published convention as :func:`gopher_repetition_flags`);
      above ``max_dup_line_char_frac`` fails (``ok_dup_line_chars``).

    ``fineweb_pass`` is the conjunction.  Boundary convention: every
    rule passes AT its threshold (``>= min`` / ``<= max``) — stated
    because the paper prints thresholds, not inequalities.  Lines split
    on ``\\n``, trimmed, empties dropped (the house line identity shared
    with ``c4_clean``/``dedup_lines``/``gopher_repetition_flags``); NULL
    text has no lines.

    Plan shape: one per-row projection, no shuffle and no Python — the
    line array is bound once, the two line counts are
    ``size(filter(...))`` and the repeated-line characters are
    ``aggregate(lines, len) - aggregate(array_distinct(lines), len)``.
    So the same call gates a stream AT INGEST (readStream ->
    fineweb_quality_flags -> filter(fineweb_pass); also exported as
    ``fineweb_quality_stateless``) and a landed corpus; the DuckDB
    oracles replay it (goldens_ext.ext_fineweb_flags and
    ext_fineweb_flags_stream).  ``keep_cols`` carries extra columns
    through for join-free composition (``curate_corpus`` /
    ``curate_stream`` ``fineweb=`` ride it); the default () keeps the
    oracle surface.  The published chain order puts it with the other
    quality rules (after dedup, before selection)."""
    reserved = {"_id", "_lines", "_dl", "n_lines", "line_punct_frac",
                "short_line_frac", "dup_line_char_frac",
                "ok_line_punct", "ok_short_lines", "ok_dup_line_chars",
                "fineweb_pass"}
    clash = sorted(reserved.intersection(keep_cols))
    if clash:
        raise ValueError(
            "keep_cols collide with fineweb_quality output columns: "
            f"{clash}; rename them before the stage")
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"),
                    lambda u: F.trim(u)),
        lambda u: u != "",
    )
    bound = df.select(
        F.col(id_col).alias("_id"), *keep_cols,
        F.coalesce(F.length(F.col(text_col)).cast("long"),
                   F.lit(0).cast("long")).alias("_dl"),
        F.coalesce(lines, F.array().cast("array<string>")).alias("_lines"),
    )
    ls = F.col("_lines")

    def _ends_ok(u):
        ok = F.lit(False)
        for p in terminal_punct:
            ok = ok | u.endswith(p)
        return ok

    def _chars(arr):
        return F.aggregate(arr, F.lit(0).cast("long"),
                           lambda acc, u: acc + F.length(u))

    n_lines = F.size(ls).cast("long")

    def _frac(num):
        return F.round(F.when(n_lines > 0, num / n_lines)
                       .otherwise(F.lit(0.0)), 4)

    out = bound.select(
        F.col("_id").alias(id_col), *keep_cols,
        n_lines.alias("n_lines"),
        _frac(F.size(F.filter(ls, _ends_ok))).alias("line_punct_frac"),
        _frac(F.size(F.filter(
            ls, lambda u: F.length(u) < short_line_chars)))
        .alias("short_line_frac"),
        F.round(
            F.when(F.col("_dl") > 0,
                   (_chars(ls) - _chars(F.array_distinct(ls)))
                   / F.col("_dl"))
            .otherwise(F.lit(0.0)), 4).alias("dup_line_char_frac"),
    )
    flags = {
        "ok_line_punct": (F.col("n_lines") > 0)
        & (F.col("line_punct_frac") >= min_line_punct_frac),
        "ok_short_lines":
            F.col("short_line_frac") <= max_short_line_frac,
        "ok_dup_line_chars":
            F.col("dup_line_char_frac") <= max_dup_line_char_frac,
    }
    for name, cond in flags.items():
        out = out.withColumn(name, cond)
    conj = F.lit(True)
    for name in flags:
        conj = conj & F.col(name)
    return out.withColumn("fineweb_pass", conj)


#: the per-row FineWeb body is stream-legal as it stands
fineweb_quality_stateless = fineweb_quality_flags


def _c4_line_ok(min_line_words: int, drop_line_markers: tuple):
    """The C4 line-keep predicate as a lambda builder — ONE definition
    shared by :func:`c4_clean` and :func:`c4_pass_condition` so the two
    can never drift (the ADVICE r17 lesson from the gopher twins)."""
    def line_ok(l):
        trimmed = F.trim(l)
        ends_ok = (trimmed.endswith(".") | trimmed.endswith("!")
                   | trimmed.endswith("?") | trimmed.endswith('"'))
        enough_words = F.size(F.filter(
            F.split(F.regexp_replace(trimmed, r"\s+", " "), " "),
            lambda w: w != "")) >= min_line_words
        ok = ends_ok & enough_words
        low = F.lower(l)
        for m in drop_line_markers:
            ok = ok & ~low.contains(m.lower())
        return ok

    return line_ok


def _c4_doc_bad(c, drop_doc_markers: tuple):
    """The C4 whole-document drop condition over the coalesced text
    column ``c`` — shared by :func:`c4_clean` and
    :func:`c4_pass_condition`."""
    doc_bad = F.lit(False)
    low_doc = F.lower(c)
    for m in drop_doc_markers:
        doc_bad = doc_bad | low_doc.contains(m.lower())
    return doc_bad


def c4_pass_condition(
    text_col: str = "text",
    min_line_words: int = 3,
    min_kept_lines: int = 5,
    drop_line_markers: tuple = ("javascript",),
    drop_doc_markers: tuple = ("lorem ipsum", "{"),
) -> Column:
    """``doc_ok`` as ONE self-contained boolean expression — the filter
    form the stream composer's C4 gate uses (the
    :func:`gopher_pass_condition` twin, VERDICT r17 #4).

    A gate written as ``c4_clean(df).filter("doc_ok")`` gets ``doc_ok``
    alias-substituted below the projection by Catalyst's filter pushdown,
    re-inlining the kept-lines subtree into an interpreted Filter above
    the composer's Arrow kernels.  Here the condition builds the kept
    array exactly once inside itself (a single ``size(filter(...))``
    reference — the C4 rule, unlike Gopher's, reads its array only once,
    so no higher-order rebinding is needed for substitution-proofness)
    and depends only on the ORIGINAL text, so the composer can filter
    BEFORE the cleaning projection: dropped documents never pay the
    ``text_clean`` rebuild at all.  Row set identical to
    ``filter(doc_ok)`` by construction — the per-rule expressions are
    the shared :func:`_c4_line_ok` / :func:`_c4_doc_bad` helpers
    :func:`c4_clean` itself builds from."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    kept = F.filter(F.split(c, "\n"),
                    _c4_line_ok(min_line_words, drop_line_markers))
    return ((F.size(kept) >= min_kept_lines)
            & ~_c4_doc_bad(c, drop_doc_markers))


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
    min_kept_lines: int = 5,
    drop_line_markers: tuple = ("javascript",),
    drop_doc_markers: tuple = ("lorem ipsum", "{"),
    keep_cols: tuple = (),
) -> DataFrame:
    """The C4 cleaning recipe (Raffel et al. 2020, "Exploring the Limits
    of Transfer Learning...", §2.2) as one scan-level rewrite:

    * LINE filter — keep only lines that end in a terminal punctuation
      mark (``. ! ? "``), contain at least ``min_line_words`` words, and
      do not mention a ``drop_line_markers`` term (C4 drops lines with
      the word "javascript");
    * DOC filter flags — ``doc_ok`` is False when fewer than
      ``min_kept_lines`` lines survive (C4's "fewer than 5 sentences",
      counted here at line granularity — the one documented deviation) or
      the ORIGINAL text contains a ``drop_doc_markers`` term ("lorem
      ipsum", the curly brace of leaked code).

    Output: (id, text_clean — the kept lines rejoined with newlines,
    n_lines, n_lines_kept, doc_ok).  The caller filters on ``doc_ok`` and
    swaps ``text_clean`` in; emitting flags instead of dropping rows keeps
    the operator auditable (count what a threshold change would do with
    one aggregation, no rescan).  Line membership, not content, changes —
    so downstream dedup fingerprints stay meaningful.

    Everything is JVM expressions (the line lambda is the bounded
    ``filter`` HOF shape ``language_id`` uses); fully DuckDB-replayable
    (goldens_ext.ext_c4_clean).  Three-sentence-span dedup, C4's other
    half, is the existing ``rolling_fingerprints``/``shared_passages``
    family."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(c, "\n")
    kept = F.filter(lines, _c4_line_ok(min_line_words, drop_line_markers))
    doc_bad = _c4_doc_bad(c, drop_doc_markers)
    return df.select(
        F.col(id_col),
        # join-free passthrough for streaming composition (see
        # gopher_quality_flags keep_cols); default () keeps the oracle
        # output unchanged
        *[F.col(c) for c in keep_cols],
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        ((F.size(kept) >= min_kept_lines) & ~doc_bad).alias("doc_ok"),
    )


def load_badwords(lines) -> tuple[str, ...]:
    """Parse a caller-supplied bad-words list (one entry per line — the
    LDNOOBW-style per-language lists C4 §2.2 filters on) into the
    ``badwords`` argument of :func:`badwords_flags` /
    ``curate_corpus(badwords=)``.  Same pure-I/O contract as
    ``urls.load_blocklist``: the caller owns file/network access, the
    function only normalizes lines — ``#``/``;``/``//`` comments and
    blanks dropped, entries lower-cased, inner whitespace collapsed to
    single spaces (multi-word entries match phrases)."""
    import re as _re

    out: set[str] = set()
    for raw in lines:
        line = raw.split("#", 1)[0].strip().lower()
        if not line or line.startswith(("//", ";")):
            continue
        out.add(_re.sub(r"\s+", " ", line))
    return tuple(sorted(out))


def badwords_flags(
    df: DataFrame,
    badwords,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "badwords_hit",
    max_plan_literals: int = 10_000,
) -> DataFrame:
    """C4 SS2.2's FIRST rule (Raffel et al. 2020): flag any document
    containing a word from a caller-supplied "bad words" list (the
    most-replicated filter in the C4/FineWeb lineage; the published
    lists are the LDNOOBW per-language files — load with
    :func:`load_badwords`).  Adds ``out_col`` (boolean, never NULL) to
    the input frame; the curate stages filter on it.

    Boundary semantics (the "ass" vs "class" problem): an entry matches
    only as a whole word — a maximal ``[a-z0-9_]`` run of the
    lower-cased, whitespace-normalized text — so "ass" does NOT hit
    "class" or "massive" but does hit "ass." and "(ass)".  Multi-word
    entries match with single internal spaces against the normalized
    text.  This is the published regex's convention
    (``(^|\\W)(word)(\\W|$)`` over the lowercased page).

    Two regimes, the ``curate_urls`` plan-literal split:

    * ``len(badwords) <= max_plan_literals`` — ONE codegen alternation
      regex (entries ``re.escape``'d) riding the scan: zero shuffles,
      zero Python, stream-legal, and DuckDB-replayable (RE2 and Java
      agree on this pattern class; goldens_ext.ext_badwords pins it).
      Every published list (~100-2,000 entries) lands here.
    * past the cap — single-word entries probe a BROADCAST exploded
      token semi-join (tokens = maximal ``[a-z0-9_]`` runs, identical
      hit set by construction); a distinct + left join restores the
      per-document boolean.  Batch-only (the distinct is illegal
      mid-stream); multi-word entries past the cap raise — split the
      list or raise the cap.
    """
    import re as _re

    # normalize entries the way load_badwords does (lower-case, single
    # internal spaces) — matching is against lower-cased text, so a raw
    # caller list with uppercase entries would otherwise silently never
    # match
    words = tuple(
        _re.sub(r"\s+", " ", str(w).strip().lower()) if w else w
        for w in badwords)
    if not words or any(not w for w in words):
        raise ValueError("badwords must be a non-empty list of "
                         "non-empty entries (see load_badwords)")
    norm = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
        r"\s+", " ")
    if len(words) <= max_plan_literals:
        pat = ("(^|[^a-z0-9_])("
               + "|".join(_re.escape(w) for w in sorted(words))
               + ")([^a-z0-9_]|$)")
        return df.withColumn(out_col, norm.rlike(pat))
    phrases = sorted(w for w in words if " " in w)
    if phrases:
        raise ValueError(
            f"{len(phrases)} multi-word entries past max_plan_literals="
            f"{max_plan_literals} (e.g. {phrases[0]!r}); the token-join "
            "regime matches single words only — raise the cap or split "
            "the list")
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                r"[^a-z0-9_]+"),
        lambda t: t != "")
    from condenser_spark.registry import lookup_df

    words_df = lookup_df(
        df.sparkSession, [(w,) for w in words], "_bw string")
    hits = (
        df.select(F.col(id_col), F.explode(toks).alias("_bw"))
        .join(F.broadcast(words_df), "_bw", "left_semi")
        .select(id_col).distinct()
        .withColumn("_bw_hit", F.lit(True))
    )
    return (
        df.join(hits, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col("_bw_hit"), F.lit(False)))
        .drop("_bw_hit")
    )


def duplicated_ngram_starts(
    df: DataFrame,
    k: int = 50,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_grams: bool = True,
) -> DataFrame:
    """(id, pos, fp) — the 1-based token positions that START a ``k``-token
    n-gram occurring at least ``min_count`` times across the WHOLE corpus
    (within- or cross-document — the ExactSubstr duplication criterion of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", at token granularity).  The audit view behind
    :func:`exact_substring_dedup`.

    The n-gram identity is the md5 of the space-joined raw tokens
    (case-SENSITIVE — ExactSubstr is exact matching; tokens are the
    whitespace split of the trimmed text), so duplication is exact up to
    md5 collision and every engine reproduces it bit-for-bit.

    Plan shape at 100 TB: tokenize to an array ONCE per doc, explode the
    start positions, and build each n-gram by an in-row ``slice`` +
    ``concat_ws`` + md5 — all scan-level, NO per-document window and no
    sort for extraction.  The duplicate set is one map-side-combined
    (fp, count) aggregate — the same inverted-index shape as
    ``strip_repeated_blocks``'s block-frequency model — and a left-semi
    join on fp ships (id, pos, 16-byte fp) rows only.  Nothing is
    quadratic; no pair join ever forms, so no hot-key cap is needed.

    ``cache_grams``: the gram rows are referenced TWICE (the duplicate-
    count aggregate side and the semi-join probe side) with no barrier
    between them, so without it the O(tokens * k) slice+concat+md5
    construction — the operator's dominant compute — runs once per
    reference.  A lazy ``localCheckpoint`` materializes it once (the
    ``cache_band_index`` pattern from minhash_lsh_pairs; r17).  The
    trade is executor block storage for (id, pos, 16-byte fp) rows —
    pass ``False`` to recompute instead of store.  A per-fp count
    window would also collapse the two references into one pass but
    puts every site of a viral fingerprint into ONE window partition
    (the skewed-task shape the keep="first" election below
    deliberately avoids), so the barrier is the scale-safe form.

    Cluster-mode caveat (ADVICE r17, applies to EVERY ``cache_*``
    barrier in this family): local checkpoints are NON-RECOVERABLE —
    the blocks live only in executor storage, so on executor loss or
    decommission (dynamic allocation, spot/preemptible nodes) the job
    fails with BlockNotFound instead of recomputing lineage.  On such
    clusters pass ``False`` (recompute per reference) or disable
    dynamic allocation for the stage; the default optimizes for the
    stable-executor batch regime this engine targets."""
    assert k >= 2 and min_count >= 2
    arr = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    base = df.select(F.col(id_col).alias("id"), arr.alias("_arr"))
    grams = (
        base.filter(F.size("_arr") >= k)
        .select(
            "id", "_arr",
            F.explode(
                F.sequence(F.lit(1), F.size("_arr") - F.lit(k - 1))
            ).alias("pos"),
        )
        .select(
            "id", "pos",
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("_arr"), F.col("pos"), F.lit(k)))
            ).alias("fp"),
        )
    )
    if cache_grams:
        grams = grams.localCheckpoint(eager=False)
    dup = (
        grams.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_sites"))
        .filter(F.col("_sites") >= min_count)
        .select("fp")
    )
    return grams.join(dup, on="fp", how="left_semi").select(
        F.col("id").alias(id_col), "pos", "fp")


def exact_substring_dedup(
    df: DataFrame,
    k: int = 50,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "none",
    cache_grams: bool = True,
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2021) at token ``k``-gram
    granularity: every token covered by a duplicated ``k``-gram (per
    :func:`duplicated_ngram_starts`) is CUT from every occurrence, and the
    document is rebuilt from the surviving tokens — the finer-grained
    complement to chunk-level :func:`shared_passages` /
    :func:`strip_repeated_blocks`.

    ``keep`` selects which published form runs:

    * ``"none"`` (default) — remove ALL copies of a duplicated span, the
      released deduplicate-text-datasets default; deterministic and
      order-free (no site has to be elected a survivor).
    * ``"first"`` — the paper's "all but one" reading: per duplicated
      fingerprint, the globally FIRST site (smallest ``(id, pos)``) keeps
      its copy and every other occurrence is cut.  Election is one
      row_number window per fingerprint group (deterministic for any id
      type).  A survivor site can still lose tokens to a DIFFERENT
      duplicated fingerprint whose coverage overlaps it — the same
      byte-range reality the suffix-array implementation has.

    Output: (id_col, text, n_tokens, n_removed_tokens, n_removed_chars) —
    text rewritten with single spaces (whitespace-normalized, case
    preserved), every doc present (shorter-than-``k`` docs pass through
    untouched; fully-duplicated docs come back with empty text — the
    caller decides whether to drop them, the strip_repeated_blocks
    convention).  ``n_removed_chars`` counts the characters of the CUT
    tokens (separators excluded) so token/char-budgeted pipelines and
    ``mixture_report`` compose without re-tokenizing.

    Relation to the paper's suffix-array form (Lee et al. 2021 §4, which
    finds duplicated byte spans of ANY length >= a threshold): for a
    corpus-duplicated span of ``m >= k`` tokens, every one of its
    ``m - k + 1`` interior ``k``-gram windows is itself duplicated, so
    running-max coverage marks EXACTLY the span's ``m`` tokens — the
    removal SET matches the suffix-array form for token-aligned spans
    >= ``k``, with no over-removal of neighboring tokens (pinned by
    tests/test_exact_substring.py::test_kgram_matches_suffix_array_set).
    The two semantic differences, both sub-``k``: (1) duplicated spans
    SHORTER than ``k`` tokens are invisible here (the suffix array finds
    them when they clear its byte threshold); (2) byte-level matches that
    start or end mid-token are trimmed to whole-token boundaries (this
    form is token-granular; the paper's 50-BPE-token threshold is too).

    Coverage is computed WITHOUT exploding spans: a token at ``pos`` is
    covered iff the latest duplicated start at-or-before it is within
    ``k-1`` tokens — one running ``max`` window per document over the
    token rows (ascending pos), then one ordered rebuild aggregate on the
    SAME partitioning (no extra shuffle between the two).  Corpus-scale
    work is three linear shuffles: (fp) for the duplicate count, (fp) for
    the semi join, (id) for coverage + rebuild."""
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first': {keep!r}")
    arr = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    base = df.select(F.col(id_col).alias("id"), arr.alias("_arr"))
    tok_rows = base.select(
        "id", F.posexplode("_arr").alias("_p0", "tok")
    ).select("id", (F.col("_p0") + 1).alias("pos"), "tok")
    dup_starts = duplicated_ngram_starts(
        df, k=k, min_count=min_count, text_col=text_col, id_col=id_col,
        cache_grams=cache_grams,
    ).select(F.col(id_col).alias("id"), "pos", "fp")
    if keep == "first":
        # survivor election WITHOUT a per-fp window: min(struct(id, pos))
        # is a map-side-combinable aggregate, so a viral fingerprint with
        # a billion sites costs one combine tree, not one skewed
        # row_number sort partition (the uniform_sample_per_group lesson
        # applied to election; ordering semantics identical — struct
        # comparison is field-wise (id, pos) ascending)
        surv = dup_starts.groupBy("fp").agg(
            F.min(F.struct("id", "pos")).alias("_s"))
        dup_starts = (
            dup_starts.join(surv, on="fp")
            .filter(~((F.col("id") == F.col("_s.id"))
                      & (F.col("pos") == F.col("_s.pos"))))
            .drop("_s")
        )
    # each (id, pos) carries exactly one k-gram, so starts is unique by
    # construction in both modes — no distinct needed (it would add an
    # (id, pos) exchange the plan contract forbids)
    starts = dup_starts.select("id", "pos", F.lit(1).alias("_d"))
    w = Window.partitionBy("id").orderBy("pos")
    flagged = tok_rows.join(starts, on=["id", "pos"], how="left")
    smax = F.max(F.when(F.col("_d") == 1, F.col("pos"))).over(w)
    covered = smax.isNotNull() & (smax >= F.col("pos") - F.lit(k - 1))
    rebuilt = (
        flagged.withColumn("_cov", covered)
        .groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("_cov"),
                                   F.struct("pos", "tok")))),
                    lambda s: s["tok"],
                ),
            ).alias("_text"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("_cov").cast("long")).alias("n_removed_tokens"),
            # char-budget audit: chars of the CUT tokens (the text is
            # whitespace-normalized, so separators are not counted)
            F.sum(F.when(F.col("_cov"), F.length("tok"))
                  .otherwise(F.lit(0)))
            .cast("long").alias("n_removed_chars"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long"))
            .alias("n_tokens"),
            F.coalesce(F.col("n_removed_tokens"), F.lit(0).cast("long"))
            .alias("n_removed_tokens"),
            F.coalesce(F.col("n_removed_chars"), F.lit(0).cast("long"))
            .alias("n_removed_chars"),
        )
    )


def dedup_lines(
    df: DataFrame,
    min_count: int = 2,
    keep: str = "first",
    strip_digits: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_lines: bool = True,
) -> DataFrame:
    """Cross-document LINE/paragraph deduplication — CCNet's first stage
    (Wenzek et al. 2020 §3.1: hash every paragraph, drop duplicates before
    langid or any quality rule; the published pipelines run this ahead of
    everything because boilerplate headers/footers repeat across a crawl
    far more than whole documents do).

    A line's identity is the md5 of its NORMALIZED form (trim + lowercase
    + whitespace collapse; ``strip_digits=True`` additionally deletes
    digits, the CCNet trick that collapses "page 3 of 7" variants); the
    ORIGINAL line text is what survives into the rebuilt document.  Lines
    that normalize to the empty string (blank separators) are never
    hashed and always kept.

    ``keep="first"`` (default, the CCNet behavior made deterministic):
    per duplicated line hash the globally first (id, line position) site
    keeps its line, every other occurrence drops.  ``keep="none"`` drops
    every occurrence of a line seen ``min_count``+ times (the
    boilerplate-scrub form — the line-granularity sibling of
    :func:`strip_repeated_blocks`'s token blocks).

    Output: (id_col, text, n_lines, n_removed_lines, n_removed_tokens,
    n_removed_chars) — text rebuilt by joining kept lines with single
    newlines, every doc present (docs whose every line drops come back
    with empty text; the caller decides).  The token/char audit columns
    count whitespace tokens and raw characters of the DROPPED lines
    (newline separators not counted) so token-budgeted pipelines and
    ``mixture_report`` compose without re-tokenizing.

    Plan shape at 100 TB: one posexplode of lines, one map-side-combined
    (hash, count) aggregate, a left-semi/election join shipping (id, pos,
    16-byte hash), one id-partitioned ordered rebuild — the
    exact_substring_dedup shape at line granularity, linear end to end,
    no pair join.

    ``cache_lines``: the hashed line rows feed THREE consumers whose
    downstream exchanges differ (the duplicate-count aggregate on the
    hash, the election/semi-join probe, and the id-keyed rebuild join),
    so exchange reuse cannot share them and the explode + double
    regexp + md5 normalization runs once per consumer.  A lazy
    ``localCheckpoint`` materializes it once (the cache_band_index /
    cache_grams pattern; measured 1.56 → 1.24 s at sf0.1, identical
    frames).  The trade is heavier here than the fingerprint caches —
    the stored rows carry the ORIGINAL line text the rebuild needs —
    so pass ``False`` to recompute instead of store when executor
    block storage is the constraint.  Local checkpoints are also
    NON-RECOVERABLE on executor loss (see the cluster-mode caveat in
    ``duplicated_ngram_starts``): pass ``False`` under dynamic
    allocation / spot nodes."""
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first': {keep!r}")
    assert min_count >= 2
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_p0", "line"),
    ).select("id", (F.col("_p0") + 1).alias("pos"), "line")
    norm = F.regexp_replace(F.lower(F.trim(F.col("line"))), r"\s+", " ")
    if strip_digits:
        norm = F.regexp_replace(norm, r"[0-9]", "")
    hashed = lines.withColumn(
        "_h", F.when(norm != "", F.md5(norm)))
    if cache_lines:
        hashed = hashed.localCheckpoint(eager=False)
    dup = (
        hashed.filter(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_h")
    )
    sites = hashed.join(dup, on="_h", how="left_semi") \
        .select("_h", "id", "pos")
    if keep == "first":
        # same windowless election as exact_substring_dedup keep="first":
        # min(struct(id, pos)) per hash is map-side combined, so even a
        # line present in EVERY document (the stage-20 stress shape, and
        # the real-crawl boilerplate shape) never funnels into one sorted
        # window partition
        surv = sites.groupBy("_h").agg(
            F.min(F.struct("id", "pos")).alias("_s"))
        sites = (
            sites.join(surv, on="_h")
            .filter(~((F.col("id") == F.col("_s.id"))
                      & (F.col("pos") == F.col("_s.pos"))))
            .drop("_s")
        )
    drops = sites.select("id", "pos", F.lit(1).alias("_x"))
    # token-budget audit: pipelines budget in tokens/chars, not lines
    # (mixture_report keys on token mass) — whitespace tokens and raw
    # chars of each DROPPED line, separators not counted
    _line_tokens = F.size(
        F.filter(F.split(F.trim(F.col("line")), r"\s+"),
                 lambda t: t != ""))
    rebuilt = (
        hashed.join(drops, on=["id", "pos"], how="left")
        .groupBy("id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_x").isNull(),
                                   F.struct("pos", "line")))),
                    lambda s: s["line"],
                ),
            ).alias("_text"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("_x").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_removed_lines"),
            F.sum(F.when(F.col("_x").isNotNull(), _line_tokens)
                  .otherwise(F.lit(0)))
            .cast("long").alias("n_removed_tokens"),
            F.sum(F.when(F.col("_x").isNotNull(), F.length("line"))
                  .otherwise(F.lit(0)))
            .cast("long").alias("n_removed_chars"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_lines"), F.lit(0).cast("long"))
            .alias("n_lines"),
            F.coalesce(F.col("n_removed_lines"), F.lit(0).cast("long"))
            .alias("n_removed_lines"),
            F.coalesce(F.col("n_removed_tokens"), F.lit(0).cast("long"))
            .alias("n_removed_tokens"),
            F.coalesce(F.col("n_removed_chars"), F.lit(0).cast("long"))
            .alias("n_removed_chars"),
        )
    )


_DIV_STRUCT = ("n_tokens bigint, distinct_1 bigint, distinct_2 bigint, "
               "distinct_3 bigint")


def diversity_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Per-document n-gram diversity (distinct-1/2/3 of Li et al. 2016,
    "A Diversity-Promoting Objective Function for Neural Conversation
    Models"): the fraction of a document's token n-grams that are
    distinct — degenerate/templated text scores low, the complement of
    :func:`repetition_stats`' Gopher thresholds as a continuous signal
    for filtering or curriculum ordering.  Tokenization matches
    :func:`exact_substring_dedup` (whitespace split, case preserved).

    Output per input row: (id_col, *keep_cols, n_tokens, distinct_1..3,
    ratio_1..3) with ratio_n = distinct_n / (n_tokens - n + 1) as ONE
    exact double division, NULL when the document is shorter than n.
    Token-free and NULL documents report zero counts.

    Scale shape: one per-row projection, no shuffle — the JVM tokenizes,
    one Arrow kernel counts the distinct n-grams of each row (python sets,
    O(L)), and the ratios are derived JVM-side.  So the same call gates a
    stream AT INGEST (readStream -> diversity_stats -> filter(ratio_2 >
    t); also exported as ``diversity_stats_stateless``) and scores a
    landed corpus.  A lead-window + per-doc-aggregate form gives the same
    rows but ran slower: the ``diversity_stats`` bench entry at sf0.1,
    local[4] on a 4-core box, took a median 0.49-0.54 s in this form
    against 0.66-0.74 s in that one.
    The DuckDB oracles replay it (goldens_ext.ext_diversity_stats and
    ext_diversity_stream).  ``keep_cols`` (the c4_clean/gopher passthrough
    contract — default () keeps the oracle surface) carries extra columns
    through for join-free composition: the ``diversity=`` stage of
    ``curate_corpus`` / ``curate_stream`` rides it."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    reserved = {"_id", "_r", "n_tokens",
                "distinct_1", "distinct_2", "distinct_3",
                "ratio_1", "ratio_2", "ratio_3"}
    clash = sorted(reserved.intersection(keep_cols))
    if clash:
        # a passthrough column shadowing a stat column would make the
        # output ambiguous and any downstream ratio filter resolve
        # against the wrong one — fail loud instead
        raise ValueError(
            "keep_cols collide with diversity_stats output columns: "
            f"{clash}; rename them before the stage"
        )

    def _kernel(raw):
        nt, d1, d2, d3 = [], [], [], []
        for ts in raw:
            if ts is None:
                ts = []
            n = len(ts)
            nt.append(n)
            d1.append(len(set(ts)))
            d2.append(len({(ts[i], ts[i + 1]) for i in range(n - 1)}))
            d3.append(len({(ts[i], ts[i + 1], ts[i + 2])
                           for i in range(n - 2)}))
        return pd.DataFrame({"n_tokens": nt, "distinct_1": d1,
                             "distinct_2": d2, "distinct_3": d3})

    kernel = pandas_udf(_kernel, _DIV_STRUCT).asNondeterministic()
    arr = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    out = df.select(F.col(id_col).alias("_id"), *keep_cols,
                    kernel(arr).alias("_r"))
    # the kernel never emits NULL; the coalesce states it in the schema
    counts = {c: F.coalesce(F.col(f"_r.{c}"), F.lit(0).cast("long"))
              for c in ("n_tokens", "distinct_1", "distinct_2",
                        "distinct_3")}

    def _ratio(n: int):
        total = counts["n_tokens"] - F.lit(n - 1)
        return F.when(
            total >= 1, counts[f"distinct_{n}"].cast("double")
            / total.cast("double"))

    return out.select(
        F.col("_id").alias(id_col),
        *keep_cols,
        *[v.alias(c) for c, v in counts.items()],
        *[_ratio(n).alias(f"ratio_{n}") for n in (1, 2, 3)],
    )


#: the per-row diversity body is stream-legal as it stands
diversity_stats_stateless = diversity_stats


def winnow_fingerprints(
    df: DataFrame,
    window: int = 4,
    winnow: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm): from the :func:`rolling_fingerprints` k-gram
    stream, select in every sliding window of ``winnow`` consecutive
    fingerprints the MINIMUM (rightmost on ties), recording each selected
    (position, fp) once.  The selected set is ~2/(winnow+1) of all
    fingerprints yet GUARANTEES that any shared token run of at least
    ``winnow + window - 1`` tokens contributes at least one common
    fingerprint — the density/recall contract ad-hoc every-Nth sampling
    lacks.  Documents shorter than that bound emit nothing (cover them
    with :func:`document_fingerprint` / exact dedup).

    Output: (id, pos, fp) — the winnowed index rows; join on fp for
    MOSS-style overlap detection at a fraction of the full index size.

    md5-derived hashes (the rolling_fingerprints contract), so a DuckDB
    oracle replays the selection bit-for-bit.  Scale shape: inherits
    rolling_fingerprints' single id shuffle; the argmin is one bounded
    ``rowsBetween`` window on the SAME partitioning (no extra exchange)
    and the final distinct is per-id map-local after that shuffle."""
    fps = rolling_fingerprints(
        df, window=window, text_col=text_col, id_col=id_col
    ).drop("chunk_id")
    win = (
        Window.partitionBy("id").orderBy("pos")
        .rowsBetween(-(winnow - 1), 0)
    )
    m = F.min(
        F.struct(F.col("fp").alias("f"), (-F.col("pos")).alias("np"))
    ).over(win)
    return (
        fps.select("id", "pos", m.alias("_m"))
        .filter(F.col("pos") >= winnow)
        .select(
            "id",
            (-F.col("_m.np")).cast("long").alias("pos"),
            F.col("_m.f").alias("fp"),
        )
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame | None = None,
    window: int = 4,
    winnow: int = 5,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: int | None = 10_000,
    index: DataFrame | None = None,
    cache_fps: bool = True,
) -> DataFrame:
    """MOSS-style overlap detection — the published CONSUMER of the
    winnowed index (Schleimer et al. 2003 §4: report document pairs by
    the fingerprints they share): join :func:`winnow_fingerprints`'s
    (id, pos, fp) index with itself on ``fp`` and emit
    ``(id_a, id_b, n_shared_fps, containment)`` with ``id_a < id_b``,
    where ``n_shared_fps = |fps(A) ∩ fps(B)|`` over DISTINCT per-doc
    fingerprint sets and ``containment = round(n_shared / min(|fps(A)|,
    |fps(B)|), 4)`` — the asymmetric estimate that still fires when a
    small document is embedded in a large one.  By the winnowing
    guarantee, any shared run of ``winnow + window - 1`` tokens shares
    at least one fingerprint, so ``min_shared`` (default 2) is the noise
    floor in guaranteed-run units.

    ``max_fp_df`` is the hot-fingerprint guard (the ngram_jaccard_pairs
    stop-shingle treatment): a fingerprint shared by more than that many
    documents — license boilerplate, templated headers — would make the
    self-join quadratic in its document frequency while carrying no
    pair-level signal; such fps are dropped from BOTH join sides (and
    logged), while per-doc set sizes keep counting them, so containment
    is a lower bound under the cap, never inflated.  Pass ``None`` to
    disable (exact mode, the oracle setting only when the fixture has no
    hot fps).

    ``index=`` accepts a prebuilt winnowed index (amortize one index
    across many overlap queries; MOSS's standing-corpus regime) — then
    ``df``/``window``/``winnow``/``text_col`` are ignored for the build
    but ``window``/``winnow`` still document the guarantee in force.

    Scale shape: the index is ~2/(winnow+1) of the k-gram stream; distinct
    (id, fp) is map-local after the index's id shuffle; the self-join
    shuffles on fp with the df cap bounding every fp's bucket; the pair
    aggregate is map-side combined.  All-integer until the one rounded
    division (cross-engine exact; DuckDB replay in
    goldens_ext.ext_winnow_overlap)."""
    if index is None:
        if df is None:
            raise ValueError("pass df or a prebuilt index")
        index = winnow_fingerprints(
            df, window=window, winnow=winnow,
            text_col=text_col, id_col=id_col)
    fps = index.select("id", "fp").distinct()
    # ``cache_fps``: the distinct (id, fp) set feeds four consumers (sizes,
    # the hot-fp aggregate, and both sides of the self-join) — without a
    # barrier each re-runs the whole index lineage (rolling fingerprints +
    # winnowing window + two distincts).  Materialize it once (lazy
    # lineage-truncating localCheckpoint — the minhash cache_band_index
    # pattern; rows are two longs each).  Pass False to recompute instead
    # of store, e.g. when composing from an already-persisted index.
    if cache_fps:
        fps = fps.localCheckpoint(eager=False)
    sizes = fps.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    if max_fp_df is not None:
        from condenser_spark.functions.dedup import _log_dropped_hot_keys

        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_fp_df)
            .select("fp")
        )
        _log_dropped_hot_keys(hot, max_fp_df, "winnow_overlap_pairs fp")
        # no broadcast hint: the over-cap fp set is corpus-derived and
        # unbounded (millions of boilerplate fps on a large crawl) —
        # AQE broadcasts when it measures small, shuffles when it isn't
        fps = fps.join(hot, "fp", "left_anti")
    a, b = fps.alias("a"), fps.alias("b")
    common = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )
    return (
        common.join(sizes.select(F.col("id").alias("id_a"),
                                 F.col("n_fp").alias("_na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n_fp").alias("_nb")), "id_b")
        .select(
            "id_a", "id_b", "n_shared_fps",
            F.round(
                F.col("n_shared_fps").cast("double")
                / F.least("_na", "_nb").cast("double"), 4,
            ).alias("containment"),
        )
    )


def gopher_repetition_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_line_frac: float = 0.30,
    max_dup_para_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_char_frac: float = 0.20,
    max_top_2gram_char_frac: float = 0.20,
    max_top_3gram_char_frac: float = 0.18,
    max_top_4gram_char_frac: float = 0.16,
) -> DataFrame:
    """The Gopher REPETITION rules (Rae et al. 2021 appendix A1.2 — the
    companion table to :func:`gopher_quality_flags`' A1.1 set), per
    document, each rule's statistic emitted beside its boolean:

    duplicate line / paragraph FRACTIONS (extra copies of repeated units
    over total units), duplicate line / paragraph CHARACTER fractions
    (characters in the occurrences AFTER THE FIRST of each repeated
    unit, ``(cnt-1) * len(unit)`` over TOTAL document characters — the
    published implementations' convention, DataTrove / NeMo Curator /
    RedPajama, so the paper's 0.20 default thresholds apply as written),
    and top-{2,3,4}-gram character fractions (characters covered by the
    single most frequent n-gram: ``count * gram_chars /
    total_token_chars``, most-frequent ties broken toward the longer
    gram — a deterministic struct max both engines replay; occurrences
    counted WITH overlap, so the product is clamped to 1.0 — a
    degenerate "x y x y x" doc would otherwise exceed it).
    ``gopher_rep_pass`` is the conjunction at the paper's thresholds
    (defaults above).

    SQL-NATIVE SCOPE: this form scores A1.2 rows 1-6 (the per-unit
    aggregates).  The duplicated 5..10-gram character-coverage rows
    (7-12) need a per-doc interval union; the stateless twin
    :func:`streaming.textdedup.gopher_repetition_stateless` scores the
    COMPLETE 12-rule table (it is batch-legal and measured ~4.5x faster
    at corpus scale — STRESS 27), and
    ``curate_corpus(gopher_repetition=...)`` switches to it
    automatically when any ``max_dup_{5..10}gram_char_frac`` threshold
    is passed.  The span-REMOVAL machinery for the same statistics is
    :func:`exact_substring_dedup` / :func:`duplicated_ngram_starts`.

    Paragraphs split on blank lines (``\\n\\n``), lines on ``\\n``, both
    trimmed and empty-dropped; n-grams over lower-cased
    whitespace-collapsed tokens; ratios rounded to 4 dp (DuckDB-
    replayable, goldens_ext.ext_gopher_repetition).  Plan shape: five
    explode -> (id, unit) map-side-combined aggregates joined back to
    the id base — scan-linear, shuffles carry (id, unit, count) rows,
    never document bodies.

    FORM GUIDANCE (STRESS stage 27, 2M docs): the stateless twin
    :func:`streaming.textdedup.gopher_repetition_stateless` — one Arrow
    kernel, zero shuffles, batch-legal, and the COMPLETE 12-rule table —
    measured ~4x FASTER (36.9k vs 9.3k docs/s) than this five-shuffle
    7-rule form; prefer it for
    corpus-wide scoring, and keep this form when the pipeline must stay
    Python-free or the per-unit aggregates need pure-SQL replay."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.length(F.col(text_col)).cast("long"),
                   F.lit(0).cast("long")).alias("_dl"),
    )

    def _unit_stats(sep_regex: str, prefix: str):
        units = F.filter(
            F.transform(F.split(F.col(text_col), sep_regex),
                        lambda u: F.trim(u)),
            lambda u: u != "",
        )
        return (
            df.select(F.col(id_col).alias("id"),
                      F.explode(units).alias("u"))
            .groupBy("id", "u")
            .agg(F.count("*").alias("cnt"))
            .groupBy("id")
            .agg(
                F.sum("cnt").alias(f"n_{prefix}"),
                (F.sum("cnt") - F.count("*")).alias(f"_dup_{prefix}"),
                # chars of occurrences AFTER the first — the published
                # (DataTrove find_duplicates) convention
                F.sum(
                    F.when(F.col("cnt") > 1,
                           (F.col("cnt") - 1) * F.length("u"))
                    .otherwise(F.lit(0))
                ).alias(f"_dupc_{prefix}"),
            )
        )

    lines = _unit_stats("\n", "lines")
    paras = _unit_stats(r"\n\s*\n", "paras")

    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                 r"\s+", " "), " "),
        lambda t: t != "",
    )
    tokd = df.select(
        F.col(id_col).alias("id"),
        toks.alias("_t"),
        F.length(F.concat_ws("", toks)).cast("long").alias("_tchars"),
    )

    def _top_ngram(n: int):
        grams = F.when(
            F.size("_t") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                lambda i: F.array_join(F.slice("_t", i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            tokd.select("id", "_tchars", F.explode(grams).alias("g"))
            .groupBy("id", "_tchars", "g")
            .agg(F.count("*").alias("cnt"))
            .groupBy("id")
            .agg(
                # most frequent gram, ties to the longer one — the char
                # mass of THAT gram's occurrences over all token chars
                F.max(F.struct(
                    F.col("cnt").alias("c"),
                    (F.length("g") - F.lit(n - 1)).alias("l"),
                )).alias("_m"),
                F.max("_tchars").alias("_tc"),
            )
            .select(
                "id",
                F.round(
                    F.least(F.lit(1.0), F.when(
                        F.col("_tc") > 0,
                        (F.col("_m.c") * F.col("_m.l")).cast("double")
                        / F.col("_tc"),
                    ).otherwise(F.lit(0.0))), 4,
                ).alias(f"top_{n}gram_char_frac"),
            )
        )

    zero = F.lit(0).cast("long")

    def _frac(num, den):
        return F.round(
            F.when(F.coalesce(den, zero) > 0,
                   F.col(num) / F.col(den)).otherwise(F.lit(0.0)), 4)

    def _docfrac(num):
        # published convention: denominator = total document chars
        return F.round(
            F.when(F.col("_dl") > 0,
                   F.coalesce(F.col(num), zero) / F.col("_dl"))
            .otherwise(F.lit(0.0)), 4)

    out = (
        base.join(lines, "id", "left")
        .join(paras, "id", "left")
        .join(_top_ngram(2), "id", "left")
        .join(_top_ngram(3), "id", "left")
        .join(_top_ngram(4), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_lines", zero).alias("n_lines"),
            F.coalesce("n_paras", zero).alias("n_paras"),
            _frac("_dup_lines", "n_lines").alias("dup_line_frac"),
            _docfrac("_dupc_lines").alias("dup_line_char_frac"),
            _frac("_dup_paras", "n_paras").alias("dup_para_frac"),
            _docfrac("_dupc_paras").alias("dup_para_char_frac"),
            *[F.coalesce(f"top_{n}gram_char_frac", F.lit(0.0))
              .alias(f"top_{n}gram_char_frac") for n in (2, 3, 4)],
        )
    )
    flags = {
        "ok_dup_lines": F.col("dup_line_frac") <= max_dup_line_frac,
        "ok_dup_paras": F.col("dup_para_frac") <= max_dup_para_frac,
        "ok_dup_line_chars":
            F.col("dup_line_char_frac") <= max_dup_line_char_frac,
        "ok_dup_para_chars":
            F.col("dup_para_char_frac") <= max_dup_para_char_frac,
        "ok_top_2gram":
            F.col("top_2gram_char_frac") <= max_top_2gram_char_frac,
        "ok_top_3gram":
            F.col("top_3gram_char_frac") <= max_top_3gram_char_frac,
        "ok_top_4gram":
            F.col("top_4gram_char_frac") <= max_top_4gram_char_frac,
    }
    for name, cond in flags.items():
        out = out.withColumn(name, cond)
    # plain AND chain, not an F.aggregate fold: higher-order functions run
    # INTERPRETED (STRESS stage 10) and this column rides every corpus scan
    conj = F.lit(True)
    for name in flags:
        conj = conj & F.col(name)
    return out.withColumn("gopher_rep_pass", conj)


_DROP_CHARS_TABLE = None


def _drop_chars_table() -> dict:
    """str.translate table deleting every Unicode Cc/Cf code point
    except tab/newline/carriage-return — control chars, zero-width
    marks (ZWSP/ZWNJ/ZWJ/BOM), soft hyphens, bidi controls.  Built once
    per process by one pass over the code space (the authoritative
    source — no hand-maintained range list to drift from the Unicode
    version Python ships)."""
    global _DROP_CHARS_TABLE
    if _DROP_CHARS_TABLE is None:
        import unicodedata

        keep = {0x09, 0x0A, 0x0D}
        _DROP_CHARS_TABLE = {
            cp: None for cp in range(0x110000)
            if unicodedata.category(chr(cp)) in ("Cc", "Cf")
            and cp not in keep
        }
    return _DROP_CHARS_TABLE


def _normalize_one(s: str, form, strip_controls: bool,
                   fix_mojibake: bool) -> str:
    """Normalize one document (pure Python — unit-testable, and the
    Arrow kernel maps it per row).  Order: mojibake repair (bytes-level,
    must see the raw chars) -> canonical/compat normalization ->
    control/zero-width strip."""
    import unicodedata

    if not s:
        return ""
    if fix_mojibake and ("Ã" in s or "â€" in s):
        # the classic double-encoding: UTF-8 bytes read back as
        # cp1252/Latin-1 ("café" -> "cafÃ©").  cp1252
        # first (smart quotes/dashes land on €™-class chars
        # only cp1252 can re-encode), Latin-1 second (C1 controls only
        # Latin-1 maps).  Repair only when the WHOLE string survives
        # the reverse trip — genuine text with a stray Ã raises on
        # re-decode and stays put.
        for _enc in ("cp1252", "latin-1"):
            try:
                s = s.encode(_enc).decode("utf-8")
                break
            except (UnicodeEncodeError, UnicodeDecodeError):
                continue
    if form:
        s = unicodedata.normalize(form, s)
    if strip_controls:
        s = s.translate(_drop_chars_table())
    return s


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    *,
    form: str | None = "NFC",
    strip_controls: bool = True,
    fix_mojibake: bool = False,
) -> DataFrame:
    """Unicode normalization — the CCNet preprocessing step the
    downstream gates assume (Wenzek et al. 2020 normalize before
    hashing; every dedup fingerprint in this engine is over the
    normalized text when this stage runs first).  Rewrites ``text_col``
    (or adds ``out_col``) in ONE scalar Arrow kernel:

    * ``form`` — ``"NFC"`` (default; canonical compose: ``e`` +
      combining acute -> one code point), ``"NFKC"`` (adds
      compatibility folds: the fi ligature -> ``fi``, fullwidth ->
      ASCII), ``"NFD"``/``"NFKD"``, or None to skip;
    * ``strip_controls`` — delete every Cc/Cf code point except
      tab/newline/CR: NULs, zero-width spaces/joiners, soft hyphens,
      bidi controls, BOMs (the spam/obfuscation channel langid and the
      badwords regex cannot see through);
    * ``fix_mojibake`` — repair the classic UTF-8-read-as-Latin-1
      double encoding when the marker bytes are present AND the whole
      string survives the reverse trip (opt-in: the heuristic is
      conservative but not free).

    NULL/empty text normalizes to ``""`` (never NULL).  Stream-legal,
    schema-preserving with ``out_col=None`` — the composers run it as
    ``normalize=`` right after HTML extraction, before any fingerprint
    (``ext_normalize_text`` is the planted-literal full oracle).  Same
    anti-duplication contract as ``extract_html_text``: the kernel is
    marked nondeterministic so Catalyst cannot re-run it per downstream
    predicate."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in (None, "NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC/NFKC/NFD/NFKD or None, "
                         f"got {form!r}")
    _form, _strip, _fix = form, bool(strip_controls), bool(fix_mojibake)

    def _kernel(texts):
        return pd.Series(
            [_normalize_one(t, _form, _strip, _fix) if t else ""
             for t in texts],
            dtype=object)

    _kernel = pandas_udf(_kernel, "string").asNondeterministic()

    target = out_col or text_col
    if out_col is not None and out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists; pick "
                         "another name or pass out_col=None to replace "
                         f"{text_col!r}")
    return df.withColumn(target, _kernel(F.col(text_col)))
