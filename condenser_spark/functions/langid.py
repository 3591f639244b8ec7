"""Trainable language identification — the CCNet/FineWeb first-class langid
stage (both pipelines assume a real classifier before any per-language
selection), replacing the 4-language stop-word heuristic
(:func:`condenser_spark.functions.text.language_id`) wherever a
``dsir_sample_per_group(group_col="lang")`` / ``temperature_mix`` decision
needs a trustworthy group column.

The 100 TB split is the quality.py contract: TRAINING runs MLlib
multinomial logistic regression over signed-md5-hashed CHARACTER n-gram
vectors on a small labeled sample (thousands of rows — langid training sets
are tiny by nature); SCORING never touches MLlib — the fitted per-class
weights are baked into the plan as literal arrays and the corpus-wide pass
is one scan-level explode + K integer sums per document, pure whole-stage
codegen, map-side combined.  Per-class scores are computed in
SCALED-INTEGER space (weights x 1e6, lossless for 6-dp weights) so the
logits sum order-free and exactly and the operator carries a full DuckDB
value oracle (goldens_ext.ext_language_scores); the softmax probability is
deliberately left out of the oracle surface (libm exp differs across
engines in the last ulp) — thresholds should use logits or logit gaps.

Character n-grams (default trigrams over the first ``max_chars``
whitespace-normalized chars) are the published langid feature of choice
(Cavnar & Trenkle 1994; fastText's langid model): they survive unseen
words, need no tokenizer, and cap per-doc cost regardless of document
length.  The md5 bucket/sign scheme is byte-identical to
:func:`condenser_spark.functions.corpus.hashed_doc_vectors` (Weinberger et
al. 2009 signed hashing), so every engine reproduces bucket and sign
bit-for-bit."""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class LanguageModel:
    """A fitted multinomial langid model: per-class hashed-char-n-gram
    weights + biases, plus the featurization parameters that MUST travel
    with the weights (scoring with a different ngram/max_chars than
    training silently degrades to noise).  Plain floats/ints —
    serializable anywhere; the scoring contract per class is
    dot(hash_vec, weights_c) + bias_c."""

    classes: list[str]
    weights: list[list[float]]  # one row per class, each of length dim
    biases: list[float]
    dim: int
    ngram: int = 3
    max_chars: int = 1000
    meta: dict = field(default_factory=dict)

    def __post_init__(self):
        assert len(self.classes) == len(self.weights) == len(self.biases)
        assert all(len(w) == self.dim for w in self.weights)
        for c in self.classes:
            assert c and all(ch.isalnum() or ch == "_" for ch in c), (
                f"class name {c!r} must be a plain identifier — it becomes "
                "a score column name")

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "classes": self.classes, "weights": self.weights,
                "biases": self.biases, "dim": self.dim,
                "ngram": self.ngram, "max_chars": self.max_chars,
            }, f)

    @classmethod
    def load(cls, path: str) -> "LanguageModel":
        with open(path) as f:
            m = json.load(f)
        return cls(
            classes=[str(c) for c in m["classes"]],
            weights=[[float(w) for w in row] for row in m["weights"]],
            biases=[float(b) for b in m["biases"]],
            dim=int(m["dim"]), ngram=int(m["ngram"]),
            max_chars=int(m["max_chars"]),
        )


def _norm_text(text_col: str, max_chars: int) -> Column:
    """Lowercase, collapse whitespace runs to single spaces, truncate to
    ``max_chars`` CHARACTERS — identical at train and score time, and
    expressible verbatim in the DuckDB oracle (both engines' substr/length
    are character-semantics on UTF-8 strings)."""
    return F.substring(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
        1, max_chars,
    )


def _char_ngram_rows(df: DataFrame, text_col: str, id_col: str,
                     n: int, max_chars: int) -> DataFrame:
    """(id, tok) rows — one per character n-gram position.  posexplode of
    an integer sequence + substr keeps every per-n-gram expression inside
    whole-stage codegen (no interpreted higher-order functions in the
    corpus-wide hot path — the STRESS.md stage-10 lesson).  Docs shorter
    than ``n`` emit no rows; scorers re-attach them bias-only."""
    from condenser_spark.functions.spread import spread_input

    # the n-gram explode + per-gram md5 below are scan-fused: a
    # single-file/single-row-group input would run them in ONE task
    # (guide §2.5 input skew) — spread the slim (id, _t) projection first;
    # no-op when the scan is already parallel
    base = spread_input(
        df.select(F.col(id_col), _norm_text(text_col, max_chars).alias("_t"))
        .filter(F.length("_t") >= n)
    )
    # sequence(1, L-n+1) is ascending only because of the length filter
    # above (Spark's sequence DESCENDS when start > stop — no empty case)
    return base.select(
        F.col(id_col),
        F.col("_t"),
        F.explode(
            F.sequence(F.lit(1), F.length("_t") - F.lit(n - 1))
        ).alias("_p"),
    ).select(
        F.col(id_col),
        F.col("_t").substr(F.col("_p"), F.lit(n)).alias("tok"),
    )


def _bucket(tok: Column, dim: int) -> Column:
    return F.pmod(
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long"),
        F.lit(dim),
    )


def _sign(tok: Column) -> Column:
    return F.when(
        F.conv(F.substring(F.md5(tok), 9, 1), 16, 10).cast("int") >= 8,
        F.lit(-1),
    ).otherwise(F.lit(1)).cast("long")


def hashed_char_ngram_vectors(
    df: DataFrame,
    dim: int = 256,
    ngram: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 1000,
) -> DataFrame:
    """Signed-hashed char-n-gram document vectors in LONG form
    (id, bucket, weight) — the character-granularity sibling of
    :func:`condenser_spark.functions.corpus.hashed_doc_vectors`, same md5
    bucket/sign scheme, same one-explode one-hash-agg shape.  Feeds
    training (densified) and doubles as a model-free character-level
    signature for downstream similarity ops."""
    rows = _char_ngram_rows(df, text_col, id_col, ngram, max_chars)
    return (
        rows.select(
            F.col(id_col).alias("id"),
            _bucket(F.col("tok"), dim).alias("bucket"),
            _sign(F.col("tok")).alias("s"),
        )
        .groupBy("id", "bucket")
        .agg(F.sum("s").cast("long").alias("weight"))
        .select(F.col("id").alias(id_col), "bucket", "weight")
    )


def train_language_model(
    labeled: DataFrame,
    dim: int = 256,
    ngram: int = 3,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    max_chars: int = 1000,
    max_iter: int = 100,
    reg_param: float = 1e-4,
    max_classes: int = 200,
) -> LanguageModel:
    """Fit multinomial logistic regression (MLlib, L-BFGS) on the labeled
    sample: ``label_col`` holds the language/class string per document.
    The sample is small by contract; the returned :class:`LanguageModel`
    is what scales.  Class list collects bounded + fail-loud
    (``max_classes``, the temperature_mix convention — label columns are
    languages, not ids); weights round to 6 decimals before becoming plan
    literals (the Lloyd-centroid cross-engine convention)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from condenser_spark.functions.corpus import assemble_hashed_vectors

    cls_rows = (
        labeled.select(F.col(label_col).cast("string").alias("_c"))
        .filter(F.col("_c").isNotNull())
        .distinct().limit(max_classes + 1).collect()
    )
    if len(cls_rows) > max_classes:
        raise ValueError(
            f"train_language_model found more than {max_classes} distinct "
            f"values in label_col={label_col!r} — labels are languages by "
            "contract; did you pass a high-cardinality column? "
            "(Raise max_classes= to override.)"
        )
    classes = sorted(r._c for r in cls_rows)
    assert len(classes) >= 2, "need at least 2 classes to train"
    idx = {c: i for i, c in enumerate(classes)}
    label_ix = F.create_map(
        *[x for c in classes for x in (F.lit(c), F.lit(float(idx[c])))]
    )[F.col(label_col).cast("string")]

    feats = assemble_hashed_vectors(
        hashed_char_ngram_vectors(labeled, dim=dim, ngram=ngram,
                                  text_col=text_col, id_col=id_col,
                                  max_chars=max_chars),
        dim=dim, id_col=id_col, vec_col="_hv",
    )
    train = (
        labeled.filter(F.col(label_col).isNotNull())
        .select(F.col(id_col), label_ix.alias("label"))
        .join(feats, on=id_col)
        .select(array_to_vector(F.col("_hv")).alias("features"), "label")
    )
    lr = LogisticRegression(maxIter=max_iter, regParam=reg_param,
                            family="multinomial", standardization=False)
    model = lr.fit(train)
    mat = model.coefficientMatrix.toArray()
    inter = model.interceptVector.toArray()
    return LanguageModel(
        classes=classes,
        weights=[[round(float(w), 6) for w in mat[i]]
                 for i in range(len(classes))],
        biases=[round(float(b), 6) for b in inter],
        dim=dim, ngram=ngram, max_chars=max_chars,
    )


def _scaled(model: LanguageModel) -> list[list[int]]:
    return [[int(round(float(w) * 1_000_000)) for w in row]
            for row in model.weights]


def language_scores(
    df: DataFrame,
    model: LanguageModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append one ``score_<class>`` logit column per model class (per-class
    scaled-integer dot / 1e6 + bias, rounded to 4 decimals — the
    oracle-able surface).  Compare scores WITHIN a row; the argmax is
    :func:`language_top1`.

    Scale shape: one normalize -> posexplode char positions -> substr
    n-gram -> ONE md5 per n-gram (bucket and sign reuse it) -> K literal-
    array indexes -> one map-side-combined aggregate with K integer sums
    per doc -> broadcast-friendly join of the K-column score row back.
    Every expression is codegen'd; Python never touches a row.  Docs too
    short to emit an n-gram re-attach with bias-only scores (the model's
    prior) instead of silently dropping."""
    k = len(model.classes)
    rows = _char_ngram_rows(df, text_col, id_col, model.ngram,
                            model.max_chars)
    # ONE py4j call per class: F.lit(list) builds the literal array
    # directly.  The per-element F.array(*[F.lit(x) ...]) form cost ~2x
    # dim py4j round trips per class PER CALL (~2.5 s of driver time at
    # dim=256 x 4 classes — measured r17; the plan and values are
    # identical, CreateArray of literals folds to the same array literal)
    w6 = [F.lit(row).cast("array<long>") for row in _scaled(model)]
    keyed = rows.select(
        F.col(id_col),
        _bucket(F.col("tok"), model.dim).alias("_b"),
        _sign(F.col("tok")).alias("_s"),
    )
    sums = keyed.groupBy(id_col).agg(*[
        F.sum(
            F.col("_s") * F.element_at(w6[i], (F.col("_b") + 1).cast("int"))
        ).alias(f"_z6_{i}")
        for i in range(k)
    ])
    score_cols = [
        F.round(
            F.coalesce(F.col(f"_z6_{i}"), F.lit(0)).cast("double")
            / F.lit(1_000_000.0)
            + F.lit(float(model.biases[i])),
            4,
        ).alias(f"score_{c}")
        for i, c in enumerate(model.classes)
    ]
    return df.join(sums, on=id_col, how="left").select(
        *df.columns, *score_cols)


def _top1(scored: DataFrame, model: LanguageModel, out_col: str,
          keep_scores: bool) -> DataFrame:
    """The argmax over ``score_<class>`` columns, tie-broken on (score
    desc, class asc): the smallest (-score, class) struct wins."""
    best = F.array_min(F.array(*[
        F.struct(
            (-F.col(f"score_{c}")).alias("negs"),
            F.lit(c).alias("cls"),
        )
        for c in model.classes
    ]))
    out = scored.withColumn(out_col, best.getField("cls")).withColumn(
        f"{out_col}_score", -best.getField("negs"))
    if keep_scores:
        return out
    return out.drop(*[f"score_{c}" for c in model.classes])


def language_top1(
    df: DataFrame,
    model: LanguageModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lang_pred",
    keep_scores: bool = False,
) -> DataFrame:
    """Append the argmax language (``out_col``) and its logit
    (``<out_col>_score``): deterministic tie-break on (score desc, class
    asc) over the 4-dp rounded scores, so the prediction is
    oracle-replayable bit-for-bit.  ``keep_scores=True`` retains the
    per-class columns for calibration work."""
    # two forms: the per-row one ran 3.2x this wall at 1M docs (STRESS 21)
    scored = language_scores(df, model, text_col=text_col, id_col=id_col)
    return _top1(scored, model, out_col, keep_scores)


def language_scores_stateless(
    df: DataFrame,
    model: LanguageModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`language_scores` as a PURE per-row projection — no explode,
    no aggregate, no join — so it applies unchanged to a Structured
    Streaming source (stateless map-side scoring, the
    ``score_documents_stateless`` pattern): readStream -> score -> route
    by language -> writeStream with no watermark and no state store.
    Scores are identical to the batch scorer (parity-pinned — the same
    per-n-gram integer contributions, summed in-row; integer addition is
    order-free).

    The in-row work IS higher-order functions (interpreted), O(chars)
    steps bounded by ``max_chars`` regardless of document length, and it
    is priced: STRESS.md stage 21 measures this form at 3.2x the batch
    scan's wall at 1M docs — acceptable where per-row is the only
    executable shape (a stream with no state store); batch callers must
    still prefer :func:`language_scores` (stage 18: 78k docs/s
    codegen'd).

    Cost structure matters enormously here: a naive fold that re-derives
    the n-gram md5 inside every per-class lookup measured 29x batch
    (505 s at 1M docs); materializing each position's md5 ONCE via a
    first ``transform`` and mapping it to (bucket, sign) structs via a
    second — so the accumulating fold does only literal-array indexes
    and adds — brought the same corpus to 70 s (3.2x).  Interpreted
    HOFs pay per EXPRESSION NODE EVALUATION, not per row; hoist shared
    subtrees into ``transform`` stages."""
    n, k = model.ngram, len(model.classes)
    t = _norm_text(text_col, model.max_chars)
    # single-call literal arrays — see language_scores
    w6 = [F.lit(row).cast("array<long>") for row in _scaled(model)]
    seq = F.when(
        F.length(t) >= n,
        F.sequence(F.lit(1), F.length(t) - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    zero = F.lit([0] * k).cast("array<long>")
    hs = F.transform(seq, lambda p: F.md5(t.substr(p, F.lit(n))))
    entries = F.transform(
        hs,
        lambda h: F.struct(
            (F.pmod(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
                F.lit(model.dim),
            ) + 1).cast("int").alias("b"),
            F.when(
                F.conv(F.substring(h, 9, 1), 16, 10).cast("int") >= 8,
                F.lit(-1),
            ).otherwise(F.lit(1)).cast("long").alias("s"),
        ),
    )

    def step(acc, e):
        return F.array(*[
            F.element_at(acc, i + 1)
            + e["s"] * F.element_at(w6[i], e["b"])
            for i in range(k)
        ])

    z6 = F.aggregate(entries, zero, step)
    score_cols = [
        F.round(
            F.element_at(z6, i + 1).cast("double") / F.lit(1_000_000.0)
            + F.lit(float(model.biases[i])),
            4,
        ).alias(f"score_{c}")
        for i, c in enumerate(model.classes)
    ]
    return df.select(*df.columns, *score_cols)


def language_top1_stateless(
    df: DataFrame,
    model: LanguageModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lang_pred",
    keep_scores: bool = False,
) -> DataFrame:
    """:func:`language_top1` over the stateless scorer — the stream-safe
    argmax (same deterministic tie-break; the argmax itself is a pure
    projection in both forms)."""
    # two forms: this per-row one ran 3.2x batch's wall at 1M docs (STRESS 21)
    scored = language_scores_stateless(df, model, text_col=text_col,
                                       id_col=id_col)
    return _top1(scored, model, out_col, keep_scores)


_SCRIPTS: tuple[tuple[str, str], ...] = (
    # (column stem, Java regex class — DuckDB RE2 spells it \p{Name};
    # the oracle uses that form, parity pinned on planted multi-script
    # fixtures in goldens_ext.ext_script_stats)
    ("latin", r"\p{IsLatin}"),
    ("cyrillic", r"\p{IsCyrillic}"),
    ("han", r"\p{IsHan}"),
    ("arabic", r"\p{IsArabic}"),
    ("hangul", r"\p{IsHangul}"),
    ("hiragana", r"\p{IsHiragana}"),
    ("katakana", r"\p{IsKatakana}"),
    ("devanagari", r"\p{IsDevanagari}"),
    ("greek", r"\p{IsGreek}"),
    ("digit", r"[0-9]"),
    ("whitespace", r"\s"),
)


def script_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scripts: tuple[tuple[str, str], ...] = _SCRIPTS,
    keep_cols=(),
    other: bool = False,
    out_prefix: str = "",
) -> DataFrame:
    """Per-document Unicode-SCRIPT composition — the CCNet/fastText-era
    pre-langid signal: character fractions for the major scripts (Latin,
    Cyrillic, Han, Arabic, Hangul, kana, Devanagari, Greek) plus digits
    and whitespace, each ``count(script chars) / n_chars`` rounded to
    4 dp.  Use it to gate mixed-script spam, route documents to
    per-script language models, or drop docs whose dominant script
    contradicts their claimed language — all BEFORE the (heavier)
    n-gram classifier runs.

    Counts are ``length(text) - length(regexp_replace(text, class, ''))``
    — pure codegen expressions riding the scan, one projection, zero
    shuffles, zero Python; at 100 TB this is a free column set on any
    pass that already reads the text.  Java and RE2 agree on these
    script classes (parity pinned by the DuckDB oracle over planted
    multi-script fixtures).  ``scripts`` is overridable for additional
    ``(name, java_regex_class)`` pairs; empty text yields zero
    fractions.  ``keep_cols`` is the standard join-free passthrough
    contract (the ``script=`` curate gates ride it); ``other=True``
    adds ``other_frac`` — chars matching NONE of the classes, computed
    from exact counts (``(n - sum(counts)) / n``), not from the rounded
    fractions, so it is only meaningful while the classes are disjoint
    (the defaults are).  ``out_prefix`` renames every STAT output
    column (``<prefix>n_chars``, ``<prefix><stem>_frac``) so a
    passthrough column named ``n_chars``/``latin_frac``/... cannot
    collide — the curate gates use a reserved internal prefix and fail
    loud if even THAT collides."""
    reserved = {f"{out_prefix}n_chars",
                *[f"{out_prefix}{stem}_frac" for stem, _ in scripts]}
    if other:
        reserved.add(f"{out_prefix}other_frac")
    clash = sorted(reserved.intersection(keep_cols))
    if clash:
        raise ValueError(
            "keep_cols collide with script_stats output columns: "
            f"{clash}; rename them or set out_prefix")
    c = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(c)
    cols = [F.col(id_col), *[F.col(k) for k in keep_cols],
            n.cast("long").alias(f"{out_prefix}n_chars")]
    counts = []
    for stem, pat in scripts:
        cnt = n - F.length(F.regexp_replace(c, pat, ""))
        counts.append(cnt)
        cols.append(
            F.round(
                F.when(n > 0, cnt.cast("double") / n.cast("double"))
                .otherwise(F.lit(0.0)), 4,
            ).alias(f"{out_prefix}{stem}_frac"))
    if other:
        rest = n
        for cnt in counts:
            rest = rest - cnt
        cols.append(
            F.round(
                F.when(n > 0, rest.cast("double") / n.cast("double"))
                .otherwise(F.lit(0.0)), 4,
            ).alias(f"{out_prefix}other_frac"))
    return df.select(*cols)


def script_gate_parts(
    df: DataFrame,
    opts,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols=(),
):
    """Parse a ``script=`` threshold dict into ``(stats_df, cond)`` —
    the shared core of ``curate_corpus(script=)`` and
    ``curate_stream(script=)``.  Keys are ``min_<stem>_frac`` /
    ``max_<stem>_frac`` for any :data:`_SCRIPTS` stem plus ``other``
    (chars in none of the classes — the mixed-script-spam signal, e.g.
    ``{"max_other_frac": 0.2}``); at least one required, unknown keys
    fail loud.  ``stats_df`` is :func:`script_stats` with ``keep_cols``
    passed through, ``other_frac`` emitted, and every stat column under
    the reserved ``sc_`` prefix (so a passthrough column named
    ``n_chars``/``latin_frac`` cannot shadow a stat — the ADVICE r12
    diversity-gate lesson applied up front); ``cond`` is the AND of the
    thresholds over the prefixed columns — pure codegen end-to-end,
    stream-legal."""
    stems = {s for s, _ in _SCRIPTS} | {"other"}
    opts = dict(opts)
    rules = []
    for key in sorted(opts):
        stem = key[4:-5]
        if (key.startswith(("min_", "max_")) and key.endswith("_frac")
                and stem in stems):
            rules.append((key[:3], stem, float(opts.pop(key))))
    if opts or not rules:
        raise ValueError(
            "script= takes min_/max_<stem>_frac thresholds over "
            f"{sorted(stems)} (at least one); got unknown/empty: "
            f"{sorted(opts) or '{}'}")
    stats = script_stats(df, text_col=text_col, id_col=id_col,
                         keep_cols=keep_cols, other=True,
                         out_prefix="sc_")
    cond = F.lit(True)
    for kind, stem, t in rules:
        c = F.col(f"sc_{stem}_frac")
        cond = cond & ((c >= t) if kind == "min" else (c <= t))
    return stats, cond
