"""Unigram language-model scoring — the perplexity-style quality signal of
the CCNet recipe (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data"): train a token distribution on a REFERENCE corpus
(wiki/books), score candidate documents by their mean token log-probability,
and filter or bucket on it (fluent text scores high, boilerplate/gibberish
low).  A unigram model is deliberately chosen over higher orders: it is the
distributed-aggregate-friendly member of the family (one (term, count) agg),
it already separates quality tiers well in practice, and every step stays
SQL-expressible for the oracle.

Cross-engine exactness, same trick as the quality scorer: per-term
log-probabilities are rounded and SCALED TO INTEGERS (x 1e4) at training
time, so per-document sums are order-free and exact; only the final
mean/rounding touches floats.  (``ln`` itself can differ in the last ulp
across engines — at 1e-4 scaling a rounding flip needs a knife-edge ~1e-12
from the boundary; the tfidf oracle has run the same ln-then-round contract
green since round 3.)"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

#: Reserved OOV row key in the LM table ("\x00" cannot appear in a
#: whitespace token stream).
OOV_TERM = "\x00oov"


def _tokens(df: DataFrame, text_col: str, id_col: str | None = None):
    cols = [F.col(id_col)] if id_col else []
    return df.select(
        *cols,
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                     r"\s+", " "), " ")
        ).alias("term"),
    ).filter(F.col("term") != "")


def train_unigram_lm(
    df: DataFrame,
    vocab_size: int = 32_768,
    text_col: str = "text",
) -> DataFrame:
    """(term, logp4) unigram model: the top ``vocab_size`` terms by corpus
    count (ties broken by term — deterministic in any engine), Laplace-
    smoothed, ``logp4 = round(ln((c+1)/(N+V+1)) * 1e4)`` as an exact
    integer; one extra ``OOV_TERM`` row carries
    ``round(ln(1/(N+V+1)) * 1e4)`` for everything outside the vocabulary.

    One map-side-combined count aggregate + a distributed TakeOrdered for
    the top-V (never a global sort); N and V fold in as broadcast scalars.
    The returned frame is ``vocab_size + 1`` rows — broadcast it into every
    scoring join."""
    counts = (
        _tokens(df, text_col).groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("term").asc()) \
        .limit(vocab_size)
    totals = counts.agg(
        F.sum("c").alias("n_total"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    # V = min(vocab_size, n_terms) actually kept + 1 for the OOV bucket
    vocab = top.crossJoin(F.broadcast(totals)).select(
        "term",
        F.round(
            F.log((F.col("c") + 1)
                  / (F.col("n_total")
                     + F.least(F.lit(vocab_size), F.col("n_terms"))
                     + F.lit(1)))
            * F.lit(10_000.0)
        ).cast("long").alias("logp4"),
    )
    oov = totals.select(
        F.lit(OOV_TERM).alias("term"),
        F.round(
            F.log(F.lit(1.0)
                  / (F.col("n_total")
                     + F.least(F.lit(vocab_size), F.col("n_terms"))
                     + F.lit(1)))
            * F.lit(10_000.0)
        ).cast("long").alias("logp4"),
    )
    return vocab.unionByName(oov)


def lm_score_documents(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append ``lm_logprob`` (mean per-token natural log-probability under
    ``lm``, rounded to 4 decimals; higher is more reference-like) plus the
    EXACT integers it derives from — ``lm_logprob4_sum`` (order-free
    scaled-integer sum) and ``n_scored_tokens``.  The integer pair is what
    the oracle pins and what downstream EXACT aggregation should consume
    (a corpus-mean from per-doc float means compounds rounding; from the
    int pair it doesn't — and a float mean's final ROUND can land on a
    decimal tie that different engines break differently, observed once in
    500 fixture docs).  Empty/all-missing docs report (0, 0) and the OOV
    floor as their mean rather than dropping.

    Scale shape: tokenize -> broadcast-join the (vocab+1)-row LM table ->
    one map-side-combined integer sum + count per doc -> join the 16-byte
    scores back."""
    oov_row = lm.filter(F.col("term") == OOV_TERM).first()
    if oov_row is None:
        raise ValueError("lm_score_documents: lm frame has no OOV row — "
                         "build it with train_unigram_lm")
    oov4 = int(oov_row.logp4)
    toks = _tokens(df, text_col, id_col)
    per = (
        toks.join(F.broadcast(lm.filter(F.col("term") != OOV_TERM)),
                  on="term", how="left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("logp4"), F.lit(oov4))).alias("_s4"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    floor = round(oov4 / 10_000.0, 4)
    return df.join(per, on=id_col, how="left").select(
        *df.columns,
        F.coalesce(
            F.round(F.col("_s4") / F.lit(10_000.0) / F.col("_n"), 4),
            F.lit(floor),
        ).alias("lm_logprob"),
        F.coalesce(F.col("_s4"), F.lit(0)).cast("long")
        .alias("lm_logprob4_sum"),
        F.coalesce(F.col("_n"), F.lit(0)).cast("long")
        .alias("n_scored_tokens"),
    )


#: Landed-LM artifact contract: kind -> ordered (side_name, columns).
#: The column tuples ARE the trainer output schemas; load_lm re-selects
#: in this order so a landed model round-trips bit-identically through
#: the scorers regardless of parquet column shuffling.
LM_KINDS = {
    "unigram": (("unigram", ("term", "logp4")),),
    "bigram": (("unigram", ("term", "logp4", "backoff4")),
               ("bigram", ("w1", "w2", "logp4"))),
    "kn_trigram": (("unigram", ("term", "logp1_4", "logg2_4")),
                   ("bigram", ("w2", "w3", "logp2_4")),
                   ("trigram", ("w1", "w2", "w3", "logp3_4")),
                   ("context", ("w1", "w2", "logg12_4"))),
    "kn_5gram": (("unigram", ("term", "logp1_4", "logg2_4")),
                 ("bigram", ("w4", "w5", "logp2_4")),
                 ("trigram", ("w3", "w4", "w5", "logp3_4")),
                 ("context3", ("w3", "w4", "logg3_4")),
                 ("fourgram", ("w2", "w3", "w4", "w5", "logp4_4")),
                 ("context4", ("w2", "w3", "w4", "logg4_4")),
                 ("fivegram", ("w1", "w2", "w3", "w4", "w5", "logp5_4")),
                 ("context5", ("w1", "w2", "w3", "w4", "logg5_4"))),
}

_LM_FORMAT = "condenser_spark.lm"
_LM_VERSION = 1


def _lm_kind_of(model) -> str:
    """Infer the artifact kind from a trainer's return shape + columns."""
    if isinstance(model, DataFrame):
        model = (model,)
    by_len = {1: "unigram", 2: "bigram", 4: "kn_trigram", 8: "kn_5gram"}
    kind = by_len.get(len(model))
    if kind is None:
        raise ValueError(
            f"save_lm: expected a train_unigram_lm frame, a "
            f"train_bigram_lm 2-tuple, a train_kn_trigram_lm 4-tuple, "
            f"or a train_kn5_lm 8-tuple; got {len(model)} frames")
    for side, (name, cols) in zip(model, LM_KINDS[kind]):
        if tuple(side.columns) != cols:
            raise ValueError(
                f"save_lm: {kind} side {name!r} has columns "
                f"{side.columns}, expected {list(cols)} — pass the "
                f"trainer outputs unmodified")
    return kind


def save_lm(model, path: str) -> None:
    """Land a trained LM as a versioned parquet-directory artifact — the
    :class:`~condenser_spark.functions.quality.QualityModel` /
    :class:`~condenser_spark.functions.bpe.BpeModel` save/load contract
    extended to DataFrame-sided models (a 100 TB two-job regime trains
    once and scores many; the n-gram sides are unbounded tables, so the
    artifact is parquet, not JSON).

    ``model`` is a trainer's return value unmodified: a
    :func:`train_unigram_lm` frame, a :func:`train_bigram_lm` 2-tuple,
    or a :func:`train_kn_trigram_lm` 4-tuple.  Layout::

        <path>/meta.json            format/version/kind/sides
        <path>/<side>/...parquet    one directory per model side

    ``meta.json`` is written via the local filesystem (the BpeModel
    convention); the parquet sides go through the Hadoop FS layer and
    take any warehouse URI Spark can write."""
    import json as _json
    import os

    if isinstance(model, DataFrame):
        model = (model,)
    kind = _lm_kind_of(model)
    os.makedirs(path, exist_ok=True)
    for side, (name, _cols) in zip(model, LM_KINDS[kind]):
        side.write.mode("overwrite").parquet(os.path.join(path, name))
    with open(os.path.join(path, "meta.json"), "w") as f:
        _json.dump({"format": _LM_FORMAT, "version": _LM_VERSION,
                    "kind": kind,
                    "sides": [n for n, _ in LM_KINDS[kind]]}, f)


def load_lm(spark, path: str):
    """Load a :func:`save_lm` artifact; returns exactly the matching
    trainer's shape — a single frame for ``unigram``, a 2-tuple for
    ``bigram``, a 4-tuple for ``kn_trigram`` — so the result drops into
    the scorers and the ``perplexity_buckets=`` composers unchanged.
    Fails loud on a missing/foreign/unsupported artifact (the BpeModel
    contract), and on a side whose parquet schema has drifted from the
    trainer contract."""
    import json as _json
    import os

    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(f"{path}: not a {_LM_FORMAT} artifact "
                         f"(no meta.json)")
    with open(meta_path) as f:
        m = _json.load(f)
    if m.get("format") != _LM_FORMAT:
        raise ValueError(f"{path}: not a {_LM_FORMAT} artifact "
                         f"(format={m.get('format')!r})")
    if m.get("version") != _LM_VERSION:
        raise ValueError(f"{path}: unsupported lm artifact version "
                         f"{m.get('version')!r}")
    kind = m.get("kind")
    if kind not in LM_KINDS:
        raise ValueError(f"{path}: unknown lm kind {kind!r}")
    sides = []
    for name, cols in LM_KINDS[kind]:
        df = spark.read.parquet(os.path.join(path, name))
        missing = set(cols) - set(df.columns)
        if missing:
            raise ValueError(
                f"{path}/{name}: columns {sorted(missing)} missing — "
                f"schema drifted from the {kind} trainer contract")
        sides.append(df.select(*cols))
    return sides[0] if kind == "unigram" else tuple(sides)


def lm_score_documents_stateless(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`lm_score_documents` as a stateless per-row kernel — no
    explode, no groupBy, no join — so it applies unchanged to a
    Structured Streaming source (the ``score_documents_stateless``
    pattern; the batch scorer's per-doc aggregate is state a stream
    cannot run statelessly).  The (vocab+1)-row LM table is collected
    ONCE driver-side into a plain dict (bounded by contract —
    ``train_unigram_lm`` caps it at vocab_size+1) and ships in the Arrow
    kernel's closure; scores are IDENTICAL to the batch scorer
    (parity-pinned: the same scaled-integer token sums — integer
    addition is order-free — and the same HALF_UP final round).

    Appends the same three columns: ``lm_logprob``, ``lm_logprob4_sum``,
    ``n_scored_tokens``."""
    import math
    import re

    import pandas as pd

    rows = lm.collect()  # bounded: vocab_size + 1 by contract
    model = {r.term: int(r.logp4) for r in rows}
    oov4 = model.pop(OOV_TERM, None)
    if oov4 is None:
        raise ValueError("lm_score_documents_stateless: lm frame has no "
                         "OOV row — build it with train_unigram_lm")
    floor = round(oov4 / 10_000.0, 4)
    # Java \s is ASCII-only; re.ASCII matches the batch tokenizer's split
    ws = re.compile(r"\s+", re.ASCII)

    def round4(x: float) -> float:
        # Spark ROUND is HALF_UP on the magnitude; python round() is
        # banker's — replicate HALF_UP so parity holds on .xxxx5 ties
        s = x * 10_000.0
        r = math.floor(s + 0.5) if s >= 0 else math.ceil(s - 0.5)
        return r / 10_000.0

    from pyspark.sql import types as T

    # a NEW StructType (never .add on df.schema — the read_jsonl lesson:
    # add mutates in place)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("lm_logprob", T.DoubleType()),
           T.StructField("lm_logprob4_sum", T.LongType()),
           T.StructField("n_scored_tokens", T.LongType())])

    def gen(batches):
        for pdf in batches:
            s4s, ns, lps = [], [], []
            for text in pdf[text_col]:
                # strip(" ") not strip(): Spark trim removes ASCII
                # spaces ONLY — Python's bare strip() also removes
                # control/Unicode whitespace and would tokenize
                # 'the\\x1d' differently from the batch scorer
                toks = [t for t in ws.sub(
                    " ", (text or "").strip(" ").lower()).split(" ") if t]
                s4 = sum(model.get(t, oov4) for t in toks)
                n = len(toks)
                s4s.append(s4)
                ns.append(n)
                lps.append(round4(s4 / 10_000.0 / n) if n else floor)
            yield pd.DataFrame({
                **{c: pdf[c] for c in pdf.columns},
                "lm_logprob": pd.Series(lps, dtype="float64"),
                "lm_logprob4_sum": pd.Series(s4s, dtype="int64"),
                "n_scored_tokens": pd.Series(ns, dtype="int64"),
            })

    return df.mapInPandas(gen, schema=out_schema)


def _pos_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, _pos, term) positional token rows — the doc-boundary-aware
    form of ``_tokens`` (adjacent-pair extraction must never pair across
    documents, and must key on a REAL id column: deriving one with
    monotonically_increasing_id is the pinned _feature_stream landmine)."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                     r"\s+", " "), " ")
        ).alias("_pos", "term"),
    ).filter(F.col("term") != "")


def train_bigram_lm(
    df: DataFrame,
    vocab_size: int = 32_768,
    lam: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Interpolated bigram LM — the next rung of the CCNet perplexity
    ladder above :func:`train_unigram_lm` (Wenzek 2020 uses a 5-gram
    KenLM; Jelinek-Mercer interpolation with a unigram floor is the
    classical distributed-aggregate-friendly form of the same idea:
    ``P(w2|w1) = lam * c(w1,w2)/c(w1,.) + (1-lam) * P_uni(w2)``, with
    ``P_uni`` the Laplace unigram of the unigram trainer, so no
    probability is ever zero).

    Returns ``(unigram, bigram)``:

    * ``unigram`` — ``(term, logp4, backoff4)``, ``vocab_size + 1`` rows
      (OOV row included): ``logp4`` is the scaled-integer Laplace unigram
      log-prob (exactly :func:`train_unigram_lm`'s contract — the
      first-token term of the chain), ``backoff4 = round(ln((1 - lam) *
      P_uni(w2)) * 1e4)`` scores any UNOBSERVED bigram ending in ``w2``.
      Broadcast this side into every scoring join.
    * ``bigram`` — ``(w1, w2, logp4)``, one row per bigram OBSERVED in
      the (OOV-mapped) training stream with the full interpolated
      log-prob.  This side can be large (up to observed-pair count) and
      joins by SHUFFLE on (w1, w2) — never collected, never broadcast by
      contract; AQE broadcasts it when it happens to be small.

    Every log-prob is rounded to a scaled INTEGER at train time from one
    fixed double expression tree, so document sums stay order-free and the
    DuckDB oracle replays scores bit-for-bit (the lm.py module contract).
    Tokens outside the top-``vocab_size`` vocabulary (count desc, term asc
    — deterministic) are mapped to ``OOV_TERM`` BEFORE pair counting, so
    OOV participates in bigram statistics as a real token; its unigram
    count is 0 by the unigram trainer's convention."""
    counts = (
        _tokens(df, text_col).groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("term").asc()) \
        .limit(vocab_size)
    totals = counts.agg(
        F.sum("c").alias("n_total"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    nv1 = (F.col("n_total")
           + F.least(F.lit(vocab_size), F.col("n_terms")) + F.lit(1))
    one_m_lam = F.lit(1.0) - F.lit(lam)
    # vocab rows carry their Laplace count; the OOV row carries c = 0
    uni_c = top.select("term", "c").unionByName(
        totals.select(F.lit(OOV_TERM).alias("term"),
                      F.lit(0).cast("long").alias("c")))
    unigram = uni_c.crossJoin(F.broadcast(totals)).select(
        "term",
        F.round(F.log((F.col("c") + 1) / nv1) * F.lit(10_000.0))
        .cast("long").alias("logp4"),
        F.round(F.log(one_m_lam * ((F.col("c") + 1) / nv1))
                * F.lit(10_000.0))
        .cast("long").alias("backoff4"),
    )

    # OOV-mapped training stream -> per-doc adjacent pairs -> pair counts.
    # The vocab map join broadcasts (bounded by vocab_size rows); the pair
    # window shares the shingling family's one id-partitioned shuffle.
    from pyspark.sql import Window

    mapped = (
        _pos_tokens(df, text_col, id_col)
        .join(F.broadcast(top.select("term",
                                     F.lit(True).alias("_inv"))),
              on="term", how="left")
        .select(
            "_id", "_pos",
            F.when(F.col("_inv"), F.col("term"))
            .otherwise(F.lit(OOV_TERM)).alias("term_m"),
        )
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    pairs = mapped.select(
        F.lag("term_m", 1).over(w).alias("w1"),
        F.col("term_m").alias("w2"),
    ).filter(F.col("w1").isNotNull())
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    bigram = (
        c12.join(c1, on="w1")
        .join(F.broadcast(uni_c.select(F.col("term").alias("w2"),
                                       F.col("c").alias("c2"))),
              on="w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2",
            F.round(
                F.log(F.lit(lam) * (F.col("c12") / F.col("c1"))
                      + one_m_lam * ((F.col("c2") + 1) / nv1))
                * F.lit(10_000.0)
            ).cast("long").alias("logp4"),
        )
    )
    return unigram, bigram


def bigram_score_documents(
    df: DataFrame,
    unigram: DataFrame,
    bigram: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append ``lm2_logprob`` (mean per-token chain log-probability under
    the :func:`train_bigram_lm` model: the first token contributes its
    unigram ``logp4``, every following token its interpolated bigram
    log-prob, with the per-``w2`` ``backoff4`` covering unobserved pairs)
    plus the exact integers it derives from — ``lm2_logprob4_sum`` and
    ``n_scored_tokens`` (the :func:`lm_score_documents` contract: pin and
    aggregate the integers, derive floats at the edge).  Empty docs report
    (0, 0) and the OOV unigram floor.

    Scale shape: the shared scoring chain :func:`_score_chain` at order
    2.  Tokenize -> ONE broadcast join against the (vocab+1)-row unigram
    side (mapping, first-token scores, and backoffs in a single pass) ->
    the previous token from one id-partitioned lag window (the shingling
    shuffle) -> left join the bigram side on (w1, w2) — the only
    potentially large join, shuffled on the pair key, AQE-broadcast when
    small -> map-side-combined integer sum per doc -> join scores back.
    The window and the groupBy/join-back are where this form differs
    from :func:`bigram_score_documents_stream`."""
    return _score_chain(df, (unigram, bigram), "bigram",
                        "bigram_score_documents", stream=False,
                        text_col=text_col, id_col=id_col)


def _gram_hash_injective(unigram: DataFrame) -> bool:
    """True when ``xxhash64`` is collision-free over the model's full
    term set (vocab + OOV — every gram-table key and every scorer-side
    ``w*`` value is drawn from exactly this set, because training maps
    tokens through the same vocab±OOV substitution the scorers do).

    Guide §2.3 "narrower types": with an injective hash the backoff
    ladder's equi-joins can run on fixed-width LONGS instead of term
    strings — the same matches by construction, so scores are
    bit-identical — which narrows every gram-side and probe-side shuffle
    row and replaces string hashing/comparison in the joins with long
    ops.  At 2^64 hash space a 32k vocab collides with p ~ 3e-11, so the
    fallback is nearly theoretical, but correctness must not be
    probabilistic: one tiny aggregate over the (vocab+1)-row frame
    checks injectivity once per distinct model frame per application
    (memoized on the analyzed plan's semantic hash — the amortized
    one-model-many-shards regime pays the ~0.14 s probe job once, not
    per scorer call) and falls back to string keys on a collision."""
    try:
        memo_key = (unigram.sparkSession.sparkContext.applicationId,
                    unigram.semanticHash())
        hit = _HASH_INJECTIVE_MEMO.get(memo_key)
        if hit is not None:
            return hit
    except Exception:  # pragma: no cover — memo failure = just re-check
        memo_key = None
    r = unigram.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.xxhash64("term")).alias("nh"),
    ).first()
    ok = bool(r.n == r.nh)
    if memo_key is not None:
        if len(_HASH_INJECTIVE_MEMO) > 1024:  # unbounded-session hygiene
            _HASH_INJECTIVE_MEMO.clear()
        _HASH_INJECTIVE_MEMO[memo_key] = ok
    return ok


_HASH_INJECTIVE_MEMO: dict[tuple, bool] = {}


def _hashed_gram_side(df: DataFrame, keys) -> DataFrame:
    """Replace a gram/gamma table's string key columns with their
    xxhash64 longs under the SAME names, value columns untouched — the
    build-side half of the hashed-ladder join (training never emits a
    NULL key term, so no null guard is needed here)."""
    return df.select(
        *[F.xxhash64(F.col(k)).alias(k) for k in keys],
        *[c for c in df.columns if c not in keys],
    )


def _guard_reserved(df: DataFrame, reserved, fn_name: str) -> None:
    """The stream scorers carry every input column THROUGH their
    exploded/joined rows (the batch scorers drop them and join back by
    id, so only the stream path has this exposure) — an input column
    named like a working column would silently shadow or duplicate.
    Fail loud instead."""
    clash = sorted(set(df.columns) & set(reserved))
    if clash:
        raise ValueError(
            f"{fn_name}: input column(s) {clash} collide with internal "
            f"working names — rename them before scoring")


#: working names of the stream scorers (chain rows + mapping + joins +
#: fold); kept as one superset so the guard stays simple
_STREAM_RESERVED = (
    "_raw", "_pos", "_cur", "_prev1", "_prev2", "_prev3", "_prev4",
    "_skip", "w1", "w2", "w3", "w4", "w5", "_lp", "_bo4", "_c4", "_tok",
    "_ulp", "_ubo", "_pbo", "_p1inv", "_p2inv", "_p3inv", "_p4inv",
    "logp4", "logp2_4", "logp3_4", "logp4_4", "logp5_4",
    "logg12_4", "logg3_4", "logg4_4", "logg5_4",
)


def _stream_chain_rows(df: DataFrame, text_col: str, depth: int = 2):
    """Per-row n-gram rows WITHOUT a window — the streaming-legal twin
    of the batch scorers' posexplode+lag shape: tokenize into an array
    (the exact batch tokenizer expressions), posexplode_outer it, and
    read the ``depth`` preceding tokens with guarded element_at from
    the SAME row's array (``_cur`` plus ``_prev1`` .. ``_prev{depth}``).
    Null/empty documents keep exactly one marker row (``_cur`` NULL or
    '') so they survive to the per-doc aggregate with (0, 0) and the
    OOV-floor mean, matching the batch scorers' left-join-back
    semantics.  Everything is stateless per-row codegen — no lag
    window, no state."""
    raw = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
        " ")
    # after whitespace collapse + trim, interior/edge empty tokens are
    # impossible — split yields [''] only for the empty document, which
    # the _skip marker in the scorers neutralizes
    exploded = df.select(
        "*", raw.alias("_raw"),
    ).select(
        "*", F.posexplode_outer("_raw").alias("_pos", "_cur"),
    )
    # the k-th previous token sits at 1-based index _pos - k + 1; the
    # when-guard keeps element_at off index <= 0 (ANSI-safe)
    return exploded.select(
        *df.columns, "_pos", "_cur",
        *[F.when(F.col("_pos") >= k,
                 F.element_at("_raw", F.col("_pos") - (k - 1)))
          .alias(f"_prev{k}") for k in range(1, depth + 1)],
    )


def _thin_carry(df: DataFrame, id_col: str) -> list:
    """Carry every non-id column ONLY on the first token row of its
    document — the per-doc fold takes first non-null, so values
    survive intact.  Without this the exploded token rows replicate
    the full document payload (text included) through every gram-join
    shuffle and the fold repartition: a words-per-doc-times shuffle
    write amplification that filled local disk at the 40M-token
    stress scale (r17).  ``_pos`` NULL (the null-document marker row)
    counts as the first row so null-text documents keep their other
    columns."""
    keep = F.coalesce(F.col("_pos"), F.lit(0)) == 0
    return [
        F.col(c) if c == id_col else F.when(keep, F.col(c)).alias(c)
        for c in df.columns
    ]


def _doc_sum_stream(rows: DataFrame, df: DataFrame, id_col: str,
                    prefix: str, floor: float) -> DataFrame:
    """Micro-batch-local per-document sum — the streaming-legal stand-in
    for the batch scorers' groupBy(id).agg + join-back: a document is
    ONE input row, so all its token rows live inside the same
    micro-batch; a stateless hash ``repartition(id_col)`` co-locates
    them and an Arrow kernel folds integer sums per document (integer
    addition is order-free, so scores stay BIT-IDENTICAL to batch).
    No state store, no watermark — append-mode safe by construction.

    The fold is TWO kernels around the exchange, not one after it
    (guide §2.3 "aggregate before you shuffle", r17): a partition-local
    pre-combine first collapses each input partition to one
    (carry, partial-sum, partial-count) row per document it saw — the
    map-side combine the batch scorers get for free from their hash
    aggregate — so the id exchange ships one row per document per
    upstream partition instead of one row per TOKEN (a ~tokens-per-doc
    shuffle-volume reduction; the scorers' gram joins leave a doc's
    rows scattered, so without this every token row crosses the wire).
    Partial sums are integers and the carry columns ride only the
    per-doc first-token row (``_thin_carry``), so first-non-null
    composes across partials and scores stay bit-identical (pinned by
    the batch-parity suites and the stream oracle goldens).

    ``rows`` carries every original ``df`` column (constant per doc)
    plus ``_c4``/``_tok``; the final kernel re-emits one row per
    document with the three scorer columns appended."""
    import math

    import pandas as pd

    from pyspark.sql import types as T

    carry = list(df.columns)
    others = [c for c in carry if c != id_col]
    # carry fields forced nullable (ADVICE r17): the pre-combine emits
    # NULL carry values for docs whose first-token row sits in another
    # partition — reusing the input's nullable=False here would declare
    # non-null columns that hold nulls mid-stream, miscompilation bait
    # for any expression ever inserted between the two kernels
    partial_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True)
         for f in df.schema.fields]
        + [T.StructField("_ps4", T.LongType()),
           T.StructField("_pn", T.LongType())])
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(f"{prefix}_logprob", T.DoubleType()),
           T.StructField(f"{prefix}_logprob4_sum", T.LongType()),
           T.StructField("n_scored_tokens", T.LongType())])

    def round4(x: float) -> float:
        # Spark ROUND is HALF_UP on the magnitude (the
        # lm_score_documents_stateless convention)
        s = x * 10_000.0
        r = math.floor(s + 0.5) if s >= 0 else math.ceil(s - 0.5)
        return r / 10_000.0

    def partial_gen(batches):
        parts = []
        for pdf in batches:
            if not len(pdf):
                continue
            g = pdf.groupby(id_col, sort=False, dropna=False)
            agg = g.agg(_ps4=("_c4", "sum"), _pn=("_tok", "sum"))
            if others:
                # carry columns are non-null only on the doc's first
                # token row; first() takes the first NON-NULL, so the
                # value survives whichever partial holds that row
                agg = g[others].first().join(agg)
            parts.append(agg.reset_index())
        if not parts:
            return
        allp = pd.concat(parts, ignore_index=True)
        g = allp.groupby(id_col, sort=False, dropna=False)
        fin = g.agg(_ps4=("_ps4", "sum"), _pn=("_pn", "sum"))
        if others:
            fin = g[others].first().join(fin)
        yield fin.reset_index()[[*carry, "_ps4", "_pn"]]

    def final_gen(batches):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        allp = pd.concat(parts, ignore_index=True)
        g = allp.groupby(id_col, sort=False, dropna=False)
        final = g.agg(_s4=("_ps4", "sum"), _n=("_pn", "sum"))
        if others:
            final = g[others].first().join(final)
        final = final.reset_index()
        lp = [round4(s / 10_000.0 / n) if n else floor
              for s, n in zip(final["_s4"], final["_n"])]
        yield pd.DataFrame({
            **{c: final[c] for c in carry},
            f"{prefix}_logprob": pd.Series(lp, dtype="float64"),
            f"{prefix}_logprob4_sum": final["_s4"].astype("int64"),
            "n_scored_tokens": final["_n"].astype("int64"),
        })

    partial = rows.mapInPandas(partial_gen, schema=partial_schema)
    return partial.repartition(F.col(id_col)).mapInPandas(
        final_gen, schema=out_schema)


def _score_chain(df: DataFrame, model: tuple, kind: str, fn_name: str, *,
                 stream: bool, text_col: str, id_col: str) -> DataFrame:
    """The one scoring chain behind the six n-gram scorers: the
    interpolated bigram (``kind="bigram"``), and the Kneser-Ney ladder at
    order 3 (``"kn_trigram"``) or 5 (``"kn_5gram"``).  ``model`` is the
    trainer's tuple; :data:`LM_KINDS` names each side's key and value
    columns.

    Every token maps through the (vocab+1)-row unigram side to its OOV-
    substituted key ``w{n}`` (xxhash64 longs when the model's terms hash
    injectively, :func:`_gram_hash_injective`), its first-rung score
    ``_lp`` and the bigram rung's back-off ``_bo4``; the previous
    ``n - 1`` keys ride the same row as ``w1 .. w{n-1}``.  Then the gram
    sides left-join in ladder order — bigram, then per order k the
    context (gamma) side and the k-gram side — and each token adds:

        score1  = _lp
        score2  = coalesce(logp4, _bo4)                   bigram model
                  coalesce(logp2_4, _bo4 + _lp, _lp)      Kneser-Ney
        score_k = coalesce(logp{k}_4, gamma_k + score_{k-1}, score_{k-1})

    at the highest order its preceding tokens allow.  The bigram rung is
    the only model-specific expression: the bigram model backs off to
    the CURRENT token's ``backoff4``, Kneser-Ney to the PREVIOUS token's
    gamma ``logg2_4`` plus the current continuation unigram.

    The batch and stream forms differ in two places only:

    * previous tokens — batch maps tokens in one broadcast join and
      reads the previous keys with a ``lag`` window over (id, pos);
      stream reads them per row with :func:`_stream_chain_rows`'
      ``element_at`` and maps each through its own broadcast join (a
      window is illegal on a stream).  A window-free batch form gave the
      same rows but ran slower at sf0.1 (2.75-3.51 s against 2.25-2.63
      s for KN-5), so batch keeps the window;
    * the per-document fold — batch: ``groupBy`` plus a left join back
      onto ``df``; stream: the micro-batch-local :func:`_doc_sum_stream`.
    """
    spec = LM_KINDS[kind]
    unigram, bigram, *higher = model
    # the unigram side's value columns: first-rung score, bigram back-off
    lp_col, bo_col = spec[0][1][1:]
    # rungs above the bigram, lowest first:
    # (context side, its columns, k-gram side, its columns)
    ladder = [(higher[i + 1], spec[i + 3][1], higher[i], spec[i + 2][1])
              for i in range(0, len(higher), 2)]
    n = len(ladder) + 2
    w = [f"w{i}" for i in range(1, n + 1)]  # w[-1] is the current token

    oov_row = unigram.filter(F.col("term") == OOV_TERM).first()
    if oov_row is None:
        trainer = {"bigram": "train_bigram_lm",
                   "kn_trigram": "train_kn_trigram_lm",
                   "kn_5gram": "train_kn5_lm"}[kind]
        raise ValueError(f"{fn_name}: unigram frame has no OOV row — "
                         f"build the model with {trainer}")
    oov_lp4 = int(oov_row[lp_col])
    oov_lp = F.lit(oov_lp4)
    # a Kneser-Ney OOV gamma may be None: OOV never observed as context
    oov_bo = F.lit(oov_row[bo_col]).cast("long")

    # ladder keys as xxhash64 longs (r18, guide §2.3): every gram join and
    # the lag window shuffle fixed-width keys; collision-checked per model,
    # string fallback
    hashed = _gram_hash_injective(unigram)
    key = F.xxhash64 if hashed else (lambda c: c)
    oov_key = key(F.lit(OOV_TERM))
    side = _hashed_gram_side if hashed else (lambda t, keys: t)
    uni = unigram.filter(F.col("term") != OOV_TERM)
    kn = kind != "bigram"

    if not stream:
        from pyspark.sql import Window

        inv = F.col(lp_col).isNotNull()
        seq = (
            _pos_tokens(df, text_col, id_col)
            .join(F.broadcast(uni), on="term", how="left")
            .select(
                "_id", "_pos",
                F.when(inv, key(F.col("term"))).otherwise(oov_key)
                .alias(w[-1]),
                F.coalesce(F.col(lp_col), oov_lp).alias("_lp"),
                F.when(inv, F.col(bo_col)).otherwise(oov_bo).alias("_bo4"),
            )
        )
        win = Window.partitionBy("_id").orderBy("_pos")
        rows = seq.select(
            "_id", w[-1], "_lp",
            *[F.lag(w[-1], k).over(win).alias(w[-1 - k])
              for k in range(1, n)],
            F.lag("_bo4", 1).over(win).alias("_bo4") if kn else "_bo4",
        )
    else:
        _guard_reserved(df, _STREAM_RESERVED, fn_name)
        rows = _stream_chain_rows(df, text_col, depth=n - 1).join(
            F.broadcast(uni.select(
                F.col("term").alias("_cur"), F.col(lp_col).alias("_ulp"),
                *([] if kn else [F.col(bo_col).alias("_ubo")]))),
            on="_cur", how="left")
        for k in range(1, n):
            rows = rows.join(
                F.broadcast(uni.select(
                    F.col("term").alias(f"_prev{k}"),
                    F.lit(True).alias(f"_p{k}inv"),
                    *([F.col(bo_col).alias("_pbo")]
                      if kn and k == 1 else []))),
                on=f"_prev{k}", how="left")

        def prev(k: int, value, oov):
            return (F.when(F.col(f"_prev{k}").isNull(), F.lit(None))
                    .when(F.col(f"_p{k}inv"), value).otherwise(oov))

        cur_inv = F.col("_ulp").isNotNull()
        rows = rows.select(
            *_thin_carry(df, id_col),
            (F.col("_cur").isNull() | (F.col("_cur") == "")).alias("_skip"),
            F.when(cur_inv, key(F.col("_cur"))).otherwise(oov_key)
            .alias(w[-1]),
            *[prev(k, key(F.col(f"_prev{k}")), oov_key).alias(w[-1 - k])
              for k in range(1, n)],
            F.coalesce(F.col("_ulp"), oov_lp).alias("_lp"),
            (prev(1, F.col("_pbo"), oov_bo) if kn
             else F.when(cur_inv, F.col("_ubo")).otherwise(oov_bo))
            .alias("_bo4"),
        )

    def join_side(r, t, cols):
        keys = list(cols[:-1])
        return r.join(side(t, keys), on=keys, how="left")

    rows = join_side(rows, bigram, spec[1][1])
    for ctx, ctx_cols, gram, gram_cols in ladder:
        rows = join_side(join_side(rows, ctx, ctx_cols), gram, gram_cols)

    lp = F.col("_lp")
    score = (F.coalesce(F.col(spec[1][1][-1]), F.col("_bo4") + lp, lp) if kn
             else F.coalesce(F.col(spec[1][1][-1]), F.col("_bo4")))
    first = F.col(w[-2]).isNull()
    contrib = (F.when(F.col("_skip"), F.lit(0)).when(first, lp) if stream
               else F.when(first, lp))
    for k, (_, ctx_cols, _, gram_cols) in enumerate(ladder, start=3):
        contrib = contrib.when(F.col(w[-k]).isNull(), score)
        score = F.coalesce(F.col(gram_cols[-1]),
                           F.col(ctx_cols[-1]) + score, score)
    contrib = contrib.otherwise(score)

    prefix = f"lm{n}"
    floor = round(oov_lp4 / 10_000.0, 4)
    if stream:
        prepared = rows.select(
            *df.columns,
            contrib.cast("long").alias("_c4"),
            F.when(F.col("_skip"), F.lit(0)).otherwise(F.lit(1))
            .cast("long").alias("_tok"),
        )
        return _doc_sum_stream(prepared, df, id_col, prefix, floor)
    per = (
        rows.groupBy("_id")
        .agg(F.sum(contrib).alias("_s4"), F.count(F.lit(1)).alias("_n"))
        .withColumnRenamed("_id", id_col)
    )
    return df.join(per, on=id_col, how="left").select(
        *df.columns,
        F.coalesce(
            F.round(F.col("_s4") / F.lit(10_000.0) / F.col("_n"), 4),
            F.lit(floor),
        ).alias(f"{prefix}_logprob"),
        F.coalesce(F.col("_s4"), F.lit(0)).cast("long")
        .alias(f"{prefix}_logprob4_sum"),
        F.coalesce(F.col("_n"), F.lit(0)).cast("long")
        .alias("n_scored_tokens"),
    )


def bigram_score_documents_stream(
    df: DataFrame,
    unigram: DataFrame,
    bigram: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`bigram_score_documents` as a streaming-legal plan — same
    three output columns, scores BIT-IDENTICAL to batch (parity-pinned).
    Scale shape: the shared scoring chain :func:`_score_chain` at order
    2, differing from batch in two places: the lag window becomes
    per-row element_at reads, so the (vocab+1)-row unigram side
    broadcast-joins twice (current + previous token), and the per-doc
    aggregate is the micro-batch-local :func:`_doc_sum_stream` fold.
    The unbounded bigram side stays a stream-static shuffle equi-join
    (never collected — the reason the stateless-kernel route is closed
    to n-gram models).  Works identically on a plain batch frame (the
    stream-twin convention)."""
    return _score_chain(df, (unigram, bigram), "bigram",
                        "bigram_score_documents_stream", stream=True,
                        text_col=text_col, id_col=id_col)


def kn_trigram_score_documents_stream(
    df: DataFrame,
    unigram: DataFrame,
    bigram: DataFrame,
    trigram: DataFrame,
    context: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`kn_trigram_score_documents` as a streaming-legal plan —
    same three output columns, scores BIT-IDENTICAL to batch
    (parity-pinned).  Scale shape: the shared scoring chain
    :func:`_score_chain` at order 3, differing from batch in two places:
    per-row element_at n-gram extraction (no window) with THREE
    broadcast joins against the (vocab+1)-row unigram side (current,
    previous and previous-previous token), and the micro-batch-local
    :func:`_doc_sum_stream` fold.  The three stream-static left
    equi-joins against the unbounded observed-gram sides are the batch
    scorer's joins (the landed-model sides from :func:`load_lm` drop in
    directly).  No lag window, no state store, no watermark: append-mode
    safe.  Works identically on a plain batch frame (the stream-twin
    convention)."""
    return _score_chain(df, (unigram, bigram, trigram, context),
                        "kn_trigram", "kn_trigram_score_documents_stream",
                        stream=True, text_col=text_col, id_col=id_col)


def kn5_score_documents_stream(
    df: DataFrame,
    unigram: DataFrame,
    bigram: DataFrame,
    trigram: DataFrame,
    context3: DataFrame,
    fourgram: DataFrame,
    context4: DataFrame,
    fivegram: DataFrame,
    context5: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`kn5_score_documents` as a streaming-legal plan.  Scale
    shape: the shared scoring chain :func:`_score_chain` at order 5,
    differing from batch in two places: per-row element_at n-gram
    extraction to depth 4 with FIVE broadcast joins against the
    (vocab+1)-row unigram side (current + four previous tokens), and
    the micro-batch-local :func:`_doc_sum_stream` fold.  The seven
    stream-static left equi-joins against the observed-gram/gamma sides
    are the batch scorer's.  Scores BIT-IDENTICAL to batch
    (parity-pinned); no window, no state store, append-mode safe."""
    return _score_chain(df, (unigram, bigram, trigram, context3, fourgram,
                             context4, fivegram, context5),
                        "kn_5gram", "kn5_score_documents_stream",
                        stream=True, text_col=text_col, id_col=id_col)


def train_kn_trigram_lm(
    df: DataFrame,
    vocab_size: int = 32_768,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Interpolated Kneser-Ney trigram LM — the published form of the
    CCNet perplexity signal (Wenzek 2020 scores with a 5-gram Kneser-Ney
    KenLM; Kneser & Ney 1995 / Chen & Goodman 1999 give the
    absolute-discount interpolated recursion this implements at order 3):

        P(w3|w1 w2) = (c(w123) - D)/c(w12.) + g(w12) * P(w3|w2)
        g(w12)      = D * N1+(w12*) / c(w12.)
        P(w3|w2)    = (N1+(*w2w3) - D)/N1+(*w2*) + g(w2) * P(w3)
        g(w2)       = D * N1+(w2*) / N1+(*w2*)
        P(w3)       = (N1+(*w3) + 1) / (N1+(**) + V + 1)

    — lower orders use CONTINUATION counts (in how many distinct
    contexts a gram appears), the Kneser-Ney signature; the unigram
    level is Laplace-floored over the vocabulary so no probability is
    ever zero.  ``discount`` must sit in (0, 1): every observed count
    is >= 1, so the discounted numerators stay positive and the
    ``max(., 0)`` of the textbook form never binds — both engines can
    then share one branch-free double expression tree.

    Boundary convention (documented, not hidden): no <s> padding —
    lower-order statistics derive from the observed TRIPLE set, so a
    document shorter than 3 tokens contributes nothing to the model
    (scoring still covers it through the backoff chain).

    Tokens outside the top-``vocab_size`` vocabulary (count desc, term
    asc — deterministic) map to ``OOV_TERM`` BEFORE triple extraction,
    the :func:`train_bigram_lm` convention.

    Returns ``(unigram, bigram, trigram, context)``:

    * ``unigram`` — ``(term, logp1_4, logg2_4)``, ``vocab + 1`` rows
      (OOV included); ``logg2_4`` is NULL when the term was never a
      bigram context.  The only broadcastable side.
    * ``bigram`` — ``(w2, w3, logp2_4)`` for continuation-observed
      pairs; shuffle-joined at scoring time.
    * ``trigram`` — ``(w1, w2, w3, logp3_4)`` for observed triples.
    * ``context`` — ``(w1, w2, logg12_4)`` for observed trigram
      contexts.

    Every log-prob is rounded to a scaled INTEGER at train time from
    one fixed double expression tree (the lm.py module contract), so
    document sums are order-free and the DuckDB oracle replays scores
    bit-for-bit."""
    if not 0.0 < discount < 1.0:
        raise ValueError(
            f"discount must be in (0, 1): {discount} (at 1.0 or above "
            "observed-gram probabilities can hit zero; at 0 there is no "
            "mass left for the backoff)")
    d = F.lit(discount)
    counts = (
        _tokens(df, text_col).groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("term").asc()) \
        .limit(vocab_size)
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_terms"),
    )
    # kept vocab terms + the OOV token
    n_vocab = F.least(F.lit(vocab_size), F.col("n_terms")) + F.lit(1)

    from pyspark.sql import Window

    mapped = (
        _pos_tokens(df, text_col, id_col)
        .join(F.broadcast(top.select("term", F.lit(True).alias("_inv"))),
              on="term", how="left")
        .select(
            "_id", "_pos",
            F.when(F.col("_inv"), F.col("term"))
            .otherwise(F.lit(OOV_TERM)).alias("w"),
        )
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    triples = mapped.select(
        F.lag("w", 2).over(w).alias("w1"),
        F.lag("w", 1).over(w).alias("w2"),
        F.col("w").alias("w3"),
    ).filter(F.col("w1").isNotNull())
    # the levels below and the model sides share c3, contb, p1_side and
    # bigram_full; each is checkpointed once, so the sides' barriers (which
    # run their shuffle stages when built under AQE) read them instead of
    # each re-running the tokenize -> window -> count chain
    c3 = triples.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c3")).localCheckpoint(eager=False)
    # c3 rows are distinct (w1,w2,w3), so COUNT(*) groups below ARE the
    # N1+ continuation-type counts — no countDistinct needed anywhere
    ctx12 = c3.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c12"),            # c(w1 w2 .)
        F.count(F.lit(1)).alias("n1p12"))    # N1+(w1 w2 *)
    contb = c3.groupBy("w2", "w3").agg(       # N1+(* w2 w3)
        F.count(F.lit(1)).alias("n1pb")).localCheckpoint(eager=False)
    ctx2 = contb.groupBy("w2").agg(
        F.sum("n1pb").alias("n1pb_ctx"),     # N1+(* w2 *)
        F.count(F.lit(1)).alias("n1p_types"))  # N1+(w2 *)
    n1pu = contb.groupBy("w3").agg(
        F.count(F.lit(1)).alias("n1pu"))     # N1+(* w3)
    npp = contb.agg(F.count(F.lit(1)).alias("npp"))  # N1+(* *)

    uni_terms = top.select("term").unionByName(
        totals.select(F.lit(OOV_TERM).alias("term")))
    # P1(w) = (N1+(*w) + 1) / (N1+(**) + V + 1): one shared double tree
    p1_expr = (
        (F.coalesce(F.col("n1pu"), F.lit(0)) + F.lit(1))
        / (F.col("npp") + n_vocab + F.lit(1))
    )
    g2_expr = d * F.col("n1p_types") / F.col("n1pb_ctx")
    p1_side = (
        uni_terms
        .join(n1pu.withColumnRenamed("w3", "term"), on="term", how="left")
        .crossJoin(F.broadcast(npp))
        .crossJoin(F.broadcast(totals))
        .select("term", p1_expr.alias("p1"))
    ).localCheckpoint(eager=False)
    unigram = (
        p1_side
        .join(ctx2.withColumnRenamed("w2", "term"), on="term", how="left")
        .select(
            "term",
            F.round(F.log(F.col("p1")) * F.lit(10_000.0))
            .cast("long").alias("logp1_4"),
            F.round(F.log(g2_expr) * F.lit(10_000.0))
            .cast("long").alias("logg2_4"),
        )
    )
    # P2(w3|w2): keeps the raw double alongside the rounded integer so
    # the trigram level composes the IDENTICAL value the oracle does
    p2_expr = (
        (F.col("n1pb") - d) / F.col("n1pb_ctx")
        + (d * F.col("n1p_types") / F.col("n1pb_ctx")) * F.col("p1")
    )
    bigram_full = (
        contb.join(ctx2, on="w2")
        .join(p1_side.withColumnRenamed("term", "w3"), on="w3")
        .select("w2", "w3", p2_expr.alias("p2"))
    ).localCheckpoint(eager=False)
    bigram = bigram_full.select(
        "w2", "w3",
        F.round(F.log(F.col("p2")) * F.lit(10_000.0))
        .cast("long").alias("logp2_4"),
    )
    context = ctx12.select(
        "w1", "w2",
        F.round(F.log(d * F.col("n1p12") / F.col("c12")) * F.lit(10_000.0))
        .cast("long").alias("logg12_4"),
    )
    p3_expr = (
        (F.col("c3") - d) / F.col("c12")
        + (d * F.col("n1p12") / F.col("c12")) * F.col("p2")
    )
    trigram = (
        c3.join(ctx12, on=["w1", "w2"])
        .join(bigram_full, on=["w2", "w3"])
        .select(
            "w1", "w2", "w3",
            F.round(F.log(p3_expr) * F.lit(10_000.0))
            .cast("long").alias("logp3_4"),
        )
    )
    # lineage barrier on all four model sides (r16 self-review #5): the
    # scorer's OOV probe plus its four joins would otherwise re-derive
    # the full training DAG (corpus tokenize -> window -> count chain)
    # ~5x — the trigram side alone embeds bigram_full embeds p1_side
    # embeds everything
    return tuple(t.localCheckpoint(eager=False)
                 for t in (unigram, bigram, trigram, context))


def train_kn5_lm(
    df: DataFrame,
    vocab_size: int = 32_768,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, ...]:
    """Interpolated Kneser-Ney FIVE-gram LM — the published order of the
    CCNet perplexity signal (Wenzek 2020 scores with a 5-gram KN KenLM);
    :func:`train_kn_trigram_lm`'s recursion generalized two levels up,
    with the same single shared ``discount`` across orders and the same
    branch-free double trees (every count in every level is >= 1, so
    ``discount`` in (0, 1) keeps all numerators positive):

        P5(w5|w1..w4) = (c(w1..w5) - D)/c(w1..w4 .)
                         + g5(w1..w4) * P4(w5|w2..w4)
        g5(ctx)       = D * N1+(ctx *) / c(ctx .)

    and each lower level k uses CONTINUATION counts from the type set
    one level above (the Kneser-Ney signature), down to the
    Laplace-floored continuation unigram of the trigram trainer.
    Boundary convention unchanged: no <s> padding — lower-order
    statistics derive from the observed 5-TUPLE set, so a document
    shorter than 5 tokens contributes nothing to the model (the backoff
    chain still scores it).

    Returns the 8-tuple ``(unigram, bigram, trigram, context3,
    fourgram, context4, fivegram, context5)``:

    * ``unigram`` — ``(term, logp1_4, logg2_4)``, vocab+1 rows; the
      only broadcastable side (``logg2_4`` is the level-2 gamma of the
      term AS the previous token).
    * ``bigram``/``trigram``/``fourgram``/``fivegram`` — the
      observed-gram log-prob sides, keyed ``(w4, w5)`` .. ``(w1..w5)``
      with ``w5`` the current token; shuffle-joined at scoring time,
      never collected.
    * ``context3``/``context4``/``context5`` — the level-3/4/5 gammas,
      keyed by their contexts.

    Every log value is rounded to a scaled INTEGER from one fixed
    double expression tree (the lm.py module contract), so document
    sums are order-free and the DuckDB oracle replays scores
    bit-for-bit."""
    if not 0.0 < discount < 1.0:
        raise ValueError(
            f"discount must be in (0, 1): {discount} (at 1.0 or above "
            "observed-gram probabilities can hit zero; at 0 there is no "
            "mass left for the backoff)")
    d = F.lit(discount)
    counts = (
        _tokens(df, text_col).groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("term").asc()) \
        .limit(vocab_size)
    totals = counts.agg(F.count(F.lit(1)).alias("n_terms"))
    n_vocab = F.least(F.lit(vocab_size), F.col("n_terms")) + F.lit(1)

    from pyspark.sql import Window

    mapped = (
        _pos_tokens(df, text_col, id_col)
        .join(F.broadcast(top.select("term", F.lit(True).alias("_inv"))),
              on="term", how="left")
        .select(
            "_id", "_pos",
            F.when(F.col("_inv"), F.col("term"))
            .otherwise(F.lit(OOV_TERM)).alias("w"),
        )
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    quints = mapped.select(
        F.lag("w", 4).over(w).alias("w1"),
        F.lag("w", 3).over(w).alias("w2"),
        F.lag("w", 2).over(w).alias("w3"),
        F.lag("w", 1).over(w).alias("w4"),
        F.col("w").alias("w5"),
    ).filter(F.col("w1").isNotNull())
    # the trigram trainer's shared-table checkpoints, one per count level
    # and per nested *_full side
    c5 = quints.groupBy("w1", "w2", "w3", "w4", "w5").agg(
        F.count(F.lit(1)).alias("c5")).localCheckpoint(eager=False)
    # c5 rows are distinct 5-tuples, so COUNT(*) groups below ARE the
    # N1+ continuation-type counts all the way down (no countDistinct)
    ctx1234 = c5.groupBy("w1", "w2", "w3", "w4").agg(
        F.sum("c5").alias("c1234"),          # c(w1..w4 .)
        F.count(F.lit(1)).alias("n1p1234"))  # N1+(w1..w4 *)
    cont4 = c5.groupBy("w2", "w3", "w4", "w5").agg(  # N1+(* w2..w5)
        F.count(F.lit(1)).alias("n4")).localCheckpoint(eager=False)
    ctx234 = cont4.groupBy("w2", "w3", "w4").agg(
        F.sum("n4").alias("t234"),           # N1+(* w2w3w4 *)
        F.count(F.lit(1)).alias("y234"))     # N1+(w2w3w4 *) types
    cont3 = cont4.groupBy("w3", "w4", "w5").agg(  # N1+(* w3w4w5)
        F.count(F.lit(1)).alias("n3")).localCheckpoint(eager=False)
    ctx34 = cont3.groupBy("w3", "w4").agg(
        F.sum("n3").alias("t34"),
        F.count(F.lit(1)).alias("y34"))
    cont2 = cont3.groupBy("w4", "w5").agg(    # N1+(* w4w5)
        F.count(F.lit(1)).alias("n2")).localCheckpoint(eager=False)
    ctx4u = cont2.groupBy("w4").agg(
        F.sum("n2").alias("t4"),
        F.count(F.lit(1)).alias("y4"))
    n1pu = cont2.groupBy("w5").agg(
        F.count(F.lit(1)).alias("n1pu"))     # N1+(* w5)
    npp = cont2.agg(F.count(F.lit(1)).alias("npp"))  # N1+(* *)

    uni_terms = top.select("term").unionByName(
        totals.select(F.lit(OOV_TERM).alias("term")))
    p1_expr = (
        (F.coalesce(F.col("n1pu"), F.lit(0)) + F.lit(1))
        / (F.col("npp") + n_vocab + F.lit(1))
    )
    p1_side = (
        uni_terms
        .join(n1pu.withColumnRenamed("w5", "term"), on="term", how="left")
        .crossJoin(F.broadcast(npp))
        .crossJoin(F.broadcast(totals))
        .select("term", p1_expr.alias("p1"))
    ).localCheckpoint(eager=False)
    g2_expr = d * F.col("y4") / F.col("t4")
    unigram = (
        p1_side
        .join(ctx4u.withColumnRenamed("w4", "term"), on="term", how="left")
        .select(
            "term",
            F.round(F.log(F.col("p1")) * F.lit(10_000.0))
            .cast("long").alias("logp1_4"),
            F.round(F.log(g2_expr) * F.lit(10_000.0))
            .cast("long").alias("logg2_4"),
        )
    )
    p2_expr = (
        (F.col("n2") - d) / F.col("t4")
        + (d * F.col("y4") / F.col("t4")) * F.col("p1")
    )
    bigram_full = (
        cont2.join(ctx4u, on="w4")
        .join(p1_side.withColumnRenamed("term", "w5"), on="w5")
        .select("w4", "w5", p2_expr.alias("p2"))
    ).localCheckpoint(eager=False)
    bigram = bigram_full.select(
        "w4", "w5",
        F.round(F.log(F.col("p2")) * F.lit(10_000.0))
        .cast("long").alias("logp2_4"),
    )
    context3 = ctx34.select(
        "w3", "w4",
        F.round(F.log(d * F.col("y34") / F.col("t34")) * F.lit(10_000.0))
        .cast("long").alias("logg3_4"),
    )
    p3_expr = (
        (F.col("n3") - d) / F.col("t34")
        + (d * F.col("y34") / F.col("t34")) * F.col("p2")
    )
    trigram_full = (
        cont3.join(ctx34, on=["w3", "w4"])
        .join(bigram_full, on=["w4", "w5"])
        .select("w3", "w4", "w5", p3_expr.alias("p3"))
    ).localCheckpoint(eager=False)
    trigram = trigram_full.select(
        "w3", "w4", "w5",
        F.round(F.log(F.col("p3")) * F.lit(10_000.0))
        .cast("long").alias("logp3_4"),
    )
    context4 = ctx234.select(
        "w2", "w3", "w4",
        F.round(F.log(d * F.col("y234") / F.col("t234"))
                * F.lit(10_000.0))
        .cast("long").alias("logg4_4"),
    )
    p4_expr = (
        (F.col("n4") - d) / F.col("t234")
        + (d * F.col("y234") / F.col("t234")) * F.col("p3")
    )
    fourgram_full = (
        cont4.join(ctx234, on=["w2", "w3", "w4"])
        .join(trigram_full, on=["w3", "w4", "w5"])
        .select("w2", "w3", "w4", "w5", p4_expr.alias("p4"))
    ).localCheckpoint(eager=False)
    fourgram = fourgram_full.select(
        "w2", "w3", "w4", "w5",
        F.round(F.log(F.col("p4")) * F.lit(10_000.0))
        .cast("long").alias("logp4_4"),
    )
    context5 = ctx1234.select(
        "w1", "w2", "w3", "w4",
        F.round(F.log(d * F.col("n1p1234") / F.col("c1234"))
                * F.lit(10_000.0))
        .cast("long").alias("logg5_4"),
    )
    p5_expr = (
        (F.col("c5") - d) / F.col("c1234")
        + (d * F.col("n1p1234") / F.col("c1234")) * F.col("p4")
    )
    fivegram = (
        c5.join(ctx1234, on=["w1", "w2", "w3", "w4"])
        .join(fourgram_full, on=["w2", "w3", "w4", "w5"])
        .select(
            "w1", "w2", "w3", "w4", "w5",
            F.round(F.log(p5_expr) * F.lit(10_000.0))
            .cast("long").alias("logp5_4"),
        )
    )
    # lineage barrier on all 8 sides (the trigram trainer's rationale,
    # amplified: fivegram embeds fourgram_full embeds trigram_full
    # embeds bigram_full embeds p1_side embeds the whole corpus DAG)
    return tuple(t.localCheckpoint(eager=False)
                 for t in (unigram, bigram, trigram, context3,
                           fourgram, context4, fivegram, context5))


def kn5_score_documents(
    df: DataFrame,
    unigram: DataFrame,
    bigram: DataFrame,
    trigram: DataFrame,
    context3: DataFrame,
    fourgram: DataFrame,
    context4: DataFrame,
    fivegram: DataFrame,
    context5: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append ``lm5_logprob`` (mean per-token 5-gram Kneser-Ney chain
    log-probability under :func:`train_kn5_lm`) plus the exact integers
    it derives from — ``lm5_logprob4_sum``, ``n_scored_tokens``.

    Chain per position: token k < 5 scores at order k; token >= 5 the
    full 5-gram, each fallback integer ADDITION of pre-rounded
    component logs (the trigram scorer's coalesce ladder, two rungs
    taller):

        score2  = coalesce(logp2_4, g2(w4) + logp1_4, logp1_4)
        score3  = coalesce(logp3_4, logg3_4 + score2, score2)
        score4  = coalesce(logp4_4, logg4_4 + score3, score3)
        contrib = coalesce(logp5_4, logg5_4 + score4, score4)

    Scale shape: the shared scoring chain :func:`_score_chain` at order
    5.  Tokenize -> ONE broadcast join against the (vocab+1)-row
    unigram side -> the four previous tokens from one id-partitioned lag
    window -> SEVEN left equi-joins against the observed-gram/gamma
    sides (shuffled on their keys, AQE-broadcast when small; never
    collected) -> map-side-combined integer sum per doc, joined back.
    The window and the groupBy/join-back are where this form differs
    from :func:`kn5_score_documents_stream`.  Ladder keys are xxhash64
    LONGS (r18, guide §2.3 — collision-checked per call, string
    fallback; see :func:`_gram_hash_injective`), so the lag window and
    every gram join shuffle fixed-width keys instead of term strings;
    join matches, hence scores, are bit-identical."""
    return _score_chain(df, (unigram, bigram, trigram, context3, fourgram,
                             context4, fivegram, context5),
                        "kn_5gram", "kn5_score_documents", stream=False,
                        text_col=text_col, id_col=id_col)


def kn_trigram_score_documents(
    df: DataFrame,
    unigram: DataFrame,
    bigram: DataFrame,
    trigram: DataFrame,
    context: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append ``lm3_logprob`` (mean per-token Kneser-Ney trigram chain
    log-probability under :func:`train_kn_trigram_lm`) plus the exact
    integers it derives from — ``lm3_logprob4_sum``,
    ``n_scored_tokens`` (the lm.py contract: pin and aggregate the
    integers, derive floats at the edge).

    Chain per position: token 1 scores the continuation unigram; token
    2 the bigram level; token >= 3 the full trigram with the backoff
    ladder — each fallback is integer ADDITION of pre-rounded component
    logs, expressed as one coalesce (a NULL join miss or NULL gamma
    falls through to the next rung):

        score2  = coalesce(logp2_4, g2(w2) + logp1_4, logp1_4)
        contrib = coalesce(logp3_4, logg12_4 + score2, score2)

    Scale shape: the shared scoring chain :func:`_score_chain` — the
    :func:`kn5_score_documents` ladder at order 3.  Tokenize -> ONE
    broadcast join against the (vocab+1)-row unigram side (OOV mapping +
    unigram scores + gammas in a single pass) -> the two previous tokens
    from one id-partitioned lag window (the shingling shuffle) -> THREE
    left equi-joins against the observed-gram sides (shuffled on their
    keys, AQE-broadcast when small; never collected) -> map-side-combined
    integer sum per doc, joined back.  The window and the
    groupBy/join-back are where this form differs from
    :func:`kn_trigram_score_documents_stream`."""
    return _score_chain(df, (unigram, bigram, trigram, context),
                        "kn_trigram", "kn_trigram_score_documents",
                        stream=False, text_col=text_col, id_col=id_col)
