"""One-call corpus curation: the published cleaning -> filtering -> dedup ->
decontamination -> selection chain (C4 / Gopher / CCNet / DSIR order), each
stage an already-oracled operator from ``functions/``, composed with a
per-stage tabulation report — the corpus-side analogue of
``engine.SubsetEngine.report()``.

This is deliberately a thin, transparent composition, not a framework: every
stage is the same call a user would write by hand (the stage list in the
report names them), the config is plain keyword arguments, and any stage is
skippable.  The value is the bookkeeping — docs in/out per stage in one
frame — and the enforced ORDER, which follows the published pipelines:
line-level cleaning before document filters (C4 §2.2), heuristics before
model scores (CCNet), dedup before decontamination (shared shingle work,
and eval overlap should be judged against the deduped corpus), selection
last (DSIR §3: weights are computed on the cleaned distribution).

Eleven per-document stages have ONE body each, shared with
:func:`condenser_spark.streaming.curate.curate_stream`: domain_prior, html,
normalize, badwords, c4, diversity, script, gopher, fineweb, code and pii
(``_<stage>_stage`` below), each a join-free projection/filter; the
diversity and fineweb operators themselves are single per-row bodies in
``functions/text.py``.  The rest keep two forms because the batch
algorithm differs: media/video, URL, line and substring dedup work over the
whole corpus here (pairs, the ``url_dedup`` aggregate, a self-join) and
probe a landed index on a stream; the langid, quality and unigram LM
scorers explode and aggregate here and use per-row twins there (per-row
langid measured 3.2x the batch wall at 1M docs, STRESS stage 21); the
bigram and Kneser-Ney LM scorers share one scoring chain
(``functions.lm._score_chain``) that reads previous tokens with a ``lag``
window and folds per document with ``groupBy`` here, and with per-row
``element_at`` and a micro-batch fold there; gopher_repetition defaults
to the 7-rule SQL table here and to the 12-rule kernel there, which give
different results.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def _options_fingerprint(opts: dict, schema_str: str) -> str:
    """Stable hash of a curation run's options + input schema, stored in
    the ``_chain.json`` marker so a resume with CHANGED stage options
    (e.g. different gopher thresholds) over the same ``materialize_dir``
    fails loud instead of silently reusing stale landings (ADVICE r14).

    Plain options (scalars, strings, dicts, lists) hash by VALUE — the
    common footgun.  Opaque objects (DataFrames, fitted models,
    callables) hash by type/shape only: a *retrained* model of the same
    class is indistinguishable, the documented residual of the standard
    checkpoint-reuse contract.  Same-schema changed input DATA is
    likewise the caller's responsibility (use a fresh directory per
    snapshot)."""
    import hashlib

    def canon(v):
        if v is None or isinstance(v, (bool, int, float, str)):
            return repr(v)
        if isinstance(v, dict):
            return "{" + ",".join(
                f"{canon(k)}:{canon(v[k])}" for k in sorted(v, key=str)
            ) + "}"
        if isinstance(v, (list, tuple, set, frozenset)):
            items = sorted(map(canon, v)) if isinstance(
                v, (set, frozenset)) else [canon(x) for x in v]
            return "[" + ",".join(items) + "]"
        if isinstance(v, DataFrame):
            return f"<DataFrame {sorted(v.columns)}>"
        if callable(v):
            return f"<fn {getattr(v, '__qualname__', type(v).__qualname__)}>"
        return f"<{type(v).__qualname__}>"

    payload = canon(opts) + "|schema:" + schema_str
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _resolve_perplexity_opts(perplexity_buckets: dict, lang_col: str):
    """Normalize the ``perplexity_buckets`` stage options — shared by the
    batch composer and ``streaming.curate.curate_stream`` so both
    validate identically.  Returns ``(lm, score_col, keep_idx,
    n_buckets, group_col, mode, accuracy, thresholds)``."""
    opts = dict(perplexity_buckets)
    lm = opts.pop("lm", None)
    score_col = opts.pop("score_col", None)
    if (lm is None) == (score_col is None):
        raise ValueError("perplexity_buckets needs exactly one of lm= "
                         "(a train_unigram_lm frame, a train_bigram_lm "
                         "2-tuple, a train_kn_trigram_lm 4-tuple, or a "
                         "save_lm artifact path) or score_col=")
    keep = opts.pop("keep", None)
    if keep is None:
        raise ValueError("perplexity_buckets needs keep= (bucket ints "
                         "and/or labels to KEEP, e.g. ('head', 'middle'))")
    if isinstance(keep, (str, int)):
        keep = (keep,)
    n_buckets = int(opts.pop("n_buckets", 3))
    group_col = opts.pop("group_col", lang_col)
    labels = opts.pop("labels", None)
    if labels is None and n_buckets == 3:
        labels = ("head", "middle", "tail")  # the CCNet names
    mode = opts.pop("mode", "approx")
    accuracy = int(opts.pop("accuracy", 10_000))
    thresholds = opts.pop("thresholds", None)
    if opts:
        raise ValueError(
            f"unknown perplexity_buckets keys: {sorted(opts)}")
    keep_idx = []
    for k in keep:
        if isinstance(k, str):
            if labels is None or k not in labels:
                raise ValueError(
                    f"keep label {k!r} not in labels={labels!r}")
            keep_idx.append(list(labels).index(k))
        else:
            keep_idx.append(int(k))
    bad = [i for i in keep_idx if not 0 <= i < n_buckets]
    if bad:
        raise ValueError(f"keep buckets {bad} outside [0, {n_buckets})")
    return (lm, score_col, sorted(set(keep_idx)), n_buckets, group_col,
            mode, accuracy, thresholds)


# Per-document stages shared by curate_corpus and streaming.curate_stream.
# Each is ``(cur, opts, *, text_col, id_col) -> DataFrame``: one join-free
# projection/filter over ``cur`` (stream-legal), returning the kept rows
# with the input columns — id first where the rest rides a kernel's
# ``keep_cols`` (see _hidden) — plus the dv_*/sc_* audit columns.
# curate_corpus re-selects its input columns after each.

def _stage_opts(opts) -> dict:
    return dict(opts) if isinstance(opts, dict) else {}


def _in_place_opts(stage: str, fn: str, opts) -> dict:
    opts = _stage_opts(opts)
    if opts.get("out_col") is not None:
        raise ValueError(
            f"{stage}={{'out_col': ...}} is not allowed in the chain "
            f"(the schema-preservation contract); call {fn} directly to "
            "add a column")
    return opts


def _hidden(cur, id_col):
    """``cur`` with each non-id column under a private name, and the map
    input name -> private name: a kernel's keep_cols passthrough then
    cannot collide with its outputs (an input ``n_lines``, ``doc_ok`` or
    ``n_tokens`` column)."""
    names = {c: f"_keep_{i}" for i, c in enumerate(cur.columns)
             if c != id_col}
    return cur.select(id_col, *[F.col(c).alias(h)
                                for c, h in names.items()]), names


def _domain_prior_stage(cur, opts, *, text_col, id_col):
    # NULL priors (no URL, or a domain absent from a stats= snapshot)
    # PASS — the chain's survive-by-default rule
    from condenser_spark.functions.urls import domain_prior

    opts = dict(opts)
    dp_kw = {k: opts.pop(k) for k in ("stats", "multi_suffixes")
             if k in opts}
    url_col = opts.pop("url_col", "url")
    max_share = opts.pop("max_share", None)
    min_docs = opts.pop("min_docs", None)
    if opts or (max_share is None and min_docs is None):
        raise ValueError(
            "domain_prior= takes max_share and/or min_docs (at "
            "least one) plus stats/url_col/multi_suffixes; got "
            f"unknown/empty: {sorted(opts) or '{}'}")
    cond = F.lit(True)
    if max_share is not None:
        cond = cond & (F.col("domain_doc_share").isNull()
                       | (F.col("domain_doc_share") <= float(max_share)))
    if min_docs is not None:
        cond = cond & (F.col("domain_n_docs").isNull()
                       | (F.col("domain_n_docs") >= int(min_docs)))
    return (domain_prior(cur, url_col, **dp_kw).filter(cond)
            .select(*cur.columns))


def _html_stage(cur, opts, *, text_col, id_col):
    # a scalar pandas_udf per row; REPLACES text_col in place
    from condenser_spark.functions.html import extract_html_text

    opts = _in_place_opts("html", "extract_html_text", opts)
    return extract_html_text(cur, text_col=text_col, **opts)


def _normalize_stage(cur, opts, *, text_col, id_col):
    # a scalar Arrow kernel per row; REPLACES text_col in place
    from condenser_spark.functions.text import normalize_text

    opts = _in_place_opts("normalize", "normalize_text", opts)
    return normalize_text(cur, text_col=text_col, **opts)


def _badwords_stage(cur, opts, *, text_col, id_col):
    # one codegen alternation regex riding the scan (the past-cap
    # token-join regime is batch-only; curate_stream guards it)
    from condenser_spark.functions.text import badwords_flags

    opts = dict(opts) if isinstance(opts, dict) else {"badwords": opts}
    flagged = badwords_flags(cur, text_col=text_col, id_col=id_col, **opts)
    return flagged.filter(~F.col("badwords_hit")).drop("badwords_hit")


def _c4_stage(cur, opts, *, text_col, id_col):
    from condenser_spark.functions.text import c4_clean, c4_pass_condition

    opts = _stage_opts(opts)
    # gate FIRST on the self-contained doc_ok condition (the
    # gopher_pass_condition twin): doc_ok depends only on the stage-input
    # text, so filtering before the cleaning projection keeps the row set
    # while (a) dropped docs never pay the text_clean rebuild and (b) no
    # ``filter("doc_ok")`` alias remains for Catalyst to substitute down
    # into an interpreted Filter above the Arrow kernels
    hid, names = _hidden(
        cur.filter(c4_pass_condition(text_col=text_col, **opts)), id_col)
    text = names.pop(text_col)
    cleaned = c4_clean(hid, text_col=text, id_col=id_col,
                       keep_cols=tuple(names.values()), **opts)
    return cleaned.select(id_col, F.col("text_clean").alias(text_col),
                          *[F.col(h).alias(c) for c, h in names.items()])


def _diversity_stage(cur, opts, *, text_col, id_col):
    # per-doc distinct-n ratios (Li et al. 2016) from the per-row kernel,
    # thresholded; there is no published universal threshold, so the
    # caller picks.  A doc too short to HAVE an n-gram of length n (ratio
    # NULL) passes: no repetition evidence.
    from condenser_spark.functions.text import diversity_stats

    opts = dict(opts)
    thresholds = {
        n: float(opts.pop(f"min_ratio_{n}"))
        for n in (1, 2, 3) if f"min_ratio_{n}" in opts
    }
    if opts or not thresholds:
        raise ValueError(
            "diversity= takes min_ratio_1/min_ratio_2/min_ratio_3 "
            f"(at least one); got unknown/empty: {sorted(opts) or '{}'}")
    hid, names = _hidden(cur, id_col)
    stats = diversity_stats(hid, text_col=names[text_col], id_col=id_col,
                            keep_cols=tuple(names.values()))
    cond = F.lit(True)
    for n, t in sorted(thresholds.items()):
        r = F.col(f"ratio_{n}")
        cond = cond & (r.isNull() | (r >= F.lit(t)))
    return stats.filter(cond).select(
        id_col, *[F.col(h).alias(c) for c, h in names.items()],
        F.col("n_tokens").alias("dv_n_tokens"),
        *[F.col(f"distinct_{n}").alias(f"dv_distinct_{n}")
          for n in (1, 2, 3)],
        *[F.col(f"ratio_{n}").alias(f"dv_ratio_{n}") for n in (1, 2, 3)],
    )


def _script_stage(cur, opts, *, text_col, id_col):
    # mixed-script spam gate (the CCNet pre-langid slot): pure codegen
    from condenser_spark.functions.langid import _SCRIPTS, script_gate_parts

    keep = tuple(c for c in cur.columns if c != id_col)
    stats, cond = script_gate_parts(cur, opts, text_col=text_col,
                                    id_col=id_col, keep_cols=keep)
    return stats.filter(cond).select(
        id_col, *keep, "sc_n_chars",
        *[f"sc_{stem}_frac" for stem, _ in _SCRIPTS], "sc_other_frac")


def _gopher_stage(cur, opts, *, text_col, id_col):
    # the substitution-proof single-expression form: a flags-then-filter
    # gate gets its predicate alias-substituted into one interpreted
    # Filter above the rewrite kernels with the tokenize subtree
    # re-inlined ~14x (measured 2.34 -> 0.42 s at sf0.1);
    # gopher_pass_condition binds the arrays once as lambda variables
    from condenser_spark.functions.text import gopher_pass_condition

    keep = tuple(c for c in cur.columns if c != id_col)
    return (cur.filter(gopher_pass_condition(text_col=text_col,
                                             **_stage_opts(opts)))
            .select(id_col, *keep))


def _fineweb_stage(cur, opts, *, text_col, id_col):
    # one per-row projection: the FineWeb line statistics as JVM
    # higher-order functions over the bound line array
    from condenser_spark.functions.text import fineweb_quality_flags

    hid, names = _hidden(cur, id_col)
    flagged = fineweb_quality_flags(
        hid, text_col=names[text_col], id_col=id_col,
        keep_cols=tuple(names.values()), **_stage_opts(opts))
    return flagged.filter(F.col("fineweb_pass")).select(
        id_col, *[F.col(h).alias(c) for c, h in names.items()])


def _gopher_repetition_stage(cur, opts, *, text_col, id_col):
    # all 12 A1.2 rules in one Arrow kernel per row (STRESS 27: faster
    # than the batch five-shuffle aggregate over its 7)
    from condenser_spark.streaming.textdedup import (
        gopher_repetition_stateless,
    )

    hid, names = _hidden(cur, id_col)
    flagged = gopher_repetition_stateless(
        hid, text_col=names[text_col], id_col=id_col,
        keep_cols=tuple(names.values()), **_stage_opts(opts))
    return flagged.filter(F.col("gopher_rep_pass")).select(
        id_col, *[F.col(h).alias(c) for c, h in names.items()])


def _code_stage(cur, opts, *, text_col, id_col):
    # The Stack's code-corpus rules (Kocetkov 2022 §2.3): pure codegen,
    # cq_-prefixed stats so a passthrough n_chars cannot shadow one
    from condenser_spark.functions.text import code_quality_flags

    keep = tuple(c for c in cur.columns if c != id_col)
    flagged = code_quality_flags(cur, text_col=text_col, id_col=id_col,
                                 keep_cols=keep, out_prefix="cq_",
                                 **_stage_opts(opts))
    return flagged.filter(F.col("cq_code_pass")).select(id_col, *keep)


def _pii_stage(cur, opts, *, text_col, id_col):
    # pure regexp_replace codegen; rewrites text_col in place
    from condenser_spark.functions.pii import redact_pii

    opts = _stage_opts(opts)
    if opts.pop("counts", False):
        raise ValueError(
            "pii={'counts': True} is not allowed in the chain (the "
            "schema-preservation contract); call redact_pii "
            "directly for the audit columns")
    return redact_pii(cur, text_col=text_col, **opts)


def curate_corpus(
    docs: DataFrame,
    *,
    url_filter: bool | dict = False,
    domain_prior: dict | None = None,
    html: bool | dict = False,
    normalize: bool | dict = False,
    line_dedup: bool | dict = False,
    badwords=None,
    c4: bool | dict = False,
    diversity: dict | None = None,
    script: dict | None = None,
    language_model=None,
    lang_col: str = "lang",
    perplexity_buckets: dict | None = None,
    gopher: bool | dict = False,
    gopher_repetition: bool | dict = False,
    fineweb: bool | dict = False,
    code: bool | dict = False,
    dedup: str | None = None,
    dedup_opts: dict | None = None,
    substring_dedup: bool | dict = False,
    eval_df: DataFrame | None = None,
    decontaminate_opts: dict | None = None,
    quality_model=None,
    quality_threshold: float = 0.0,
    dsir_opts: dict | None = None,
    temperature: dict | None = None,
    pii: bool | dict = False,
    media_dedup: bool | dict = False,
    video_dedup: bool | dict = False,
    extra_stages: list | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    report: bool = True,
    barrier: bool | None = None,
    materialize_dir: str | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Run the selected curation stages in the published order and return
    ``(curated_docs, report_df)``; ``report_df`` is one row per executed
    stage — (stage, docs_in, docs_out, docs_dropped) — or None with
    ``report=False`` (no counting actions; the result stays fully lazy).

    Stages (each optional, executed in this order):

    -2. ``media_dedup`` / ``video_dedup`` — ingest-level media dedup on
       a MEDIA_SCHEMA table (the examples/image_phash_dedup flow as one
       composer call): ``media_dedup`` is True or a kwargs dict for
       :func:`functions.multimodal.media_dedup` plus ``kinds=`` (default
       ``("image",)`` — rows of other kinds pass untouched; audio wants
       ``kinds=("audio",), method="audio"``); ``video_dedup`` likewise
       for :func:`functions.multimodal.video_dedup` (kind=video only by
       construction).  Keep-rows, schema-preserving; both raise on a
       text table (no ``kind`` column).
    -1. ``url_filter`` — the published FIRST stage (RefinedWeb/FineWeb
       §3.1: URL filtering happens BEFORE any text is read): True or a
       kwargs dict (``url_col`` default ``"url"``, ``blocked_domains``,
       ``dedup`` default True, plus :func:`functions.urls.curate_urls`
       passthroughs ``multi_suffixes``/``strip_www``/``sort_query``/
       ``broadcast_threshold``).  Drops docs whose registered domain is
       blocked, then (``dedup=True``) keeps one doc per normalized URL
       (min id) — block-then-dedup order, so a duplicate of a BLOCKED
       url survives via its unblocked copy.  Schema-preserving: the
       ``url_norm``/``url_domain``/``url_blocked`` working columns are
       projected away.
    -0.5. ``domain_prior`` — the RefinedWeb domain-signal slot
       (:func:`functions.urls.domain_prior`): a dict of ``max_share``
       (flood gate: drop docs whose registered domain holds more than
       this share of the corpus) and/or ``min_docs``, plus optional
       ``stats=`` (a :func:`functions.urls.domain_stats` frame from a
       trusted reference snapshot — the production regime; default
       self-prior), ``url_col``, ``multi_suffixes``.  Docs with NULL
       priors (no URL, or domain absent from the snapshot) PASS; the
       prior columns are projected away (schema-preserving).
    -0.2. ``html`` — HTML -> text extraction
       (:func:`functions.html.extract_html_text`): True or a kwargs
       dict (``max_link_density``, ``drop_nav``).  The FineWeb §3.1 /
       RefinedWeb §3.2 stage between the WARC fetch and the first
       filter — REPLACES ``text_col`` with the extracted
       newline-separated block text; run it on raw-HTML corpora
       (plain text collapses to one block).  No docs drop here (an
       all-boilerplate page survives with empty text; Gopher's
       word-count rule downstream removes it).
    -0.1. ``normalize`` — Unicode normalization
       (:func:`functions.text.normalize_text`): True or a kwargs dict
       (``form`` default NFC, ``strip_controls``, ``fix_mojibake``).
       The CCNet preprocessing step — REPLACES ``text_col`` so every
       downstream fingerprint/gate sees normalized text.  Runs right
       after extraction, before the first fingerprint.
    0. ``line_dedup`` — :func:`functions.text.dedup_lines`: True or a
       kwargs dict (``keep``/``min_count``/``strip_digits``); CCNet's
       actual first stage — cross-document paragraph dedup BEFORE any
       other rule (boilerplate repeats across a crawl far more than whole
       documents do).  REPLACES ``text_col`` with the deduped rebuild.
       Documents whose every line drops STAY, with empty text (the stage
       counts docs, not lines); Gopher's word-count rule drops them
       downstream, or add an ``extra_stages`` length filter.
    0b. ``badwords`` — C4 SS2.2's FIRST rule
       (:func:`functions.text.badwords_flags`): a word list (load with
       :func:`functions.text.load_badwords`) or a kwargs dict
       (``badwords=`` plus ``max_plan_literals``); DROPS any document
       containing a listed word (whole-word boundary — "ass" does not
       hit "class").  One codegen regex riding the scan for every
       published list size.
    1. ``c4`` — :func:`functions.text.c4_clean`: True or a kwargs dict;
       drops ``doc_ok=False`` docs and REPLACES ``text_col`` with the
       cleaned text (downstream stages see clean lines).
    1b. ``diversity`` — the repetition/diversity gate (the slot the
       stream chain uses; Gopher's A1.1 rules in stage 3 do NOT cover
       distinct-n repetition): a dict of ``min_ratio_1/2/3`` (any
       subset, at least one) thresholding the per-document Li et al.
       2016 distinct-n ratios; short docs whose ratio is NULL pass
       (no repetition evidence).  Runs via the join-free per-row
       kernel (:func:`functions.text.diversity_stats`, stream-legal,
       oracle-pinned); the stats columns are dropped so the schema is
       preserved.  There is no published universal
       threshold — the caller picks per corpus.
    1c. ``script`` — the mixed-script spam gate (CCNet's pre-langid
       slot; :func:`functions.langid.script_stats`): a dict of
       ``min_/max_<stem>_frac`` thresholds over the Unicode-script
       fractions plus ``other`` (chars in no listed class — e.g.
       ``{"max_other_frac": 0.2}``).  Pure codegen, join-free,
       schema-preserving.
    2. ``language_model`` — :func:`functions.langid.language_top1`
       (a fitted :class:`functions.langid.LanguageModel`): REWRITES the
       existing ``lang_col`` with the classifier's argmax (CCNet runs
       langid right after line cleaning, before any quality rule), so the
       per-language stages downstream (``dsir_opts['group_col']``,
       ``temperature``) key on a first-class signal.  ``lang_col`` must
       already exist — the stage preserves the schema by replacing
       values, never adding columns.
    2b. ``perplexity_buckets`` — the CCNet §4.3 KEEP decision (Wenzek
       2020: split each language into equal head/middle/tail thirds by
       reference-LM perplexity, keep the best buckets), right after
       langid per the published order.  A dict:

       * ``lm`` (a :func:`functions.lm.train_unigram_lm` frame, a
         :func:`functions.lm.train_bigram_lm` 2-tuple, a
         :func:`functions.lm.train_kn_trigram_lm` 4-tuple, a
         :func:`functions.lm.train_kn5_lm` 8-tuple — the published
         KenLM order — or a :func:`functions.lm.save_lm` artifact
         path; docs are scored with the matching scorer and bucketed
         on rising perplexity, so bucket 0 = most reference-like) OR
         ``score_col`` (an existing column, ascending = best first;
         exactly one of the two);
       * ``keep`` (required): bucket ints and/or labels to KEEP, e.g.
         ``("head", "middle")``;
       * ``n_buckets`` (default 3), ``group_col`` (default
         ``lang_col``), ``labels`` (default head/middle/tail when
         ``n_buckets == 3``), ``mode`` (``"approx"`` default — the
         100 TB one-agg-plus-broadcast regime; ``"exact"`` for the
         oracled window rule), ``accuracy``;
       * ``thresholds``: a PRECOMPUTED
         :func:`functions.corpus.quantile_thresholds` frame —
         overrides ``mode``, applies via the stream-legal broadcast
         join; a group ABSENT from it (a language appearing after the
         snapshot) gets a NULL bucket and is DROPPED by the keep
         filter (conservative: no reference signal, no keep — route
         novel languages separately if you want them).

       Schema-preserving: scoring/bucket working columns are projected
       away.
    3. ``gopher`` — :func:`functions.text.gopher_quality_flags`: True or a
       kwargs dict; keeps ``gopher_pass`` docs.
    3b. ``gopher_repetition`` — the A1.2 companion table
       (:func:`functions.text.gopher_repetition_flags`): True or a
       kwargs dict of threshold overrides; keeps ``gopher_rep_pass``
       docs (duplicate line/paragraph and top-n-gram character rules at
       the paper's defaults).
    3c. ``fineweb`` — the three custom FineWeb heuristics
       (:func:`functions.text.fineweb_quality_flags`, Penedo 2024
       §3.4): True or a threshold-override dict; keeps
       ``fineweb_pass`` docs (line-punctuation floor, short-line
       ceiling, duplicated-line-chars ceiling at the paper's
       defaults).
    3d. ``code`` — The Stack's code-corpus rules
       (:func:`functions.text.code_quality_flags`, Kocetkov 2022
       §2.3): True or a kwargs dict (``max_avg_line_len``,
       ``max_line_len``, ``min_alpha_frac``, ``drop_xml_header``);
       drops docs failing the conjunction.  Pure codegen, join-free,
       schema-preserving (``cq_``-prefixed internals) — for code
       corpora, not prose.
    4. ``dedup`` — ``"exact"`` (:func:`functions.dedup.exact_dedup`
       keep-rows via its survivor ids) or ``"near"``
       (:func:`functions.dedup.near_dedup_documents`), ``dedup_opts``
       passed through (incl. ``keep_col``).
    4b. ``substring_dedup`` — :func:`functions.text.exact_substring_dedup`
       (Lee et al. 2021): True or a kwargs dict (``k``/``min_count``/
       ``keep``); runs AFTER whole-document dedup (cut spans only where
       whole-doc collapse did not already remove the copy) and REPLACES
       ``text_col`` with the span-cut rebuild, same empty-doc note as
       ``line_dedup``.
    5. ``eval_df`` — :func:`functions.dedup.decontaminate_bloom` against
       the supplied eval/benchmark corpus, ``decontaminate_opts`` passed
       through.
    6. ``quality_model`` — :func:`functions.quality.score_documents` +
       keep ``quality_logit >= quality_threshold``.
    7. ``dsir_opts`` — dict with ``target_lm``, ``raw_lm``, ``k`` (and
       optionally ``dim``, ``group_col``, ``salt``):
       :func:`functions.dsir.dsir_sample` or, with ``group_col``,
       :func:`functions.dsir.dsir_sample_per_group`; selection audit
       columns are dropped so the output schema stays the input schema.
    8. ``temperature`` — dict of :func:`functions.corpus.temperature_mix`
       kwargs (e.g. ``{"tau": 0.7, "source_col": "lang"}``).
    9. ``pii`` — :func:`functions.pii.redact_pii` (BigCode/Dolma PII
       masking): True or a kwargs dict (``kinds``, ``replacements``).
       Runs LAST, after all dedup/selection (the published order —
       Dolma §4.2 redacts after dedup so masking never changes
       survivor election), rewrites ``text_col`` in place, never adds
       columns (``counts=`` is rejected here — the chain's
       schema-preservation contract; call ``redact_pii`` directly for
       the audit columns).  Pure codegen, join-free, stream-legal.

    ``extra_stages`` interleaves CUSTOM filters without forking the
    composer: each entry is ``(name, fn)`` — appended after the built-in
    chain in declared order — or ``(name, fn, anchor)`` to run right
    after the named built-in stage (anchors are the report stage names:
    ``"start"``, ``"media_dedup"``, ``"video_dedup"``,
    ``"url_filter"``, ``"domain_prior"``,
    ``"line_dedup"``, ``"badwords"``,
    ``"c4_clean"``, ``"diversity_gate"``, ``"script_gate"``,
    ``"language_id"``, ``"perplexity_buckets"``,
    ``"gopher_rules"``, ``"gopher_repetition"``, ``"fineweb_rules"``,
    ``"exact_dedup"``,
    ``"near_dedup"``,
    ``"substring_dedup"``, ``"decontaminate"``, ``"quality_filter"``,
    ``"dsir_select"``, ``"temperature_mix"``, ``"pii_redact"``,
    ``"end"``).  ``fn`` takes
    and returns a DataFrame and MUST preserve the column set (the chain's
    composability contract — enforced fail-loud); custom stages get the
    same barrier and the same report row as built-ins.  An anchor whose
    built-in stage was not enabled raises instead of silently skipping
    the custom stage.

    Every stage preserves the input schema (c4 swaps text content only),
    so the chain composes with any downstream operator.  ``id_col`` must
    be unique: line_dedup and substring_dedup join their rewritten text
    back on it, and multiply a repeated id.  The stages listed in the
    module docstring share their body with ``curate_stream`` (media/video,
    URL, line and substring dedup, langid, quality, perplexity and
    gopher_repetition keep a batch form, for the reasons given there).

    ``barrier`` (default: ``report``) inserts a lazy ``localCheckpoint``
    after each stage — the SubsetEngine phase-barrier lesson applied here:
    without it every per-stage count (and every later stage) re-executes
    the whole unbarriered prefix chain, and a five-stage chain's nested
    shingle/bloom/LM plans recompute enough times to exhaust a default
    driver heap (observed in the test suite before the barrier landed).

    ``report=True`` runs one ``count()`` action per stage to build the
    tabulation; ``report=False, barrier=False`` is the ZERO-extra-action
    path for production chains — the result stays one fully lazy plan and
    nothing executes until the caller's own action (land the report
    separately, e.g. from :func:`functions.corpus.mixture_report` diffs,
    when you need both).

    ``materialize_dir`` makes the run RESUMABLE — the operational
    contract a multi-hour 100 TB chain needs: each stage lands to
    ``<dir>/<NN>_<stage>`` parquet EAGERLY (execution happens stage by
    stage, not lazily) and later stages read the landed output, so the
    lineage never stacks.  On a re-run over the same directory, every
    stage whose landing already completed (``_SUCCESS`` present) is
    SKIPPED and its landed output reused — a chain that died at stage 7
    restarts from landed stage 6, and a partial landing (no
    ``_SUCCESS``) is overwritten.  A ``_chain.json`` marker records the
    stage sequence AND a fingerprint of the stage options + input
    schema; re-running a DIFFERENT chain shape or different options
    over the same directory fails loud instead of silently reusing
    stale landings.  Residual caller responsibility (documented, the
    standard checkpoint-reuse contract): changed input DATA under the
    same schema, or a retrained model object of the same class — use a
    fresh directory per snapshot.  Supersedes ``barrier`` (the parquet
    landing IS the barrier); driver-local path semantics like
    ``landed_manifest``."""
    dedup_opts = dict(dedup_opts or {})
    decontaminate_opts = dict(decontaminate_opts or {})
    if barrier is None:
        barrier = report
    stages: list[tuple[str, DataFrame]] = []
    cur = docs

    _ANCHORS = ("start", "media_dedup", "video_dedup",
                "url_filter", "domain_prior", "html_extract",
                "normalize_text", "line_dedup",
                "badwords", "c4_clean", "diversity_gate", "script_gate",
                "language_id", "perplexity_buckets",
                "gopher_rules", "gopher_repetition", "fineweb_rules",
                "code_rules", "exact_dedup",
                "near_dedup", "substring_dedup", "decontaminate",
                "quality_filter",
                "dsir_select", "temperature_mix", "pii_redact", "end")
    pending: dict[str, list] = {}
    for entry in (extra_stages or []):
        name, fn = entry[0], entry[1]
        anchor = entry[2] if len(entry) > 2 else "end"
        if anchor not in _ANCHORS:
            raise ValueError(
                f"extra_stages anchor {anchor!r} is not a stage name; "
                f"use one of {_ANCHORS}")
        pending.setdefault(anchor, []).append((str(name), fn))

    if materialize_dir is not None:
        import json as _json
        import os as _os

        barrier = False  # the parquet landing IS the barrier
        _fp = _options_fingerprint(
            {
                "url_filter": url_filter, "domain_prior": domain_prior,
                "html": html, "normalize": normalize,
                "line_dedup": line_dedup, "badwords": badwords,
                "c4": c4, "diversity": diversity, "script": script,
                "language_model": language_model, "lang_col": lang_col,
                "perplexity_buckets": perplexity_buckets,
                "gopher": gopher, "gopher_repetition": gopher_repetition,
                "fineweb": fineweb, "code": code,
                "dedup": dedup, "dedup_opts": dedup_opts,
                "substring_dedup": substring_dedup,
                "eval_df": eval_df,
                "decontaminate_opts": decontaminate_opts,
                "quality_model": quality_model,
                "quality_threshold": quality_threshold,
                "dsir_opts": dsir_opts, "temperature": temperature,
                "pii": pii, "media_dedup": media_dedup,
                "video_dedup": video_dedup,
                "extra_stages": extra_stages,
                "text_col": text_col, "id_col": id_col,
            },
            docs.schema.simpleString(),
        )
        _os.makedirs(materialize_dir, exist_ok=True)
        _chain_path = _os.path.join(materialize_dir, "_chain.json")
        _chain_seen: list[str] = []
        if _os.path.exists(_chain_path):
            with open(_chain_path) as _f:
                _marker = _json.load(_f)
            if isinstance(_marker, list):
                # pre-r15 marker format (bare stage list): shape is still
                # guarded, option staleness is not — warn, don't brick
                # an existing landing
                _chain_seen = _marker
                logger.warning(
                    "materialize_dir %r carries a pre-fingerprint marker; "
                    "stage-OPTION staleness cannot be checked for this "
                    "resume (stage shape still is)", materialize_dir)
            else:
                _chain_seen = _marker["stages"]
                if _marker.get("fingerprint") != _fp:
                    raise ValueError(
                        f"materialize_dir {materialize_dir!r} was landed "
                        f"with different stage options or input schema "
                        f"(fingerprint {_marker.get('fingerprint')!r} != "
                        f"{_fp!r}) — resuming would silently reuse stale "
                        f"landings; use a fresh directory")
        _seq = {"i": 0}

        def _write_marker() -> None:
            # atomic: a kill mid-write must never leave corrupt JSON
            # that blocks every later resume
            tmp = _chain_path + ".tmp"
            with open(tmp, "w") as f:
                _json.dump({"fingerprint": _fp, "stages": _chain_seen}, f)
            _os.replace(tmp, _chain_path)

    def _record(name: str, nxt: DataFrame) -> DataFrame:
        if materialize_dir is not None:
            import os as _os

            i = _seq["i"] = _seq["i"] + 1
            if len(_chain_seen) >= i and _chain_seen[i - 1] != name:
                raise ValueError(
                    f"materialize_dir {materialize_dir!r} was landed by a "
                    f"different chain shape: stage {i} there is "
                    f"{_chain_seen[i - 1]!r}, this run produces {name!r} — "
                    f"use a fresh directory")
            spark = docs.sparkSession
            path = _os.path.join(materialize_dir, f"{i:02d}_{name}")
            if _os.path.exists(_os.path.join(path, "_SUCCESS")):
                nxt = spark.read.parquet(path)   # restart: reuse landed
            else:
                nxt.write.mode("overwrite").parquet(path)
                nxt = spark.read.parquet(path)
            if len(_chain_seen) < i:
                # also backfills a reuse whose marker write was lost to
                # a crash between the landing and the json write —
                # otherwise later appends would misalign the guard
                _chain_seen.append(name)
                _write_marker()
            stages.append((name, nxt))
            return nxt
        if barrier:
            nxt = nxt.localCheckpoint(eager=False)
        stages.append((name, nxt))
        return nxt

    def _apply_extra(anchor: str) -> None:
        nonlocal cur
        for name, fn in pending.pop(anchor, []):
            out = fn(cur)
            if set(out.columns) != set(cur.columns):
                raise ValueError(
                    f"extra stage {name!r} changed the column set "
                    f"({sorted(set(out.columns) ^ set(cur.columns))}) — "
                    "curate_corpus stages must preserve the schema so the "
                    "chain stays composable; project inside the stage")
            cur = _record(name, out)

    def _shared(name: str, stage, opts) -> None:
        # a stage body curate_stream runs too, projected back to the
        # input columns (dropping the stream's audit columns)
        nonlocal cur
        cur = _record(name, stage(cur, opts, text_col=text_col,
                                  id_col=id_col).select(*cur.columns))
        _apply_extra(name)

    def _rejoin_text(name: str, rewritten: DataFrame) -> None:
        # the rewritten text joined back on id_col (a repeated id
        # multiplies rows: id_col must be unique)
        nonlocal cur
        new = rewritten.select(id_col, F.col(text_col).alias("_text_new"))
        cur = _record(name, cur.join(new, on=id_col).select(
            *[F.col("_text_new").alias(text_col) if c == text_col
              else F.col(c) for c in cur.columns]))
        _apply_extra(name)

    _apply_extra("start")
    if media_dedup:
        # two forms: an in-corpus pairwise dedup here, a probe of a landed
        # hash index in curate_stream.
        # ingest-level media dedup FIRST (the examples/image_phash_dedup
        # flow as one composer stage — r16 punch #5): keep-rows
        # perceptual-hash dedup over the kinds= modalities (default
        # image; audio wants method="audio" with kinds=("audio",)),
        # every other row passes untouched.  kind=video belongs to the
        # video_dedup= stage — raw-payload image hashes over video
        # bytes would be meaningless near-dup evidence.
        from condenser_spark.functions.multimodal import (
            media_dedup as _media_dedup_fn,
        )

        opts = dict(media_dedup) if isinstance(media_dedup, dict) else {}
        kinds = tuple(opts.pop("kinds", ("image",)))
        if "kind" not in cur.columns:
            raise ValueError(
                "media_dedup= needs a MEDIA_SCHEMA input (no 'kind' "
                "column) — this stage curates media tables, not text")
        in_scope = cur.filter(F.col("kind").isin(list(kinds)))
        pass_through = cur.filter(
            F.col("kind").isNull() | ~F.col("kind").isin(list(kinds)))
        cur = _record(
            "media_dedup",
            _media_dedup_fn(in_scope, **opts).unionByName(pass_through))
        _apply_extra("media_dedup")
    if video_dedup:
        # two forms, as media_dedup: in-corpus here, landed-index probe in
        # curate_stream.
        # temporal-fingerprint keep-rows dedup for kind=video; non-video
        # rows pass through inside functions.video_dedup by construction
        from condenser_spark.functions.multimodal import (
            video_dedup as _video_dedup_fn,
        )

        opts = dict(video_dedup) if isinstance(video_dedup, dict) else {}
        if "kind" not in cur.columns:
            raise ValueError(
                "video_dedup= needs a MEDIA_SCHEMA input (no 'kind' "
                "column) — this stage curates media tables, not text")
        cur = _record("video_dedup", _video_dedup_fn(cur, **opts))
        _apply_extra("video_dedup")
    if url_filter:
        # two forms: the url_dedup aggregate here, a landed-corpus URL
        # bloom in curate_stream (a stream cannot aggregate statelessly)
        from condenser_spark.functions.urls import curate_urls, url_dedup

        opts = dict(url_filter) if isinstance(url_filter, dict) else {}
        url_col = opts.pop("url_col", "url")
        do_dedup = opts.pop("dedup", True)
        blocked = opts.pop("blocked_domains", ())
        dedup_kw = {k: opts[k] for k in ("strip_www", "sort_query")
                    if k in opts}
        kept = cur
        if blocked:
            flagged = curate_urls(cur, url_col, blocked_domains=blocked,
                                  **opts)
            kept = flagged.filter(~F.col("url_blocked")).select(
                *cur.columns)
        if do_dedup:
            kept = url_dedup(kept, url_col, id_col, **dedup_kw).select(
                *cur.columns)
        cur = _record("url_filter", kept)
        _apply_extra("url_filter")
    if domain_prior is not None:
        _shared("domain_prior", _domain_prior_stage, domain_prior)
    if html:
        _shared("html_extract", _html_stage, html)
    if normalize:
        _shared("normalize_text", _normalize_stage, normalize)
    if line_dedup:
        # two forms: a corpus self-join here, a landed-index bloom probe
        # in curate_stream
        from condenser_spark.functions.text import dedup_lines

        _rejoin_text("line_dedup", dedup_lines(
            cur, text_col=text_col, id_col=id_col,
            **_stage_opts(line_dedup)))
    if badwords is not None:
        _shared("badwords", _badwords_stage, badwords)
    if c4:
        _shared("c4_clean", _c4_stage, c4)
    if diversity is not None:
        _shared("diversity_gate", _diversity_stage, diversity)
    if script is not None:
        _shared("script_gate", _script_stage, script)
    if language_model is not None:
        # two forms: explode-and-aggregate scoring here, the per-row
        # stateless twin in curate_stream
        from condenser_spark.functions.langid import language_top1

        if lang_col not in cur.columns:
            raise ValueError(
                f"language_model stage rewrites lang_col={lang_col!r} but "
                "the column does not exist — add it upstream (stages must "
                "preserve the schema, so the stage replaces values rather "
                "than adding a column)")
        pred = language_top1(cur, language_model, text_col=text_col,
                             id_col=id_col, out_col="_lang_pred")
        cur = _record(
            "language_id",
            pred.select(
                *[F.col("_lang_pred").alias(lang_col) if c == lang_col
                  else F.col(c) for c in cur.columns]),
        )
        _apply_extra("language_id")
    if perplexity_buckets is not None:
        # two forms: the batch scorers and quantile aggregate here, the
        # per-row twins against landed thresholds in curate_stream
        from condenser_spark.functions.corpus import (
            apply_quantile_thresholds,
            quantile_buckets,
        )

        (lm, score_col, keep_idx, n_buckets, group_col, mode, accuracy,
         thresholds) = _resolve_perplexity_opts(perplexity_buckets,
                                                lang_col)
        if group_col is not None and group_col not in cur.columns:
            raise ValueError(
                f"perplexity_buckets group_col {group_col!r} not in the "
                f"input — pass group_col=None for a global split")
        keep_cols_all = list(cur.columns)
        if lm is not None:
            # lm= dispatches on the trained-model shape: a single frame
            # is the unigram LM; (uni, bi) the Jelinek-Mercer bigram;
            # (uni, bi, tri, ctx) the Kneser-Ney trigram — the published
            # CCNet form (Wenzek 2020 scores with a Kneser-Ney KenLM).
            # All three negate the mean log-prob so bucket 0 stays the
            # most reference-like (rising perplexity).  A string is a
            # save_lm artifact path: the two-job regime (train once,
            # score many) loads the landed sides here and falls through
            # to the same shape dispatch.
            if isinstance(lm, str):
                from condenser_spark.functions.lm import load_lm

                lm = load_lm(cur.sparkSession, lm)
            if isinstance(lm, (tuple, list)) and len(lm) == 8:
                from condenser_spark.functions.lm import (
                    kn5_score_documents,
                )

                scored = kn5_score_documents(
                    cur, *lm, text_col=text_col, id_col=id_col
                ).withColumn("_ppl_score", -F.col("lm5_logprob"))
            elif isinstance(lm, (tuple, list)) and len(lm) == 4:
                from condenser_spark.functions.lm import (
                    kn_trigram_score_documents,
                )

                scored = kn_trigram_score_documents(
                    cur, *lm, text_col=text_col, id_col=id_col
                ).withColumn("_ppl_score", -F.col("lm3_logprob"))
            elif isinstance(lm, (tuple, list)) and len(lm) == 2:
                from condenser_spark.functions.lm import (
                    bigram_score_documents,
                )

                scored = bigram_score_documents(
                    cur, *lm, text_col=text_col, id_col=id_col
                ).withColumn("_ppl_score", -F.col("lm2_logprob"))
            elif isinstance(lm, (tuple, list)):
                raise ValueError(
                    f"perplexity_buckets lm= tuple must have 2 frames "
                    f"(train_bigram_lm), 4 (train_kn_trigram_lm), or 8 "
                    f"(train_kn5_lm): got {len(lm)}")
            else:
                from condenser_spark.functions.lm import lm_score_documents

                scored = lm_score_documents(
                    cur, lm, text_col=text_col, id_col=id_col
                ).withColumn("_ppl_score", -F.col("lm_logprob"))
            score_use = "_ppl_score"
        else:
            if score_col not in cur.columns:
                raise ValueError(
                    f"perplexity_buckets score_col {score_col!r} not in "
                    f"the input — score upstream or pass lm=")
            scored = cur
            score_use = score_col
        if thresholds is not None:
            bucketed = apply_quantile_thresholds(
                scored, thresholds, score_use, n_buckets=n_buckets,
                group_col=group_col, bucket_col="_ppl_bkt")
        else:
            bucketed = quantile_buckets(
                scored, score_use, n_buckets=n_buckets,
                group_col=group_col, id_col=id_col,
                bucket_col="_ppl_bkt", mode=mode, accuracy=accuracy)
        cur = _record(
            "perplexity_buckets",
            bucketed.filter(F.col("_ppl_bkt").isin(keep_idx))
            .select(*keep_cols_all),
        )
        _apply_extra("perplexity_buckets")
    if gopher:
        _shared("gopher_rules", _gopher_stage, gopher)
    if gopher_repetition:
        # two forms: the default here is the 7-rule SQL-native table,
        # curate_stream's the 12-rule kernel (different results)
        opts = _stage_opts(gopher_repetition)
        if any(k.startswith("max_dup_") and k.endswith("gram_char_frac")
               for k in opts):
            # the duplicated 5..10-gram coverage rows (A1.2 rows 7-12)
            # only exist in the 12-rule kernel; switch when requested
            _shared("gopher_repetition", _gopher_repetition_stage, opts)
        else:
            from condenser_spark.functions.text import (
                gopher_repetition_flags,
            )

            flags = gopher_repetition_flags(cur, text_col=text_col,
                                            id_col=id_col, **opts)
            cur = _record(
                "gopher_repetition",
                cur.join(flags.filter(F.col("gopher_rep_pass"))
                         .select(id_col), on=id_col, how="left_semi"))
            _apply_extra("gopher_repetition")
    if fineweb:
        _shared("fineweb_rules", _fineweb_stage, fineweb)
    if code:
        _shared("code_rules", _code_stage, code)
    if dedup is not None:
        if dedup == "exact":
            from condenser_spark.functions.dedup import exact_dedup

            survivors = exact_dedup(cur, text_col, id_col).select(id_col)
            cur = _record("exact_dedup",
                          cur.join(survivors, on=id_col, how="left_semi"))
            _apply_extra("exact_dedup")
        elif dedup == "near":
            from condenser_spark.functions.dedup import near_dedup_documents

            cur = _record(
                "near_dedup",
                near_dedup_documents(cur, text_col=text_col, id_col=id_col,
                                     **dedup_opts),
            )
            _apply_extra("near_dedup")
        else:
            raise ValueError(f"dedup must be 'exact'|'near'|None: {dedup!r}")
    if substring_dedup:
        # two forms, as line_dedup: a corpus self-join here, a landed
        # k-gram bloom probe in curate_stream
        from condenser_spark.functions.text import exact_substring_dedup

        _rejoin_text("substring_dedup", exact_substring_dedup(
            cur, text_col=text_col, id_col=id_col,
            **_stage_opts(substring_dedup)))
    if eval_df is not None:
        from condenser_spark.functions.dedup import decontaminate_bloom

        cur = _record(
            "decontaminate",
            decontaminate_bloom(cur, eval_df, text_col=text_col,
                                id_col=id_col, **decontaminate_opts),
        )
        _apply_extra("decontaminate")
    if quality_model is not None:
        # two forms: explode-and-aggregate scoring here, the per-row
        # stateless twin in curate_stream
        from condenser_spark.functions.quality import score_documents

        scored = score_documents(cur, quality_model, text_col=text_col,
                                 id_col=id_col)
        cur = _record(
            "quality_filter",
            scored.filter(F.col("quality_logit") >= quality_threshold)
            .select(*[c for c in cur.columns]),
        )
        _apply_extra("quality_filter")
    if dsir_opts:
        opts = dict(dsir_opts)
        target_lm, raw_lm = opts.pop("target_lm"), opts.pop("raw_lm")
        k = opts.pop("k")
        group_col = opts.pop("group_col", None)
        if group_col is None:
            from condenser_spark.functions.dsir import dsir_sample

            sel = dsir_sample(cur, k, target_lm, raw_lm, text_col=text_col,
                              id_col=id_col, **opts)
        else:
            from condenser_spark.functions.dsir import dsir_sample_per_group

            sel = dsir_sample_per_group(cur, k, target_lm, raw_lm,
                                        group_col=group_col,
                                        text_col=text_col, id_col=id_col,
                                        **opts)
        cur = _record("dsir_select", sel.select(*[c for c in cur.columns]))
        _apply_extra("dsir_select")
    if temperature:
        from condenser_spark.functions.corpus import temperature_mix

        cur = _record("temperature_mix",
                      temperature_mix(cur, id_col=id_col, **temperature))
        _apply_extra("temperature_mix")
    if pii:
        # published LAST (Dolma §4.2): masking after dedup/selection so
        # placeholder tokens never change survivor election
        _shared("pii_redact", _pii_stage, pii)

    _apply_extra("end")
    if pending:
        raise ValueError(
            f"extra_stages anchored to stages that did not run: "
            f"{sorted(pending)} — enable those stages or re-anchor")
    if materialize_dir is not None and len(_chain_seen) > _seq["i"]:
        raise ValueError(
            f"materialize_dir {materialize_dir!r} was landed by a LONGER "
            f"chain ({len(_chain_seen)} stages, this run has "
            f"{_seq['i']}) — use a fresh directory")

    if not report:
        return cur, None
    rows = []
    n_in = docs.count()
    for name, frame in stages:
        n_out = frame.count()
        rows.append((name, n_in, n_out, n_in - n_out))
        n_in = n_out
    spark = docs.sparkSession
    from condenser_spark.registry import lookup_df

    rep = lookup_df(
        spark,
        rows or [("noop", n_in, n_in, 0)],
        "stage string, docs_in long, docs_out long, docs_dropped long",
    )
    return cur, rep
