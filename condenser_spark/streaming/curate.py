"""One-call INGEST-TIME curation: the stateless subset of
:func:`condenser_spark.curate.curate_corpus`, composable on a Structured
Streaming frame — readStream -> curate_stream -> writeStream with NO
aggregates, NO watermark, NO state store (joins are stream-static only).

The per-document stages (domain_prior, html, normalize, badwords, c4,
diversity, script, gopher, fineweb, code, pii) are the batch composer's own
stage bodies, each one map over the micro-batch.  Where the batch
algorithm needs the whole corpus, this one probes what is already landed:
URL, line and ExactSubstr dedup against blooms of the landed corpus
(``build_url_bloom``, ``build_line_bloom``, ``build_kgram_bloom``),
media/video dedup against a landed index (``curate_micro_batch`` on a
stream),
perplexity against landed thresholds; langid, quality and perplexity
score with the per-row twins, and gopher_repetition runs the 12-rule
kernel.  Instead of the batch per-stage COUNT report (an aggregation a
stream cannot run statelessly) it returns per-document audit columns —
``ld_*``, ``es_*``, ``dv_*``, ``sc_*``, ``quality_logit`` — to aggregate
downstream on whatever window the monitoring needs.

The output is a plain DataFrame transformation, so the SAME call runs on
a batch frame: the parity surface (tests/test_curate_stream.py) and what
the DuckDB oracle replays (goldens_ext.ext_curate_stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from condenser_spark.curate import (
    _badwords_stage,
    _c4_stage,
    _code_stage,
    _diversity_stage,
    _domain_prior_stage,
    _fineweb_stage,
    _gopher_repetition_stage,
    _gopher_stage,
    _html_stage,
    _normalize_stage,
    _pii_stage,
    _resolve_perplexity_opts,
    _script_stage,
)
from condenser_spark.functions.dedup import ShingleBloom, _bloom_hash_cols
from condenser_spark.streaming.textdedup import (
    _collect_bloom,
    _member_col,
    dedup_lines_stream,
    exact_substring_stream,
)

__all__ = ["build_url_bloom", "curate_stream"]


def build_url_bloom(
    docs: DataFrame,
    url_col: str = "url",
    fp_rate: float = 1e-3,
    max_bits: int = 1 << 31,
    max_urls: int = 50_000_000,
) -> ShingleBloom | None:
    """Pack the landed corpus's distinct NORMALIZED URLs
    (:func:`functions.urls.normalize_url` DEFAULT identity — strip_www +
    sort_query, deliberately not configurable: :func:`curate_stream`'s
    probe side normalizes with the same defaults via ``curate_urls``, and
    a bloom built under a different normalization would silently mismatch
    the probe identity, ADVICE r11) into a ShingleBloom for
    :func:`curate_stream`'s URL stage — the ingest form of FineWeb
    keep-first URL dedup: a landed URL is by definition the earlier
    site.  ``None`` when the landed side has no URLs.  A false positive
    drops a never-landed URL at the achieved rate — for exactness-grade
    settings request fp_rate=1e-18 (the k=16-cap arithmetic in
    streaming/textdedup.py's module docstring)."""
    from condenser_spark.functions.urls import normalize_url

    norm = normalize_url(F.col(url_col))
    hashes = (
        docs.select(norm.alias("shingle"))
        .filter(F.col("shingle").isNotNull() & (F.col("shingle") != ""))
        .select(*_bloom_hash_cols())
    )
    return _collect_bloom(hashes, fp_rate, max_bits, max_urls,
                          "build_url_bloom")

_LD_AUDIT = {
    "n_lines": "ld_n_lines",
    "n_removed_lines": "ld_removed_lines",
    "n_removed_tokens": "ld_removed_tokens",
    "n_removed_chars": "ld_removed_chars",
}
_ES_AUDIT = {
    "n_tokens": "es_n_tokens",
    "n_removed_tokens": "es_removed_tokens",
    "n_removed_chars": "es_removed_chars",
}


def curate_stream(
    docs: DataFrame,
    *,
    url_bloom: ShingleBloom | None = None,
    blocked_domains=(),
    url_col: str = "url",
    domain_prior: dict | None = None,
    html: bool | dict = False,
    normalize: bool | dict = False,
    line_bloom: ShingleBloom | None = None,
    strip_digits: bool = False,
    kgram_bloom: ShingleBloom | None = None,
    k: int = 50,
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
    quality_model=None,
    quality_threshold: float = 0.0,
    pii: bool | dict = False,
    media_dedup: dict | None = None,
    video_dedup: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Run the enabled stateless curation stages in the published order
    (URL -> domain-prior -> HTML-extract -> normalize -> line-dedup ->
    ExactSubstr -> badwords -> C4 -> diversity -> script -> langid ->
    perplexity-buckets -> Gopher A1.1 -> Gopher A1.2 repetition ->
    FineWeb -> code -> quality -> PII redaction) and return the
    curated frame: input columns (text
    rewritten, ``lang_col`` rewritten/created when ``language_model`` is
    given) plus the per-document audit columns of the stages that ran.  Pass
    ``line_bloom`` / ``kgram_bloom`` to enable the landed-corpus rewrite
    stages (``None`` skips the landed probe but still applies the
    within-document rules when the stage's other knob is the default —
    to skip a rewrite stage entirely, leave its bloom ``None`` AND do
    not rely on in-doc dedup there; the stage runs iff its bloom is not
    ``None``).  Every stage is a stateless projection/filter: the result
    runs identically on a batch frame (the parity/oracle surface) and on
    a readStream source.  The stages named in the module docstring run
    the same body as in :func:`condenser_spark.curate.curate_corpus`;
    here domain_prior requires ``stats=`` and badwords keeps its
    ``max_plan_literals`` cap.  URL, line and substring dedup probe
    landed blooms, media/video dedup a landed index, langid, quality and
    perplexity score per row, and gopher_repetition runs all 12 rules,
    where the batch composer works over the whole corpus.

    The URL stage (FineWeb §3.1 — URL filtering BEFORE any text is read)
    runs first when ``blocked_domains`` or ``url_bloom`` is given:
    registered-domain blocklist drop (pure expressions; broadcast
    stream-static join past 10k domains — stream-legal), then drop any
    document whose normalized URL is already LANDED (``build_url_bloom``)
    — the keep-first election where landed is by definition first.
    Within-micro-batch URL duplicates are NOT collapsed (that needs
    state); run the batch :func:`functions.urls.url_dedup` on the landed
    corpus cadence.  NULL-URL documents PASS the URL stage (explicit
    policy, ADVICE r11: no URL means no block/dedup evidence — the same
    survive-by-default semantics as the batch ``url_dedup``); both the
    blocklist flag and the bloom probe are null-safe, so a missing URL
    can neither drop the row nor feed the kernel a garbage hash."""
    cur = docs
    kw = {"text_col": text_col, "id_col": id_col}

    if media_dedup is not None or video_dedup is not None:
        # ingest-level media/video dedup AGAINST A LANDED INDEX (r16
        # punch #5): the "no candidate verified" keep-rows fold is an
        # aggregate after a join, which a pure streaming plan cannot
        # run statelessly — so on a real stream these stages live in
        # foreachBatch (:func:`curate_micro_batch`, where each
        # micro-batch is a plain bounded frame).  On a batch frame
        # (the parity/oracle surface) they run right here, so the
        # batch twin keeps one-call parity with the micro-batch
        # composer.
        if cur.isStreaming:
            raise ValueError(
                "media_dedup=/video_dedup= on a readStream frame: the "
                "keep-rows fold needs batch semantics — wrap the sink "
                "in foreachBatch and call curate_micro_batch(batch_df, "
                "media_dedup=..., video_dedup=..., <stateless stages>) "
                "there (streaming/curate.py) instead")
        from condenser_spark.streaming import media

        for name, opts, dedup_fn, index_fn in (
                ("media_dedup", media_dedup,
                 media.media_dedup_batch_against_corpus,
                 "build_media_hash_index"),
                ("video_dedup", video_dedup,
                 media.video_dedup_batch_against_corpus,
                 "build_video_fp_index")):
            if opts is None:
                continue
            opts = dict(opts)
            idx = opts.pop("index", None)
            if idx is None:
                raise ValueError(
                    f"{name}= needs index= (a {index_fn} frame over the "
                    "landed corpus; rebuild it on the landed cadence)")
            cur = dedup_fn(cur, idx, **opts)

    if blocked_domains or url_bloom is not None:
        from condenser_spark.functions.urls import curate_urls

        cols = cur.columns
        flagged = curate_urls(cur, url_col,
                              blocked_domains=tuple(blocked_domains))
        # url_blocked is a definite boolean (False for NULL urls) and
        # _member_col short-circuits NULLs to False JVM-side — keep is
        # never NULL, so null-URL docs survive by construction
        keep = ~F.col("url_blocked")
        if url_bloom is not None:
            keep = keep & ~_member_col(cur, url_bloom,
                                       F.col("url_norm"))
        cur = flagged.filter(keep).select(*cols)

    if domain_prior is not None:
        # priors MUST come from a landed reference snapshot (stats=): the
        # self-prior is a corpus-wide aggregate, illegal mid-stream; the
        # join against the snapshot is stream-static (legal)
        if domain_prior.get("stats") is None:
            raise ValueError(
                "curate_stream(domain_prior=) requires stats= (a landed "
                "domain_stats snapshot): self-priors need a corpus-wide "
                "aggregate, illegal mid-stream — compute them on the "
                "landed-corpus cadence")
        cur = _domain_prior_stage(cur, {"url_col": url_col, **domain_prior},
                                  **kw)
    if html:
        cur = _html_stage(cur, html, **kw)
    if normalize:
        cur = _normalize_stage(cur, normalize, **kw)

    if line_bloom is not None:
        cur = dedup_lines_stream(
            cur, line_bloom, strip_digits=strip_digits, text_col=text_col,
            id_col=id_col).withColumnsRenamed(_LD_AUDIT)

    if kgram_bloom is not None:
        cur = exact_substring_stream(
            cur, kgram_bloom, k=k, text_col=text_col,
            id_col=id_col).withColumnsRenamed(_ES_AUDIT)

    if badwords is not None:
        opts = (dict(badwords) if isinstance(badwords, dict)
                else {"badwords": badwords})
        n_words = len(tuple(opts.get("badwords", ())))
        cap = opts.get("max_plan_literals", 10_000)
        if n_words > cap:
            raise ValueError(
                f"badwords list ({n_words} entries) exceeds "
                f"max_plan_literals={cap}: the fallback token-join "
                "regime needs a distinct (illegal mid-stream) — raise "
                "max_plan_literals or gate in batch")
        cur = _badwords_stage(cur, opts, **kw)
    if c4:
        cur = _c4_stage(cur, c4, **kw)
    if diversity is not None:
        cur = _diversity_stage(cur, diversity, **kw)
    if script is not None:
        cur = _script_stage(cur, script, **kw)

    if language_model is not None:
        from condenser_spark.functions.langid import (
            language_top1_stateless,
        )

        out = language_top1_stateless(cur, language_model,
                                      text_col=text_col, id_col=id_col,
                                      out_col="_lang_pred")
        keep = [c for c in cur.columns if c != lang_col]
        cur = out.select(
            *keep, F.col("_lang_pred").alias(lang_col)
        )

    if perplexity_buckets is not None:
        # the CCNet §4.3 KEEP decision on a stream: score with the
        # stateless unigram kernel or the stream-legal bigram/KN twins
        # (or an existing column), bucket against PRECOMPUTED
        # thresholds (stream-static broadcast join — the quantile
        # aggregate itself is state a stream cannot run), drop buckets
        # outside keep=.  Same option surface as the batch composer
        # (shared resolver, incl. lm=<save_lm path>); thresholds= is
        # REQUIRED here.
        from condenser_spark.functions.corpus import (
            apply_quantile_thresholds,
        )

        (p_lm, p_score_col, keep_idx, n_buckets, group_col, _mode,
         _accuracy, thresholds) = _resolve_perplexity_opts(
            perplexity_buckets, lang_col)
        if thresholds is None:
            raise ValueError(
                "perplexity_buckets on a stream requires thresholds= "
                "(a landed functions.corpus.quantile_thresholds frame "
                "— computing quantiles is an aggregate a stream cannot "
                "run statelessly; build them from a batch snapshot, "
                "the domain_prior precompute/apply pattern)")
        if group_col is not None and group_col not in cur.columns:
            raise ValueError(
                f"perplexity_buckets group_col {group_col!r} not in the "
                f"stream — pass group_col=None for a global split")
        keep_cols_all = list(cur.columns)
        if p_lm is not None:
            # lm= dispatch, the batch composer's shapes (r16 punch #4):
            # a path loads a landed save_lm artifact; a single frame is
            # the unigram LM (stateless Arrow kernel — its vocab+1-row
            # table ships in the closure by contract); the bigram
            # 2-tuple / Kneser-Ney 4-tuple score through the
            # stream-legal twins (stream-static joins against the model
            # sides + a micro-batch-local per-doc fold — no window, no
            # state store; scores bit-identical to batch, parity-pinned)
            if isinstance(p_lm, str):
                from condenser_spark.functions.lm import load_lm

                p_lm = load_lm(cur.sparkSession, p_lm)
            if isinstance(p_lm, (tuple, list)) and len(p_lm) == 8:
                from condenser_spark.functions.lm import (
                    kn5_score_documents_stream,
                )

                scored = kn5_score_documents_stream(
                    cur, *p_lm, text_col=text_col, id_col=id_col
                ).withColumn("_ppl_score", -F.col("lm5_logprob"))
            elif isinstance(p_lm, (tuple, list)) and len(p_lm) == 4:
                from condenser_spark.functions.lm import (
                    kn_trigram_score_documents_stream,
                )

                scored = kn_trigram_score_documents_stream(
                    cur, *p_lm, text_col=text_col, id_col=id_col
                ).withColumn("_ppl_score", -F.col("lm3_logprob"))
            elif isinstance(p_lm, (tuple, list)) and len(p_lm) == 2:
                from condenser_spark.functions.lm import (
                    bigram_score_documents_stream,
                )

                scored = bigram_score_documents_stream(
                    cur, *p_lm, text_col=text_col, id_col=id_col
                ).withColumn("_ppl_score", -F.col("lm2_logprob"))
            elif isinstance(p_lm, (tuple, list)):
                raise ValueError(
                    f"perplexity_buckets lm= tuple must have 2 frames "
                    f"(train_bigram_lm), 4 (train_kn_trigram_lm), or 8 "
                    f"(train_kn5_lm): got {len(p_lm)}")
            else:
                from condenser_spark.functions.lm import (
                    lm_score_documents_stateless,
                )

                scored = lm_score_documents_stateless(
                    cur, p_lm, text_col=text_col, id_col=id_col
                ).withColumn("_ppl_score", -F.col("lm_logprob"))
            score_use = "_ppl_score"
        else:
            if p_score_col not in cur.columns:
                raise ValueError(
                    f"perplexity_buckets score_col {p_score_col!r} not "
                    f"in the stream — score upstream or pass lm=")
            scored = cur
            score_use = p_score_col
        bucketed = apply_quantile_thresholds(
            scored, thresholds, score_use, n_buckets=n_buckets,
            group_col=group_col, bucket_col="_ppl_bkt")
        cur = (bucketed.filter(F.col("_ppl_bkt").isin(keep_idx))
               .select(*keep_cols_all))

    if gopher:
        cur = _gopher_stage(cur, gopher, **kw)

    if gopher_repetition:
        cur = _gopher_repetition_stage(cur, gopher_repetition, **kw)

    if fineweb:
        cur = _fineweb_stage(cur, fineweb, **kw)
    if code:
        cur = _code_stage(cur, code, **kw)

    if quality_model is not None:
        from condenser_spark.functions.quality import (
            score_documents_stateless,
        )

        scored = score_documents_stateless(cur, quality_model,
                                           text_col=text_col,
                                           id_col=id_col)
        cur = scored.filter(
            F.col("quality_logit") >= F.lit(float(quality_threshold)))
    if pii:
        cur = _pii_stage(cur, pii, **kw)

    return cur


def curate_micro_batch(batch_df: DataFrame, **stages) -> DataFrame:
    """One-call curation for ONE micro-batch inside ``foreachBatch`` —
    the composer home of the batch-only ingest stages (r16 punch #5):
    ``media_dedup=``/``video_dedup=`` keep-rows dedup against a landed
    index (:func:`streaming.media.media_dedup_batch_against_corpus` /
    ``video_dedup_batch_against_corpus`` — their no-candidate fold is an
    aggregate after a join, which a pure streaming plan cannot run
    statelessly) followed by every stateless :func:`curate_stream`
    stage.  Inside ``foreachBatch`` the frame is a plain bounded batch,
    so the whole chain is batch-legal; on the same frame outside a
    stream this is literally ``curate_stream`` (one-call parity with
    the hand-wired examples/image_phash_dedup.py flow, pinned by test).

        index = build_media_hash_index(landed).persist()
        (stream.writeStream.foreachBatch(
            lambda mb, _: curate_micro_batch(
                mb, media_dedup={"index": index}, gopher=True)
            .write.mode("append").parquet(clean_path))
         .start())
    """
    if batch_df.isStreaming:
        raise ValueError(
            "curate_micro_batch takes the bounded frame foreachBatch "
            "hands you, not the readStream frame — for a pure stateless "
            "chain on the stream itself use curate_stream")
    return curate_stream(batch_df, **stages)
