"""Streaming twins of the text-REWRITE dedup operators: CCNet line dedup
and ExactSubstr k-gram dedup of INCOMING documents against a LANDED corpus.

The batch operators (functions/text.py: dedup_lines, exact_substring_dedup)
are corpus self-joins — inherently batch, both sides complete.  The ingest
question is different and stream-shaped: *which lines / spans of this
INCOMING document already exist in the landed corpus?*  Per the
streaming/neardup.py doctrine, stream-vs-stream duplication (two in-flight
docs sharing a NEW line) is out of scope by design — pair state there is
unbounded by any event-time horizon; run the batch operator over the landed
data on whatever cadence the corpus requires.  WITHIN-document repeats are
handled in-row (they need no cross-row state).

Index shape: the landed corpus is packed ONCE into a
:class:`functions.dedup.ShingleBloom` (:func:`build_line_bloom` /
:func:`build_kgram_bloom` — the decontaminate_bloom machinery reused at
line / k-gram granularity), saved/loaded with the existing
``ShingleBloom.save/load`` and broadcast once per SparkContext.  Bloom
semantics are one-sided: NO false negatives (a landed duplicate is always
caught), and a false positive drops a never-landed line/span — the
standard trade for a stateless in-row probe; rebuild the bloom on the
batch-dedup cadence.  SIZING CAVEAT: ``_bloom_geometry`` caps the probe
count at k=16, so the ACHIEVED per-probe FP is ``(1-e^(-16n/m))^16``
regardless of how small an ``fp_rate`` is requested — a 1e-9 request
floors at ~7e-9/probe (STRESS stage 25 measured a real FP there); when
exactness matters, request 1e-18 (m≈86 bits/entry, ~5e-13/probe) or
route through the batch operators whose exact verify join absorbs FPs.
The default 1e-3 is the honest ingest-hygiene setting (~1 dropped
never-landed line per thousand probes).  The build
collects distinct hashes to the driver under the same fail-loud cap as
``build_shingle_bloom`` (~50M entries ~ 800 MB); a landed corpus whose
distinct-line count exceeds the cap is past the ingest-hygiene regime —
dedup it in batch.

COST NOTE (the neardup.py caveat applies): hashing and the rebuild run as
O(L) JVM higher-order expressions, and ALL super-linear per-document logic
— bloom probe, in-document repeat detection, coverage running-max — runs
inside ONE Arrow kernel per twin as O(G log G) numpy per document (a
sort-based unique, never a pairwise scan), so a long or fully-duplicated
incoming document cannot go quadratic (stress stage 23 prices a 2k-token
100%-duplicated stream).  The batch path's codegen'd explode+agg remains
the fast form per doc; if a micro-batch falls behind, batch the backlog.

Both twins are STATELESS (no watermark, append-safe, trivial restart) and
mirror the batch output contract exactly — (id, text, n_* audit columns) —
so parity with the batch operator over (landed UNION stream) restricted to
stream ids is pinned per-pytest (tests/test_textdedup_stream.py).

The module also holds :func:`gopher_repetition_stateless`, the complete
12-rule Gopher repetition table in one Arrow kernel per row; it keeps its
own body because the batch :func:`functions.text.gopher_repetition_flags`
computes a different (7-rule, SQL-native) table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from condenser_spark.functions.dedup import (
    ShingleBloom,
    _bloom_build,
    _bloom_geometry,
    _bloom_hash_cols,
)

__all__ = [
    "build_kgram_bloom",
    "build_line_bloom",
    "dedup_lines_stream",
    "exact_substring_stream",
    "gopher_repetition_stateless",
]


def _collect_bloom(hashes_df, fp_rate: float, max_bits: int,
                   cap: int, what: str) -> ShingleBloom | None:
    rows = hashes_df.distinct().limit(cap + 1).toPandas()
    if len(rows) > cap:
        raise ValueError(
            f"{what} collected more than {cap:,} distinct entries — the "
            "landed corpus is past the ingest-hygiene regime; dedup it "
            "with the batch operator instead (or raise the cap).")
    if len(rows) == 0:
        return None
    m, k = _bloom_geometry(len(rows), fp_rate, max_bits)
    bits = _bloom_build(rows["h1"].to_numpy(), rows["h2"].to_numpy(), m, k)
    return ShingleBloom(bits, m, k, 1)


def _norm_line(line: Column, strip_digits: bool) -> Column:
    norm = F.regexp_replace(F.lower(F.trim(line)), r"\s+", " ")
    if strip_digits:
        norm = F.regexp_replace(norm, r"[0-9]", "")
    return norm


def build_line_bloom(
    docs: DataFrame,
    strip_digits: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_rate: float = 1e-3,
    max_bits: int = 1 << 31,
    max_lines: int = 50_000_000,
) -> ShingleBloom | None:
    """Pack the landed corpus's distinct NORMALIZED line strings (the
    :func:`functions.text.dedup_lines` identity: trim + lowercase +
    whitespace collapse, optional digit strip; blank-normalizing lines are
    never indexed) into a ShingleBloom for :func:`dedup_lines_stream`.
    ``None`` when the landed side has no non-blank lines."""
    lines = docs.select(
        F.explode(F.split(F.col(text_col), "\n")).alias("line"))
    norm = _norm_line(F.col("line"), strip_digits)
    hashes = (
        lines.select(norm.alias("shingle"))
        .filter(F.col("shingle") != "")
        .select(*_bloom_hash_cols())
    )
    return _collect_bloom(hashes, fp_rate, max_bits, max_lines,
                          "build_line_bloom")


def build_kgram_bloom(
    docs: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_rate: float = 1e-3,
    max_bits: int = 1 << 31,
    max_kgrams: int = 50_000_000,
) -> ShingleBloom | None:
    """Pack the landed corpus's distinct token ``k``-grams (the
    :func:`functions.text.exact_substring_dedup` tokenization: whitespace
    split, case PRESERVED, space-joined grams) into a ShingleBloom for
    :func:`exact_substring_stream`.  ``None`` when no doc reaches ``k``
    tokens."""
    arr = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                   lambda t: t != "")
    tok_rows = docs.select(
        F.col(id_col).alias("id"), F.posexplode(arr).alias("pos", "tok"))
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    last = F.lead("tok", k - 1).over(w)
    hashes = (
        tok_rows.select(F.concat_ws(" ", *parts).alias("shingle"),
                        last.alias("_l"))
        .filter(F.col("_l").isNotNull())
        .select(*_bloom_hash_cols())
    )
    return _collect_bloom(hashes, fp_rate, max_bits, max_kgrams,
                          "build_kgram_bloom")


def _probe_closure(docs: DataFrame, bloom: ShingleBloom | None):
    """Executor-safe flat-probe function over uint64 hash arrays: captures
    only (m, k) and the Broadcast handle, never the ShingleBloom itself
    (it caches a SparkContext-bound broadcast — unpicklable, SPARK-5063).
    Vectorized Kirsch-Mitzenmacher: one concatenated batch, k bit-tests."""
    import numpy as np

    if bloom is None:
        return lambda a, b: np.zeros(len(a), dtype=bool)
    m, k = bloom.m, bloom.k
    bcast = bloom.broadcast_on(docs.sparkSession.sparkContext)
    mu, three, seven = np.uint64(m), np.uint64(3), np.uint64(7)

    def _probe(a, b):
        blm = bcast.value
        ok = np.ones(len(a), dtype=bool)
        for i in range(k):
            pos = (a + np.uint64(i) * b) % mu
            byte = blm[(pos >> three).astype(np.int64)]
            ok &= ((byte >> (pos & seven).astype(np.uint8)) & 1
                   ).astype(bool)
        return ok

    return _probe


def _pair_stats(a, b):
    """(first_index_of_this_pair, count_of_this_pair) per element of one
    row's (h1, h2) arrays — sort-based unique, O(G log G)."""
    import numpy as np

    keyed = np.empty(len(a), dtype=[("a", "u8"), ("b", "u8")])
    keyed["a"], keyed["b"] = a, b
    _, first, inverse, counts = np.unique(
        keyed, return_index=True, return_inverse=True, return_counts=True)
    return first[inverse], counts[inverse]


def _flat_packed(packed, stride: int):
    """Concatenate a batch's per-row PACKED hash arrays (flattened
    ``stride``-wide records per element: h1, h2[, extra]) into flat
    uint64 column vectors plus per-row element counts — the shared
    prologue of both struct kernels.  The packing exists for a plan
    reason: ONE flattened expression references the expensive gram/norm
    construction exactly once, where separate h1/h2 transform columns
    made projection collapse inline (and re-evaluate) it per column."""
    import numpy as np

    lens = [0 if x is None else len(x) // stride for x in packed]
    if sum(lens) == 0:
        return lens, None
    flat = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in packed
         if x is not None and len(x)]).reshape(-1, stride)
    return lens, flat


_LINE_STRUCT = ("text string, n_lines bigint, n_removed_lines bigint, "
                "n_removed_tokens bigint, n_removed_chars bigint")


def _line_result_struct(docs: DataFrame, bloom: ShingleBloom | None,
                        lines: Column, norms: Column) -> Column:
    """struct<text, n_lines, n_removed_lines, n_removed_tokens,
    n_removed_chars> per row — the WHOLE line-dedup outcome from ONE
    Arrow kernel: bloom probe vectorized across the batch, the
    keep-first earlier-index rule via sort-based unique, the rebuild a
    plain join.  Producing text/audits as fields of the kernel's output
    attribute (never as JVM expressions over the flag array) is what
    keeps a downstream consumer from re-evaluating the rebuild: Spark's
    projection collapse inlines expensive expressions into every
    reference, and the pre-struct form re-ran the rebuild ~9x when
    curate_stream chained the twins.  Per-line token/char masses are
    computed JVM-side (regex/UTF-16 semantics must match the batch
    operator and the DuckDB oracle, not Python's)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    flat_probe = _probe_closure(docs, bloom)

    def _kernel(packed, raw, ltoks):
        lens, flat = _flat_packed(packed, 3)
        if flat is not None:
            a = flat[:, 0].astype(np.uint64)
            hit = flat_probe(a, flat[:, 1].astype(np.uint64))
            blank = flat[:, 2] == 1
        text, nl, rl, rt, rc = [], [], [], [], []
        at = 0
        for i, ln in enumerate(lens):
            ls = raw.iloc[i]
            if ls is None or ln == 0:
                text.append(None if ls is None else "\n".join(ls))
                nl.append(0 if ls is None else len(ls))
                rl.append(0)
                rt.append(0)
                rc.append(0)
                continue
            first, _ = _pair_stats(flat[at:at + ln, 0],
                                   flat[at:at + ln, 1])
            flag = ((hit[at:at + ln] | (first < np.arange(ln)))
                    & ~blank[at:at + ln])
            at += ln
            keep = ~flag
            ls = np.asarray(ls, dtype=object)
            text.append("\n".join(ls[keep]))
            nl.append(ln)
            rl.append(int(flag.sum()))
            rt.append(int(np.asarray(ltoks.iloc[i],
                                     dtype=np.int64)[flag].sum()))
            # python len == Spark length == DuckDB length: all three
            # count code points
            rc.append(int(sum(len(x) for x in ls[flag])))
        return pd.DataFrame({
            "text": text, "n_lines": nl, "n_removed_lines": rl,
            "n_removed_tokens": rt, "n_removed_chars": rc,
        })

    kernel = pandas_udf(_kernel, _LINE_STRUCT).asNondeterministic()
    # ONE flattened (h1, h2, is_blank) record per line: the norm
    # expression is referenced exactly once, so projection collapse
    # cannot re-evaluate the normalization per consumer
    packed = F.flatten(F.transform(norms, lambda x: F.array(
        F.xxhash64(x),
        F.xxhash64(x, F.lit("bloom-h2")),
        (x == "").cast("long"))))
    ltoks = F.transform(
        lines,
        lambda l: F.size(F.filter(F.split(F.trim(l), r"\s+"),
                                  lambda t: t != "")).cast("long"))
    return kernel(packed, lines, ltoks)


_SUB_STRUCT = ("text string, n_tokens bigint, n_removed_tokens bigint, "
               "n_removed_chars bigint")


def _substring_result_struct(docs: DataFrame, bloom: ShingleBloom | None,
                             grams: Column, toks: Column,
                             k: int) -> Column:
    """struct<text, n_tokens, n_removed_tokens, n_removed_chars> per row
    — the WHOLE ExactSubstr outcome from ONE Arrow kernel: duplicated
    starts (bloom membership OR >= 2 in-row occurrences, sort-based
    unique), coverage via `np.maximum.accumulate` (a fully duplicated
    document stays O(G log G), never O(G^2)), and the
    whitespace-normalized rebuild — emitted as kernel-output fields for
    the same projection-collapse reason as `_line_result_struct`.
    Per-token char masses are JVM `length` (UTF-16, the oracle's
    semantics)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    flat_probe = _probe_closure(docs, bloom)

    def _kernel(packed, raw):
        lens, flat = _flat_packed(packed, 2)
        if flat is not None:
            hit = flat_probe(flat[:, 0].astype(np.uint64),
                             flat[:, 1].astype(np.uint64))
        text, nt, rt, rc = [], [], [], []
        at = 0
        for i, ln in enumerate(lens):
            ts = raw.iloc[i]
            n = 0 if ts is None else len(ts)
            if ts is None or ln == 0:
                text.append(None if ts is None else " ".join(ts))
                nt.append(n)
                rt.append(0)
                rc.append(0)
                continue
            _, counts = _pair_stats(flat[at:at + ln, 0],
                                    flat[at:at + ln, 1])
            s = hit[at:at + ln] | (counts >= 2)
            at += ln
            # last duplicated start at-or-before each position, extended
            # to the n-token axis (starts beyond G never exist)
            last = np.maximum.accumulate(np.where(s, np.arange(ln), -k))
            last_tok = (np.concatenate([last, np.full(n - ln, last[-1])])
                        if n > ln else last[:n])
            cov = last_tok >= np.arange(n) - (k - 1)
            keep = ~cov
            ts = np.asarray(ts, dtype=object)
            text.append(" ".join(ts[keep]))
            nt.append(n)
            rt.append(int(cov.sum()))
            # python len == Spark length == DuckDB length (code points)
            rc.append(int(sum(len(x) for x in ts[cov])))
        return pd.DataFrame({
            "text": text, "n_tokens": nt, "n_removed_tokens": rt,
            "n_removed_chars": rc,
        })

    kernel = pandas_udf(_kernel, _SUB_STRUCT).asNondeterministic()
    # ONE flattened (h1, h2) record per gram: the O(G*k) gram
    # construction is referenced exactly once (see _flat_packed)
    packed = F.flatten(F.transform(grams, lambda g: F.array(
        F.xxhash64(g), F.xxhash64(g, F.lit("bloom-h2")))))
    return kernel(packed, toks)


def _member_col(docs: DataFrame, bloom: ShingleBloom | None,
                string: Column) -> Column:
    """Scalar boolean bloom-membership column for one string expression
    per row — the flat Kirsch-Mitzenmacher probe without the array
    lift (streaming/curate.py's URL stage rides this).

    NULL-safe (ADVICE r11): a NULL string is NOT a member, decided
    JVM-side.  The hashes fed to the kernel are coalesced non-null FIRST
    — one NULL in an Arrow batch would otherwise upcast the whole int64
    hash column to float64 and lose low bits on EVERY row's hash (any
    |hash| > 2^53 probes a garbage index), not just the null's."""
    if bloom is None:
        return F.lit(False)
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    flat_probe = _probe_closure(docs, bloom)

    def _kernel(h1, h2):
        import numpy as np

        a = h1.to_numpy().astype(np.uint64)
        b = h2.to_numpy().astype(np.uint64)
        return pd.Series(flat_probe(a, b))

    probe = pandas_udf(_kernel, "boolean").asNondeterministic()
    safe = F.coalesce(string, F.lit(""))
    return F.when(string.isNull(), F.lit(False)).otherwise(
        probe(F.xxhash64(safe), F.xxhash64(safe, F.lit("bloom-h2"))))


def dedup_lines_stream(
    docs: DataFrame,
    bloom: ShingleBloom | None,
    strip_digits: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of :func:`functions.text.dedup_lines` (keep="first",
    min_count=2) against a landed corpus: every incoming line whose
    normalized form exists in ``bloom`` (a landed site is by definition an
    earlier site) OR repeats an earlier line of the SAME document is
    dropped, and the document is rebuilt in-row.  Output mirrors the batch
    contract — (id_col, text, then every other input column passed
    through, then n_lines, n_removed_lines, n_removed_tokens,
    n_removed_chars) — so the twin is schema-preserving and composable
    (streaming/curate.py chains it).  Stateless — append-safe on a
    stream, and runs unchanged on a batch frame (the parity surface)."""
    passthrough = [c for c in docs.columns if c not in (id_col, text_col)]
    lines = F.split(F.col(text_col), "\n")
    base = docs.select(
        F.col(id_col).alias("_id"),
        *passthrough,
        lines.alias("_lines"),
        F.transform(lines,
                    lambda l: _norm_line(l, strip_digits)).alias("_norms"),
    )
    out = base.withColumn(
        "_r", _line_result_struct(docs, bloom, F.col("_lines"),
                                  F.col("_norms")))
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_r.text").alias(text_col),
        *passthrough,
        F.col("_r.n_lines").alias("n_lines"),
        F.col("_r.n_removed_lines").alias("n_removed_lines"),
        F.col("_r.n_removed_tokens").alias("n_removed_tokens"),
        F.col("_r.n_removed_chars").alias("n_removed_chars"),
    )


def exact_substring_stream(
    docs: DataFrame,
    bloom: ShingleBloom | None,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of :func:`functions.text.exact_substring_dedup`
    (keep="none", min_count=2) against a landed corpus: every token of the
    incoming document covered by a ``k``-gram that exists in ``bloom`` OR
    repeats within the document is cut, and the text rebuilt in-row
    (whitespace-normalized, case preserved — the batch contract).  Output
    mirrors the batch columns — (id_col, text, then every other input
    column passed through, then n_tokens, n_removed_tokens,
    n_removed_chars).  Stateless; runs unchanged on a batch frame."""
    passthrough = [c for c in docs.columns if c not in (id_col, text_col)]
    arr = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                   lambda t: t != "")
    base = docs.select(F.col(id_col).alias("_id"), *passthrough,
                       arr.alias("_arr"))
    g = F.size("_arr") - (k - 1)
    grams = F.when(
        g >= 1,
        F.transform(F.sequence(F.lit(1), g),
                    lambda p: F.concat_ws(" ", F.slice(F.col("_arr"), p,
                                                       F.lit(k)))),
    ).otherwise(F.array().cast("array<string>"))
    based = base.withColumn("_grams", grams)
    # the kernel computes duplicated starts (landed-dup via bloom OR >= 2
    # in-doc occurrences), the coverage running max AND the rebuild in
    # one pass, returned as a struct
    out = based.withColumn(
        "_r", _substring_result_struct(docs, bloom, F.col("_grams"),
                                       F.col("_arr"), k))
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_r.text").alias(text_col),
        *passthrough,
        F.col("_r.n_tokens").alias("n_tokens"),
        F.col("_r.n_removed_tokens").alias("n_removed_tokens"),
        F.col("_r.n_removed_chars").alias("n_removed_chars"),
    )


_REP_STRUCT = (
    "n_lines bigint, dup_lines bigint, dupc_l bigint, "
    "n_paras bigint, dup_paras bigint, dupc_p bigint, "
    "tc bigint, c2 bigint, l2 bigint, c3 bigint, l3 bigint, "
    "c4 bigint, l4 bigint, cov5 bigint, cov6 bigint, cov7 bigint, "
    "cov8 bigint, cov9 bigint, cov10 bigint"
)


def _dup_ngram_coverage(all_toks):
    """Batch-vectorized duplicated-n-gram character coverage (A1.2 rows
    7-12) for one Arrow batch: per (row, n in 5..10), the union of the
    char intervals of every occurrence of n-grams appearing >= 2x in
    that row's space-joined token stream.  Everything after the token
    flatten is numpy/pandas C code — ONE factorize over the batch's
    tokens, then per n ONE 1-D ``np.unique`` that densifies
    (id_{n-1}, next_code) pairs into gram ids (the row is embedded at
    n=1, so id equality always means same-gram-same-row; the pair key
    ``id*base+code`` cannot overflow int64 at Arrow batch sizes) and a
    vectorized gaps-and-islands interval merge (rows separated by an
    offset larger than any stream, so one global ``maximum.accumulate``
    serves every row).  Exactness is preserved end-to-end: dense ids
    from sorts, no hashing.  History at 2M docs (STRESS 27): per-row
    Python dicts 9.3k docs/s, ``np.unique(axis=0)`` key matrices 11.1k,
    this form is the measured keeper."""
    import numpy as np
    import pandas as pd

    n_rows = len(all_toks)
    out = {n: np.zeros(n_rows, dtype=np.int64) for n in range(5, 11)}
    L = np.fromiter((len(t) for t in all_toks), dtype=np.int64,
                    count=n_rows)
    total = int(L.sum())
    if total == 0:
        return out
    flat = np.asarray([w for ts in all_toks for w in ts], dtype=object)
    codes, _ = pd.factorize(flat)
    codes = codes.astype(np.int64, copy=False)
    tok_len = pd.Series(flat, dtype=object).str.len().to_numpy(np.int64)
    doc_of = np.repeat(np.arange(n_rows, dtype=np.int64), L)
    doc_off = np.concatenate(([0], np.cumsum(L)[:-1]))
    # char start of each token within ITS row's space-joined stream
    g_cum = np.concatenate(([0], np.cumsum(tok_len + 1)[:-1]))
    # empty rows have doc_off == the NEXT row's token start (== total for
    # trailing empties, past g_cum's end) — they contribute no tokens, so
    # look up row bases only for non-empty rows
    row_base = np.zeros(n_rows, dtype=np.int64)
    nz = L > 0
    row_base[nz] = g_cum[doc_off[nz]]
    local_start = g_cum - row_base[doc_of]
    pos_in_doc = np.arange(total, dtype=np.int64) - doc_off[doc_of]
    sep = int((tok_len + 1).sum()) + 1  # > any row's stream length
    base = int(codes.max()) + 1
    # incremental gram ids: id_n(i) densifies (id_{n-1}(i),
    # code(i+n-1)) through ONE 1-D np.unique per n — the per-row doc is
    # embedded at n=1, so equal ids always mean "same gram, same row".
    # (A first cut used np.unique(axis=0) over (row, code_0..code_{n-1})
    # matrices: the void-dtype row sort measured ~4x slower end-to-end.)
    id_prev = np.unique(doc_of * base + codes, return_inverse=True)[1]
    for n in range(2, 11):
        idx = np.nonzero(pos_in_doc <= L[doc_of] - n)[0]
        if idx.size == 0:
            break
        key = id_prev[idx] * base + codes[idx + n - 1]
        uniq, inv = np.unique(key, return_inverse=True)
        id_full = np.full(total, -1, dtype=np.int64)
        id_full[idx] = inv
        id_prev = id_full
        if n < 5:
            continue
        cnt = np.bincount(inv)
        p = idx[cnt[inv] >= 2]
        if p.size == 0:
            continue
        d = doc_of[p]
        # p ascending => d non-decreasing and starts ascending per row;
        # the +d*sep offset keeps rows from ever merging
        s = local_start[p] + d * sep
        e = local_start[p + n - 1] + tok_len[p + n - 1] + d * sep
        cummax = np.maximum.accumulate(e)
        new_isl = np.empty(p.size, dtype=bool)
        new_isl[0] = True
        new_isl[1:] = s[1:] > cummax[:-1]
        isl_at = np.nonzero(new_isl)[0]
        covered = np.maximum.reduceat(e, isl_at) - s[isl_at]
        np.add.at(out[n], d[isl_at], covered)
    return out


def gopher_repetition_stateless(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: Sequence[str] = (),
    max_dup_line_frac: float = 0.30,
    max_dup_para_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_char_frac: float = 0.20,
    max_top_2gram_char_frac: float = 0.20,
    max_top_3gram_char_frac: float = 0.18,
    max_top_4gram_char_frac: float = 0.16,
    max_dup_5gram_char_frac: float = 0.15,
    max_dup_6gram_char_frac: float = 0.14,
    max_dup_7gram_char_frac: float = 0.13,
    max_dup_8gram_char_frac: float = 0.12,
    max_dup_9gram_char_frac: float = 0.11,
    max_dup_10gram_char_frac: float = 0.10,
) -> DataFrame:
    """The COMPLETE Gopher A1.2 repetition table (Rae et al. 2021,
    appendix table A1 rows 1-12) — all 12 published rules, including the
    duplicated 5..10-gram character-coverage fractions the batch form
    (:func:`functions.text.gopher_repetition_flags`) declares out of
    SQL-native scope.  One Arrow kernel of per-row Counters over the
    JVM-split units (O(L) per doc per rule); fractions and flags derived
    JVM-side so the DuckDB oracle replays the whole table
    (goldens_ext.ext_gopher_repetition_stream).  Stream-legal AND
    batch-legal; STRESS stage 27 measured it scoring ALL 12 rules ~4x
    FASTER than the batch five-shuffle aggregate scores its 7-rule
    subset at 2M docs (36.9k vs 9.3k docs/s) — the preferred
    corpus-scoring form.

    Conventions (matching the published implementations — DataTrove /
    NeMo Curator / RedPajama — so the paper's default thresholds apply
    as written):

    - ``dup_line_char_frac`` / ``dup_para_char_frac``: characters in the
      occurrences AFTER THE FIRST of each repeated unit
      (``(cnt-1) * len(unit)``, trimmed units) over TOTAL document
      characters (``length(text)``).
    - ``top_{2,3,4}gram_char_frac``: char mass of the single most
      frequent n-gram's occurrences (with overlap, ties to the longer
      gram, clamped to 1.0) over total token characters.
    - ``dup_{5..10}gram_char_frac``: characters covered by the UNION of
      the character intervals of every occurrence of n-grams appearing
      >= 2x in the doc (the paper's "taking care not to count characters
      more than once"), measured in the normalized token stream (tokens
      joined by single spaces, internal separators counted), over total
      document characters.

    The published use is gating repetitive documents AT INGEST (Gopher
    applies A1.2 between dedup and quality):
    readStream -> gopher_repetition_stateless -> filter(gopher_rep_pass).
    ``keep_cols`` is the standard passthrough contract
    (streaming/curate.py's ``gopher_repetition=`` stage rides it)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    reserved = {"_id", "_r", "_dl", "n_lines", "n_paras",
                "dup_line_frac", "dup_line_char_frac",
                "dup_para_frac", "dup_para_char_frac",
                "gopher_rep_pass",
                *[f"top_{n}gram_char_frac" for n in (2, 3, 4)],
                *[f"ok_top_{n}gram" for n in (2, 3, 4)],
                *[f"dup_{n}gram_char_frac" for n in range(5, 11)],
                *[f"ok_dup_{n}gram" for n in range(5, 11)],
                "ok_dup_lines", "ok_dup_paras",
                "ok_dup_line_chars", "ok_dup_para_chars"}
    clash = sorted(reserved.intersection(keep_cols))
    if clash:
        raise ValueError(
            "keep_cols collide with gopher_repetition output columns: "
            f"{clash}; rename them before the stage"
        )

    def _kernel(lines, paras, toks):
        from collections import Counter

        cols: dict[str, list] = {k: [] for k in (
            "n_lines", "dup_lines", "dupc_l",
            "n_paras", "dup_paras", "dupc_p",
            "tc", "c2", "l2", "c3", "l3", "c4", "l4",
            "cov5", "cov6", "cov7", "cov8", "cov9", "cov10")}

        def unit(us):
            c = Counter(us)
            n = sum(c.values())
            # chars of occurrences AFTER the first (the published
            # convention: DataTrove find_duplicates)
            dupc = sum((k - 1) * len(u) for u, k in c.items() if k > 1)
            return n, n - len(c), dupc

        all_toks = []
        for ls, ps, ts in zip(lines, paras, toks):
            ls = list(ls) if ls is not None else []
            ps = list(ps) if ps is not None else []
            ts = list(ts) if ts is not None else []
            all_toks.append(ts)
            for pre, vals in (("l", unit(ls)), ("p", unit(ps))):
                n, dup, dupc = vals
                cols[f"n_{'lines' if pre == 'l' else 'paras'}"].append(n)
                cols[f"dup_{'lines' if pre == 'l' else 'paras'}"].append(
                    dup)
                cols[f"dupc_{pre}"].append(dupc)
            cols["tc"].append(sum(len(t) for t in ts))
            for n in (2, 3, 4):
                grams = Counter(
                    tuple(ts[i:i + n]) for i in range(len(ts) - n + 1))
                if grams:
                    # lexicographic (count, char_len) max == the batch
                    # struct MAX tiebreak (most frequent, then longer)
                    c, ln = max((k, sum(map(len, g)))
                                for g, k in grams.items())
                else:
                    c, ln = 0, 0
                cols[f"c{n}"].append(c)
                cols[f"l{n}"].append(ln)
        for n, cov in _dup_ngram_coverage(all_toks).items():
            cols[f"cov{n}"] = cov
        return pd.DataFrame(cols)

    kernel = pandas_udf(_kernel, _REP_STRUCT).asNondeterministic()

    def _units(sep: str):
        return F.filter(
            F.transform(F.split(F.col(text_col), sep),
                        lambda u: F.trim(u)),
            lambda u: u != "",
        )

    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                 r"\s+", " "), " "),
        lambda t: t != "",
    )
    out = df.select(
        F.col(id_col).alias("_id"), *keep_cols,
        F.coalesce(F.length(F.col(text_col)).cast("long"),
                   F.lit(0).cast("long")).alias("_dl"),
        kernel(_units("\n"), _units(r"\n\s*\n"), toks).alias("_r"),
    )

    def _frac(num: str, den: str):
        return F.round(
            F.when(F.col(f"_r.{den}") > 0,
                   F.col(f"_r.{num}") / F.col(f"_r.{den}"))
            .otherwise(F.lit(0.0)), 4)

    def _docfrac(num: str):
        # published convention: denominator = total document chars
        return F.round(
            F.when(F.col("_dl") > 0, F.col(f"_r.{num}") / F.col("_dl"))
            .otherwise(F.lit(0.0)), 4)

    def _top(n: int):
        return F.round(
            F.least(F.lit(1.0), F.when(
                F.col("_r.tc") > 0,
                (F.col(f"_r.c{n}") * F.col(f"_r.l{n}")).cast("double")
                / F.col("_r.tc"),
            ).otherwise(F.lit(0.0))), 4)

    out = out.select(
        F.col("_id").alias(id_col), *keep_cols,
        F.col("_r.n_lines").alias("n_lines"),
        F.col("_r.n_paras").alias("n_paras"),
        _frac("dup_lines", "n_lines").alias("dup_line_frac"),
        _docfrac("dupc_l").alias("dup_line_char_frac"),
        _frac("dup_paras", "n_paras").alias("dup_para_frac"),
        _docfrac("dupc_p").alias("dup_para_char_frac"),
        *[_top(n).alias(f"top_{n}gram_char_frac") for n in (2, 3, 4)],
        *[_docfrac(f"cov{n}").alias(f"dup_{n}gram_char_frac")
          for n in range(5, 11)],
    )
    dup_thresholds = {
        5: max_dup_5gram_char_frac, 6: max_dup_6gram_char_frac,
        7: max_dup_7gram_char_frac, 8: max_dup_8gram_char_frac,
        9: max_dup_9gram_char_frac, 10: max_dup_10gram_char_frac,
    }
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
        **{f"ok_dup_{n}gram":
           F.col(f"dup_{n}gram_char_frac") <= t
           for n, t in dup_thresholds.items()},
    }
    for name, cond in flags.items():
        out = out.withColumn(name, cond)
    conj = F.lit(True)
    for name in flags:
        conj = conj & F.col(name)
    return out.withColumn("gopher_rep_pass", conj)
