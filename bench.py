"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE machine-readable
JSON line:

    {"metric": "total_wall", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Mirrors the reference's ``-v`` per-query wall-time instrumentation
(/root/reference/db_connect.py:53-62, README.md:88) at per-query granularity.

Each timed query forces a full materialization of its result (count or write),
never a ``collect`` of data rows.  The flagship subset uses
``materialize="persist"`` — the mode the engine recommends at scale for graphs
this shallow (deep graphs use ``"parquet"``; see engine.py module docstring).

Timing methodology: every query runs once UNTIMED (whole-stage-codegen
compilation + JVM JIT warm-up — measured ~13s of fixed overhead on the
128-field MinHash aggregate alone, a per-plan-shape constant that amortizes
to nothing at real scale), then ``runs_per_query`` (3) timed steady-state
runs, and the MEDIAN is reported.  Best-of-2 (rounds 1-4) could not
distinguish a real regression from jitter: byte-identical code showed >=50%
per-query swings across driver runs.  The median of 3 warm runs is robust to
a single GC/compilation stall in either direction; ``timing`` in the output
records the method.

The entries live in one ordered registry, ``ENTRIES``: name ->
``Entry(build, act)``, where ``build(ctx)`` makes the entry's DataFrame (or a
callable, for composite entries) and ``act`` is the action run on it.  The
``BenchContext`` passed as ``ctx`` builds the shared inputs, models and
fixtures on first use, in the untimed warm-up run.  The bench walks the
registry in order; ``scripts/bench_profile.py`` times named entries in
isolation and captures their plans from the same definitions.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
import sys
import tempfile
import time
from functools import cached_property
from typing import Any, Callable, NamedTuple

from pyspark.sql import Window
from pyspark.sql import functions as F

from condenser_spark import sources
from condenser_spark.config import SubsetConfig
from condenser_spark.curate import curate_corpus
from condenser_spark.engine import SubsetEngine
from condenser_spark.fixtures import base_config_dict
from condenser_spark.functions import (
    bpe,
    corpus,
    dedup,
    dsir,
    html,
    langid,
    layout,
    lm,
    multimodal,
    pii,
    pq,
    quality,
    retrieval,
    similarity,
    temporal,
    text,
    unigram,
    urls,
)
from condenser_spark.registry import load_source_tables, lookup_df
from condenser_spark.session import codegen_compile_count, get_spark
from condenser_spark.streaming import textdedup
from condenser_spark.streaming.curate import curate_stream
from condenser_spark.streaming.sessionize import (
    session_stats,
    windowed_event_counts,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


# VERDICT r11 "What's wrong #1" (third consecutive warm-box official line,
# noise_pct_max 236.5%): refuse-or-warn when the box is hot.  Refusing would
# cost the driver its BENCH_r{N} line entirely (worse than a noisy one), so
# the guard WAITS, then proceeds either way, labeling the outcome in the
# final JSON (`idle_wait_s`) and on stderr.  VERDICT r12 tightened the gate
# to BOTH the 1-min AND 5-min averages (the r12 line released at 1-min 0.96
# with 5-min still 2.1 and recorded noise_pct_max 81.8%); the 5-min average
# decays e^-t/300, so the default wait is sized for a ~2.5 start
# (300*ln2.5 ~ 275s) with headroom.
IDLE_THRESHOLD = 1.0
IDLE_WAIT_S = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT", "480"))


def wait_for_idle(threshold: float = IDLE_THRESHOLD,
                  timeout_s: float = IDLE_WAIT_S,
                  poll_s: float = 5.0) -> float:
    """Block until BOTH the 1-min and 5-min loadavg drop below
    ``threshold`` or ``timeout_s`` elapses; return the seconds waited.
    Set SPARK_GRAFT_BENCH_IDLE_WAIT=0 to disable."""
    la = os.getloadavg()
    load = max(la[0], la[1])
    if load < threshold or timeout_s <= 0:
        return 0.0
    print(
        f"bench: box is hot (1/5-min loadavg {la[0]:.2f}/{la[1]:.2f}, "
        f"gate {threshold}); waiting up to {timeout_s:.0f}s for idle "
        "before timing",
        file=sys.stderr,
    )
    waited = 0.0
    while waited < timeout_s:
        time.sleep(poll_s)
        waited += poll_s
        la = os.getloadavg()
        load = max(la[0], la[1])
        if load < threshold:
            print(
                f"bench: idle after {waited:.0f}s (loadavg "
                f"{la[0]:.2f}/{la[1]:.2f})",
                file=sys.stderr,
            )
            return waited
    print(
        f"bench: STILL HOT after {timeout_s:.0f}s (loadavg {load:.2f}) — "
        "proceeding; read this run's timings against NOISE_FLOOR.md as "
        "load-contaminated",
        file=sys.stderr,
    )
    return waited


# The driver keeps EXACTLY the last 2000 chars of stdout (measured: every
# committed BENCH_r*.json `tail` is len 2000) and parses the final line as
# JSON; round 9's single-line format grew past that window and
# BENCH_r09.json came back parsed:null.  FINAL_LINE_BOUND leaves a 50-char
# margin under the window for the trailing newline and capture jitter.
FINAL_LINE_BOUND = 1950


def emit_lines(timings: dict[str, float], noise: dict[str, float],
               load_start, load_end,
               idle_wait_s: float = 0.0,
               extra_detail: dict | None = None) -> tuple[str, str]:
    """Render the two output lines (full-precision detail, compact final).

    Structural safety (VERDICT r11 punch #2, reworked r18 per VERDICT r17
    "What's wrong #2"): from round 13 the 2-dp query map plus the noise
    and loadavg scalars overflowed the bound and the map was dropped
    WHOLESALE from the final line — which is the only channel the driver's
    PERF comparison reads, so per_query/geomean/scaling all came back
    empty.  The final line now carries a 1-dp query map (the detail line
    and the committed BENCH_DETAIL artifact keep full precision) with the
    noise/loadavg/idle scalars demoted to the detail line, and when the
    map STILL pushes the line past FINAL_LINE_BOUND it is trimmed
    per-entry — longest names first (ties lexicographic), each worth the
    most chars — with an ``n_omitted`` count, instead of dropped
    wholesale.  The driver's parse never fails, per-query values are
    never lost (detail line + artifact), and the driver-visible map stays
    as complete as the 2000-char stdout window allows.  Pinned by
    tests/test_bench_emission.py at current-registry-size + 10 synthetic
    entries.
    """
    detail = {
        "detail": "full_precision",
        "queries_full": timings,
        "noise_pct": noise,
        "noise_pct_max": round(max(noise.values()) if noise else 0.0, 2),
        "runs_per_query": 3,
        "timing": "median3_after_warmup",
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "idle_wait_s": round(idle_wait_s, 1),
        "host_cpus": os.cpu_count(),
    }
    if extra_detail:
        detail.update(extra_detail)
    detail_line = json.dumps(detail, separators=(",", ":"))
    total = round(sum(timings.values()), 3)

    def _fold(v: float):
        # 1-dp, rendered as an int when whole ("2" not "2.0") — every
        # final-line char spent here is one the map cannot spend on
        # another entry
        r = round(v, 1)
        return int(r) if r == int(r) else r

    qmap = {k: _fold(v) for k, v in timings.items()}
    final = {
        "metric": "total_median_wall",
        "value": total,
        "unit": "sec",
        "queries": qmap,
        "bench_cpus": int(CPUS),
        "sf": _sf_from_dir(SF_DIR),
    }
    line = json.dumps(final, separators=(",", ":"))
    if len(line) > FINAL_LINE_BOUND:
        # trim CHEAPEST entries first (ties: longest name, then
        # lexicographic — deterministic): a 0.1 s entry carries the least
        # regression signal, while the expensive entries the driver's
        # comparison most needs (middle_out_parquet_sink et al.) always
        # survive.  Full precision for every entry stays on the detail
        # line and in the committed BENCH_DETAIL artifact.
        by_cost = sorted(qmap, key=lambda k: (timings[k], -len(k), k))
        omitted = 0
        for k in by_cost:
            if len(line) <= FINAL_LINE_BOUND:
                break
            del qmap[k]
            omitted += 1
            final["n_omitted"] = omitted
            line = json.dumps(final, separators=(",", ":"))
    return detail_line, line


def write_detail_artifact(detail_line: str, final_line: str,
                          repo_dir: str, round_no: int | None = None) -> str:
    """Land the full-precision per-query record as a COMMITTED artifact.

    VERDICT r14 "What's missing #2": the driver captures only the last
    ~2000 chars of bench stdout, so at 77+ entries the detail line is
    truncated away and BENCH_r{N}.json carries no per-query values — the
    stdout channel alone cannot preserve the round's per-query record.
    This writes ``BENCH_DETAIL_r{N}.json`` (detail + final scalars merged)
    next to bench.py so cross-round per-query regressions stay
    machine-checkable from committed artifacts regardless of the stdout
    window.  ``round_no`` defaults to max(existing BENCH_r*.json) + 1 —
    the driver records BENCH_r{N}.json only at round close, so during a
    round the next number is free; ``SPARK_GRAFT_ROUND`` overrides.

    Scaling runs (bench_cpus != the host's core count) land as
    ``BENCH_DETAIL_r{N}_c{cpus}.json`` so they can never masquerade as
    the round's full-core floor (VERDICT r17 "What's wrong #3": the
    driver's 8-core r17 scaling run claimed the bare r18 name).
    """
    import re

    if round_no is None:
        env = os.environ.get("SPARK_GRAFT_ROUND")
        if env:
            round_no = int(env)
        else:
            seen = [
                int(m.group(1))
                for f in os.listdir(repo_dir)
                if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
            ]
            round_no = (max(seen) + 1) if seen else 1
    merged = json.loads(detail_line)
    merged.update(json.loads(final_line))
    suffix = "" if int(CPUS) == os.cpu_count() else f"_c{int(CPUS)}"
    path = os.path.join(
        repo_dir, f"BENCH_DETAIL_r{round_no:02d}{suffix}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, path)
    return path


# ------------------------------------------------------------------ registry


class Entry(NamedTuple):
    """One bench entry.  ``build(ctx)`` returns the entry's DataFrame, or a
    zero-argument callable for composite entries (subset runs, writes,
    codebook training); ``act`` is the action timed on what it returns.
    A timed run is ``act(build(ctx))``: the entry's own driver-side plan
    building counts, the shared prep on ``ctx`` does not."""

    build: Callable[["BenchContext"], Any]
    act: Callable[[Any], Any]


def count(df):
    return df.count()


def collect(df):
    return df.collect()


def call(fn):
    return fn()


def summed(*cols: str):
    """The act ``df.agg(sum(c) for c in cols).collect()``."""
    return lambda df: df.agg(*(F.sum(c) for c in cols)).collect()


def text_chars(df):
    return df.agg(F.sum(F.length("text"))).collect()


class BenchContext:
    """The inputs and the untimed prep the entries share.

    Each attribute is built on first use and memoized, so running one
    entry builds only what that entry needs, and the first use falls in
    the entry's untimed warm-up run.  ``held(df)`` persists a fixture for
    the entry being timed; ``release()`` unpersists it once the entry is
    done.  ``close()`` releases everything and removes the fixture
    directories."""

    def __init__(self, spark, sf_dir: str = SF_DIR) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self._held: list = []
        self._dirs: list[str] = []
        self._seq = itertools.count(1)

    def held(self, df):
        if not df.is_cached:
            df.persist().count()
            self._held.append(df)
        return df

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()

    def close(self) -> None:
        self.release()
        for d in self._dirs:
            shutil.rmtree(d, ignore_errors=True)
        self._dirs.clear()

    def _tempdir(self, prefix: str) -> str:
        d = tempfile.mkdtemp(prefix=prefix)
        self._dirs.append(d)
        return d

    def fresh(self, path: str, tag: str) -> str:
        """A sibling of ``path`` no earlier call returned."""
        return f"{path}_{tag}{next(self._seq)}"

    # inputs
    @cached_property
    def source(self):
        return load_source_tables(self.spark, self.sf_dir)

    @cached_property
    def docs(self):
        return self.source["documents"]

    @cached_property
    def emb(self):
        return self.source["embeddings"]

    @cached_property
    def events(self):
        return self.source["events"]

    @cached_property
    def queries(self):
        return self.emb.filter(F.col("vec_id") < 8)

    @cached_property
    def landed(self):
        return self.docs.filter(F.col("doc_id") % 2 == 0)

    @cached_property
    def incoming(self):
        return self.docs.filter(F.col("doc_id") % 2 == 1)

    @cached_property
    def eval_docs(self):
        return self.docs.filter(F.col("doc_id") % 10 == 0) \
            .select("doc_id", "text")

    @cached_property
    def url_docs(self):
        # the fixture corpus has no URL column: messy shapes that exercise
        # every normalization branch, with dup collisions on % 997
        url = F.concat(
            F.lit("https://WWW.Example.COM:443/s"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit("/p/"),
            (F.col("doc_id") % 997).cast("string"),
            F.lit("/?b=2&a=1#f"),
        )
        return self.docs.select("doc_id", url.alias("url"))

    @cached_property
    def media(self):
        return multimodal.synthesize_media(self.docs)

    @cached_property
    def bm25_queries(self):
        return lookup_df(
            self.spark,
            [(0, "the quick brown fox"), (1, "lorem ipsum dolor"),
             (2, "data"), (3, "spark parquet shuffle")],
            ["query_id", "query"])

    # models, indexes and blooms: trained once, reused by every timed run
    # (the amortized shape: one model serves every later shard)
    @cached_property
    def ivf(self):
        return similarity.ivf_index(self.emb, n_centroids=16)

    @cached_property
    def unigram_lm(self):
        return lm.train_unigram_lm(self.docs, vocab_size=4096)

    @cached_property
    def bpe_merges(self):
        return bpe.train_bpe(self.docs, n_merges=200)

    @cached_property
    def dsir_target(self):
        return dsir.train_hashed_ngram_lm(
            self.docs.filter(F.col("lang") == "en"), dim=4096)

    @cached_property
    def dsir_raw(self):
        return dsir.train_hashed_ngram_lm(self.docs, dim=4096)

    @cached_property
    def pq_books(self):
        return pq.pq_train(self.emb, n_subspaces=8, n_codes=16)

    @cached_property
    def pq_encoded(self):
        return pq.pq_encode(self.emb, self.pq_books)

    @cached_property
    def unigram_model(self):
        return unigram.train_unigram(self.docs.limit(300), vocab_size=512,
                                     n_iters=1)

    @cached_property
    def kn_trigram(self):
        return tuple(t.localCheckpoint()
                     for t in lm.train_kn_trigram_lm(self.docs,
                                                     vocab_size=4096))

    @cached_property
    def kn5(self):
        return tuple(t.localCheckpoint()
                     for t in lm.train_kn5_lm(self.docs, vocab_size=4096))

    @cached_property
    def shingle_bloom(self):
        return dedup.build_shingle_bloom(self.eval_docs, n=8)

    # blooms build once per landed-corpus cadence and amortize across every
    # micro-batch (STRESS stage 25 prices the build separately)
    @cached_property
    def line_bloom(self):
        return textdedup.build_line_bloom(self.landed)

    @cached_property
    def kgram_bloom(self):
        return textdedup.build_kgram_bloom(self.landed, k=10)

    # on-disk fixtures, written once
    @cached_property
    def warc_dir(self) -> str:
        d = self._tempdir("bench_warc_")
        rows = self.docs.select("doc_id", "text").orderBy("doc_id") \
            .limit(8000).collect()
        for shard in range(4):
            sources.write_warc_file(
                ((f"http://site{r.doc_id % 37}.example/p/{r.doc_id}",
                  r.text or "") for r in rows if r.doc_id % 4 == shard),
                os.path.join(d, f"part{shard}.warc.gz"))
        return d

    @cached_property
    def jsonl_dir(self) -> str:
        d = os.path.join(self._tempdir("bench_jsonl_"), "shards")
        sources.write_jsonl(self.docs.select("doc_id", "text", "lang"), d,
                            n_files=int(CPUS))
        return d

    @cached_property
    def surt_dir(self) -> str:
        return self._tempdir("bench_surt_")

    @cached_property
    def compact_src(self) -> str:
        # a skewed landing: one whale file + 8 tinies
        src = os.path.join(self._tempdir("bench_compact_"), "landed")
        self.docs.coalesce(1).write.parquet(src)
        self.docs.limit(500).repartition(8).write.mode("append").parquet(src)
        return src

    @cached_property
    def compact_healed(self) -> str:
        healed = f"{self.compact_src}_healed"
        layout.compact_landed(self.spark, self.compact_src, healed,
                              target_mb_per_file=2.0)
        return healed


ENTRIES: dict[str, Entry] = {}


def entry(name: str, build, act=count) -> None:
    assert name not in ENTRIES, name
    ENTRIES[name] = Entry(build, act)


# stand-in models: the corpus pass is identical for any trained weights
_rnd = random.Random(7)
QUALITY_MODEL = quality.QualityModel(
    weights=[round(_rnd.uniform(-1.0, 1.0), 6) for _ in range(256)],
    bias=0.5, dim=256,
)
_rnd = random.Random(11)
LANGID_MODEL = langid.LanguageModel(
    classes=["de", "en", "es", "fr"],
    weights=[[round(_rnd.uniform(-1.0, 1.0), 6) for _ in range(256)]
             for _ in range(4)],
    biases=[0.0] * 4,
    dim=256, ngram=3, max_chars=1000,
)
BADWORDS = tuple(f"badword{i}" for i in range(200)) + ("lorem",)


def _subset_config(**extra):
    # 10% of orders plus the FK closure
    return SubsetConfig.from_dict(base_config_dict(
        initial_targets=[
            {"table": "orders", "percent": 10, "sample_key": "o_orderkey"}
        ],
        **extra,
    ))


# the flagship: full middle-out subset, closure and report
def _middle_out_subset(c):
    cfg = _subset_config(passthrough_tables=["region"])

    def run():
        eng = SubsetEngine(c.spark, cfg, c.source, materialize="persist")
        eng.run_middle_out()
        eng.report().count()
        eng.cleanup()

    return run


entry("middle_out_subset", _middle_out_subset, call)


# full middle-out with parquet phase barriers (the 100 TB write path)
def _middle_out_parquet_sink(c):
    cfg = _subset_config()

    def run():
        tmp = tempfile.mkdtemp(prefix="bench_dest_")
        try:
            SubsetEngine(c.spark, cfg, c.source, dest_path=tmp,
                         materialize="parquet").run_middle_out()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    return run


entry("middle_out_parquet_sink", _middle_out_parquet_sink, call)

entry("exact_dedup", lambda c: dedup.exact_dedup(c.docs))
entry("minhash_lsh_pairs",
      lambda c: dedup.minhash_lsh_pairs(c.docs, n=3, threshold=0.8))
entry("near_dedup_documents",
      lambda c: dedup.near_dedup_documents(c.docs, n=3, threshold=0.8))
entry("simhash_near_pairs",
      lambda c: dedup.simhash_near_pairs(c.docs, max_hamming=3))
entry("text_stats", lambda c: text.text_stats(c.docs))
entry("tfidf_top_terms", lambda c: corpus.tfidf_top_terms(c.docs, k=3))
entry("pii_scrub", lambda c: corpus.pii_scrub(c.docs))
entry("pack_sequences", lambda c: corpus.pack_sequences(c.docs))
entry("brute_force_cosine_topk",
      lambda c: similarity.brute_force_cosine_topk(
          c.emb, c.queries, k=10, query_id_col="vec_id"))
# the ANN scale path: SRP bucketing + exact re-rank
entry("srp_cosine_topk",
      lambda c: similarity.lsh_bucketed_cosine_topk(
          c.emb, c.queries, k=10, dim=64, query_id_col="vec_id"))
# the cold index build (seeding collect + Lloyd round + full cell
# assignment) — a user of the ANN path pays this once per corpus before
# any ivf_query number applies
entry("ivf_index_build",
      lambda c: similarity.ivf_index(c.emb, n_centroids=16).assigned)


# IVF amortization shape: one persisted index, then the query batch (the
# per-batch probe + re-rank cost a query loop pays)
def _ivf_query(c):
    c.held(c.ivf.assigned)
    return similarity.ivf_query(c.ivf, c.queries, k=10, nprobe=4,
                                query_id_col="vec_id")


entry("ivf_query", _ivf_query)
entry("embedding_dup_pairs",
      lambda c: similarity.embedding_cosine_dup_pairs(c.emb, threshold=0.95))
entry("session_stats", lambda c: session_stats(c.events))
entry("windowed_event_counts", lambda c: windowed_event_counts(c.events))


def _asof_join(c):
    ev = c.events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value")
    return temporal.asof_join(purchases, clicks, on="user_id",
                              tiebreak="event_id")


entry("asof_join", _asof_join)
entry("rolling_fingerprints", lambda c: text.rolling_fingerprints(c.docs))
entry("shared_passages", lambda c: text.shared_passages(c.docs))
entry("encode_tokens",
      lambda c: corpus.encode_tokens(c.docs, corpus.build_vocab(c.docs)))
entry("contamination_pairs",
      lambda c: dedup.contamination_pairs(
          c.docs.filter(F.col("doc_id") % 10 > 0),
          c.docs.filter(F.col("doc_id") % 10 == 0), n=8))
# Bloom-pruned decontamination over the same split: its value is cluster
# shuffle volume, not single-node wall (STRESS.md stage 4: 0.96x at 5M
# docs with bitwise-equal output)
entry("decontaminate_bloom",
      lambda c: dedup.decontaminate_bloom(
          c.docs.filter(F.col("doc_id") % 10 > 0),
          c.docs.filter(F.col("doc_id") % 10 == 0), n=8))
entry("strip_repeated_blocks", lambda c: text.strip_repeated_blocks(c.docs))
# corpus selection: global token-budget cut, per-group whale cap,
# temperature-flattened language rebalance
entry("take_token_budget",
      lambda c: corpus.take_token_budget(c.docs, budget_tokens=200_000))
entry("cap_per_group",
      lambda c: corpus.cap_per_group(c.docs, max_docs=1_000,
                                     group_col="source"))
entry("temperature_mix",
      lambda c: corpus.temperature_mix(c.docs, tau=0.5, source_col="lang"))
# SemDeDup within-cell pairing: seeded+Lloyd, then with a prebuilt
# codebook (the amortized shape every later shard's call takes)
entry("semantic_dup_pairs",
      lambda c: similarity.semantic_dup_pairs(c.emb, threshold=0.95,
                                              n_centroids=16))
entry("semantic_dup_pairs_prebuilt",
      lambda c: similarity.semantic_dup_pairs(c.emb, threshold=0.95,
                                              centroids=c.ivf.centroids))


# corpus-version diff: the new snapshot is the current docs with every
# 7th removed and every 5th edited
def _snapshot_diff(c):
    new = c.docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    return dedup.snapshot_diff(c.docs, new)


entry("snapshot_diff", _snapshot_diff)
entry("quality_score",
      lambda c: quality.score_documents(c.docs, QUALITY_MODEL),
      summed("quality_logit"))
entry("knn_label_vote",
      lambda c: similarity.knn_label_vote(c.emb, c.queries, k=10,
                                          query_id_col="vec_id"))
entry("rp_project", lambda c: similarity.rp_project(c.emb, out_dim=16))
# cost-based distributed ORDER BY rank (quantile-literal shards past the
# row threshold; plain window below it)
entry("global_rank",
      lambda c: corpus.global_rank(c.docs, order_col="n_chars"))
# quantile clamp -> fractional-epoch replication, the winsorize ->
# expand_epochs half of mixture assembly
entry("winsorize_expand_epochs",
      lambda c: corpus.expand_epochs(
          corpus.winsorize(c.docs, ["n_chars"]), epochs={},
          source_col="lang", default_epochs=1.5))
entry("train_unigram_lm",
      lambda c: lm.train_unigram_lm(c.docs, vocab_size=4096))
entry("lm_score_documents",
      lambda c: lm.lm_score_documents(c.docs, c.held(c.unigram_lm)))
# the timed cost is the per-DISTINCT-word Arrow stage + positional join-back
entry("encode_bpe", lambda c: bpe.encode_bpe(c.docs, c.bpe_merges),
      summed("n_bpe_tokens"))


# Z-ordered parquet sink: bounds scan + range partition + in-file sort
def _write_zordered(c):
    def run():
        tmp = tempfile.mkdtemp(prefix="bench_zorder_")
        try:
            layout.write_zordered(c.docs, tmp, ["n_chars", "doc_id"],
                                  n_files=16)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    return run


entry("write_zordered", _write_zordered, call)
# DSIR importance resampling (target = en docs): the timed cost is the
# broadcast delta join + integer sum + distributed Gumbel top-k rank
entry("train_hashed_ngram_lm",
      lambda c: dsir.train_hashed_ngram_lm(
          c.docs.filter(F.col("lang") == "en"), dim=4096))
entry("dsir_sample",
      lambda c: dsir.dsir_sample(c.docs, 1_000, c.held(c.dsir_target),
                                 c.held(c.dsir_raw), dim=4096))
# product quantization: codebooks train on the driver (numpy over a
# hash-ordered sample); the timed query is the LUT-literal ADC scan over
# the persisted codes + exact re-rank of the candidate pool
entry("pq_train",
      lambda c: lambda: pq.pq_train(c.emb, n_subspaces=8, n_codes=16), call)
entry("pq_encode", lambda c: pq.pq_encode(c.emb, c.pq_books))
entry("pq_topk_rerank",
      lambda c: pq.pq_topk(c.held(c.pq_encoded), c.queries, c.pq_books,
                           k=10, query_id_col="vec_id", rerank_with=c.emb,
                           rerank_candidates=100))
# plan-literal language id: char trigrams over the first 1000 chars
entry("language_top1",
      lambda c: langid.language_top1(c.docs, LANGID_MODEL),
      lambda df: df.groupBy("lang_pred").count().collect())
entry("exact_substring_dedup",
      lambda c: text.exact_substring_dedup(c.docs, k=20),
      summed("n_removed_tokens"))
entry("dedup_lines", lambda c: text.dedup_lines(c.docs, keep="first"),
      summed("n_removed_lines"))
# a small curate_corpus chain: the composer's lazy-plan machinery
entry("curate_small",
      lambda c: curate_corpus(c.docs, c4=True, gopher={"min_stop_hits": 1},
                              dedup="exact", report=False,
                              barrier=False)[0])
entry("bm25_topk",
      lambda c: retrieval.bm25_topk(c.docs, c.bm25_queries, k=10))
entry("contamination_fraction",
      lambda c: dedup.contamination_fraction(
          c.docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text"),
          c.eval_docs, n=8, bloom=c.shingle_bloom),
      summed("n_contaminated"))
entry("collocation_scores",
      lambda c: corpus.collocation_scores(c.docs, min_count=40))
entry("knn_graph",
      lambda c: similarity.knn_graph(c.emb, k=10, n_centroids=16))
entry("prototype_prune",
      lambda c: similarity.prototype_prune(c.emb, keep_fraction=0.5, k=10,
                                           n_centroids=16))
entry("bigram_lm_score",
      lambda c: lm.bigram_score_documents(
          c.docs, *lm.train_bigram_lm(c.docs, vocab_size=4096)),
      summed("lm2_logprob4_sum"))
entry("url_curation",
      lambda c: urls.curate_urls(c.url_docs, blocked_domains=["bad.com"]),
      lambda df: df.agg(F.count("url_norm"),
                        F.sum(F.col("url_blocked").cast("int"))).collect())
entry("url_dedup", lambda c: urls.url_dedup(c.url_docs))
# the stream dedup kernels, each building its landed-corpus bloom
entry("dedup_lines_stream",
      lambda c: textdedup.dedup_lines_stream(
          c.incoming, textdedup.build_line_bloom(c.landed)),
      summed("n_removed_lines"))
entry("exact_substring_stream",
      lambda c: textdedup.exact_substring_stream(
          c.incoming, textdedup.build_kgram_bloom(c.landed, k=10), k=10),
      summed("n_removed_tokens"))
entry("unimax_weights",
      lambda c: corpus.unimax_weights(
          c.docs.withColumn("tok", text.token_count("text")),
          budget=40_000, max_epochs=2, group_col="lang", size_col="tok"),
      collect)


def _rrf_fuse(c):
    docs = c.docs
    wa = Window.partitionBy("lang").orderBy(
        text.token_count("text").desc(), F.col("doc_id").asc())
    a = (docs.select(F.col("lang").alias("query_id"), "doc_id",
                     F.row_number().over(wa).alias("rank"))
         .filter(F.col("rank") <= 20))
    wb = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc())
    b = (docs.select(F.col("lang").alias("query_id"), "doc_id",
                     F.row_number().over(wb).alias("rank"))
         .filter(F.col("rank") <= 15))
    return retrieval.rrf_fuse([a, b], k=60, topk=10)


entry("rrf_fuse", _rrf_fuse)
entry("soft_dedup_weights",
      lambda c: dedup.soft_dedup_weights(c.docs, n=3, threshold=0.8),
      summed("sample_weight"))
entry("zipf_fit", lambda c: corpus.zipf_fit(c.docs), collect)
entry("diversity_stats", lambda c: text.diversity_stats(c.docs),
      summed("distinct_3"))
entry("winnow_fingerprints",
      lambda c: text.winnow_fingerprints(c.docs, window=4, winnow=5))
entry("winnow_overlap",
      lambda c: text.winnow_overlap_pairs(c.docs, window=4, winnow=5,
                                          min_shared=1))
entry("corpus_overlap",
      lambda c: dedup.corpus_overlap(c.docs.filter("doc_id >= 50"),
                                     c.docs.filter("doc_id < 100"), n=8),
      collect)
entry("corpus_overlap_sketch",
      lambda c: dedup.corpus_overlap(c.docs.filter("doc_id >= 50"),
                                     c.docs.filter("doc_id < 100"), n=8,
                                     approx=True),
      collect)
# the stream chain with prebuilt blooms: the per-batch production path
entry("curate_stream",
      lambda c: curate_stream(c.incoming, line_bloom=c.line_bloom,
                              kgram_bloom=c.kgram_bloom, k=10, gopher=True),
      summed("es_removed_tokens"))
entry("curate_stream_div",
      lambda c: curate_stream(c.incoming, line_bloom=c.line_bloom,
                              diversity={"min_ratio_2": 0.3}),
      summed("dv_distinct_2"))
# the line-dedup kernel + c4 line cleaning + doc gate end to end
entry("curate_stream_c4",
      lambda c: curate_stream(c.incoming, line_bloom=c.line_bloom, c4=True),
      text_chars)
# the complete Gopher A1.2 table (12 rules incl. the vectorized
# dup-5..10-gram coverage kernel) and the C4 bad-words regex gate
entry("gopher_repetition_full",
      lambda c: textdedup.gopher_repetition_stateless(c.docs),
      summed("dup_5gram_char_frac"))
entry("badwords_gate", lambda c: text.badwords_flags(c.docs, BADWORDS),
      lambda df: df.filter("badwords_hit").count())
entry("fineweb_flags", lambda c: text.fineweb_quality_flags(c.docs),
      lambda df: df.filter("fineweb_pass").count())
entry("code_flags", lambda c: text.code_quality_flags(c.docs),
      lambda df: df.filter("code_pass").count())


# the corpus wrapped in realistic markup JVM-side, then the Arrow
# extraction kernel
def _html_extract(c):
    hdocs = c.docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><title>d</title><style>p{}</style>'
                  '</head><body><nav><a href="/">home</a></nav><p>'),
            F.col("text"),
            F.lit('</p><script>t()</script></body></html>'),
        ).alias("text"))
    return html.extract_html_text(hdocs, drop_nav=True)


entry("html_extract", _html_extract, text_chars)
# the binaryFile + streaming-gzip parse of prebuilt WARC files
entry("warc_read", lambda c: sources.read_warc(c.spark, c.warc_dir),
      summed("n_payload_bytes"))
entry("surt_write",
      lambda c: lambda: layout.write_surt_partitioned(
          c.url_docs, c.surt_dir, n_files=8),
      call)
entry("normalize_text",
      lambda c: text.normalize_text(c.docs, form="NFKC"), text_chars)
entry("pii_redact", lambda c: pii.redact_pii(c.docs, counts=True),
      lambda df: df.agg(F.sum(F.length("text")),
                        F.sum("pii_email_n")).collect())
# the native json scan of prebuilt shards with an explicit schema
entry("jsonl_read",
      lambda c: sources.read_jsonl(c.spark, c.jsonl_dir,
                                   "doc_id long, text string, lang string"),
      text_chars)
# the CCNet split, approx (scale) mode: one agg + broadcast join
entry("quantile_buckets",
      lambda c: corpus.quantile_buckets(c.docs, "n_chars", n_buckets=3,
                                        group_col="lang", mode="approx"),
      lambda df: df.groupBy("bucket").count().collect())


# image perceptual-hash near-dup over the media with every 10th cloned
def _phash_pairs(c):
    clones = c.media.filter(F.col("media_id") % 10 == 0).withColumn(
        "media_id", F.col("media_id") + F.lit(1_000_000))
    return multimodal.media_dup_pairs(c.media.unionByName(clones),
                                      method="phash", max_hamming=8)


entry("phash_pairs", _phash_pairs)
# per-DISTINCT-word Viterbi Arrow stage + positional join-back
entry("encode_unigram",
      lambda c: unigram.encode_unigram(c.docs, c.unigram_model))
# the skewed landing compacted to a fresh dest per run, then the
# incremental re-pass over a healed landing (every shard already in range
# byte-copies: the maintenance regime's no-op cost)
entry("compact_landed",
      lambda c: lambda: layout.compact_landed(
          c.spark, c.compact_src, c.fresh(c.compact_src, "out"),
          target_mb_per_file=2.0),
      call)
entry("compact_incremental",
      lambda c: lambda: layout.compact_landed(
          c.spark, c.compact_healed, c.fresh(c.compact_src, "incr"),
          target_mb_per_file=2.0, incremental=True),
      call)
# Kneser-Ney scoring, trigram and the published 5-gram order, batch and
# the stream-legal twins (element_at extraction + stream-static joins)
entry("kn_trigram_score",
      lambda c: lm.kn_trigram_score_documents(c.docs, *c.kn_trigram),
      summed("lm3_logprob4_sum"))
entry("kn5_score", lambda c: lm.kn5_score_documents(c.docs, *c.kn5),
      summed("lm5_logprob4_sum"))
entry("kn_trigram_score_stream",
      lambda c: lm.kn_trigram_score_documents_stream(c.docs, *c.kn_trigram),
      summed("lm3_logprob4_sum"))
entry("kn5_score_stream",
      lambda c: lm.kn5_score_documents_stream(c.docs, *c.kn5),
      summed("lm5_logprob4_sum"))


# video temporal-fingerprint near-dup: frame dHash sequences, stride-1
# window signatures, banded join + per-pair agg
def _video_fp_pairs(c):
    vids = c.media.filter(F.col("kind") == "video")
    clones = vids.filter(F.col("media_id") % 10 == 2).withColumn(
        "media_id", F.col("media_id") + F.lit(1_000_000))
    return multimodal.video_dup_pairs(vids.unionByName(clones), window=4,
                                      max_hamming=6)


entry("video_fp_pairs", _video_fp_pairs)


def time_entry(ctx: BenchContext, name: str,
               runs: int = 3) -> list[tuple[float, int]]:
    """``(wall s, codegen classes compiled)`` of each of ``runs`` runs of
    entry ``name``, in run order, after one untimed warm-up run (codegen +
    JIT for the plan shape, and the first use of the prep the entry reads
    from ``ctx``)."""
    build, act = ENTRIES[name]
    samples = []
    for i in range(runs + 1):
        c0 = codegen_compile_count(ctx.spark)
        t0 = time.time()
        act(build(ctx))
        wall = time.time() - t0
        if i:
            samples.append((wall, codegen_compile_count(ctx.spark) - c0))
    ctx.release()
    return samples


def run_entries(spark):
    """``(timings, noise)``: every entry's median wall and its within-run
    spread as % of the median, in registry order."""
    ctx = BenchContext(spark)
    timings: dict[str, float] = {}
    noise: dict[str, float] = {}
    try:
        for name in ENTRIES:
            samples = sorted(wall for wall, _ in time_entry(ctx, name))
            med = samples[len(samples) // 2]
            timings[name] = round(med, 3)
            # the measured noise floor a cross-round delta must clear before
            # it can be read as a real regression (NOISE_FLOOR.md records
            # the between-run floor from back-to-back same-code runs)
            noise[name] = round(100.0 * (samples[-1] - samples[0]) / med, 1)
    finally:
        ctx.close()
    return timings, noise


def start_session():
    return get_spark("condenser-bench", master=f"local[{CPUS}]",
                     shuffle_partitions=int(CPUS))


# Host-drift calibration (VERDICT r17 "Next round" #9): two mid-cost,
# code-stable probe queries whose 32-core floor is pinned from the
# driver's own r17 recording (BENCH_DETAIL_r17.json, total 98.5 s run).
# Every bench run stamps now/floor/ratio for both into the detail
# artifact, so a board-wide slowdown reads as DATA (ratio >> 1 on
# untouched probes) instead of needing a post-hoc adjudication essay —
# NOISE_FLOOR.md "wave-4 close" documents the round-17 incident this
# automates.  Ratios are only comparable on a full-core run; the stamp
# records bench_cpus context either way.
CALIBRATION_FLOOR_32C = {
    "minhash_lsh_pairs": 3.07,
    # bm25_topk was the second probe until r18 wave 4 optimized it
    # (lookup_df LocalRelation query frame) — an optimized query can no
    # longer separate host drift from code change, so the probe swapped
    # to dsir_sample (untouched since its r17 disposition; same driver
    # recording as the other floors).
    "dsir_sample": 2.50,
}


def calibration_stamp(timings: dict[str, float]) -> dict:
    probes = {}
    for name, floor in CALIBRATION_FLOOR_32C.items():
        now = timings.get(name)
        if now is None:
            continue
        probes[name] = {
            "now": round(now, 3),
            "floor_32c": floor,
            "ratio": round(now / floor, 2),
        }
    return {"calibration": {
        "floor_src": "BENCH_DETAIL_r17.json (driver 32c recording)",
        "bench_cpus": int(CPUS),
        "probes": probes,
    }}


def main() -> int:
    # machine-load self-labeling (VERDICT r8 "What's wrong #3") + the r11
    # hot-box guard: wait (bounded, BEFORE the JVM spins up) for the box to
    # go idle, then record loadavg before/after so the reader can tell a
    # hot box from a code regression without a rerun.
    idle_wait_s = wait_for_idle()
    spark = start_session()
    load_start = os.getloadavg()
    timings, noise = run_entries(spark)
    load_end = os.getloadavg()
    detail_line, final_line = emit_lines(
        timings, noise, load_start, load_end, idle_wait_s,
        extra_detail=calibration_stamp(timings))
    path = write_detail_artifact(
        detail_line, final_line,
        os.path.dirname(os.path.abspath(__file__)))
    print(f"bench: per-query detail landed at {path}", file=sys.stderr)
    print(detail_line)
    print(final_line)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
