"""Plan-contract tests: the physical plans the engine promises at scale,
asserted from `.explain`-level plan strings at fixture scale.

These pin the three plan properties the 100 TB design depends on:
filters reach the Parquet scan (row-group pruning), projections prune the
read schema (column pruning), and per-row Python never appears on JVM-only
paths."""

from pyspark.sql import functions as F


def _executed(df) -> str:
    """The FINAL adaptive plan of df's OWN QueryExecution (df.count() would
    build a separate aggregation QE and leave this one un-executed, showing
    only the pre-adaptive plan — see tests/test_scale_plan._executed_plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    return qe.executedPlan().toString()


def test_sample_filter_pushes_to_scan(spark, source):
    """P3' deterministic sample: the pmod predicate must appear in the scan's
    DataFilters, not in a post-scan Filter only."""
    from condenser_spark.operators.filters import deterministic_sample

    plan = _executed(deterministic_sample(source["orders"], "o_orderkey", 10))
    scan = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan and "pmod" in scan[0], scan


def test_key_projection_prunes_scan_columns(spark, source):
    """Upstream key-set extraction reads ONLY the key column from parquet — a
    scan fetching all columns for a 1-column projection reads ~10x the bytes
    at 100 TB."""
    keys = source["orders"].select("o_orderkey").distinct()
    plan = _executed(keys)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "o_orderkey" in scan
    for unneeded in ("o_custkey", "o_orderdate", "o_totalprice"):
        assert unneeded not in scan, f"scan reads pruned column: {scan}"


def test_text_stats_is_python_free(spark, source):
    """text_stats promises JVM-only execution: no BatchEvalPython /
    ArrowEvalPython / mapInPandas stages in its plan."""
    from condenser_spark.functions.text import text_stats

    plan = _executed(text_stats(source["documents"].limit(50)))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_middle_out_no_cartesian(spark, source):
    """The full middle-out plan contains no cartesian products and no per-row
    Python on any table's lineage."""
    from condenser_spark.config import SubsetConfig
    from condenser_spark.engine import SubsetEngine
    from condenser_spark.fixtures import base_config_dict

    cfg = SubsetConfig.from_dict(base_config_dict(
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
        passthrough_tables=["region"],
    ))
    eng = SubsetEngine(spark, cfg, source)
    eng.run_middle_out()
    for t in ("lineitem", "customer", "nation"):
        plan = _executed(eng.dest[t])
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


def test_dedup_shuffle_carries_fingerprints_not_bodies(spark, source):
    """exact_dedup's exchange partitions on the md5 fingerprint; document
    bodies must not survive into the aggregate output columns."""
    from condenser_spark.functions.dedup import exact_dedup

    out = exact_dedup(source["documents"])
    plan = _executed(out)
    assert "hashpartitioning(fingerprint" in plan
    assert "text" not in out.columns


def test_minhash_signatures_skip_shingle_distinct(spark, source):
    """minhash_signatures rides the duplicate-insensitivity of its ``min``
    aggregates: the (id, shingle) hash-distinct is skipped, so the plan is
    exactly two exchanges — the shingle window's id partition and the
    signature aggregate — with no third distinct shuffle between them."""
    from condenser_spark.functions.dedup import minhash_signatures

    plan = _executed(minhash_signatures(source["documents"]))
    assert plan.count("Exchange") == 2, plan


def test_hash_split_folds_into_scan_stage(spark, source):
    """hash_split promises zero shuffle: a single codegen'd project over the
    pruned scan — no Exchange anywhere in the plan."""
    from condenser_spark.functions.corpus import hash_split

    plan = _executed(
        hash_split(source["documents"].select("doc_id", "source"),
                   {"train": 0.9, "val": 0.1}))
    assert "Exchange" not in plan
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "text" not in scan, f"scan reads pruned column: {scan}"


def test_encode_tokens_broadcasts_vocab_not_corpus(spark, source):
    """The vocab side (driver-bounded by max_size) broadcasts; the token
    stream must NEVER be on the build side of a broadcast join."""
    from condenser_spark.functions.corpus import build_vocab, encode_tokens

    docs = source["documents"]
    plan = _executed(encode_tokens(docs, build_vocab(docs, max_size=500)))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_join_is_hash_not_nested_loop(spark, source):
    """Cross-corpus overlap must plan as an equi-join on the shingle —
    a nested-loop/cartesian text-vs-text comparison is the O(N*M) failure
    mode this operator exists to avoid."""
    from condenser_spark.functions.dedup import contamination_pairs

    docs = source["documents"]
    plan = _executed(contamination_pairs(
        docs.filter("doc_id >= 50"), docs.filter("doc_id < 50"), n=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_fraction_no_cartesian_map_side_counts(spark, source):
    """The graded score keeps the pairs operator's shape promises: equi-join
    on the shingle (never a text-vs-text nested loop), map-side-combined
    per-doc counts, and no per-row Python on the plain (bloom-less) path."""
    from condenser_spark.functions.dedup import contamination_fraction

    docs = source["documents"]
    plan = _executed(contamination_fraction(
        docs.filter("doc_id >= 50"), docs.filter("doc_id < 50"), n=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker


def test_ivf_expr_path_is_python_free_and_arrow_path_is_batched(spark):
    """IVF's two centroid-shipping strategies keep their execution promises:
    the literal-expression path (oracle gate, fixture dims) runs entirely
    JVM-side — no Python evaluation stage of any kind — and the high-dim
    path uses Arrow-batched evaluation (ArrowEvalPython), never row-at-a-time
    BatchEvalPython."""
    import random

    from condenser_spark.functions.similarity import ivf_cosine_topk

    rnd = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rnd.gauss(0.0, 1.0) for _ in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 2")
    cents = [r.embedding for r in emb.filter("vec_id % 10 = 0").collect()]

    expr_plan = (
        ivf_cosine_topk(emb, q, k=3, n_centroids=3, nprobe=2,
                        query_id_col="vec_id", centroids=cents,
                        use_arrow=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas"):
        assert marker not in expr_plan, marker

    arrow_plan = (
        ivf_cosine_topk(emb, q, k=3, n_centroids=3, nprobe=2,
                        query_id_col="vec_id", centroids=cents,
                        use_arrow=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in arrow_plan
    assert "BatchEvalPython" not in arrow_plan


def test_repetition_stats_prunes_scan_to_id_and_text(spark, source):
    """repetition_stats reads ONLY (doc_id, text) from the parquet scan —
    column pruning must reach the reader (a scan dragging lang/source/
    n_chars through two explode pipelines would read the table twice over
    at 100 TB)."""
    from condenser_spark.functions.text import repetition_stats

    plan = (
        repetition_stats(source["documents"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    for m in re.finditer(r"ReadSchema: ([^\n]+)", plan):
        cols = set(re.findall(r"(\w+):", m.group(1)))
        assert cols <= {"doc_id", "text"}, cols


def test_bloom_prune_runs_before_every_shingle_keyed_exchange(spark, source):
    """contamination_pairs_bloom's whole point is WHERE the filter sits: the
    Arrow-vectorized Bloom probe must execute below (scan-side of) every
    SHINGLE-keyed Exchange — the distinct, the df-cap aggregate, and the
    join — so pruned shingle rows never shuffle on the shingle.  The one
    shuffle legitimately below the probe is the id-keyed token-window
    partition that shingling itself requires (the probe consumes the
    constructed shingle, so it cannot run earlier).  Pin that by walking
    the executed plan: in each ArrowEvalPython's subtree (children print
    below their parent at greater depth), no Exchange may partition on the
    shingle."""
    from pyspark.sql import functions as F

    from condenser_spark.functions.dedup import contamination_pairs_bloom

    docs = source["documents"]
    train = docs.filter(F.col("doc_id") % 10 > 0).select("doc_id", "text")
    evals = docs.filter(F.col("doc_id") % 10 == 0).limit(20).select(
        "doc_id", "text")
    df = contamination_pairs_bloom(train, evals, n=8)
    plan = _executed(df)
    lines = plan.splitlines()
    probe_idx = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    assert probe_idx, "Bloom probe missing from executed plan"
    # and the shingle-keyed exchanges must exist ABOVE the probes (the join
    # path still shuffles the survivors)
    assert any("Exchange" in l and "shingle" in l for l in lines), plan

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-*"))

    for i in probe_idx:
        d = depth(lines[i])
        j = i + 1
        subtree = []
        while j < len(lines) and depth(lines[j]) > d:
            subtree.append(lines[j])
            j += 1
        for line in subtree:
            if "Exchange" in line:
                assert "shingle" not in line, (
                    "Bloom probe sits above a shingle-keyed Exchange — "
                    "pruned rows would shuffle on the shingle:\n" + line
                )


def test_chunk_documents_plan_has_zero_exchanges(spark, source):
    """chunk_documents promises scan speed: sequence + slice + explode are
    all narrow, so the executed plan must contain NO Exchange at all —
    any shuffle here is a regression that turns a map-only rewrite into a
    network job at 100 TB."""
    from condenser_spark.functions.corpus import chunk_documents

    plan = _executed(chunk_documents(source["documents"]))
    assert "Exchange" not in plan, plan


def test_strip_repeated_blocks_anti_join_is_hash_and_scan_pruned(
        spark, source):
    """strip_repeated_blocks' hot-signature anti-join must be a hash join
    (the hot set is tiny by construction — only signatures with df > cap),
    never a nested-loop/cartesian, and every parquet scan must read only
    (doc_id, text)."""
    import re

    from condenser_spark.functions.text import strip_repeated_blocks

    plan = _executed(strip_repeated_blocks(source["documents"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti and all("HashJoin" in l for l in anti), anti
    for m in re.finditer(r"ReadSchema: ([^\n]+)", plan):
        cols = set(re.findall(r"(\w+):", m.group(1)))
        assert cols <= {"doc_id", "text"}, cols


def test_dsir_weights_delta_join_is_broadcast(spark, source):
    """DSIR's model join must be a BroadcastHashJoin on the dim-bounded
    delta table — a sort-merge there would shuffle the ~2N-row feature
    stream on bucket for no reason; and the per-doc sum must be a
    map-side-combined hash aggregate (partial_sum before the id
    exchange)."""
    from condenser_spark.functions.dsir import (
        dsir_weights,
        train_hashed_ngram_lm,
    )

    docs = source["documents"].limit(120)
    tlm = train_hashed_ngram_lm(docs.filter(F.col("lang") == "en"), dim=64)
    rlm = train_hashed_ngram_lm(docs, dim=64)
    plan = _executed(dsir_weights(docs, tlm, rlm, dim=64))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan
    # no per-row Python anywhere on the weight path
    for marker in ("BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_pq_adc_scan_is_joinless_and_python_free(spark, source):
    """The ADC scoring pass (pre-rerank) promises a pure projection over
    the codes scan: zero Join nodes of any kind, zero Python, and the
    only Exchange is the top-k window's."""
    from condenser_spark.functions.pq import pq_encode, pq_topk, pq_train

    emb = source["embeddings"]
    books = pq_train(emb, n_subspaces=8, n_codes=16)
    codes = pq_encode(emb, books)
    plan = _executed(pq_topk(codes, emb.filter("vec_id < 4"), books, k=5,
                             query_id_col="vec_id"))
    for marker in ("Join", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert plan.count("Exchange") <= 2, plan  # window shuffle (+AQE read)


def test_pq_encode_expr_path_single_stage_no_exchange(spark, source):
    """pq_encode is one scan-level projection: no Exchange, no join, in
    BOTH engine paths (the Arrow path adds exactly one ArrowEvalPython)."""
    from condenser_spark.functions.pq import pq_encode, pq_train

    emb = source["embeddings"]
    books = pq_train(emb, n_subspaces=8, n_codes=16)
    expr_plan = _executed(pq_encode(emb, books, use_arrow=False))
    assert "Exchange" not in expr_plan and "Join" not in expr_plan
    assert "ArrowEvalPython" not in expr_plan
    arrow_plan = _executed(pq_encode(emb, books, use_arrow=True))
    assert "Exchange" not in arrow_plan and "Join" not in arrow_plan
    assert arrow_plan.count("ArrowEvalPython") == 1


def test_ivfpq_probe_filter_prunes_partitioned_scan(spark, source,
                                                    tmp_path):
    """Against a cell-partitioned landing, ivfpq_topk's probe filter must
    reach the scan as a PARTITION filter (cell in the PartitionFilters
    clause), so a 100 TB index reads nprobe/n_centroids of its files."""
    from condenser_spark.functions.pq import (
        IvfPqIndex,
        ivfpq_index,
        ivfpq_topk,
        pq_train,
    )

    emb = source["embeddings"]
    books = pq_train(emb, n_subspaces=8, n_codes=16)
    idx = ivfpq_index(emb, n_centroids=8, books=books)
    path = str(tmp_path / "ivfpq_plan")
    idx.write_partitioned(path)
    landed = IvfPqIndex(coded=spark.read.parquet(path),
                        centroids=idx.centroids, books=idx.books)
    plan = _executed(ivfpq_topk(landed, emb.filter("vec_id < 2"), k=5,
                                nprobe=2, query_id_col="vec_id"))
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans, plan
    assert any("PartitionFilters" in l and "cell" in l
               and "cell#" in l.split("PartitionFilters")[1][:200]
               for l in scans), scans


def test_language_scores_python_free_map_side_combined(spark, source):
    """language_scores promises one codegen'd scan: per-char-n-gram work is
    all JVM (no Python anywhere), and the K per-class integer sums are
    map-side combined (partial_sum before the id exchange) — the
    quality-scorer contract at character granularity."""
    from condenser_spark.functions.langid import LanguageModel, language_scores

    m = LanguageModel(
        classes=["aa", "bb"],
        weights=[[0.001 * i for i in range(32)],
                 [0.002 * i for i in range(32)]],
        biases=[0.1, -0.1], dim=32, ngram=3, max_chars=200,
    )
    plan = _executed(language_scores(source["documents"].limit(80), m))
    for marker in ("BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert "partial_sum" in plan, plan


def test_exact_substring_linear_shuffles_no_cartesian(spark, source):
    """exact_substring_dedup's promised shape: no cartesian product, no
    per-row Python, the duplicate count partitioned on the 16-byte fp, and
    the coverage window + rebuild sharing ONE id-side partitioning (the
    window's sort exchange feeds the groupBy without a second id
    exchange)."""
    from condenser_spark.functions.text import exact_substring_dedup

    plan = _executed(
        exact_substring_dedup(source["documents"].filter("doc_id < 100"), k=8))
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert "hashpartitioning(fp" in plan, plan
    # one partitioning serves coverage window + rebuild: at most 2 id-keyed
    # exchanges in the FINAL plan (the AQE toString appends the pre-adaptive
    # Initial Plan, which would double-count)
    import re

    final = plan.split("== Initial Plan ==")[0]
    id_exchanges = re.findall(r"Exchange hashpartitioning\(id", final)
    assert len(id_exchanges) <= 2, final


def test_bm25_broadcast_only_pruned_scan_map_side_tf(spark, source):
    """bm25_topk's promised shape: every query-side join is broadcast (the
    corpus never shuffles to meet the bounded query set), the (doc, term)
    tf aggregate is map-side combined before its exchange, no per-row
    Python, and the corpus scan prunes to (doc_id, text)."""
    from condenser_spark.functions.retrieval import bm25_topk

    qdf = spark.createDataFrame(
        [(0, "spark join"), (1, "window scan")], ["query_id", "query"])
    plan = _executed(
        bm25_topk(source["documents"].filter("doc_id < 200"), qdf, k=5,
                  barrier=False))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert "partial_count" in plan, plan
    scan = [l for l in plan.splitlines()
            if "FileScan" in l and "documents" in l][0]
    for unneeded in ("lang", "source", "n_chars"):
        assert unneeded not in scan, f"scan reads pruned column: {scan}"


def test_knn_graph_no_cartesian_python_free_expr_path(spark, source):
    """The self-kNN graph keeps semantic_dup_pairs' shape promises: the
    within-cell pairing is an equi-join on the cell (never a cartesian
    all-pairs), and the literal-centroid expression path runs entirely
    JVM-side — no Python evaluation stage of any kind."""
    from pyspark.sql import functions as F

    from condenser_spark.functions.similarity import knn_graph

    emb = source["embeddings"]
    cents = [
        list(r.e)
        for r in emb.filter(F.size("embedding") == 64)
        .select(F.col("embedding").cast("array<double>").alias("e"))
        .limit(8).collect()
    ]
    plan = _executed(knn_graph(emb, k=5, centroids=cents, use_arrow=False))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker


def test_bigram_scoring_broadcasts_model_not_corpus_no_python(spark, source):
    """bigram_score_documents' promises: the (vocab+1)-row unigram side
    broadcasts into the token stream (the corpus never shuffles to meet the
    model), per-doc sums are map-side combined, and no per-row Python
    appears anywhere in train or score."""
    from condenser_spark.functions.lm import (
        bigram_score_documents,
        train_bigram_lm,
    )

    docs = source["documents"].filter("doc_id < 200")
    uni, bi = train_bigram_lm(docs, vocab_size=64)
    plan = _executed(
        bigram_score_documents(docs, uni, bi)
        .select("doc_id", "lm2_logprob4_sum"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_sum" in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker


def test_textdedup_stream_twins_are_map_only(spark, source):
    """The stream-static text-dedup twins promise statelessness: the
    landed index is a broadcast bloom probed in-row, so the executed plan
    of BOTH twins must contain NO Exchange (a shuffle here would make the
    operators unusable as streaming stages and re-shuffle every
    micro-batch at 100 TB) and exactly ONE Python/Arrow eval (the fused
    probe+repeat+coverage kernel)."""
    from condenser_spark.streaming.textdedup import (
        build_kgram_bloom,
        build_line_bloom,
        dedup_lines_stream,
        exact_substring_stream,
    )

    docs = source["documents"]
    landed = docs.filter(F.col("doc_id") % 2 == 0)
    stream = docs.filter(F.col("doc_id") % 2 == 1)
    for out in (
        dedup_lines_stream(stream, build_line_bloom(landed)),
        exact_substring_stream(stream, build_kgram_bloom(landed, k=10),
                               k=10),
    ):
        plan = _executed(out)
        assert "Exchange" not in plan, plan
        n_py = sum(("ArrowEvalPython" in l) or ("BatchEvalPython" in l)
                   for l in plan.splitlines())
        assert n_py == 1, plan


def test_corpus_overlap_sketch_joinless_one_pass(spark, source):
    """approx=True contract: the HLL path is ONE aggregation over one pass
    of both corpora — zero joins (the exact path's distinct-set equi-join
    is exactly what the sketch removes), no per-side distinct."""
    from condenser_spark.functions.dedup import corpus_overlap

    docs = source["documents"]
    df = corpus_overlap(docs.filter("doc_id >= 50"),
                        docs.filter("doc_id < 100"), n=8, approx=True)
    plan = _executed(df)
    assert "Join" not in plan, plan
    # partial HLL sketches merge map-side: the only shuffle carries
    # sketch buffers, and the final row is a single aggregate
    assert plan.count("HashAggregate") >= 2, plan


def test_stateless_gate_chain_is_map_only(spark, source):
    """The round-12 ingest gates keep the twins' stateless contract: a
    curate_stream chain of diversity= AND gopher_repetition= must execute
    with ZERO Exchange (pure per-row projection/filter — stream-legal,
    no per-micro-batch shuffle at 100 TB) and exactly TWO Arrow evals
    (one kernel per gate)."""
    from condenser_spark.streaming.curate import curate_stream

    docs = source["documents"]
    out = curate_stream(docs.filter(F.col("doc_id") % 2 == 1),
                        diversity={"min_ratio_2": 0.3},
                        gopher_repetition=True)
    plan = _executed(out)
    assert "Exchange" not in plan, plan
    n_py = sum(("ArrowEvalPython" in l) or ("BatchEvalPython" in l)
               for l in plan.splitlines())
    assert n_py == 2, plan


def test_badwords_and_script_gates_are_pure_codegen(spark, source):
    """The round-13 ingest gates are JVM-only: a curate_stream chain of
    badwords= + script= must execute with ZERO Exchange AND ZERO Python
    evals (one alternation regex + script-class counts, all riding the
    scan), and the badwords regex must survive chaining with the Arrow
    twins without adding an Exchange."""
    from condenser_spark.streaming.curate import curate_stream

    docs = source["documents"]
    out = curate_stream(docs.filter(F.col("doc_id") % 2 == 1),
                        badwords=("grawlix", "bad phrase"),
                        script={"max_other_frac": 0.9})
    plan = _executed(out)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    # full stateless chain: the two codegen gates + the two Arrow gates
    # still shuffle-free, still exactly two Python evals
    out2 = curate_stream(docs.filter(F.col("doc_id") % 2 == 1),
                         badwords=("grawlix",),
                         diversity={"min_ratio_2": 0.3},
                         script={"max_other_frac": 0.9},
                         gopher_repetition=True)
    plan2 = _executed(out2)
    assert "Exchange" not in plan2, plan2
    n_py = sum(("ArrowEvalPython" in l) or ("BatchEvalPython" in l)
               for l in plan2.splitlines())
    assert n_py == 2, plan2


def test_domain_prior_stage_plan_shape(spark, source):
    """curate_stream(domain_prior=) with a landed stats snapshot is one
    equi-join against the one-row-per-domain side: no window, no
    cartesian, no Python in the plan."""
    from condenser_spark.functions.urls import domain_stats
    from condenser_spark.streaming.curate import curate_stream

    docs = source["documents"].withColumn(
        "url",
        F.concat(F.lit("http://site"),
                 (F.col("doc_id") % 37).cast("string"),
                 F.lit(".com/p/"), F.col("doc_id").cast("string")))
    snap = domain_stats(docs)
    out = curate_stream(docs, domain_prior={"max_share": 0.5,
                                            "stats": snap})
    plan = _executed(out)
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_html_extract_stage_is_map_only(spark, source):
    """The round-14 HTML extraction stage is one scalar Arrow kernel
    riding the scan: curate_stream(html=) chained with a codegen gate
    must execute with ZERO Exchange and exactly ONE Python eval —
    extraction never buys a shuffle at 100 TB."""
    from condenser_spark.streaming.curate import curate_stream

    docs = source["documents"]
    out = curate_stream(docs.filter(F.col("doc_id") % 2 == 1),
                        html={"max_link_density": 0.5, "drop_nav": True},
                        badwords=("grawlix",))
    plan = _executed(out)
    assert "Exchange" not in plan, plan
    n_py = sum(("ArrowEvalPython" in l) or ("BatchEvalPython" in l)
               for l in plan.splitlines())
    assert n_py == 1, plan


def test_normalize_and_html_chain_two_arrow_evals(spark, source):
    """html= + normalize= chained (the round-14 ingest front door) stay
    map-only: ZERO Exchange, exactly TWO Arrow evals (one per kernel) —
    and the nondeterministic marker keeps a downstream codegen gate
    from re-running either kernel."""
    from condenser_spark.streaming.curate import curate_stream

    docs = source["documents"]
    out = curate_stream(docs.filter(F.col("doc_id") % 2 == 1),
                        html={"drop_nav": True},
                        normalize={"form": "NFKC"},
                        badwords=("grawlix",))
    plan = _executed(out)
    assert "Exchange" not in plan, plan
    n_py = sum(("ArrowEvalPython" in l) or ("BatchEvalPython" in l)
               for l in plan.splitlines())
    assert n_py == 2, plan


def test_pii_redact_is_pure_codegen(spark, source):
    """redact_pii is a regexp_replace chain riding the scan: ZERO
    Exchange, ZERO Python evals, whole plan inside codegen — and it
    fuses into the stateless gate chain without adding either."""
    from condenser_spark.functions.pii import redact_pii
    from condenser_spark.streaming.curate import curate_stream

    docs = source["documents"]
    plan = _executed(redact_pii(docs, counts=True))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    out = curate_stream(docs.filter(F.col("doc_id") % 2 == 1),
                        badwords=("grawlix",),
                        script={"max_other_frac": 0.9},
                        pii=True)
    plan2 = _executed(out)
    assert "Exchange" not in plan2, plan2
    assert "ArrowEvalPython" not in plan2 and "BatchEvalPython" not in plan2


def test_perceptual_hash_is_map_only(spark, source):
    """The round-15 pHash kernel rides the scan: ZERO Exchange, exactly
    ONE Python (Arrow mapInPandas) eval — 4 KB payloads never shuffle;
    only 8-byte hashes leave the stage."""
    from condenser_spark.functions.multimodal import (
        perceptual_hash,
        synthesize_media,
    )

    media = synthesize_media(
        source["documents"].filter(F.col("doc_id") % 2 == 1))
    plan = _executed(perceptual_hash(media, method="phash"))
    assert "Exchange" not in plan, plan
    n_py = sum(("ArrowEvalPython" in l) or ("BatchEvalPython" in l)
               or ("MapInPandas" in l) for l in plan.splitlines())
    assert n_py == 1, plan


def test_perplexity_apply_is_broadcast_join_no_window(spark, source):
    """The perplexity stage's thresholds path (the 100 TB / streaming
    regime): ONE broadcast hash join against the tiny thresholds frame,
    NO Window, NO Sort — the bucket is a chain of comparisons riding
    the scan."""
    from condenser_spark.curate import curate_corpus
    from condenser_spark.functions.corpus import quantile_thresholds

    docs = source["documents"].select("doc_id", "text", "lang", "n_chars")
    thr = quantile_thresholds(docs, "n_chars", n_buckets=3,
                              group_col="lang").localCheckpoint()
    out, _ = curate_corpus(
        docs.filter(F.col("doc_id") % 2 == 1),
        perplexity_buckets={"score_col": "n_chars", "keep": (0, 1),
                            "thresholds": thr},
        report=False, barrier=False)
    plan = _executed(out)
    final = plan.split("+- == Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert "Window" not in final and "SortExec" not in final, plan
    assert "ArrowEvalPython" not in final and \
        "BatchEvalPython" not in final, plan


def test_video_fingerprints_map_only_and_pairs_no_cartesian(spark, source):
    """r16 video temporal fingerprints: the fingerprint kernel rides the
    scan — ZERO Exchange, exactly ONE Arrow eval (frame slicing, dHash,
    window packing all inside one mapInPandas; payloads never shuffle).
    The pairs path is the banded equi-join: no CartesianProduct /
    BroadcastNestedLoopJoin anywhere, and still only the ONE Python
    stage (banding, the self-join, and the per-pair aggregate are pure
    JVM over 8-byte signatures)."""
    from condenser_spark.functions.multimodal import (
        synthesize_media,
        video_dup_pairs,
        video_fingerprints,
    )

    media = synthesize_media(
        source["documents"].filter(F.col("doc_id") % 2 == 1))
    plan = _executed(video_fingerprints(media, window=4))
    assert "Exchange" not in plan, plan
    n_py = sum(("ArrowEvalPython" in l) or ("BatchEvalPython" in l)
               or ("MapInPandas" in l) for l in plan.splitlines())
    assert n_py == 1, plan

    pair_plan = _executed(video_dup_pairs(media, window=4, max_hamming=6))
    assert "CartesianProduct" not in pair_plan, pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan, pair_plan
    # the banded frame is lineage-truncated (localCheckpoint barrier in
    # hamming_band_pairs), so the single Arrow stage ran BEFORE this
    # plan — the join+aggregate side must be pure JVM (zero Python)
    n_py = sum(("ArrowEvalPython" in l) or ("BatchEvalPython" in l)
               or ("MapInPandas" in l) for l in pair_plan.splitlines())
    assert n_py == 0, pair_plan


def test_kn_trigram_scoring_plan_shape(spark, source):
    """r16 Kneser-Ney scoring: the (vocab+1)-row unigram side joins by
    BROADCAST; no CartesianProduct / BroadcastNestedLoopJoin anywhere;
    zero Python stages (the whole chain is codegen: tokenize, lag
    window, three equi-joins, integer aggregate)."""
    from condenser_spark.functions.lm import (
        kn_trigram_score_documents,
        train_kn_trigram_lm,
    )

    docs = source["documents"].filter(F.col("doc_id") % 2 == 1)
    model = tuple(t.localCheckpoint()
                  for t in train_kn_trigram_lm(docs, vocab_size=256))
    plan = _executed(
        kn_trigram_score_documents(docs, *model)
        .select("doc_id", "lm3_logprob4_sum"))
    final = plan.split("+- == Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    n_py = sum(("ArrowEvalPython" in l) or ("BatchEvalPython" in l)
               or ("MapInPandas" in l) for l in plan.splitlines())
    assert n_py == 0, plan


def _build_sides(plan: str, join_marker: str) -> list[list[str]]:
    """Lines of the build (right, last-child) subtree of every join line
    containing ``join_marker`` in a plan tree string."""
    lines = plan.splitlines()
    sides = []
    for i, line in enumerate(lines):
        if join_marker not in line:
            continue
        col = len(line) - len(line.lstrip(" :|+-"))  # where the node starts
        below = []
        for nxt in lines[i + 1:]:
            if len(nxt) <= col or nxt[:col].strip(" :|"):
                break
            below.append(nxt)
        build = [j for j, nxt in enumerate(below) if nxt[col:col + 3] == "+- "]
        sides.append(below[build[-1]:] if build else [])
    return sides


def test_referential_violations_parent_side_is_not_aggregated(spark, source):
    """referential_violations used to ``distinct()`` every edge's parent
    keys: one extra shuffle per edge, each run by AQE as its own jobs.  A
    LEFT ANTI join ignores build-side duplicates, so no aggregate may sit on
    any edge's parent-key side; the only aggregate is the one groupBy."""
    from condenser_spark.config import Relationship
    from condenser_spark.operators.validate import _orphan_counts

    def edge(child, fk, parent, pk):
        return Relationship(fk_table=child, fk_columns=(fk,),
                            target_table=parent, target_columns=(pk,))

    dest = dict(source)
    # a sampled parent leaves orphans, so the final plan stays physical
    dest["orders"] = source["orders"].filter(F.col("o_orderkey") % 10 == 0)
    edges = [edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
             edge("orders", "o_custkey", "customer", "c_custkey"),
             edge("customer", "c_nationkey", "nation", "n_nationkey")]
    plan = _executed(_orphan_counts(dest, edges))
    final = plan.split("== Initial Plan ==")[0]
    sides = _build_sides(final, "LeftAnti")
    assert len(sides) == len(edges), final
    for side in sides:
        assert side and "Scan parquet" in "\n".join(side), final
        assert not any("Aggregate" in line for line in side), "\n".join(side)
    assert final.count("HashAggregate(") == 2, final  # partial + final


def test_tabulate_of_countable_frames_plans_no_scan(spark, source):
    """When every side is a parquet scan or an ``empty_like`` frame,
    tabulate reads the counts from parquet footers on the driver: the
    report is a LocalRelation, with no file scan, union or aggregate (the
    Spark aggregate is only for frames metadata cannot count)."""
    from condenser_spark.operators.validate import tabulate
    from condenser_spark.registry import empty_like

    dest = {t: empty_like(df) for t, df in source.items()}
    dest["orders"] = source["orders"]
    qe = tabulate(spark, source, dest)._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert optimized.startswith("LocalRelation"), optimized
    for node in ("Relation", "Union", "Aggregate", "Join"):
        assert f"{node} " not in optimized.replace("LocalRelation", ""), \
            optimized
    physical = qe.executedPlan().toString()
    assert "LocalTableScan" in physical and "FileScan" not in physical, \
        physical


def test_curate_corpus_c4_and_gopher_do_not_join_back(spark, source):
    """The batch C4 and Gopher stages are the join-free bodies curate_stream
    runs: filters and projections over one scan, with no join back onto
    the stage input by id."""
    from condenser_spark.curate import curate_corpus

    out, _ = curate_corpus(source["documents"], c4=True, gopher=True,
                           report=False, barrier=False)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan


def _final_nodes(plan: str, node: str) -> int:
    """How many ``node`` operators the final adaptive plan holds."""
    final = plan.split("+- == Initial Plan ==")[0]
    return sum(line.lstrip(" :|+-").startswith(node + " ")
               for line in final.splitlines())


def test_diversity_and_fineweb_are_per_row(spark, source):
    """diversity_stats and fineweb_quality_flags are one per-row body
    each, serving batch and stream: no Exchange and no Window, so the
    same call gates a stream at ingest."""
    from condenser_spark.functions.text import (
        diversity_stats,
        fineweb_quality_flags,
    )

    docs = source["documents"].filter(F.col("doc_id") < 200)
    for op in (diversity_stats, fineweb_quality_flags):
        plan = _executed(op(docs))
        assert "Exchange" not in plan, plan
        assert _final_nodes(plan, "Window") == 0, plan


def test_lm_chain_scorers_window_only_in_batch(spark, source):
    """The bigram, KN-3 and KN-5 scorers share one scoring chain whose
    two forms differ in how they read previous tokens: the batch form
    keeps exactly one lag Window, the ``_stream`` form plans none."""
    from condenser_spark.functions import lm

    docs = source["documents"].filter(F.col("doc_id") < 200)
    models = {
        "bigram": lm.train_bigram_lm(docs, vocab_size=64),
        "kn_trigram": lm.train_kn_trigram_lm(docs, vocab_size=64),
        "kn5": lm.train_kn5_lm(docs, vocab_size=64),
    }
    for name, model in models.items():
        model = tuple(t.localCheckpoint() for t in model)
        batch = getattr(lm, f"{name}_score_documents")(docs, *model)
        stream = getattr(lm, f"{name}_score_documents_stream")(docs, *model)
        assert _final_nodes(_executed(batch), "Window") == 1, name
        assert _final_nodes(_executed(stream), "Window") == 0, name
