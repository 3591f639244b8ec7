"""Round-2 regression tests for the judge/advisor findings (VERDICT.md r1,
ADVICE.md r1): short-document shingling, union-find path compression and
destructive-hook handling (pre-1970 nanosecond timestamp flooring lives in
test_registry.py)."""

import pytest


# --------------------------------------------------------- short-doc shingles

@pytest.fixture(scope="module")
def tiny_docs(spark):
    """Corpus containing 0/1/2-token docs — guaranteed on web-scale data; the
    round-1 implementation threw INVALID_PARAMETER_VALUE.START on these."""
    rows = [
        (1, "single"),
        (2, "two tokens"),
        (3, ""),
        (4, "three token document"),
        (5, "a much longer document with plenty of tokens to shingle cleanly"),
        (6, "a much longer document with plenty of tokens to shingle cleanly"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_short_docs(spark, tiny_docs):
    from condenser_spark.functions.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(tiny_docs, n=3, threshold=0.8).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(5, 6)}


def test_minhash_short_docs(spark, tiny_docs):
    from condenser_spark.functions.dedup import minhash_lsh_pairs, minhash_signatures

    sigs = minhash_signatures(tiny_docs, n=3)
    # docs with < n tokens produce no shingles, hence no signature row
    assert {r.id for r in sigs.select("id").collect()} == {4, 5, 6}
    pairs = minhash_lsh_pairs(tiny_docs, n=3, threshold=0.8).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(5, 6)}


# ------------------------------------------------------ union-find compression

def test_union_find_path_compression():
    from condenser_spark.graph import UnionFind

    uf = UnionFind()
    # build a chain a <- b <- c <- d by linking with controlled ranks
    for e in "abcd":
        uf.make_set(e)
    uf.link("a", "b")   # root a (rank 1)
    uf.link("c", "d")   # root c (rank 1)
    uf.link("a", "c")   # root a (rank 2), c points at a, d still points at c
    d = uf._id["d"]
    assert uf._roots[d] == uf._id["c"]  # two hops from the root before find
    assert uf.find("d") == "a"
    # after find, every node on the path points DIRECTLY at the root
    assert uf._roots[d] == uf._id["a"]
    assert all(uf._roots[uf._id[e]] == uf._id["a"] for e in "abcd")


# --------------------------------------------------------------- hook behavior

def _mini_engine(spark, source, **overrides):
    from condenser_spark.config import SubsetConfig
    from condenser_spark.engine import SubsetEngine
    from condenser_spark.fixtures import base_config_dict

    cfg = SubsetConfig.from_dict(base_config_dict(**overrides))
    return SubsetEngine(spark, cfg, source)


def test_hook_dml_raises(spark, source):
    eng = _mini_engine(
        spark,
        source,
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
        post_subset_sql=["UPDATE dest_orders SET o_custkey = NULL"],
    )
    with pytest.raises(ValueError, match="DML against dest views"):
        eng.run()


def test_hook_dest_replace(spark, source):
    eng = _mini_engine(
        spark,
        source,
        initial_targets=[{"table": "orders", "percent": 10,
                          "sample_key": "o_orderkey"}],
        post_subset_sql=[
            "dest_replace:region: SELECT * FROM dest_region WHERE r_regionkey < 2"
        ],
        passthrough_tables=["region"],
    )
    dest = eng.run()
    assert dest["region"].count() == 2
