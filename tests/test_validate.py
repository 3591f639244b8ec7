"""operators.validate: per-edge orphan counts."""

from condenser_spark.config import Relationship
from condenser_spark.operators.validate import referential_violations


def _edge(child, fk, parent, pk):
    return Relationship(fk_table=child, fk_columns=(fk,),
                        target_table=parent, target_columns=(pk,))


def test_referential_violations_counts_per_edge(spark):
    """Duplicate parent keys match like one key, NULL FKs are never orphans,
    an edge without orphans reports 0, and a self-referencing edge (which
    used to fail analysis as an ambiguous self-join) counts its own
    orphans."""
    emp = spark.createDataFrame(
        [(1, None), (2, 1), (3, 9), (4, 2), (5, 77)], "id long, mgr long")
    dup = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    child = spark.createDataFrame([(1,), (3,), (None,), (3,)], "k long")
    dest = {"emp": emp, "dup": dup, "child": child}
    edges = [_edge("emp", "mgr", "emp", "id"),
             _edge("child", "k", "dup", "k"),
             _edge("dup", "k", "emp", "id"),
             _edge("child", "k", "absent", "k")]
    got = referential_violations(dest, edges)
    assert got == {edges[0]: 2, edges[1]: 2, edges[2]: 0}
