"""Round-5 closing operators: local clustering coefficient and
reciprocity — hand-computed fixtures."""

from __future__ import annotations

from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
    local_clustering_coefficient,
)


class TestLocalClusteringCoefficient:
    def test_triangle_plus_pendant(self, spark):
        # Triangle (1,2,3) with pendant 4 hanging off node 3.
        e = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
        )
        got = {r.id: (r.degree, r.lcc) for r in local_clustering_coefficient(e).collect()}
        assert got[1] == (2, 1.0)
        assert got[2] == (2, 1.0)
        assert got[3] == (3, round(2.0 * 1 / (3 * 2), 6))
        assert got[4] == (1, 0.0)

    def test_self_loop_only_node_appears_with_zero(self, spark):
        e = spark.createDataFrame([(1, 2), (9, 9)], ["src", "dst"])
        got = {r.id: (r.degree, r.lcc) for r in local_clustering_coefficient(e).collect()}
        # Node 9's only edge is a self-loop: in the universe, degree 0.
        assert got[9] == (0, 0.0)
        assert got[1] == (1, 0.0)

    def test_parallel_and_reversed_edges_dedupe(self, spark):
        e = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1)], ["src", "dst"]
        )
        got = {r.id: r.lcc for r in local_clustering_coefficient(e).collect()}
        assert got == {1: 1.0, 2: 1.0, 3: 1.0}


from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
    reciprocity,
)


class TestReciprocity:
    def test_conventions_and_exact_value(self, spark):
        # mutual (1,2)/(2,1), one-way (1,3), self-loop (4,4) dropped,
        # duplicate (1,2) deduped -> 2 of 3 directed edges mutual.
        e = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 3), (4, 4), (1, 2)], ["src", "dst"]
        )
        (row,) = reciprocity(e).collect()
        assert (row.n_directed, row.n_mutual) == (3, 2)
        assert row.reciprocity == round(2 / 3, 6)

    def test_all_mutual_and_empty(self, spark):
        e = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
        (row,) = reciprocity(e).collect()
        assert row.reciprocity == 1.0
        empty = spark.createDataFrame([], "src int, dst int")
        (row,) = reciprocity(empty).collect()
        assert (row.n_directed, row.n_mutual, row.reciprocity) == (0, 0, None)
