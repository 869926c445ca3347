"""Co-occurrence edge construction (graph_algos.cooccurrence_edges)."""


class TestCooccurrenceEdges:
    def _obs(self, spark):
        # context (u, h): u1h1 {A,B,C}, u1h2 {A,B}, u2h1 {A,B}, u2h2 {C}
        rows = [
            ("u1", "h1", "A"), ("u1", "h1", "B"), ("u1", "h1", "C"),
            ("u1", "h1", "A"),  # duplicate observation — must not double-count
            ("u1", "h2", "A"), ("u1", "h2", "B"),
            ("u2", "h1", "A"), ("u2", "h1", "B"),
            ("u2", "h2", "C"),
        ]
        return spark.createDataFrame(rows, ["u", "h", "item"])

    def test_weights(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
            cooccurrence_edges,
        )

        got = {
            (r.a, r.b): r.weight
            for r in cooccurrence_edges(self._obs(spark), "item", ["u", "h"]).collect()
        }
        assert got == {("A", "B"): 3, ("A", "C"): 1, ("B", "C"): 1}

    def test_context_cap_reports_dropped(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
            cooccurrence_edges,
        )

        edges, dropped = cooccurrence_edges(
            self._obs(spark), "item", ["u", "h"], max_context_items=2
        )
        # u1h1 (3 items) dropped; remaining contexts still pair
        got = {(r.a, r.b): r.weight for r in edges.collect()}
        assert got == {("A", "B"): 2}
        d = [(r.u, r.h, r.context_size) for r in dropped.collect()]
        assert d == [("u1", "h1", 3)]
