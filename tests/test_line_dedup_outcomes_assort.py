"""Degree assortativity (graph_algos)."""

from __future__ import annotations

import numpy as np
import pytest

from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
    degree_assortativity,
)


class TestDegreeAssortativity:
    def _r(self, spark, edges):
        [row] = degree_assortativity(
            spark.createDataFrame(edges, ["src", "dst"])
        ).collect()
        return row

    def test_star_is_minus_one(self, spark):
        r = self._r(spark, [(0, 1), (0, 2), (0, 3)])
        assert (r.n_nodes, r.n_edges) == (4, 3)
        assert r.assortativity == -1.0

    def test_regular_graph_is_null(self, spark):
        # triangle: every degree 2 -> correlation undefined
        r = self._r(spark, [(1, 2), (2, 3), (3, 1)])
        assert r.assortativity is None

    def test_duplicates_direction_loops_ignored(self, spark):
        a = self._r(spark, [(0, 1), (1, 0), (0, 2), (0, 3), (2, 2)])
        b = self._r(spark, [(0, 1), (0, 2), (0, 3)])
        assert a.assortativity == b.assortativity == -1.0

    def test_matches_pearson_over_symmetrized_endpoint_degrees(self, spark):
        # random-ish fixed graph; Newman's r == Pearson correlation of
        # (deg_u, deg_v) over BOTH orientations of each simple edge.
        import random

        rng = random.Random(5)
        edges = list({(rng.randint(0, 12), rng.randint(0, 12)) for _ in range(40)})
        simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        deg: dict[int, int] = {}
        for a, b in simple:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        xs, ys = [], []
        for a, b in simple:
            xs += [deg[a], deg[b]]
            ys += [deg[b], deg[a]]
        expected = float(np.corrcoef(xs, ys)[0, 1])
        r = self._r(spark, edges)
        assert r.assortativity == pytest.approx(round(expected, 6), abs=2e-6)
        assert r.n_edges == len(simple)
