"""Round-5 continuation operators, batch C: global transitivity, the
other graph analytics and HLL group overlap."""

from __future__ import annotations

import math

import pytest

from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
    transitivity,
)


class TestTransitivity:
    def test_triangle(self, spark):
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], "src: string, dst: string"
        )
        row = transitivity(e).collect()[0]
        assert row.n_triangles == 1
        assert row.n_closed_wedges == 3
        assert row.n_wedges == 3
        assert row.transitivity == 1.0

    def test_path_and_star(self, spark):
        path = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src: string, dst: string"
        )
        row = transitivity(path).collect()[0]
        assert (row.n_triangles, row.n_wedges, row.transitivity) == (0, 1, 0.0)
        star = spark.createDataFrame(
            [("h", "x"), ("h", "y"), ("h", "z")], "src: string, dst: string"
        )
        row = transitivity(star).collect()[0]
        assert (row.n_wedges, row.transitivity) == (3, 0.0)

    def test_single_edge_null(self, spark):
        e = spark.createDataFrame([("a", "b")], "src: string, dst: string")
        row = transitivity(e).collect()[0]
        assert row.n_wedges == 0 and row.transitivity is None

    def test_triangle_plus_pendant(self, spark):
        # triangle abc + pendant d on a: wedges = C(3,2)+C(1,2)*2+C(1,2)
        # deg a=3, b=2, c=2, d=1 -> 3+1+1+0 = 5; closed = 3 -> 0.6
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
            "src: string, dst: string",
        )
        row = transitivity(e).collect()[0]
        assert row.n_wedges == 5
        assert row.transitivity == 0.6


from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
    avg_neighbor_degree,
    rich_club,
)


def _tri_pendant(spark):
    # triangle abc + pendant d on c: degrees a2 b2 c3 d1
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src: string, dst: string",
    )


class TestRichClub:
    def test_hand_computed(self, spark):
        got = {r.k: r.asDict() for r in rich_club(_tri_pendant(spark)).collect()}
        # k=1: club {a,b,c}, edges ab/bc/ca all min-deg 2 -> phi 3/3
        assert got[1]["n_club"] == 3
        assert got[1]["e_club"] == 3
        assert got[1]["phi"] == 1.0
        # k=2 (club {c}, size 1) and k=3 (empty) have no defined phi
        assert set(got) == {1}

    def test_clique_is_flat_one(self, spark):
        # K4: degrees all 3 -> only threshold below 3 exists via spectrum {3}
        e = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")],
            "src: string, dst: string",
        )
        assert rich_club(e).collect() == []  # single degree value: club above it is empty

    def test_hub_spoke_low(self, spark):
        # star + one rim edge: hub h deg 4; rim x,y,z,w; edge x-y
        e = spark.createDataFrame(
            [("h", "x"), ("h", "y"), ("h", "z"), ("h", "w"), ("x", "y")],
            "src: string, dst: string",
        )
        got = {r.k: r.asDict() for r in rich_club(e).collect()}
        # spectrum {1, 2, 4}; k=1: club {h,x,y} (deg>1), edges with
        # min>1: hx, hy, xy -> phi 3/3 = 1.0
        assert got[1]["n_club"] == 3 and got[1]["phi"] == 1.0
        # k=2: club {h} -> omitted; k=4 empty -> omitted
        assert set(got) == {1}


class TestAvgNeighborDegree:
    def test_hand_computed(self, spark):
        got = {r.id: r.asDict() for r in avg_neighbor_degree(_tri_pendant(spark)).collect()}
        assert got["a"]["deg"] == 2 and got["a"]["avg_nbr_deg"] == 2.5
        assert got["b"]["avg_nbr_deg"] == 2.5
        assert got["c"]["deg"] == 3 and got["c"]["avg_nbr_deg"] == round(5 / 3, 6)
        assert got["d"]["deg"] == 1 and got["d"]["avg_nbr_deg"] == 3.0

    def test_self_loops_and_duplicates_ignored(self, spark):
        e = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("a", "a")], "src: string, dst: string"
        )
        got = {r.id: r.asDict() for r in avg_neighbor_degree(e).collect()}
        assert got == {
            "a": {"id": "a", "deg": 1, "avg_nbr_deg": 1.0},
            "b": {"id": "b", "deg": 1, "avg_nbr_deg": 1.0},
        }


from threat_intelligence_knowledge_graph_spark.operators.sketches import (
    hll_overlap,
)


class TestHllOverlap:
    def test_identical_groups_full_overlap(self, spark):
        rows = [("A", f"k{i}") for i in range(200)] + [
            ("B", f"k{i}") for i in range(200)
        ]
        df = spark.createDataFrame(rows, "g: string, key: string")
        row = hll_overlap(df, "key", "g").collect()[0]
        # identical key sets: identical sketches, union == either side
        assert row.s_a == row.s_b == row.s_union
        assert row.est_overlap == row.est_a == row.est_b

    def test_subset_overlap_equals_smaller(self, spark):
        rows = [("A", f"k{i}") for i in range(300)] + [
            ("B", f"k{i}") for i in range(50)
        ]
        df = spark.createDataFrame(rows, "g: string, key: string")
        row = hll_overlap(df, "key", "g").collect()[0]
        # B ⊂ A: union sketch == A's sketch, overlap estimate == est_B
        assert row.s_union == row.s_a
        assert row.est_overlap == row.est_b

    def test_all_pairs_emitted(self, spark):
        rows = [(g, f"{g}{i}") for g in "ABC" for i in range(20)]
        df = spark.createDataFrame(rows, "g: string, key: string")
        got = {(r.a, r.b) for r in hll_overlap(df, "key", "g").collect()}
        assert got == {("A", "B"), ("A", "C"), ("B", "C")}


from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
    degree_histogram,
    hill_tail,
)


class TestDegreeHistogramHill:
    def test_histogram(self, spark):
        got = {r.deg: r.n_nodes for r in degree_histogram(_tri_pendant(spark)).collect()}
        assert got == {1: 1, 2: 2, 3: 1}

    def test_hill_analytic(self, spark):
        import math

        row = hill_tail(_tri_pendant(spark), d_min=2).collect()[0]
        # tail degrees {2,2,3}: sum ln = ln(3/2); alpha = 1 + 3/ln(1.5)
        assert row.n_tail == 3
        assert row.alpha == round(1 + 3 / math.log(1.5), 6)

    def test_degenerate_tail_null(self, spark):
        # all tail degrees equal d_min -> sum ln = 0 -> alpha NULL
        e = spark.createDataFrame([("a", "b")], "src: string, dst: string")
        row = hill_tail(e, d_min=1).collect()[0]
        assert row.n_tail == 2 and row.alpha is None
        with pytest.raises(ValueError):
            hill_tail(e, d_min=0)
