"""Benford first-digit deviation: hand-computed fixtures."""

from __future__ import annotations


class TestBenfordDeviation:
    def test_matches_direct_chi2_and_flags_uniform(self, spark):
        import math

        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            benford_deviation,
        )

        # 'organic': counts roughly proportional to Benford
        # 'flat': every digit 1..9 exactly 10 times (uniform — tampered)
        rows, eid = [], 0
        benford_counts = {1: 30, 2: 18, 3: 12, 4: 10, 5: 8, 6: 7, 7: 6, 8: 5, 9: 4}
        for d, c in benford_counts.items():
            for _ in range(c):
                rows.append((eid, "organic", d + 0.11))
                eid += 1
        for d in range(1, 10):
            for _ in range(10):
                rows.append((eid, "flat", d + 0.11))
                eid += 1
        df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
        got = {r.group: r for r in benford_deviation(df).collect()}

        def direct(counts):
            n = sum(counts.values())
            chi = 0.0
            for d in range(1, 10):
                p = math.log10(1 + 1 / d)
                c = counts.get(d, 0)
                chi += (c - n * p) ** 2 / (n * p)
            return chi

        assert got["organic"].n == 100 and got["flat"].n == 90
        assert abs(got["organic"].chi2 - direct(benford_counts)) < 1e-5
        assert abs(got["flat"].chi2 - direct({d: 10 for d in range(1, 10)})) < 1e-5
        assert got["flat"].chi2 > got["organic"].chi2  # uniform flags

    def test_absent_digits_and_exclusions(self, spark):
        import math

        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            benford_deviation,
        )

        # only digit 9 present; digits 1-8 absent contribute n*p each
        df = spark.createDataFrame(
            [(i, "x", 9.5) for i in range(5)]
            + [(90, "x", None), (91, "x", 0.001)],  # excluded rows
            ["event_id", "event_type", "value"],
        )
        got = benford_deviation(df).collect()[0]
        assert got.n == 5
        p9 = math.log10(1 + 1 / 9)
        exp = (5 - 5 * p9) ** 2 / (5 * p9) + sum(
            5 * math.log10(1 + 1 / d) for d in range(1, 9)
        )
        assert abs(got.chi2 - exp) < 1e-5
        # first SIGNIFICANT digit: 0.25 -> 2, 25.0 -> 2
        df2 = spark.createDataFrame(
            [(1, "y", 0.25), (2, "y", 25.0)], ["event_id", "event_type", "value"]
        )
        row = benford_deviation(df2).collect()[0]
        assert row.n == 2  # both rows share digit 2 → one digit bucket
