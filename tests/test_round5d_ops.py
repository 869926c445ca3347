"""Round-5 continuation operators, batch D: the noisy-count, drift and
two-sample quality checks."""

from __future__ import annotations

import pytest


class TestDpNoisyCounts:
    def _ev(self, spark):
        return spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 2), ("b", 1)],
            "event_type: string, user_id: long",
        )

    def test_reproducible_and_seeded_per_group(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            dp_noisy_counts,
        )

        r1 = {
            (r.event_type, r.user_id): r.noisy_count
            for r in dp_noisy_counts(
                self._ev(spark), ["event_type", "user_id"]
            ).collect()
        }
        r2 = {
            (r.event_type, r.user_id): r.noisy_count
            for r in dp_noisy_counts(
                self._ev(spark), ["event_type", "user_id"]
            ).collect()
        }
        assert r1 == r2  # pure function of the input
        assert len(set(r1.values())) > 1  # per-group noise differs
        # a different salt re-draws the noise
        r3 = dp_noisy_counts(
            self._ev(spark), ["event_type", "user_id"], salt="dp2"
        ).collect()
        assert {
            (r.event_type, r.user_id): r.noisy_count for r in r3
        } != r1

    def test_include_true_and_noise_scale(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            dp_noisy_counts,
        )

        tight = dp_noisy_counts(
            self._ev(spark), ["event_type"], epsilon=100.0, include_true=True
        ).collect()
        for r in tight:
            # epsilon huge -> noise tiny: noisy ~ true
            assert abs(r.noisy_count - r.true_count) < 0.2
        # release posture: no true_count column by default
        cols = dp_noisy_counts(self._ev(spark), ["event_type"]).columns
        assert "true_count" not in cols

    def test_null_groups_draw_independent_noise(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            dp_noisy_counts,
        )

        # ('x', NULL), (NULL, 'x') and ('x', 'x') must all seed
        # DIFFERENTLY (concat_ws alone would collide the first two)
        d = spark.createDataFrame(
            [("x", None), (None, "x"), ("x", "x")], "a: string, b: string"
        )
        rows = dp_noisy_counts(d, ["a", "b"], include_true=True).collect()
        noises = {round(r.noisy_count - r.true_count, 6) for r in rows}
        assert len(noises) == 3

    def test_validation(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            dp_noisy_counts,
        )

        with pytest.raises(ValueError):
            dp_noisy_counts(self._ev(spark), ["event_type"], epsilon=0.0)
        with pytest.raises(ValueError):
            dp_noisy_counts(self._ev(spark), [])


class TestProfileDrift:
    def test_hand_computed(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            profile_drift,
        )

        a = spark.createDataFrame(
            [("x", 1), ("y", 2), ("z", None), ("x", 4)],
            "t: string, v: int",
        )
        b = spark.createDataFrame(
            [("x", None), ("x", None), ("x", 1), (None, 2)],
            "t: string, v: int",
        )
        got = {r.col: r.asDict() for r in profile_drift(a, b, ["t", "v"]).collect()}
        assert got["t"]["n_a"] == 4 and got["t"]["n_b"] == 4
        assert got["t"]["null_rate_a"] == 0.0 and got["t"]["null_rate_b"] == 0.25
        assert got["t"]["null_rate_delta"] == 0.25
        assert got["t"]["n_distinct_a"] == 3 and got["t"]["n_distinct_b"] == 1
        assert got["t"]["distinct_ratio"] == 0.333333
        assert got["v"]["null_rate_a"] == 0.25 and got["v"]["null_rate_b"] == 0.5
        assert got["v"]["null_rate_delta"] == 0.25

    def test_zero_baseline_distinct_null_ratio(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            profile_drift,
        )

        a = spark.createDataFrame([(None,), (None,)], "t: string")
        b = spark.createDataFrame([("x",)], "t: string")
        row = profile_drift(a, b, ["t"]).collect()[0]
        assert row.n_distinct_a == 0 and row.distinct_ratio is None
        assert row.null_rate_a == 1.0

    def test_validation(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            profile_drift,
        )

        a = spark.createDataFrame([("x",)], "t: string")
        with pytest.raises(ValueError):
            profile_drift(a, a, [])


class TestKsTwoSample:
    def test_hand_computed(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            ks_two_sample,
        )

        a = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v: double")
        b = spark.createDataFrame([(3.0,), (4.0,), (5.0,), (6.0,)], "v: double")
        row = ks_two_sample(a, b, "v").collect()[0]
        # F_a jumps to 1/2 at v=2 while F_b is still 0 -> D = 1/2 at 2.0
        assert (row.n_a, row.n_b) == (4, 4)
        assert row.ks_d == 0.5 and row.at_value == 2.0

    def test_identical_distributions_zero(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            ks_two_sample,
        )

        a = spark.createDataFrame([(1.0,), (2.0,)], "v: double")
        row = ks_two_sample(a, a, "v").collect()[0]
        assert row.ks_d == 0.0
        # tie on the zero numerator resolves to the smallest value
        assert row.at_value == 1.0

    def test_disjoint_supports_full_distance(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            ks_two_sample,
        )

        a = spark.createDataFrame([(1.0,), (2.0,)], "v: double")
        b = spark.createDataFrame([(5.0,), (6.0,)], "v: double")
        row = ks_two_sample(a, b, "v").collect()[0]
        assert row.ks_d == 1.0 and row.at_value == 2.0

    def test_empty_side_no_row(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
            ks_two_sample,
        )

        a = spark.createDataFrame([(1.0,)], "v: double")
        empty = spark.createDataFrame([(None,)], "v: double")
        assert ks_two_sample(a, empty, "v").collect() == []
