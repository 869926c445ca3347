"""Round-5 continuation operators, batch D: Simpson concentration,
lagged and robust trend statistics, and the noisy-count, drift and
two-sample quality checks."""

from __future__ import annotations

import datetime

import pytest

from threat_intelligence_knowledge_graph_spark.operators.stats import simpson_index


def _ts(hour: int, sec: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(
        hours=hour, seconds=sec
    )


class TestSimpsonIndex:
    def test_hand_computed(self, spark):
        d = spark.createDataFrame(
            [(1, "x"), (1, "x"), (1, "x"), (1, "y"), (2, "z")],
            "user_id: long, event_type: string",
        )
        got = {r.user_id: r.asDict() for r in simpson_index(d).collect()}
        # user 1: counts {x:3, y:1} -> lambda = (9+1)/16 = 0.625
        assert got[1]["n_events"] == 4 and got[1]["n_states"] == 2
        assert got[1]["simpson"] == 0.625
        assert got[1]["inv_simpson"] == 1.6
        # single-type group concentrates to exactly 1
        assert got[2]["simpson"] == 1.0 and got[2]["inv_simpson"] == 1.0

    def test_uniform_inverse_equals_state_count(self, spark):
        d = spark.createDataFrame(
            [(1, t) for t in ["a", "b", "c", "d"]],
            "user_id: long, event_type: string",
        )
        row = simpson_index(d).collect()[0]
        assert row.simpson == 0.25 and row.inv_simpson == 4.0


class TestBestLagCorrelation:
    def test_planted_shift_recovers_lag(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            best_lag_correlation,
        )

        rows = []
        # a: counts [1,2,3] at hours 0,1,2; b: the same shape at 2,3,4
        # (b trails a by exactly 2h); c: constant 1 over the full range
        # (zero variance -> every pair with c dropped)
        for h, n in [(0, 1), (1, 2), (2, 3)]:
            rows += [("a", _ts(h))] * n
            rows += [("b", _ts(h + 2))] * n
        rows += [("c", _ts(h)) for h in range(5)]
        ev = spark.createDataFrame(rows, "event_type: string, ts: timestamp")
        got = best_lag_correlation(ev, max_lag=3, min_overlap=3).collect()
        pairs = {(r.a, r.b): r for r in got}
        assert ("a", "b") in pairs
        r = pairs[("a", "b")]
        assert r.lag == 2 and r.r2 == 1.0 and r.direction == 1
        assert r.n_shared == 3
        # one best row per pair, and no pair may beat the planted
        # perfect shift
        assert len(got) == len(pairs)
        assert all(x.r2 <= 1.0 for x in got)
        # c is constant over the DENSE range, so its lag-0 variance is
        # zero; a (x, c) pair can only surface at a SHIFTED lag (where
        # truncation makes c non-constant) — never lag 0
        assert all(x.lag != 0 for x in got if "c" in (x.a, x.b))

    def test_validation(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            best_lag_correlation,
        )

        ev = spark.createDataFrame(
            [("a", _ts(0))], "event_type: string, ts: timestamp"
        )
        with pytest.raises(ValueError):
            best_lag_correlation(ev, max_lag=0)
        with pytest.raises(ValueError):
            best_lag_correlation(ev, min_overlap=0)


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


class TestRobustTrend:
    def _series(self, spark, ys, typ="a"):
        rows = []
        for h, y in enumerate(ys):
            rows += [(typ, _ts(h))] * y
        return spark.createDataFrame(rows, "event_type: string, ts: timestamp")

    def test_monotone_hand_computed(self, spark):
        import math

        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            robust_trend,
        )

        row = robust_trend(self._series(spark, [1, 2, 3, 4])).collect()[0]
        assert row.n_buckets == 4 and row.mk_s == 6
        # no ties: var = 4*3*13/18; z = (6-1)/sqrt(var)
        assert row.mk_z == pytest.approx(
            round(5 / math.sqrt(156 / 18.0), 6), abs=1e-6
        )
        assert row.sen_slope == 1.0

    def test_outlier_robustness_vs_lsq(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            robust_trend,
            trend_slope,
        )

        ev = self._series(spark, [1, 2, 3, 100])
        sen = robust_trend(ev).collect()[0].sen_slope
        lsq = trend_slope(ev).collect()[0].slope
        # median pairwise slope shrugs off the burst hour; LSQ doesn't
        assert sen == 1.0
        assert lsq > 20

    def test_all_tied_dropped(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            robust_trend,
        )

        assert robust_trend(self._series(spark, [2, 2, 2])).collect() == []

    def test_decreasing_negative(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            robust_trend,
        )

        row = robust_trend(self._series(spark, [4, 3, 2, 1])).collect()[0]
        assert row.mk_s == -6 and row.mk_z < 0 and row.sen_slope == -1.0


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
