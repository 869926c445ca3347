"""Round-5 closing operators: local clustering coefficient, reciprocity,
burstiness and the other event analytics — hand-computed fixtures."""

from __future__ import annotations

import datetime
import math

import pytest

from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
    local_clustering_coefficient,
)
from threat_intelligence_knowledge_graph_spark.operators.stats import burstiness_fano


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


class TestBurstinessFano:
    def _ev(self, spark, counts, etype):
        base = datetime.datetime(2024, 1, 1)
        rows = [
            (etype + str(h) + str(i), base + datetime.timedelta(hours=h), etype)
            for h, n in enumerate(counts)
            for i in range(n)
        ]
        return spark.createDataFrame(rows, ["event_id", "ts", "event_type"])

    def test_constant_rate_is_zero_poisson_like_near_one(self, spark):
        flat = self._ev(spark, [5, 5, 5, 5], "flat")
        bursty = self._ev(spark, [1, 1, 1, 17], "bursty")
        got = {r.event_type: r for r in burstiness_fano(flat.union(bursty)).collect()}
        assert got["flat"].fano == 0.0
        # bursty: n=4, s1=20, s2=292 → (4*292 - 400)/(4*20) = 768/80 = 9.6
        assert got["bursty"].n_buckets == 4
        assert got["bursty"].fano == 9.6


from threat_intelligence_knowledge_graph_spark.operators.stats import (
    markov_transitions,
)


class TestMarkovTransitions:
    def test_exact_probabilities(self, spark):
        base = datetime.datetime(2024, 1, 1)
        seq = ["a", "b", "a", "b", "a", "c"]
        rows = [
            (i, base + datetime.timedelta(minutes=i), 1, s)
            for i, s in enumerate(seq)
        ]
        ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
        got = {(r.src_state, r.dst_state): (r.n, r.prob) for r in markov_transitions(ev).collect()}
        # a→b twice, a→c once, b→a twice.
        assert got[("a", "b")] == (2, round(2 / 3, 6))
        assert got[("a", "c")] == (1, round(1 / 3, 6))
        assert got[("b", "a")] == (2, 1.0)
        assert ("c", "a") not in got  # no transition out of the final state

    def test_no_cross_user_transitions(self, spark):
        base = datetime.datetime(2024, 1, 1)
        rows = [
            (0, base, 1, "a"),
            (1, base + datetime.timedelta(minutes=1), 2, "b"),
        ]
        ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
        assert markov_transitions(ev).count() == 0

    def test_same_instant_orders_by_id(self, spark):
        base = datetime.datetime(2024, 1, 1)
        rows = [(0, base, 1, "x"), (1, base, 1, "y")]
        ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
        got = markov_transitions(ev).collect()
        assert [(r.src_state, r.dst_state) for r in got] == [("x", "y")]


from threat_intelligence_knowledge_graph_spark.operators.stats import event_entropy


class TestEventEntropy:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            [(f"e{i}", u, t) for i, (u, t) in enumerate(rows)],
            ["event_id", "user_id", "event_type"],
        )

    def test_single_state_is_exactly_zero(self, spark):
        df = self._ev(spark, [("beacon", "dns")] * 7)
        (row,) = event_entropy(df).collect()
        assert (row.n_events, row.n_states, row.entropy) == (7, 1, 0.0)

    def test_uniform_k_states_is_ln_k(self, spark):
        df = self._ev(spark, [("u", t) for t in "abcd" for _ in range(3)])
        (row,) = event_entropy(df).collect()
        assert row.n_events == 12 and row.n_states == 4
        assert row.entropy == round(math.log(4), 6)

    def test_hand_computed_mixed_and_group_independence(self, spark):
        # u1: counts {a:3, b:1} → H = ln4 − (3·ln3 + 1·ln1)/4
        df = self._ev(
            spark,
            [("u1", "a")] * 3 + [("u1", "b")] + [("u2", "x")] * 5,
        )
        got = {r.user_id: r for r in event_entropy(df).collect()}
        assert got["u1"].entropy == round(math.log(4) - 3 * math.log(3) / 4, 6)
        assert got["u2"].entropy == 0.0
        assert got["u2"].n_states == 1


from threat_intelligence_knowledge_graph_spark.operators.stats import (
    gini_concentration,
)


class TestGiniConcentration:
    def test_hand_computed_and_even_and_single(self, spark):
        # counts a:1, b:3 -> sorted x=[1,3]: G = (1*1 + 3*3 - 2*4)/(2*4)
        df = spark.createDataFrame(
            [("a",), ("b",), ("b",), ("b",)], ["source"]
        )
        (row,) = gini_concentration(df).collect()
        assert (row.n_groups, row.total, row.gini) == (2, 4, 0.25)

        even = spark.createDataFrame(
            [(s,) for s in "abcd" for _ in range(5)], ["source"]
        )
        (row,) = gini_concentration(even).collect()
        assert (row.n_groups, row.gini) == (4, 0.0)

        (row,) = gini_concentration(
            spark.createDataFrame([("only",)] * 9, ["source"])
        ).collect()
        assert (row.n_groups, row.gini) == (1, 0.0)

    def test_weighted_mode_and_monotone_concentration(self, spark):
        # chars a:10, b:10, c:80 is more concentrated than 30/30/40
        skew = spark.createDataFrame(
            [("a", 10), ("b", 10), ("c", 80)], ["source", "n_chars"]
        )
        flat = spark.createDataFrame(
            [("a", 30), ("b", 30), ("c", 40)], ["source", "n_chars"]
        )
        g_skew = gini_concentration(skew, weight_col="n_chars").collect()[0]
        g_flat = gini_concentration(flat, weight_col="n_chars").collect()[0]
        # skew: sorted [10,10,80]: (1*10+3*10+5*80-3*100)/(3*100) = 140/300
        assert g_skew.gini == round(140 / 300, 6)
        assert g_flat.gini < g_skew.gini


from threat_intelligence_knowledge_graph_spark.operators.stats import (
    top_event_sequences,
)


class TestTopEventSequences:
    def _ev(self, spark, user, seq, start=0):
        base = datetime.datetime(2024, 1, 1)
        rows = [
            (f"{user}-{i}", user, t, base + datetime.timedelta(seconds=start + i))
            for i, t in enumerate(seq)
        ]
        return spark.createDataFrame(
            rows, ["event_id", "user_id", "event_type", "ts"]
        )

    def test_counts_rank_and_no_cross_user_patterns(self, spark):
        # u1: a b c a b c -> 'a > b > c' x2, 'b > c > a' x1, 'c > a > b' x1
        u1 = self._ev(spark, "u1", list("abcabc"))
        # u2: x y z -> 'x > y > z' x1; boundary must not splice u1+u2
        u2 = self._ev(spark, "u2", list("xyz"))
        got = top_event_sequences(u1.union(u2), n=3, k=10).collect()
        m = {r.pattern: (r.n, r.rk) for r in got}
        assert m["a > b > c"] == (2, 1)
        assert m["b > c > a"] == (1, 2)  # ASC pattern tiebreak among n=1
        assert m["x > y > z"][0] == 1
        assert len(got) == 4  # no spliced cross-user trigram

    def test_short_group_emits_nothing_and_k_cut(self, spark):
        short = self._ev(spark, "s", list("ab"))
        assert top_event_sequences(short, n=3, k=5).count() == 0
        u = self._ev(spark, "u", list("abcd"))
        got = top_event_sequences(u, n=3, k=1).collect()
        assert len(got) == 1 and got[0].rk == 1
        assert got[0].pattern == "a > b > c"  # ASC tiebreak at the cut

    def test_bigram_mode_and_validation(self, spark):
        u = self._ev(spark, "u", list("aba"))
        got = {r.pattern: r.n for r in top_event_sequences(u, n=2, k=10).collect()}
        assert got == {"a > b": 1, "b > a": 1}
        with pytest.raises(ValueError):
            top_event_sequences(u, n=1)
        with pytest.raises(ValueError):
            top_event_sequences(u, k=0)


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


from threat_intelligence_knowledge_graph_spark.operators.stats import (
    correlated_series,
)


class TestCorrelatedSeries:
    def _ev(self, spark, series):
        base = datetime.datetime(2024, 1, 1)
        rows = []
        for etype, counts in series.items():
            for h, c in enumerate(counts):
                for i in range(c):
                    rows.append(
                        (f"{etype}{h}{i}", etype,
                         base + datetime.timedelta(hours=h, minutes=i % 60))
                    )
        return spark.createDataFrame(rows, ["event_id", "event_type", "ts"])

    def test_perfect_correlation_anticorrelation_and_constant_drop(self, spark):
        ev = self._ev(spark, {
            "p": [1, 2, 3, 4], "q": [2, 4, 6, 8],
            "r": [4, 3, 2, 1], "s": [5, 5, 5, 5],
        })
        got = {(x.a, x.b): x for x in correlated_series(ev).collect()}
        # constant series s has zero variance: every s-pair dropped
        assert set(got) == {("p", "q"), ("p", "r"), ("q", "r")}
        assert (got[("p", "q")].direction, got[("p", "q")].r2) == (1, 1.0)
        assert (got[("p", "r")].direction, got[("p", "r")].r2) == (-1, 1.0)
        assert (got[("q", "r")].direction, got[("q", "r")].r2) == (-1, 1.0)
        assert got[("p", "q")].n_shared == 4

    def test_partial_correlation_exact_value(self, spark):
        ev = self._ev(spark, {"p": [1, 2, 3, 4], "t": [1, 1, 4, 4]})
        (row,) = correlated_series(ev).collect()
        # n=4: num = 4*31-100 = 24, vars 20 and 36 -> 576/720 = 0.8
        assert (row.direction, row.r2) == (1, 0.8)

    def test_min_overlap_gate_and_validation(self, spark):
        ev = self._ev(spark, {"p": [1, 2, 3, 4], "u": [1, 2, 0, 0]})
        assert correlated_series(ev, min_overlap=3).count() == 0
        got = correlated_series(ev, min_overlap=2).collect()
        assert len(got) == 1 and got[0].n_shared == 2
        with pytest.raises(ValueError):
            correlated_series(ev, min_overlap=0)


from threat_intelligence_knowledge_graph_spark.operators.stats import trend_slope


class TestTrendSlope:
    def _ev(self, spark, series):
        base = datetime.datetime(2024, 1, 1)
        rows = []
        for etype, counts in series.items():
            for h, c in enumerate(counts):
                for i in range(c):
                    rows.append(
                        (f"{etype}{h}{i}", etype,
                         base + datetime.timedelta(hours=h, minutes=i))
                    )
        return spark.createDataFrame(rows, ["event_id", "event_type", "ts"])

    def test_ramp_decline_flat_exact(self, spark):
        ev = self._ev(spark, {
            "up": [1, 2, 3, 4], "down": [4, 3, 2, 1],
            "flat": [5, 5], "once": [7],
        })
        got = {r.event_type: r for r in trend_slope(ev).collect()}
        # single-hour type has zero denominator: dropped
        assert set(got) == {"up", "down", "flat"}
        assert (got["up"].direction, got["up"].slope) == (1, 1.0)
        assert (got["down"].direction, got["down"].slope) == (-1, -1.0)
        assert (got["flat"].direction, got["flat"].slope) == (0, 0.0)
        assert got["up"].n_buckets == 4

    def test_gap_uses_true_hour_distance(self, spark):
        # active hours 0 and 2 (hour 1 silent): slope spans 2 hours,
        # (3-1)/2 = 1.0 — not the 2.0 a dense index would fake.
        ev = self._ev(spark, {"g": [1, 0, 3]})
        (row,) = trend_slope(ev).collect()
        assert (row.n_buckets, row.slope) == (2, 1.0)


from threat_intelligence_knowledge_graph_spark.operators.stats import novelty_curve


class TestNoveltyCurve:
    def test_first_seen_counts_and_zero_novelty_day(self, spark):
        base = datetime.datetime(2024, 1, 1)
        day = datetime.timedelta(days=1)
        rows = [
            ("e1", "a", base),            # day 0: a, b new
            ("e2", "b", base),
            ("e3", "a", base + day),      # day 1: only re-sightings
            ("e4", "b", base + day),
            ("e5", "c", base + 2 * day),  # day 2: c new, a active
            ("e6", "a", base + 2 * day),
            ("e7", "a", base + 2 * day),  # dup within (group, day)
        ]
        ev = spark.createDataFrame(rows, ["event_id", "event_type", "ts"])
        got = {r.bucket: r for r in novelty_curve(ev).collect()}
        d0 = min(got)
        assert (got[d0].n_new, got[d0].n_active, got[d0].pct_new) == (2, 2, 1.0)
        assert (got[d0 + 1].n_new, got[d0 + 1].n_active) == (0, 2)
        assert got[d0 + 1].pct_new == 0.0
        assert (got[d0 + 2].n_new, got[d0 + 2].n_active) == (1, 2)
        assert got[d0 + 2].pct_new == 0.5

    def test_null_ts_excluded_and_validation(self, spark):
        ev = spark.createDataFrame(
            [("e1", "a", datetime.datetime(2024, 1, 1)), ("e2", "b", None)],
            ["event_id", "event_type", "ts"],
        )
        got = novelty_curve(ev).collect()
        assert len(got) == 1 and got[0].n_new == 1
        with pytest.raises(ValueError):
            novelty_curve(ev, bucket_seconds=0)


from threat_intelligence_knowledge_graph_spark.operators.stats import (
    autocorrelation,
)


class TestAutocorrelation:
    def _ev(self, spark, series):
        base = datetime.datetime(2024, 1, 1)
        rows = []
        for etype, counts in series.items():
            for h, c in enumerate(counts):
                for i in range(c):
                    rows.append(
                        (f"{etype}{h}{i}", etype,
                         base + datetime.timedelta(hours=h, minutes=i))
                    )
        return spark.createDataFrame(rows, ["event_id", "event_type", "ts"])

    def test_cycle_detected_at_its_period(self, spark):
        # period-2 cycle 1,5,1,5,...: lag 2 aligns peaks (r2=1, +1),
        # lag 1 anti-aligns (r2=1, -1)
        cyc = {"c": [1, 5] * 4}
        ev = self._ev(spark, cyc)
        (r2,) = autocorrelation(ev, lag_hours=2).collect()
        assert (r2.direction, r2.r2, r2.n_pairs) == (1, 1.0, 6)
        (r1,) = autocorrelation(ev, lag_hours=1).collect()
        assert (r1.direction, r1.r2) == (-1, 1.0)

    def test_constant_series_dropped_and_min_pairs(self, spark):
        ev = self._ev(spark, {"flat": [3] * 6, "c": [1, 5] * 3})
        got = {r.event_type for r in autocorrelation(ev, lag_hours=2).collect()}
        assert got == {"c"}  # zero-variance flat series dropped
        short = self._ev(spark, {"s": [1, 5, 1, 5]})  # 2 pairs at lag 2
        assert autocorrelation(short, lag_hours=2, min_pairs=3).count() == 0
        assert autocorrelation(short, lag_hours=2, min_pairs=2).count() == 1

    def test_validation(self, spark):
        ev = self._ev(spark, {"a": [1, 2]})
        with pytest.raises(ValueError):
            autocorrelation(ev, lag_hours=0)
        with pytest.raises(ValueError):
            autocorrelation(ev, min_pairs=1)


from threat_intelligence_knowledge_graph_spark.operators.stats import set_churn


class TestSetChurn:
    def test_hand_computed_day_over_day(self, spark):
        base = datetime.datetime(2024, 1, 1)
        day = datetime.timedelta(days=1)
        rows = (
            [("a", base), ("b", base)]                       # day 0: {a,b}
            + [("b", base + day), ("c", base + day),
               ("b", base + day)]                            # day 1: {b,c}
            + [("x", base + 3 * day)]                        # day 3 (gap at 2)
        )
        ev = spark.createDataFrame(
            [(f"e{i}", g, t) for i, (g, t) in enumerate(rows)],
            ["event_id", "event_type", "ts"],
        )
        got = {r.bucket: r for r in set_churn(ev).collect()}
        d0 = min(
            r.bucket - 1 for r in got.values()
        )  # day 1 is the first emitted bucket
        # day1 vs day0: common {b}=1, union 3 -> jaccard 1/3
        r1 = got[d0 + 1]
        assert (r1.n_cur, r1.n_prev, r1.n_common) == (2, 2, 1)
        assert r1.jaccard == round(1 / 3, 6)
        assert r1.churn == round(1 - 1 / 3, 6)
        # day 3 has no observed day 2: no row; day 2 empty: no row
        assert set(got) == {d0 + 1}

    def test_identical_and_disjoint_days(self, spark):
        base = datetime.datetime(2024, 1, 1)
        day = datetime.timedelta(days=1)
        same = [("a", base), ("a", base + day)]
        ev = spark.createDataFrame(
            [(f"s{i}", g, t) for i, (g, t) in enumerate(same)],
            ["event_id", "event_type", "ts"],
        )
        (r,) = set_churn(ev).collect()
        assert (r.jaccard, r.churn) == (1.0, 0.0)
        disj = [("a", base), ("b", base + day)]
        ev2 = spark.createDataFrame(
            [(f"d{i}", g, t) for i, (g, t) in enumerate(disj)],
            ["event_id", "event_type", "ts"],
        )
        (r2,) = set_churn(ev2).collect()
        assert (r2.n_common, r2.jaccard, r2.churn) == (0, 0.0, 1.0)
        with pytest.raises(ValueError):
            set_churn(ev2, bucket_seconds=-1)
