"""Exact percentiles, funnels and retention cohorts."""

import pytest

from threat_intelligence_knowledge_graph_spark.operators.stats import (
    exact_percentiles,
)


class TestExactPercentiles:
    def test_hand_computed_nearest_rank(self, spark):
        # group 'a': values 10..100 step 10 (n=10)
        rows = [("a", float(v), i) for i, v in enumerate(range(10, 101, 10))]
        df = spark.createDataFrame(rows, ["g", "v", "id"])
        out = exact_percentiles(df, "v", "g", "id", qs=(0.5, 0.9, 0.99))
        r = out.collect()[0]
        # nearest-rank: ceil(0.5*10)=5 -> 50, ceil(0.9*10)=9 -> 90,
        # ceil(0.99*10)=10 -> 100
        assert (r.n, r.p50, r.p90, r.p99) == (10, 50.0, 90.0, 100.0)

    def test_tiebreak_is_deterministic(self, spark):
        # all values equal: the percentile row is picked by id order,
        # and the VALUE is the same regardless — but rank selection
        # must not error or duplicate
        df = spark.createDataFrame(
            [("a", 7.0, i) for i in range(5)], ["g", "v", "id"]
        )
        r = exact_percentiles(df, "v", "g", "id", qs=(0.5,)).collect()[0]
        assert (r.n, r.p50) == (5, 7.0)

    def test_nulls_excluded_and_all_null_group_gone(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0, 1), ("a", None, 2), ("b", None, 3)],
            "g string, v double, id int",
        )
        out = exact_percentiles(df, "v", "g", "id", qs=(0.5,))
        rows = {r.g: (r.n, r.p50) for r in out.collect()}
        assert rows == {"a": (1, 1.0)}

    def test_fractional_q_column_names(self, spark):
        df = spark.createDataFrame([("a", 1.0, 1)], ["g", "v", "id"])
        out = exact_percentiles(df, "v", "g", "id", qs=(0.999,))
        assert "p99_9" in out.columns

    def test_rejects_bad_q(self, spark):
        df = spark.createDataFrame([("a", 1.0, 1)], ["g", "v", "id"])
        with pytest.raises(ValueError):
            exact_percentiles(df, "v", "g", "id", qs=())
        with pytest.raises(ValueError):
            exact_percentiles(df, "v", "g", "id", qs=(0.0,))
        with pytest.raises(ValueError):
            exact_percentiles(df, "v", "g", "id", qs=(1.5,))


class TestReviewRegressions:
    def test_percentile_rank_is_exact_rational_not_float(self, spark):
        # 0.07*100 = 7.000000000000001 in IEEE doubles; a float ceil
        # would pick rank 8. The exact nearest-rank answer is row 7.
        rows = [("a", float(v), v) for v in range(1, 101)]
        df = spark.createDataFrame(rows, ["g", "v", "id"])
        r = exact_percentiles(df, "v", "g", "id", qs=(0.07,)).collect()[0]
        assert r.p7 == 7.0


class TestFunnel:
    def test_strict_ordering_and_conversion(self, spark):
        from datetime import datetime as DT

        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            funnel,
        )

        rows = [
            # u1 completes in order
            (1, "a", DT(2024, 1, 1)), (1, "b", DT(2024, 1, 2)),
            (1, "c", DT(2024, 1, 3)),
            # u2 does b BEFORE a: b must not count
            (2, "b", DT(2024, 1, 1)), (2, "a", DT(2024, 1, 2)),
            # u3 only a; u4 never starts
            (3, "a", DT(2024, 1, 1)), (4, "c", DT(2024, 1, 1)),
            # u5: a then b at the SAME instant → strictly-after fails
            (5, "a", DT(2024, 1, 1)), (5, "b", DT(2024, 1, 1)),
        ]
        df = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp")
        got = {
            r.step_idx: (r.step, r.n_reached, r.conversion)
            for r in funnel(df, ["a", "b", "c"]).collect()
        }
        assert got[0] == ("a", 4, 1.0)
        assert got[1] == ("b", 1, 0.25)
        assert got[2] == ("c", 1, 0.25)

    def test_later_first_step_can_unlock(self, spark):
        from datetime import datetime as DT

        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            funnel,
        )

        # reach time is the FIRST step-a event; a later b counts even
        # though an earlier b existed before a
        rows = [
            (1, "b", DT(2024, 1, 1)),
            (1, "a", DT(2024, 1, 2)),
            (1, "b", DT(2024, 1, 3)),
        ]
        df = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp")
        got = {r.step: r.n_reached for r in funnel(df, ["a", "b"]).collect()}
        assert got == {"a": 1, "b": 1}

    def test_empty_and_validation(self, spark):
        import pytest as _pytest

        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            funnel,
        )

        empty = spark.createDataFrame(
            [], "user_id int, event_type string, ts timestamp"
        )
        got = {r.step: (r.n_reached, r.conversion)
               for r in funnel(empty, ["a", "b"]).collect()}
        assert got == {"a": (0, 0.0), "b": (0, 0.0)}
        with _pytest.raises(ValueError, match="non-empty"):
            funnel(empty, [])


class TestRetentionCohorts:
    def test_hand_computed(self, spark):
        from datetime import datetime as DT

        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            retention_cohorts,
        )

        rows = [
            (1, DT(2024, 1, 1)), (1, DT(2024, 1, 8)),   # cohort w0, active w0+w1
            (2, DT(2024, 1, 1)), (2, DT(2024, 1, 16)),  # cohort w0, active w0+w2
            (3, DT(2024, 1, 8)),                        # cohort w1, active w1
            (4, None),                                  # dropped
        ]
        df = spark.createDataFrame(rows, "user_id int, ts timestamp")
        got = {
            (r.cohort, r.periods_since): r.n_active
            for r in retention_cohorts(
                df, bucket_seconds=7 * 86400
            ).collect()
        }
        cohorts = sorted({c for c, _ in got})
        w0, w1 = cohorts
        assert w1 == w0 + 1
        assert got[(w0, 0)] == 2
        assert got[(w0, 1)] == 1
        assert got[(w0, 2)] == 1
        assert got[(w1, 0)] == 1
        assert len(got) == 4

    def test_duplicate_events_count_once_and_validation(self, spark):
        from datetime import datetime as DT

        import pytest as _pytest

        from threat_intelligence_knowledge_graph_spark.operators.stats import (
            retention_cohorts,
        )

        df = spark.createDataFrame(
            [(1, DT(2024, 1, 1)), (1, DT(2024, 1, 1, 5))],
            "user_id int, ts timestamp",
        )
        got = retention_cohorts(df, bucket_seconds=86400).collect()
        assert len(got) == 1 and got[0].n_active == 1
        with _pytest.raises(ValueError, match="positive"):
            retention_cohorts(df, bucket_seconds=0)
