"""Count-min sketch: guarantees, determinism, and sizing; the md5 hash
primitives the sketches build on."""

import hashlib

from pyspark.sql import functions as F

from threat_intelligence_knowledge_graph_spark.operators.hashing import (
    _md5_bucket,
    _md5_u64,
)

from threat_intelligence_knowledge_graph_spark.operators.sketches import (
    hll_build,
    hll_estimate,
    kmv_build,
    kmv_estimate,
    bloom_build,
    bloom_might_contain,
    cms_build,
    cms_estimate,
    cms_heavy_hitters,
)


def test_md5_primitives_match_python_md5(spark):
    keys = [f"k{i}" for i in range(48)] + ["", "é"]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = df.select(
        "k", _md5_u64("k", "s1").alias("u64"), _md5_bucket("k", "s1").alias("b")
    ).collect()
    assert len(got) == 50
    for r in got:
        want = int.from_bytes(
            hashlib.md5(f"s1:{r.k}".encode()).digest()[:8], "little"
        )
        assert int(r.u64) == want
        assert r.b == want % 1_000_000


def _skewed(spark):
    # key 'hot' 50×, 'warm' 10×, 20 singletons
    rows = (
        [("hot",)] * 50 + [("warm",)] * 10 + [(f"cold{i}",) for i in range(20)]
    )
    return spark.createDataFrame(rows, ["k"])


def test_estimate_never_underestimates(spark):
    df = _skewed(spark)
    # width 8 << 22 distinct keys: collisions guaranteed
    sketch = cms_build(df, "k", depth=3, width=8)
    est = cms_estimate(sketch, df.distinct(), "k", depth=3, width=8)
    exact = df.groupBy("k").agg(F.count("*").alias("t"))
    joined = est.join(exact, "k").collect()
    assert len(joined) == 22
    assert all(r.cms_count >= r.t for r in joined)


def test_exact_when_width_ample(spark):
    df = _skewed(spark)
    sketch = cms_build(df, "k", depth=4, width=4096)
    est = {r.k: r.cms_count for r in cms_estimate(
        sketch, df.distinct(), "k", depth=4, width=4096
    ).collect()}
    assert est["hot"] == 50 and est["warm"] == 10 and est["cold3"] == 1


def test_sketch_size_bounded_and_mergeable(spark):
    df = _skewed(spark)
    sketch = cms_build(df, "k", depth=3, width=8)
    assert sketch.count() <= 3 * 8
    # mergeability: sketch(A ∪ B) == cellwise sum of sketch(A), sketch(B)
    a = df.filter(F.col("k") != "hot")
    b = df.filter(F.col("k") == "hot")
    merged = (
        cms_build(a, "k", depth=3, width=8)
        .unionByName(cms_build(b, "k", depth=3, width=8))
        .groupBy("row", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    whole = {(r.row, r.bucket): r.n for r in sketch.collect()}
    assert {(r.row, r.bucket): r.n for r in merged.collect()} == whole


def test_heavy_hitters_no_false_negatives(spark):
    df = _skewed(spark)
    hh = {r.k for r in cms_heavy_hitters(df, "k", min_count=10, depth=3, width=8).collect()}
    assert {"hot", "warm"} <= hh  # true heavies always surface


def test_salt_redraws_hashes(spark):
    df = _skewed(spark)
    s1 = {(r.row, r.bucket): r.n for r in cms_build(df, "k", 3, 8, salt="a").collect()}
    s2 = {(r.row, r.bucket): r.n for r in cms_build(df, "k", 3, 8, salt="b").collect()}
    assert s1 != s2


class TestBloom:
    def test_no_false_negatives_and_low_fp(self, spark):
        from pyspark.sql import functions as F  # noqa: F811

        members = spark.range(0, 500).select(
            F.col("id").cast("string").alias("k")
        )
        probes = spark.range(0, 2000).select(
            F.col("id").cast("string").alias("k")
        )
        bloom = bloom_build(members, "k", m_bits=1 << 14, k=5)
        got = {
            r.k: r.might_contain
            for r in bloom_might_contain(
                probes, bloom, "k", m_bits=1 << 14, k=5
            ).collect()
        }
        # every member answers True (the Bloom guarantee)
        assert all(got[str(i)] for i in range(500))
        # non-members mostly False; fp rate bounded generously
        fps = sum(1 for i in range(500, 2000) if got[str(i)])
        assert fps / 1500 < 0.05, fps

    def test_word_packing_bounds(self, spark):
        from pyspark.sql import functions as F  # noqa: F811

        members = spark.range(0, 100).select(
            F.col("id").cast("string").alias("k")
        )
        bloom = bloom_build(members, "k", m_bits=1 << 10, k=3)
        rows = bloom.collect()
        assert len(rows) <= (1 << 10) // 32
        # 32-bit packing: every word fits in an unsigned 32-bit value
        assert all(0 < r.bits <= 0xFFFFFFFF for r in rows)

    def test_deterministic_and_salt_sensitive(self, spark):
        from pyspark.sql import functions as F  # noqa: F811

        members = spark.range(0, 50).select(
            F.col("id").cast("string").alias("k")
        )
        a = {(r.word, r.bits) for r in bloom_build(members, "k", 1 << 10, 3).collect()}
        b = {(r.word, r.bits) for r in bloom_build(members, "k", 1 << 10, 3).collect()}
        c = {(r.word, r.bits) for r in bloom_build(members, "k", 1 << 10, 3, salt="x").collect()}
        assert a == b and a != c


class TestKmv:
    def test_small_set_is_exact(self, spark):
        keys = spark.range(0, 100).select(F.col("id").cast("string").alias("k"))
        sk = kmv_build(keys, "k", k=256)
        got = kmv_estimate(sk, k=256).collect()[0]
        assert got.n_hashes == 100
        assert got.est_distinct == 100.0

    def test_estimate_within_error_bound(self, spark):
        # 10k distinct keys, k=256: relative error ~1/sqrt(254) ≈ 6.3%;
        # assert a generous 4-sigma band (deterministic draw — this is
        # a fixed property of the md5 family, not a flaky sample).
        n = 10_000
        keys = spark.range(0, n).select(F.col("id").cast("string").alias("k"))
        got = kmv_estimate(kmv_build(keys, "k", k=256), k=256).collect()[0]
        assert got.n_hashes == 256
        assert abs(got.est_distinct - n) / n < 0.25

    def test_duplicates_do_not_inflate(self, spark):
        base = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
        dup = base.union(base).union(base)
        e1 = kmv_estimate(kmv_build(base, "k", k=64), k=64).collect()[0]
        e3 = kmv_estimate(kmv_build(dup, "k", k=64), k=64).collect()[0]
        assert e1 == e3

    def test_union_merge_equals_sketch_of_union(self, spark):
        a = spark.range(0, 3000).select(F.col("id").cast("string").alias("k"))
        b = spark.range(2000, 6000).select(F.col("id").cast("string").alias("k"))
        k = 128
        merged = (
            kmv_build(a, "k", k=k).select("h")
            .union(kmv_build(b, "k", k=k).select("h"))
            .distinct()
            .orderBy("h")
            .limit(k)
            .collect()
        )
        direct = kmv_build(a.union(b), "k", k=k).select("h").collect()
        assert sorted(r.h for r in merged) == sorted(r.h for r in direct)

    def test_rejects_bad_k(self, spark):
        keys = spark.range(0, 5).select(F.col("id").cast("string").alias("k"))
        import pytest as _pytest
        with _pytest.raises(ValueError):
            kmv_build(keys, "k", k=1)
        with _pytest.raises(ValueError):
            kmv_estimate(kmv_build(keys, "k"), k=0)


class TestHll:
    def _py_sketch(self, keys, salt="hll", m=64):
        import hashlib

        regs = {}
        for k in keys:
            h = int.from_bytes(
                hashlib.md5(f"{salt}:{k}".encode()).digest()[:8], "little"
            )
            r, w = h % m, h // m
            regs[r] = max(regs.get(r, 0), 59 if w == 0 else 59 - w.bit_length())
        return regs

    def test_matches_python_reference_bit_for_bit(self, spark):
        keys = [f"user{i}" for i in range(300)]
        regs = self._py_sketch(keys)
        sketch = {
            r.register: r.m_rank
            for r in hll_build(
                spark.createDataFrame([(k,) for k in keys], ["k"]), "k"
            ).collect()
        }
        assert sketch == regs
        s_exact = sum(1 << (59 - v) for v in regs.values()) + (
            64 - len(regs)
        ) * (1 << 59)
        est = hll_estimate(
            hll_build(spark.createDataFrame([(k,) for k in keys], ["k"]), "k")
        ).collect()[0]
        assert est.m == 64 and est.n_zero == 64 - len(regs)
        assert est.s_scaled == str(s_exact)
        alpha = 0.7213 / (1.0 + 1.079 / 64)
        assert est.est_distinct == round(
            alpha * 64 * 64 * float(1 << 59) / float(s_exact), 3
        )

    def test_union_merge_is_registerwise_max(self, spark):
        a = spark.createDataFrame([(f"a{i}",) for i in range(200)], ["k"])
        b = spark.createDataFrame([(f"b{i}",) for i in range(200)], ["k"])
        merged = (
            hll_build(a, "k")
            .unionByName(hll_build(b, "k"))
            .groupBy("register")
            .agg(F.max("m_rank").alias("m_rank"))
        )
        whole = hll_build(a.unionByName(b), "k")
        assert {(r.register, r.m_rank) for r in merged.collect()} == {
            (r.register, r.m_rank) for r in whole.collect()
        }

    def test_duplicates_do_not_change_sketch(self, spark):
        once = spark.createDataFrame([(f"k{i}",) for i in range(50)], ["k"])
        thrice = once.unionByName(once).unionByName(once)
        assert {
            (r.register, r.m_rank) for r in hll_build(once, "k").collect()
        } == {(r.register, r.m_rank) for r in hll_build(thrice, "k").collect()}

    def test_salt_redraws_and_nulls_dropped(self, spark):
        df = spark.createDataFrame(
            [("x",), ("y",), (None,)], ["k"]
        )
        s1 = {(r.register, r.m_rank) for r in hll_build(df, "k").collect()}
        s2 = {
            (r.register, r.m_rank)
            for r in hll_build(df, "k", salt="other").collect()
        }
        assert s1 != s2
        # NULL contributes no register: 2 keys -> at most 2 registers
        assert len(s1) <= 2

    def test_rejects_bad_p(self, spark):
        df = spark.createDataFrame([("x",)], ["k"])
        import pytest

        with pytest.raises(ValueError):
            hll_build(df, "k", p=0)
        with pytest.raises(ValueError):
            hll_estimate(hll_build(df, "k"), p=13)


class TestHistQuantiles:
    def test_exact_within_bucket_width(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.sketches import (
            hist_build,
            hist_quantiles,
        )

        vals = [float(i) for i in range(1000)]
        df = spark.createDataFrame([(v,) for v in vals], ["x"])
        sk = hist_build(df, "x", lo=0.0, hi=1000.0, n_buckets=100)
        got = {
            r.q: r.value
            for r in hist_quantiles(
                sk, [0.5, 0.9, 1.0], lo=0.0, hi=1000.0, n_buckets=100
            ).collect()
        }
        import math

        for q in (0.5, 0.9, 1.0):
            true = sorted(vals)[math.ceil(q * len(vals)) - 1]
            assert abs(got[q] - true) <= 10.0, (q, got[q], true)  # 1 bucket

    def test_merge_by_summing_counts(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.sketches import (
            hist_build,
        )

        a = spark.createDataFrame([(float(i),) for i in range(50)], ["x"])
        b = spark.createDataFrame([(float(i),) for i in range(50, 100)], ["x"])
        merged = (
            hist_build(a, "x", 0.0, 100.0, 10)
            .unionByName(hist_build(b, "x", 0.0, 100.0, 10))
            .groupBy("bucket")
            .sum("n")
        )
        whole = hist_build(a.unionByName(b), "x", 0.0, 100.0, 10)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, whole.collect())
        )

    def test_clamping_and_nulls(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.sketches import (
            hist_build,
        )

        df = spark.createDataFrame(
            [(-5.0,), (999.0,), (None,), (5.0,)], ["x"]
        )
        got = {r.bucket: r.n for r in hist_build(df, "x", 0.0, 10.0, 10).collect()}
        assert got == {0: 1, 9: 1, 5: 1}  # clamped edges; NULL dropped

    def test_validation(self, spark):
        import pytest as _pytest

        from threat_intelligence_knowledge_graph_spark.operators.sketches import (
            hist_build,
            hist_quantiles,
        )

        df = spark.createDataFrame([(1.0,)], ["x"])
        with _pytest.raises(ValueError):
            hist_build(df, "x", 5.0, 5.0, 10)
        with _pytest.raises(ValueError):
            hist_build(df, "x", 0.0, 10.0, 0)
        sk = hist_build(df, "x", 0.0, 10.0, 10)
        with _pytest.raises(ValueError):
            hist_quantiles(sk, [1.5], 0.0, 10.0, 10)
        with _pytest.raises(ValueError):
            hist_quantiles(sk, [], 0.0, 10.0, 10)


class TestCmsJoinSize:
    def test_never_underestimates_and_exact_when_ample(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.sketches import (
            cms_build,
            cms_join_size,
        )

        a_rows = [(k,) for k in [1, 1, 1, 2, 3, 3]]
        b_rows = [(k,) for k in [1, 2, 2, 4]]
        # true inner product: f_a·f_b = 3·1 + 1·2 = 5
        a = spark.createDataFrame(a_rows, ["k"])
        b = spark.createDataFrame(b_rows, ["k"])
        sa = cms_build(a, "k", depth=3, width=1024, salt="t")
        sb = cms_build(b, "k", depth=3, width=1024, salt="t")
        est = cms_join_size(sa, sb, depth=3).collect()[0].est_join_size
        assert est >= 5
        # 4 distinct keys in 1024 buckets: collisions essentially absent
        assert est == 5

    def test_tight_bound_from_min_over_rows(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.sketches import (
            cms_build,
            cms_join_size,
        )

        import random

        rng = random.Random(5)
        a = spark.createDataFrame(
            [(rng.randrange(50),) for _ in range(400)], ["k"]
        )
        b = spark.createDataFrame(
            [(rng.randrange(50),) for _ in range(200)], ["k"]
        )
        true = (
            a.groupBy("k").count().withColumnRenamed("count", "na")
            .join(b.groupBy("k").count().withColumnRenamed("count", "nb"), "k")
            .selectExpr("sum(na * nb) AS t")
            .collect()[0].t
        )
        sa = cms_build(a, "k", depth=4, width=256, salt="t2")
        sb = cms_build(b, "k", depth=4, width=256, salt="t2")
        est = cms_join_size(sa, sb, depth=4).collect()[0].est_join_size
        assert true <= est <= int(true * 1.5)  # deterministic fixture

    def test_validation(self, spark):
        import pytest as _pytest

        from threat_intelligence_knowledge_graph_spark.operators.sketches import (
            cms_join_size,
        )

        df = spark.createDataFrame([(0, 0, 1)], ["row", "bucket", "n"])
        with _pytest.raises(ValueError):
            cms_join_size(df, df, depth=0)
