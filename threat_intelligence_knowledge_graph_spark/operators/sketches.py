"""Mergeable frequency sketches — bounded state over unbounded keys.

At 100 TB an exact per-key count table can itself be huge (URL or
user-agent cardinality rivals the row count); monitoring, heavy-hitter
triage, and join-skew detection only need frequencies within an ε·N
overestimate. A count-min sketch bounds the state to depth × width
cells no matter the key cardinality, and — because cells are plain
counts — the whole build is ONE map-side-combining aggregation whose
partial states merge associatively across executors, exactly Spark's
partial-agg model.

Hashing uses the repo's engine-portable md5 bucket (the
``md5_number_upper`` twin from ``operators.hashing``), so a sketch
built here is bit-identical to one built by the DuckDB oracle — the
'random' hash functions are pure functions of (salt, row, key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .hashing import _md5_bucket, _md5_u64


def _projections(key_col: str, depth: int, width: int, salt: str):
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _md5_bucket(key_col, f"{salt}{i}", width).alias("bucket"),
            )
            for i in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """(row, bucket, n): count-min sketch cells over ``key_col``.

    One scan: each input row explodes to its ``depth`` (row, bucket)
    cells, then a single groupBy counts them — partial aggregation
    keeps the shuffle at ≤ depth × width rows per map task regardless
    of input size. Only touched cells appear (absent cell ≡ 0).
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    return (
        df.select(F.explode(_projections(key_col, depth, width, salt)).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """(key, cms_count): point-frequency estimates, ``min`` over the
    key's ``depth`` cells — the count-min guarantee: never below the
    true count, above it only through hash collisions (w.p. bounded by
    (1/width)^depth per colliding mass unit). (depth, width, salt)
    must match the build. The sketch is dimension-sized (≤ depth ×
    width rows), so it broadcasts.
    """
    probes = keys.select(
        F.col(key_col),
        F.explode(_projections(key_col, depth, width, salt)).alias("c"),
    ).select(key_col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .na.fill({"n": 0})
        .groupBy(key_col)
        .agg(F.min("n").alias("cms_count"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_count: int,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """(key, cms_count): distinct keys whose estimate ≥ min_count —
    no-false-negative heavy-hitter triage (overestimates can only ADD
    candidates, never hide one); re-verify candidates exactly if the
    use needs it. One extra distinct over the keys vs the build scan.
    """
    sketch = cms_build(df, key_col, depth, width, salt)
    keys = df.select(key_col).distinct()
    return cms_estimate(sketch, keys, key_col, depth, width, salt).filter(
        F.col("cms_count") >= min_count
    )


def kmv_build(
    keys: DataFrame,
    key_col: str,
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """(rank, h): the ``k`` smallest DISTINCT 64-bit key hashes — a
    K-Minimum-Values distinct-count sketch (Bar-Yossef et al. 2002),
    the order-statistics sibling of HyperLogLog. At 100 TB an exact
    count-distinct over a high-cardinality key shuffles every distinct
    value; KMV bounds the state to k rows with relative error
    ~1/sqrt(k-2), and two sketches MERGE by re-taking the k smallest
    of their union — so per-partition/per-day sketches compose.

    Shape: hash projection → distinct → ``orderBy(h).limit(k)``, which
    Spark executes as TakeOrderedAndProject (per-partition top-k, then
    a k·partitions-row merge) — no global sort materializes. The hash
    is the engine-portable md5 family, so the sketch — and therefore
    the estimate, collisions and all — is bit-identical to the DuckDB
    oracle's.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    # NULL keys hash to NULL, which Spark's ASC sort puts FIRST (DuckDB
    # puts it LAST): left unfiltered, a NULL would silently consume a
    # sketch slot and diverge cross-engine. NULL is "no key" — drop it.
    hashes = (
        keys.filter(F.col(key_col).isNotNull())
        .select(_md5_u64(key_col, salt).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    w = Window.orderBy("h")
    return hashes.select(F.row_number().over(w).alias("rank"), "h")


def kmv_estimate(sketch: DataFrame, k: int = 256) -> DataFrame:
    """One row (n_hashes, est_distinct) from a ``kmv_build`` sketch.

    If the sketch holds fewer than ``k`` hashes the key set was small
    enough to count exactly (every distinct hash is present):
    ``est_distinct`` = n_hashes. Otherwise the classic unbiased KMV
    estimator (k-1) · 2^64 / h_(k) — the k-th smallest of a uniform
    draw estimates the density. Hash collisions only ever merge values
    (an under-count of ~n²/2^65, negligible), and both engines see the
    SAME collisions, so the estimate matches bit-for-bit.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    agg = sketch.agg(
        F.count("*").alias("n_hashes"),
        F.max(F.col("h").cast("double")).alias("_hk"),
    )
    return agg.select(
        "n_hashes",
        F.round(
            F.when(F.col("n_hashes") < k, F.col("n_hashes").cast("double"))
            .otherwise(F.lit(float((k - 1) * 2 ** 64)) / F.col("_hk")),
            3,
        ).alias("est_distinct"),
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloom",
) -> DataFrame:
    """(word, bits): Bloom filter over ``key_col`` as sparse packed
    words — the semi-join pruning structure for key sets too big to
    broadcast exactly but small enough as bits (Spark's own runtime
    `InjectRuntimeFilter` idea, here as an explicit, persistable op).

    Each key sets ``k`` bit positions (the engine-portable md5 family;
    position = md5_number_upper('{salt}{i}:'||key) % m_bits), packed
    32 bits per word (32, not 64: a 1<<63 mask overflows signed SQL
    bigints on some engines). Only touched words materialize — output
    ≤ m_bits/32 rows regardless of key count, built by one explode +
    one bit_or aggregation (associative → map-side combining, same
    merge story as the count-min cells).
    """
    if m_bits < 32 or k < 1:
        raise ValueError("m_bits >= 32 and k >= 1")
    pos = F.explode(
        F.array(
            *[_md5_bucket(key_col, f"{salt}{i}", m_bits) for i in range(k)]
        )
    ).alias("pos")
    return (
        keys.select(pos)
        .select(
            F.floor(F.col("pos") / 32).alias("word"),
            F.expr("shiftleft(1L, cast(pos % 32 AS int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_might_contain(
    facts: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloom",
    result_col: str = "might_contain",
) -> DataFrame:
    """Adds ``result_col``: False = key definitely NOT in the built
    set (safe to drop before an expensive join); True = present or a
    false positive (rate ≈ (1-e^{-kn/m})^k — re-verify with the exact
    join on the survivors). (m_bits, k, salt) must match the build.

    Shape: the fact side explodes to its k probe words, LEFT-joins the
    broadcast sparse bloom (≤ m_bits/32 rows), and the verdict is one
    count-agg — all keyed equi-joins, no exact key set shuffled.
    """
    probe = F.explode(
        F.array(
            *[_md5_bucket(key_col, f"{salt}{i}", m_bits) for i in range(k)]
        )
    ).alias("pos")
    fkeys = facts.select(key_col).distinct()
    probes = fkeys.select(key_col, probe).select(
        key_col,
        F.floor(F.col("pos") / 32).alias("word"),
        F.expr("shiftleft(1L, cast(pos % 32 AS int))").alias("mask"),
    )
    hits = (
        probes.join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "_hit",
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) != 0
             ).cast("int"),
        )
        .groupBy(key_col)
        .agg((F.sum("_hit") == F.count("*")).alias(result_col))
    )
    return facts.join(hits, key_col, "left")


# ---------------------------------------------------------------------------
# HyperLogLog — the fixed-size (2^p registers) sibling of KMV.
# ---------------------------------------------------------------------------

#: Bits of the md5 hash left after the register index is peeled off a
#: 64-bit value at p=6 (64-bit hash, 6 register bits → 58 payload bits).
_HLL_W_BITS = 58
#: Scaled-integer exponent: register M contributes 2^(_HLL_SCALE - M) to
#: the harmonic sum, so the sum is an EXACT integer in both engines
#: (Spark decimal(38,0), DuckDB HUGEINT) — no float accumulation order
#: to diverge on. M ranges 0 (empty register) .. _HLL_W_BITS + 1.
_HLL_SCALE = _HLL_W_BITS + 1  # 59


def _hll_rank(w):
    """ρ(w): position of the leftmost 1-bit of the 58-bit payload ``w``
    (1-based), or 59 when w == 0 — as a generated integer-comparison
    chain (CASE w >= 2^57 → 1, >= 2^56 → 2, …), the only leading-zero
    count that is bit-identical across engines (no log2/bin() needed)."""
    expr = F.lit(_HLL_SCALE)  # w == 0 fallthrough
    # build from the smallest threshold up so the chain short-circuits
    # on the most common (small-rank) case when evaluated top-down.
    chain = F.when(w >= F.lit(1 << (_HLL_W_BITS - 1)), F.lit(1))
    for r in range(2, _HLL_W_BITS + 1):
        chain = chain.when(w >= F.lit(1 << (_HLL_W_BITS - r)), F.lit(r))
    return chain.otherwise(expr)


def hll_build(
    keys: DataFrame,
    key_col: str,
    p: int = 6,
    salt: str = "hll",
) -> DataFrame:
    """(register, m_rank): a HyperLogLog sketch (Flajolet et al. 2007)
    over ``key_col`` — 2^p registers, each the MAX leading-1 position
    of the hash payloads routed to it.

    Where KMV keeps the k smallest hashes (k rows, exact below k), HLL
    keeps a FIXED 2^p-register table regardless of k or cardinality —
    the shape used for per-partition/per-day distinct-count cubes at
    100 TB: the whole build is one scan-local projection plus ONE
    map-side-combining max-agg over ≤ 2^p groups, and sketches merge
    by registerwise MAX (union semantics), so daily sketches roll up
    to any window without touching raw keys again.

    Hashing is the engine-portable md5 family (``_md5_u64``): register
    = h % 2^p, payload w = h \\ 2^p, rank = leading-1 position of w via
    an integer-comparison chain — every piece exact integer arithmetic,
    so the sketch is bit-identical to the DuckDB oracle's.
    """
    if not 1 <= p <= 12:
        raise ValueError("p must be in [1, 12]")
    m = 1 << p
    h = _md5_u64(key_col, salt)
    hashed = keys.filter(F.col(key_col).isNotNull()).select(
        (h % F.lit(m)).cast("long").alias("register"),
        F.floor(h / F.lit(m)).cast("long").alias("_w"),
    )
    return (
        hashed.select("register", _hll_rank(F.col("_w")).alias("_rank"))
        .groupBy("register")
        .agg(F.max("_rank").alias("m_rank"))
    )


def hll_estimate(sketch: DataFrame, p: int = 6) -> DataFrame:
    """One row (m, n_zero, s_scaled, est_distinct) from ``hll_build``.

    Raw HLL estimator E = α_m · m² / Σ_j 2^(−M_j), computed over a
    SCALED-INTEGER harmonic sum: Σ_j 2^(_HLL_SCALE − M_j) (empty
    registers contribute 2^_HLL_SCALE), exact in decimal(38,0) /
    HUGEINT, order-independent — emitted as ``s_scaled`` (string, the
    hash-checked witness). The single float op is the final division,
    identical in both engines. No small/large-range correction is
    applied (ln() is libm-dependent cross-engine); the small-cardinality
    regime is ``kmv_build``'s exact-below-k territory by design.
    """
    if not 1 <= p <= 12:
        raise ValueError("p must be in [1, 12]")
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << _HLL_SCALE)
    agg = sketch.agg(
        F.count("*").alias("_present"),
        F.sum(
            F.expr(f"shiftleft(1L, {_HLL_SCALE} - m_rank)").cast("decimal(38,0)")
        ).alias("_s_present"),
    )
    return agg.select(
        F.lit(m).alias("m"),
        (F.lit(m) - F.col("_present")).cast("long").alias("n_zero"),
        (
            F.coalesce(F.col("_s_present"), F.lit(0).cast("decimal(38,0)"))
            + (F.lit(m) - F.col("_present")).cast("decimal(38,0)")
            * F.lit(1 << _HLL_SCALE).cast("decimal(38,0)")
        ).alias("_s"),
    ).select(
        "m",
        "n_zero",
        F.col("_s").cast("string").alias("s_scaled"),
        F.round(F.lit(numer) / F.col("_s").cast("double"), 3).alias(
            "est_distinct"
        ),
    )


def hist_build(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 128,
) -> DataFrame:
    """Fixed-bucket histogram sketch: (bucket, n) with
    ``bucket = clamp(floor((x − lo) / width), 0, n_buckets − 1)`` —
    the mergeable quantile sketch completing the family (KMV/HLL count
    distincts, CMS counts frequencies; this bounds ORDER statistics).
    Counts are exact integers from one map-side-combining agg, so
    sketches merge by summing counts per bucket (per-partition /
    per-day cubes roll up losslessly) and are engine/partitioning-
    identical — unlike t-digest/GK sketches, whose state depends on
    merge order. NULLs are excluded; out-of-range values clamp into
    the edge buckets (the caller picks [lo, hi) from domain knowledge
    — a production pipeline snapshots it once from a profile run).
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if not hi > lo:
        raise ValueError("hi must be > lo")
    width = (hi - lo) / n_buckets
    b = F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width))
    bucket = F.least(
        F.greatest(b, F.lit(0)), F.lit(n_buckets - 1)
    ).cast("long")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").cast("long").alias("n"))
    )


def hist_quantiles(
    sketch: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_buckets: int = 128,
) -> DataFrame:
    """(q, value): nearest-bucket quantile from a ``hist_build`` sketch
    — ``value`` is the LOWER BOUND of the first bucket whose cumulative
    count reaches ``ceil(q·n)``. No interpolation: the answer is an
    exact function of integer counts, so any engine computing it from
    the same sketch lands on the identical double (lo + bucket·width —
    one exactly-rounded multiply-add), with error bounded by one bucket
    width by construction. One dimension-sized window over ≤ n_buckets
    rows."""
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"q must be in (0, 1], got {q}")
    if not qs:
        raise ValueError("qs must be non-empty")
    width = (hi - lo) / n_buckets
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = sketch.select(
        "bucket", "n", F.sum("n").over(w).alias("cum")
    ).crossJoin(sketch.agg(F.sum("n").cast("long").alias("total")))
    out = None
    for q in qs:
        rank = F.ceil(F.lit(q) * F.col("total")).cast("long")
        hit = (
            cum.filter(F.col("cum") >= rank)
            .orderBy("bucket")
            .limit(1)
            .select(
                F.lit(q).alias("q"),
                (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("value"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def cms_join_size(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    depth: int = 4,
) -> DataFrame:
    """One row (est_join_size): estimated equi-join cardinality
    |A ⋈_k B| = Σ_v f_A(v)·f_B(v) from two ``cms_build`` sketches over
    the join key — the count-min inner-product estimator (Cormen et
    al.'s CM paper §4.2; the AMS idea): per hash row, the bucketwise
    dot product OVERESTIMATES the true inner product (collisions only
    add mass), so the MIN over the ``depth`` rows is the tightest
    never-below-truth bound. Shuffle-planning triage at 100 TB: decide
    whether a join explodes (hot-key quadratic blowup) from two
    dimension-sized sketches BEFORE paying the full shuffle.

    Both sketches must share (depth, width, salt). The estimate is an
    exact integer (integer counts, integer products, integer sums —
    bit-identical on any engine); absent cells are zero so the join of
    touched cells suffices.
    """
    if depth < 1:
        raise ValueError("depth must be >= 1")
    a = sketch_a.select("row", "bucket", F.col("n").alias("na"))
    b = sketch_b.select("row", "bucket", F.col("n").alias("nb"))
    per_row = (
        a.join(b, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("dot"))
    )
    return per_row.agg(
        F.min("dot").cast("long").alias("est_join_size")
    )


def hll_grouped_build(
    keys: DataFrame,
    key_col: str,
    group_col: str,
    p: int = 6,
    salt: str = "hll",
) -> DataFrame:
    """(group, register, m_rank): one :func:`hll_build` sketch PER
    GROUP in a single pass — the per-day / per-source distinct-count
    cube shape. Same md5 routing and rank chain; ONE map-side-combining
    max-agg over ≤ |groups|·2^p cells."""
    if not 1 <= p <= 12:
        raise ValueError("p must be in [1, 12]")
    m = 1 << p
    h = _md5_u64(key_col, salt)
    hashed = keys.filter(F.col(key_col).isNotNull()).select(
        F.col(group_col).alias("group"),
        (h % F.lit(m)).cast("long").alias("register"),
        F.floor(h / F.lit(m)).cast("long").alias("_w"),
    )
    return (
        hashed.select("group", "register", _hll_rank(F.col("_w")).alias("_rank"))
        .groupBy("group", "register")
        .agg(F.max("_rank").alias("m_rank"))
    )


def hll_overlap(
    keys: DataFrame,
    key_col: str,
    group_col: str,
    p: int = 6,
    salt: str = "hll",
) -> DataFrame:
    """Pairwise distinct-key overlap between groups by HLL
    inclusion-exclusion — "how many users does each pair of event
    types / sources / days share?" WITHOUT a quadratic distinct-pair
    join: per group one sketch (:func:`hll_grouped_build`), per pair
    the UNION sketch is the registerwise max, and est(A∩B) =
    est(A) + est(B) − est(A∪B). One row per unordered pair (a < b):
    (a, b, s_a, s_b, s_union, est_a, est_b, est_union, est_overlap).

    Exactness discipline: the three harmonic sums are the
    scaled-integer decimal(38,0) witnesses of :func:`hll_estimate`
    (hash-checkable strings); the single float expression is the
    three-division inclusion-exclusion, one fixed evaluation order,
    round-3. Inclusion-exclusion inherits raw-HLL error (can go
    negative for near-disjoint sets — that IS the estimate; the
    magnitude, not the sign, is the analyst signal).

    Scale shape: sketches are DENSIFIED (every group × 2^p registers,
    empty = rank 0) so the pair join is a plain register equi-join of
    two dimension-sized frames — |groups|²·2^p/2 join rows total,
    independent of corpus size; the raw keys are touched exactly once.
    """
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << _HLL_SCALE)
    # The sketch table (≤ |groups|·2^p rows) is referenced four times
    # below (group list + both join sides); localCheckpoint pins it so
    # the RAW corpus is scanned exactly once — the HyperANF lineage
    # discipline, here also a 4×-scan saver.
    sk = hll_grouped_build(keys, key_col, group_col, p=p, salt=salt).localCheckpoint(
        eager=True
    )
    groups = sk.select("group").distinct()
    dense = (
        groups.select(
            "group", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("register")
        )
        .join(sk, ["group", "register"], "left")
        .na.fill({"m_rank": 0})
    )
    a = dense.select(
        F.col("group").alias("a"),
        "register",
        F.col("m_rank").alias("_ra"),
    )
    b = dense.select(
        F.col("group").alias("b"),
        "register",
        F.col("m_rank").alias("_rb"),
    )
    pairs = a.join(b, "register").filter(F.col("a") < F.col("b"))

    def _term(rank_col):
        return F.expr(
            f"shiftleft(1L, {_HLL_SCALE} - {rank_col})"
        ).cast("decimal(38,0)")

    agg = pairs.groupBy("a", "b").agg(
        F.sum(_term("_ra")).alias("_sa"),
        F.sum(_term("_rb")).alias("_sb"),
        F.sum(
            F.expr(
                f"shiftleft(1L, {_HLL_SCALE} - greatest(_ra, _rb))"
            ).cast("decimal(38,0)")
        ).alias("_su"),
    )
    ea = F.lit(numer) / F.col("_sa").cast("double")
    eb = F.lit(numer) / F.col("_sb").cast("double")
    eu = F.lit(numer) / F.col("_su").cast("double")
    return agg.select(
        "a",
        "b",
        F.col("_sa").cast("string").alias("s_a"),
        F.col("_sb").cast("string").alias("s_b"),
        F.col("_su").cast("string").alias("s_union"),
        F.round(ea, 3).alias("est_a"),
        F.round(eb, 3).alias("est_b"),
        F.round(eu, 3).alias("est_union"),
        F.round(ea + eb - eu, 3).alias("est_overlap"),
    )
