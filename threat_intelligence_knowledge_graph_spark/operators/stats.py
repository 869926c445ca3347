"""Exact order statistics — engine-deterministic percentiles.

Spark's ``percentile_approx`` and DuckDB's ``quantile_cont`` disagree
with each other (different sketches / interpolation), so a monitoring
query built on either is unverifiable cross-engine. The nearest-rank
definition — the value at ordered row ceil(q·n), ties broken by a
pinned id — is pure integer/comparison logic: both engines pick the
SAME physical row, no interpolation arithmetic to diverge on.

At 100 TB the shape is one window shuffle keyed by the group column
(per-group ordering only — no global sort) plus a group-sized count
agg joined back broadcast. For a single giant group the right tool is
a sketch (KMV/CMS in ``sketches.py``) or a two-pass range partition;
this operator is the exact path for dimension-sized groups (event
types, sources, languages), where per-group rows fit a partition
comfortably and the answer must be exact and reproducible.
"""

from __future__ import annotations

from fractions import Fraction
from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    tiebreak_col: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-``group_col`` nearest-rank percentiles of ``value_col``.

    For each q in ``qs``: the value at row ceil(q·n) of the group's
    rows ordered by (value, tiebreak) — the classic nearest-rank
    percentile (exact, no interpolation). Output: one row per group
    with columns (group, n, p<q·100> …), q·100 rendered without a
    trailing .0 (0.5 → p50, 0.999 → p99_9).

    NULL values are excluded from the order statistics (SQL ORDER BY
    semantics for NULL differ between engines, and a NULL percentile
    is meaningless); a group that is all-NULL disappears.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"q must be in (0, 1], got {q}")

    rows = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(tiebreak_col).asc()
    )
    ranked = rows.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).alias("_v"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(group_col)).alias("_n"),
    )
    aggs = [F.max("_n").alias("n")]
    for q in qs:
        name = f"p{q * 100:g}".replace(".", "_")
        # ceil(q·n) in EXACT integer arithmetic: q is read back as the
        # decimal the caller wrote (Fraction(str(0.07)) = 7/100, not
        # the IEEE neighbor), and ceil(num·n/den) = (num·n + den − 1)
        # div den — a double multiply would round 0.07·100 up to
        # 7.000000000000001 and pick rank 8 instead of 7.
        fr = Fraction(str(q))
        num, den = fr.numerator, fr.denominator
        target = F.expr(f"CAST(({num} * _n + {den - 1}) DIV {den} AS BIGINT)")
        aggs.append(
            F.max(F.when(F.col("_rn") == target, F.col("_v"))).alias(name)
        )
    return (
        ranked.groupBy(F.col("_g").alias(group_col))
        .agg(*aggs)
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    group_col: str = "user_id",
    step_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """(step_idx, step, n_reached, conversion): ordered funnel analysis
    — how many groups (users/sessions) performed step₀, then step₁
    STRICTLY AFTER their first step₀, then step₂ after that, … (the
    attack-chain / kill-chain progression query on a threat timeline,
    the signup→activation→purchase funnel on a product one).

    Per step k the reach time is min(ts of step_k events LATER than the
    group's step_{k−1} reach time) — the earliest valid completion.
    Mechanics: k dimension-bounded passes, each ONE group-keyed agg
    over a filtered scan joined back broadcast-or-keyed on the group;
    epoch-integer comparisons only. ``conversion`` is n_reached /
    n_reached(step₀) rounded to 6 (0 groups → step₀ row with 0s).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    epoch = F.unix_timestamp(F.col(ts_col))
    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(step_col).alias("s"),
        epoch.alias("e"),
    )
    reached = None  # (g, t_k)
    rows = []
    n0 = None
    spark = df.sparkSession
    for k, step in enumerate(steps):
        ev = base.filter(F.col("s") == step)
        if k == 0:
            reached = ev.groupBy("g").agg(F.min("e").alias("t"))
        else:
            prev = reached.select("g", F.col("t").alias("_pt"))
            reached = (
                ev.join(prev, "g")
                .filter(F.col("e") > F.col("_pt"))
                .groupBy("g")
                .agg(F.min("e").alias("t"))
            )
        n = reached.count()  # bounded: one long per step, k steps total
        if k == 0:
            n0 = n
        rows.append((k, step, n, round(n / n0, 6) if n0 else 0.0))
    return spark.createDataFrame(
        rows, "step_idx int, step string, n_reached long, conversion double"
    )


def retention_cohorts(
    df: DataFrame,
    group_col: str = "user_id",
    ts_col: str = "ts",
    bucket_seconds: int = 7 * 86400,
) -> DataFrame:
    """(cohort, periods_since, n_active): classic cohort retention —
    each group (user/entity) is cohorted by the epoch bucket of its
    FIRST event; every later event marks it active in bucket-delta
    ``periods_since``. On a threat graph the same query reads "of the
    indicators first seen in week W, how many were still active k weeks
    on" — infrastructure-lifetime triage.

    Epoch-integer bucketing (``floor(epoch / bucket_seconds)`` —
    timezone/engine portable; calendar-week alignment is presentation,
    not analytics). One group-keyed min agg, one group-keyed join back,
    one (cohort, delta) distinct-count agg — all keyed, no windows.
    """
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    epoch = F.unix_timestamp(F.col(ts_col))
    b = df.filter(
        F.col(ts_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.floor(epoch / F.lit(bucket_seconds)).cast("long").alias("w"),
    )
    first = b.groupBy("g").agg(F.min("w").alias("cohort"))
    return (
        b.join(first, "g")
        .groupBy("cohort", (F.col("w") - F.col("cohort")).alias("periods_since"))
        .agg(F.count_distinct("g").cast("long").alias("n_active"))
    )


def burstiness_fano(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Fano factor (index of dispersion, variance/mean) of per-group
    hourly volumes — the burstiness triage that separates Poisson-like
    background noise (F ≈ 1) from bursty campaign traffic (F ≫ 1) and
    clocked beacons (F ≪ 1).

    Determinism: the ratio is computed from the n-scaled integer
    identity ``var/mean = (n·Σx² − (Σx)²) / (n·Σx)`` — numerator and
    denominator are exact integers, so both engines perform ONE
    identical division, rounded to 6 (population variance over the
    observed buckets).

    Scale shape: one map-side-combining (group, hour) count, one
    dimension-sized per-group aggregate — two exchanges total, no
    window, no Python.
    """
    hour = F.date_trunc("hour", F.col(ts_col).cast("timestamp"))
    counts = (
        events.groupBy(F.col(group_col).alias("grp"), hour.alias("bucket"))
        .agg(F.count("*").alias("x"))
    )
    return (
        counts.groupBy("grp")
        .agg(
            F.count("*").alias("_n"),
            F.sum("x").alias("_s1"),
            F.sum(F.col("x") * F.col("x")).alias("_s2"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("_n").cast("long").alias("n_buckets"),
            F.round(
                (F.col("_n") * F.col("_s2") - F.col("_s1") * F.col("_s1"))
                / (F.col("_n") * F.col("_s1")),
                6,
            ).alias("fano"),
        )
    )


def markov_transitions(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "user_id",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition estimates over per-group event
    sequences: P(next = b | cur = a) = count(a→b) / count(a→·) from
    consecutive pairs within each group — the behavioral-baseline model
    (what usually follows a signup?) whose low-probability transitions
    feed anomaly triage.

    Determinism: sequence order is the total key (ts, id) so same-
    instant events order identically cross-engine; counts are exact
    integers and the probability is ONE round-6 division.

    Scale shape: one lag window over the group exchange, then two
    map-side-combining aggregations (pair counts, source marginals)
    joined on the dimension-sized state key — the marginal side is
    states², broadcastable."""
    w = Window.partitionBy(group_col).orderBy(F.col(ts_col), F.col(id_col))
    pairs = (
        events.select(
            F.lag(state_col).over(w).alias("src_state"),
            F.col(state_col).alias("dst_state"),
        )
        .filter(F.col("src_state").isNotNull())
        .groupBy("src_state", "dst_state")
        .agg(F.count("*").alias("n"))
    )
    marg = pairs.groupBy("src_state").agg(F.sum("n").alias("_total"))
    return pairs.join(F.broadcast(marg), "src_state").select(
        "src_state",
        "dst_state",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("_total"), 6).alias("prob"),
    )


def event_entropy(
    events: DataFrame,
    group_col: str = "user_id",
    state_col: str = "event_type",
) -> DataFrame:
    """Shannon entropy (nats) of each group's categorical event
    distribution — the diversity triage that separates scripted
    automation / clocked beacons (one repeated action, H ≈ 0) from
    organic interactive behavior (many actions, H near ln k); on a
    training corpus the same statistic flags template-locked sources.

    Uses the identity ``H = ln n − (Σ c·ln c) / n`` so every ``ln``
    argument is an exact integer count (no per-row probability
    division to diverge on); a single-state group cancels exactly to
    0.0 before rounding. Round-6 after the sum absorbs ULP-level
    libm/summation-order differences — the ``corpus_kl`` / NPMI
    discipline.

    Scale shape: one map-side-combining (group, state) count, then one
    per-group aggregate — two key-bounded exchanges, no window, no
    Python, no broadcast.
    """
    counts = (
        events.groupBy(
            F.col(group_col).alias("grp"), F.col(state_col).alias("_state")
        ).agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("grp")
        .agg(
            F.count("*").alias("_k"),
            F.sum("c").alias("_n"),
            F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("_sclogc"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("_n").cast("long").alias("n_events"),
            F.col("_k").cast("long").alias("n_states"),
            F.round(
                F.log(F.col("_n").cast("double")) - F.col("_sclogc") / F.col("_n"),
                6,
            ).alias("entropy"),
        )
    )


def benford_deviation(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    scale: int = 100,
) -> DataFrame:
    """(group, n, chi2): per-group chi-square deviation of the
    first-significant-digit distribution from Benford's law — the
    classic fraud/tamper screen for volume-like measurements
    (exfil byte counts, billing records, beacon sizes): organically
    generated magnitudes follow ``p(d) = log10(1 + 1/d)``; fabricated
    or clipped ones don't, and the group's chi2 spikes.

    The first significant digit is taken WITHOUT float log10 games:
    PRECONDITION — values must be fixed-point on the ``1/scale`` grid
    (default scale=100: two decimals, the events.value granularity).
    Then ``round(value·scale)`` is an exact integer and its leading
    decimal digit IS the first significant digit of the value (valid
    for any value >= 1/scale; smaller/NULL rows are excluded as
    digit-less). A value OFF the grid near a power-of-ten boundary
    (e.g. 0.0095 with scale=100) would round across it and report the
    wrong digit — pass the scale that matches your column's
    granularity (raw integer byte counts: ``scale=1``). chi2 uses the
    absent-digit-safe identity ``Σ_d (c_d − n·p_d)²/(n·p_d) =
    Σ_present c_d²/(n·p_d) − n`` so digits with zero observations
    need no synthetic rows. round-6 AFTER the ≤9-term sum (the
    logprob discipline: the expected counts are transcendental, only
    last-ulp sum-order noise collapses).

    100 TB shape: one scan-local digit projection, one (group, digit)
    map-side-combining count agg (≤ 9·|groups| rows out), one
    dimension-sized re-agg. No window, no join, no Python.
    """
    if scale < 1:
        raise ValueError("scale must be >= 1")
    v = F.round(F.col(value_col) * scale).cast("long")
    digits = (
        df.filter(
            F.col(value_col).isNotNull()
            & (F.col(value_col) >= 1.0 / scale)
        )
        .select(
            F.col(group_col).alias("group"),
            F.substring(v.cast("string"), 1, 1).cast("int").alias("d"),
        )
        .groupBy("group", "d")
        .agg(F.count("*").alias("c"))
    )
    # p(d) = ln((d+1)/d) / ln(10), built from the same double ops on
    # both engines
    p = F.log((F.col("d") + F.lit(1.0)) / F.col("d")) / F.log(F.lit(10.0))
    return (
        digits.select(
            "group",
            "c",
            (F.col("c") * F.col("c") / p).alias("_cc_over_p"),
        )
        .groupBy("group")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.round(
                F.sum("_cc_over_p") / F.sum("c") - F.sum("c"), 6
            ).alias("chi2"),
        )
    )


def gini_concentration(
    df: DataFrame,
    group_col: str = "source",
    weight_col: str | None = None,
) -> DataFrame:
    """Gini coefficient of per-group contribution — the corpus-balance
    diagnostic for training mixtures (is 90% of the corpus one crawl?)
    and for infrastructure concentration (do a handful of ASNs carry
    all sightings?). 0 = perfectly even shares, → 1 = one group owns
    everything.

    Uses the rank formula ``G = Σ(2i − n − 1)·x_i / (n·Σx)`` over
    per-group totals sorted ascending by (x, group): ranks are integer
    row numbers with a pinned tiebreak (both engines order identical
    physical rows), x are exact integer counts (or integer-cast
    weights), so numerator and denominator are exact integers — ONE
    round-6 division. Output is one row: (n_groups, total, gini);
    n_groups == 1 yields gini 0.0 exactly.

    Scale shape: one map-side-combining count agg collapses the corpus
    to dimension-sized group totals; the rank window over that tiny
    frame is a single-partition sort of #groups rows (bounded by the
    dimension, not the data), then one 1-row aggregate.
    """
    x = (
        F.count("*") if weight_col is None
        else F.sum(F.col(weight_col).cast("long"))
    )
    totals = df.groupBy(F.col(group_col).alias("grp")).agg(x.alias("x"))
    w = Window.orderBy(F.col("x"), F.col("grp"))
    ranked = totals.select("x", F.row_number().over(w).alias("i"))
    return (
        ranked.agg(
            F.count("*").alias("_n"),
            F.sum("x").alias("_t"),
            F.sum((2 * F.col("i") - 1) * F.col("x")).alias("_s"),
        )
        .select(
            F.col("_n").cast("long").alias("n_groups"),
            F.col("_t").cast("long").alias("total"),
            F.round(
                (F.col("_s") - F.col("_n") * F.col("_t"))
                / (F.col("_n") * F.col("_t")),
                6,
            ).alias("gini"),
        )
    )


def top_event_sequences(
    events: DataFrame,
    n: int = 3,
    k: int = 20,
    ts_col: str = "ts",
    group_col: str = "user_id",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-k most frequent length-``n`` consecutive event-type
    sequences across all groups — kill-chain / playbook pattern mining
    (which 3-step progressions recur corpus-wide?) and, on transcript
    roles/tools, the workflow motifs a curriculum sampler balances on.

    Determinism: each group's sequence is ordered by the (ts, id)
    total key (same-instant events order identically cross-engine);
    counts are exact integers and the final rank is assigned by
    (n DESC, pattern ASC) AFTER the top-k cut — the ``top_ngrams``
    discipline.

    Scale shape: ``n − 1`` lag columns over ONE group-keyed window
    exchange (windows over the same (partition, order) key share a
    single Exchange+Sort), then one map-side-combining count whose
    Zipf head collapses before the shuffle, then TakeOrderedAndProject
    for the k cut; the rank window orders k rows only.
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    if k < 1:
        raise ValueError("k must be >= 1")
    # NULL ts excluded: engines disagree on NULL sort placement, which
    # would make the sequence pairing engine-dependent.
    events = events.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(F.col(ts_col), F.col(id_col))
    steps = [F.lag(state_col, n - 1 - j).over(w) for j in range(n)]
    seqs = (
        events.select(F.concat_ws(" > ", *steps).alias("pattern"),
                      steps[0].alias("_first"))
        .filter(F.col("_first").isNotNull())
        .groupBy("pattern")
        .agg(F.count("*").alias("cnt"))
    )
    top = seqs.orderBy(F.col("cnt").desc(), F.col("pattern").asc()).limit(k)
    rw = Window.orderBy(F.col("cnt").desc(), F.col("pattern").asc())
    return top.select(
        "pattern",
        F.col("cnt").cast("long").alias("n"),
        F.row_number().over(rw).cast("int").alias("rk"),
    )


def correlated_series(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    min_overlap: int = 3,
) -> DataFrame:
    """Pairwise temporal correlation of per-group hourly volumes —
    the "these indicators move together" triage that links campaign
    infrastructure: two beacons steered by one operator spike and idle
    in the same hours even when no single event ties them.

    For each co-active pair (a < b, sharing ≥ ``min_overlap`` active
    hours) the squared Pearson correlation of their hourly series over
    the frame's COMMON bucket universe (absent hours are true zeros —
    both engines see the same N from one 1-row broadcast):

    ``r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²))``

    — numerator and denominator exact integers (no sqrt), ONE round-6
    division, with the sign reported separately (``direction`` ∈
    {-1, 0, 1} of n·Σxy − Σx·Σy). Zero-variance (constant) series have
    undefined r — those pairs are dropped, never faked. Only co-active
    pairs are scored: a pair with NO shared active hour can still be
    (anti-)correlated in principle, but at 100 TB the co-activity join
    is what bounds the pair space, and the triage question is "which
    indicators surge together".

    Scale shape: one (group, hour) map-side-combining count; one
    group-keyed moment agg (dimension-sized); one bucket-keyed
    self-join producing only co-active pair rows, aggregated to
    Σxy per pair; per-group moments join back broadcast (groups are
    dimension-sized). No windows, no Python.
    """
    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")
    hour = F.date_trunc("hour", F.col(ts_col).cast("timestamp"))
    # NULL ts would form a NULL bucket that Spark's distinct keeps
    # but COUNT(DISTINCT) elsewhere drops — excluded up front.
    events = events.filter(F.col(ts_col).isNotNull())
    counts = (
        events.groupBy(F.col(group_col).alias("g"), hour.alias("bucket"))
        .agg(F.count("*").alias("x"))
    )
    n_buckets = counts.select("bucket").distinct().agg(
        F.count("*").alias("_nb")
    )
    moments = counts.groupBy("g").agg(
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    ca = counts.select(F.col("g").alias("a"), "bucket", F.col("x").alias("xa"))
    cb = counts.select(F.col("g").alias("b"), "bucket", F.col("x").alias("xb"))
    xy = (
        ca.join(cb, "bucket")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
            F.count("*").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= min_overlap)
    )
    ma = moments.select(
        F.col("g").alias("a"), F.col("s1").alias("s1a"), F.col("s2").alias("s2a")
    )
    mb = moments.select(
        F.col("g").alias("b"), F.col("s1").alias("s1b"), F.col("s2").alias("s2b")
    )
    nb = F.col("_nb")
    num = nb * F.col("sxy") - F.col("s1a") * F.col("s1b")
    vara = nb * F.col("s2a") - F.col("s1a") * F.col("s1a")
    varb = nb * F.col("s2b") - F.col("s1b") * F.col("s1b")
    return (
        xy.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(n_buckets))
        .filter((vara > 0) & (varb > 0))
        .select(
            "a",
            "b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.signum(num).cast("int").alias("direction"),
            F.round((num * num) / (vara * varb), 6).alias("r2"),
        )
    )


def trend_slope(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Per-group least-squares trend of hourly volumes — the
    ramping-up/winding-down triage that completes the timeline family
    (CUSUM: sustained shift; Fano: dispersion; recency: still hot;
    this: monotone drift): slope in events/hour/hour over the group's
    observed hourly buckets.

    Determinism: t is the integer hour index REBASED to the frame's
    first bucket (one 1-row broadcast min — rebasing keeps n·Σt² far
    from int64 even at years of span), y the exact integer bucket
    count, and ``slope = (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²)`` has exact
    integer numerator and denominator — ONE round-6 division, sign
    reported separately. Groups observed in < 2 distinct hours have a
    zero denominator (no defined trend) and are dropped, never faked.
    Like ``burstiness_fano``, the regression runs over OBSERVED
    buckets (an indicator absent for a year then returning is
    recency/CUSUM territory, not a slope).

    Scale shape: one (group, hour) map-side-combining count, one 1-row
    min broadcast, one dimension-sized per-group aggregate — no
    windows, no Python.
    """
    hour_idx = (
        F.unix_timestamp(F.date_trunc("hour", F.col(ts_col).cast("timestamp")))
        / F.lit(3600)
    ).cast("long")
    # NULL ts excluded up front (a NULL hour index would form a group
    # whose handling differs between engines).
    events = events.filter(F.col(ts_col).isNotNull())
    counts = (
        events.groupBy(F.col(group_col).alias("g"), hour_idx.alias("h"))
        .agg(F.count("*").alias("y"))
    )
    base = counts.agg(F.min("h").alias("_h0"))
    rebased = counts.crossJoin(F.broadcast(base)).select(
        "g", (F.col("h") - F.col("_h0")).alias("t"), "y"
    )
    agg = rebased.groupBy("g").agg(
        F.count("*").alias("_n"),
        F.sum("t").alias("_st"),
        F.sum(F.col("t") * F.col("t")).alias("_st2"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("t") * F.col("y")).alias("_sty"),
    )
    num = F.col("_n") * F.col("_sty") - F.col("_st") * F.col("_sy")
    den = F.col("_n") * F.col("_st2") - F.col("_st") * F.col("_st")
    return (
        agg.filter(den > 0)
        .select(
            F.col("g").alias(group_col),
            F.col("_n").cast("long").alias("n_buckets"),
            F.signum(num).cast("int").alias("direction"),
            F.round(num / den, 6).alias("slope"),
        )
    )


def novelty_curve(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """(bucket, n_new, n_active, pct_new): per-period count of groups
    (indicators / entities / vocab items) seen for the FIRST time —
    the novelty curve that tells a threat desk whether a campaign is
    still expanding infrastructure, and a corpus pipeline whether a
    crawl is still discovering new sources (flat n_new = the crawl is
    re-reading itself; pair with ``vocab_growth`` for the token-level
    view).

    Epoch-integer bucketing (``floor(epoch / bucket_seconds)``, the
    ``retention_cohorts`` discipline — engine/timezone portable);
    n_new is the count of groups whose min-bucket is this bucket,
    n_active the distinct groups observed in it, pct_new one round-6
    division of exact integers. Buckets with activity but no new
    groups still appear (n_new 0) — absence of novelty IS the signal.

    Scale shape: one (group, bucket) map-side-combining distinct, one
    group-keyed min, two bucket-keyed counts joined on the bucket key
    (dimension-sized) — no windows, no Python.
    """
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    epoch = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    gb = (
        events.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            F.floor(epoch / F.lit(bucket_seconds)).cast("long").alias("w"),
        )
        .distinct()
    )
    active = gb.groupBy("w").agg(F.count("*").alias("n_active"))
    first = gb.groupBy("g").agg(F.min("w").alias("w"))
    new = first.groupBy("w").agg(F.count("*").alias("n_new"))
    return (
        active.join(new, "w", "left")
        .select(
            F.col("w").alias("bucket"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            F.col("n_active").cast("long").alias("n_active"),
            F.round(
                F.coalesce(F.col("n_new"), F.lit(0)) / F.col("n_active"), 6
            ).alias("pct_new"),
        )
    )


def autocorrelation(
    events: DataFrame,
    lag_hours: int = 24,
    ts_col: str = "ts",
    group_col: str = "event_type",
    min_pairs: int = 3,
) -> DataFrame:
    """Per-group autocorrelation of hourly volumes at a fixed lag —
    the cycle detector that completes the timeline family: a diurnal
    workload shows r² ≈ 1 at lag 24, a weekly one at lag 168, and a
    beacon whose period ISN'T a divisor of the lag shows nothing (an
    inter-arrival cv² is the period-free complement).

    Statistic: the squared-Pearson integer identity (the
    ``correlated_series`` discipline — no sqrt, sign separate) over
    the PAIRED sample {(x_t, x_{t+lag})} for hours where both buckets
    are observed; groups with < ``min_pairs`` pairs or a zero-variance
    side are dropped, never faked.

    Scale shape: one (group, hour) map-side-combining count, one
    (group, hour)-keyed self-join with the lag folded into the join
    key (never cartesian), one dimension-sized per-group aggregate.
    """
    if lag_hours < 1:
        raise ValueError("lag_hours must be >= 1")
    if min_pairs < 2:
        raise ValueError("min_pairs must be >= 2")
    hour_idx = (
        F.unix_timestamp(F.date_trunc("hour", F.col(ts_col).cast("timestamp")))
        / F.lit(3600)
    ).cast("long")
    events = events.filter(F.col(ts_col).isNotNull())  # NULL ts excluded
    counts = (
        events.groupBy(F.col(group_col).alias("g"), hour_idx.alias("h"))
        .agg(F.count("*").alias("x"))
    )
    lead = counts.select(
        "g", (F.col("h") - F.lit(lag_hours)).alias("h"), F.col("x").alias("y")
    )
    agg = (
        counts.join(lead, ["g", "h"])
        .groupBy("g")
        .agg(
            F.count("*").alias("_n"),
            F.sum("x").alias("_sx"),
            F.sum("y").alias("_sy"),
            F.sum(F.col("x") * F.col("x")).alias("_sx2"),
            F.sum(F.col("y") * F.col("y")).alias("_sy2"),
            F.sum(F.col("x") * F.col("y")).alias("_sxy"),
        )
        .filter(F.col("_n") >= min_pairs)
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    varx = F.col("_n") * F.col("_sx2") - F.col("_sx") * F.col("_sx")
    vary = F.col("_n") * F.col("_sy2") - F.col("_sy") * F.col("_sy")
    return (
        agg.filter((varx > 0) & (vary > 0))
        .select(
            F.col("g").alias(group_col),
            F.col("_n").cast("long").alias("n_pairs"),
            F.signum(num).cast("int").alias("direction"),
            F.round((num * num) / (varx * vary), 6).alias("r2"),
        )
    )


def set_churn(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """(bucket, n_cur, n_prev, n_common, jaccard, churn): period-over-
    period stability of the ACTIVE-GROUP SET — which fraction of
    yesterday's indicators are still firing today (campaign turnover /
    fast-flux rotation), or of yesterday's crawl sources still
    producing documents. ``jaccard = |cur ∩ prev| / |cur ∪ prev|``,
    ``churn = 1 − jaccard`` — both from exact integer counts, ONE
    round-6 division each. Only buckets with an observed PREVIOUS
    bucket are emitted (a gap day has no defined day-over-day churn).

    Scale shape: one (group, bucket) map-side-combining distinct, one
    (group, bucket)-keyed self-join with the period folded into the
    join key (the ``autocorrelation`` discipline), two calendar-sized
    bucket aggs joined on the bucket key.
    """
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    epoch = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    gb = (
        events.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            F.floor(epoch / F.lit(bucket_seconds)).cast("long").alias("w"),
        )
        .distinct()
    )
    sizes = gb.groupBy("w").agg(F.count("*").alias("n"))
    prev = gb.select("g", (F.col("w") + F.lit(1)).alias("w"))
    common = gb.join(prev, ["g", "w"]).groupBy("w").agg(
        F.count("*").alias("n_common")
    )
    cur_sz = sizes.select(F.col("w"), F.col("n").alias("n_cur"))
    prev_sz = sizes.select((F.col("w") + F.lit(1)).alias("w"), F.col("n").alias("n_prev"))
    j = F.col("n_common") / (F.col("n_cur") + F.col("n_prev") - F.col("n_common"))
    return (
        cur_sz.join(prev_sz, "w")
        .join(common, "w", "left")
        .select(
            F.col("w").alias("bucket"),
            F.col("n_cur").cast("long"),
            F.col("n_prev").cast("long"),
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
        )
        .select(
            "bucket",
            "n_cur",
            "n_prev",
            "n_common",
            F.round(j, 6).alias("jaccard"),
            F.round(F.lit(1) - j, 6).alias("churn"),
        )
    )


def hourly_seasonality(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-group hour-of-day seasonality card: does this channel keep
    human office hours or run around the clock? Output one row per
    group: (group, n, n_hours_active, peak_hour, peak_share, chi2)
    where chi2 is Pearson's statistic against the uniform-over-24-hours
    null — χ² = Σ_h (c_h − n/24)²/(n/24) = (24·Σ c_h² − n²)/n via the
    integer identity, so automation (flat profile, χ² ≈ small) and
    diurnal humans / cron spikes (χ² large) separate on one number.
    Completes the timeline family: Fano = dispersion over time, trend =
    drift, beacons = inter-arrival regularity, THIS = time-of-day
    structure (a metronome beacon firing hourly is seasonality-flat but
    beacon-loud; a 9-to-5 operator is the reverse).

    ``peak_hour`` is the busiest hour (smallest hour wins count ties —
    deterministic cross-engine), ``peak_share`` its traffic fraction.

    Numeric determinism: counts are exact integers, the χ² numerator
    24·Σc² − n² is exact bigint arithmetic, and χ² / peak_share are
    each ONE round-6 integer division (the gini/trend discipline).

    Scale shape: ONE (group, hour) count-aggregate (map-side combined;
    ≤ 24 rows per group reach the shuffle), then the per-group window
    max and the final per-group aggregate share the single group-keyed
    exchange — no second shuffle, nothing collects.
    """
    h = F.hour(F.col(ts_col))
    c = (
        events.select(F.col(group_col).alias("g"), h.alias("h"))
        .groupBy("g", "h")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("g")
    c = c.withColumn("_cmax", F.max("c").over(w))
    agg = c.groupBy("g").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_hours_active"),
        F.min(F.when(F.col("c") == F.col("_cmax"), F.col("h"))).alias(
            "peak_hour"
        ),
        F.max("_cmax").alias("_peak"),
        F.sum(F.col("c") * F.col("c")).alias("_sc2"),
    )
    num = F.lit(24) * F.col("_sc2") - F.col("n") * F.col("n")
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("n_hours_active").cast("int").alias("n_hours_active"),
        F.col("peak_hour").cast("int").alias("peak_hour"),
        F.round(F.col("_peak").cast("double") / F.col("n").cast("double"), 6).alias(
            "peak_share"
        ),
        F.round(num.cast("double") / F.col("n").cast("double"), 6).alias("chi2"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    group_col: str,
    tiebreak_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Per-group α-trimmed mean — the robust center the MAD family's
    outlier DETECTOR doesn't provide (mad_outliers flags tails; this
    reports a level with the tails already cut, the stable SLA /
    exfil-volume baseline a plain mean lets one burst wreck): drop
    the lowest and highest ⌊α·n⌋ rows of each group's (value,
    tiebreak) total order, average the rest. Output (group, n,
    n_trimmed_each_side, trimmed_mean); α < 0.5 guarantees at least
    one survivor per group (2·⌊α·n⌋ < n always), so no 0/0 case
    exists.

    Exactness: ⌊α·n⌋ uses the Fraction-exact integer arithmetic of
    ``exact_percentiles`` (α read back as the decimal the caller
    wrote); surviving values are summed as decimal(38,6) — exact and
    ORDER-INDEPENDENT, where a double sum would vary with partition
    merge order — and the mean is ONE round-6 division at the end.
    NULL values are excluded like the percentile family.

    Scale shape: the per-group rank window and the final aggregate
    share ONE group-keyed exchange; no global sort, nothing collects.
    """
    if not 0.0 <= trim < 0.5:
        raise ValueError("trim must be in [0, 0.5)")
    fr = Fraction(str(trim))
    num, den = fr.numerator, fr.denominator
    rows = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(tiebreak_col).asc()
    )
    # Keep the ORIGINAL group attribute through the chain: aliasing it
    # before the aggregate makes Catalyst treat the alias as a new
    # attribute and re-shuffle — grouping on the window's own partition
    # key reuses its exchange (plan guard 80).
    ranked = rows.select(
        F.col(group_col),
        F.col(value_col).cast("decimal(38,6)").alias("_v"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(group_col)).alias("_n"),
    ).withColumn("_t", F.expr(f"CAST(({num} * _n) DIV {den} AS BIGINT)"))
    kept = ranked.filter(
        (F.col("_rn") > F.col("_t")) & (F.col("_rn") <= F.col("_n") - F.col("_t"))
    )
    agg = kept.groupBy(group_col).agg(
        F.max("_n").alias("n"),
        F.max("_t").alias("n_trimmed_each_side"),
        F.sum("_v").alias("_s"),
        F.count("*").alias("_k"),
    )
    return agg.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.col("n_trimmed_each_side").cast("long").alias("n_trimmed_each_side"),
        F.round(
            F.col("_s").cast("double") / F.col("_k").cast("double"), 6
        ).alias("trimmed_mean"),
    )


def survival_curve(
    events: DataFrame,
    start_type: str,
    convert_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Kaplan–Meier time-to-conversion with right censoring — the
    time-to-event member of the timeline family that the funnel/
    retention pair cannot express: funnel() reports WHETHER users
    convert, retention_cohorts() whether they RETURN; this reports the
    conversion-time DISTRIBUTION with non-converters handled honestly
    (censored at the corpus horizon, still in the risk set until then)
    instead of dropped — dropping them is survivorship bias, the
    classic dwell-time / patch-latency mistake.

    Subjects: users with a ``start_type`` event (t0 = their first);
    conversion = first ``convert_type`` at or after t0; duration =
    whole days (exact integer-µs floor-div) to conversion, else to the
    global max timestamp (1-row broadcast horizon). One output row per
    day where anyone leaves: (t_day, n_at_risk, n_events, n_censored,
    survival) with S(t) = Π_{s ≤ t, d_s > 0} (1 − d_s/n_s); censored
    subjects count in the risk set at their own day (events-first
    convention, pinned).

    Determinism: risk sets are exact descending cumsums over the DAY
    table; S is exp of a RUNNING ln-sum — a cumulative-frame window
    sum, so the addition ORDER is the frame order on both engines
    (never a partition-merge-order float sum); round-6 at the end.
    The day a risk set is wholly consumed by events (n = d) sets a
    sticky zero flag instead of feeding ln(0).

    Scale shape: two user-keyed min-aggregates + one 1-row broadcast
    horizon; the curve windows run over the DAY table — bounded by the
    observation horizon in days, dimension-sized by construction (the
    gini discipline).
    """
    us = F.expr(f"unix_micros(cast({ts_col} as timestamp))")
    ev = events.filter(F.col(ts_col).isNotNull()).select(
        F.col(user_col).alias("u"), F.col(type_col).alias("t"), us.alias("us")
    )
    t0 = ev.filter(F.col("t") == start_type).groupBy("u").agg(
        F.min("us").alias("t0")
    )
    conv = (
        ev.filter(F.col("t") == convert_type)
        .join(t0, "u")
        .filter(F.col("us") >= F.col("t0"))
        .groupBy("u")
        .agg(F.min("us").alias("t1"))
    )
    horizon = ev.agg(F.max("us").alias("hz"))
    subj = (
        t0.join(conv, "u", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.expr(
                "CAST((coalesce(t1, hz) - t0) DIV 86400000000 AS BIGINT)"
            ).alias("t_day"),
            F.col("t1").isNotNull().cast("long").alias("ev"),
        )
    )
    days = subj.groupBy("t_day").agg(
        F.sum("ev").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).alias("c"),
    )
    w_desc = (
        Window.orderBy(F.col("t_day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_asc = (
        Window.orderBy(F.col("t_day").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = days.withColumn("n", F.sum(F.col("d") + F.col("c")).over(w_desc))
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n")),
        F.log((F.col("n") - F.col("d")).cast("double") / F.col("n").cast("double")),
    ).otherwise(F.lit(0.0))
    curve = risk.withColumn("_lns", F.sum(term).over(w_asc)).withColumn(
        "_dead",
        F.max(((F.col("d") > 0) & (F.col("d") >= F.col("n"))).cast("int")).over(
            w_asc
        ),
    )
    return curve.select(
        F.col("t_day").cast("long").alias("t_day"),
        F.col("n").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        F.when(F.col("_dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("_lns")), 6))
        .alias("survival"),
    )


def percentile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Adds ``pct`` — the within-group percent rank of ``value_col``
    ((rank − 1)/(n − 1), ties share a rank, single-row groups pin 0.0)
    — the quantile-normalization step that makes scores COMPARABLE
    ACROSS GROUPS before mixing (a quality score of 0.7 means
    different things in different sources; its percentile doesn't).
    Both engines define percent_rank identically, so the only added
    op is the round-6; ONE group-keyed window exchange, scan-local
    otherwise."""
    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    return df.withColumn("pct", F.round(F.percent_rank().over(w), 6))


def simpson_index(
    events: DataFrame,
    group_col: str = "user_id",
    state_col: str = "event_type",
) -> DataFrame:
    """Simpson concentration λ = Σ pᵢ² (and inverse-Simpson effective
    state count 1/λ) of each group's categorical event distribution —
    the companion diversity triage to :func:`event_entropy`: λ is the
    probability two sampled events share a type, so a clocked beacon
    scores λ ≈ 1 while organic activity over k actions scores ≈ 1/k.
    On a training corpus, inverse-Simpson is the "effective number of
    templates" a source draws from — more interpretable than nats.

    Exactness: λ = (Σ cᵢ²) / n² — the numerator is an exact bigint of
    squared counts (decimal-widened against overflow), so each emitted
    value is ONE round-6 double division (inverse-Simpson divides the
    other way: n²/Σcᵢ², exact for the same reason). No per-row
    probability division, no logs.

    Scale shape: identical to event_entropy — one map-side-combining
    (group, state) count, one per-group aggregate, no window.
    """
    counts = (
        events.groupBy(
            F.col(group_col).alias("grp"), F.col(state_col).alias("_state")
        ).agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("grp")
        .agg(
            F.count("*").alias("_k"),
            F.sum("c").alias("_n"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("_sc2"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("_n").cast("long").alias("n_events"),
            F.col("_k").cast("long").alias("n_states"),
            F.round(
                F.col("_sc2").cast("double")
                / (F.col("_n") * F.col("_n")).cast("double"),
                6,
            ).alias("simpson"),
            F.round(
                (F.col("_n") * F.col("_n")).cast("double")
                / F.col("_sc2").cast("double"),
                6,
            ).alias("inv_simpson"),
        )
    )


def best_lag_correlation(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    max_lag: int = 3,
    min_overlap: int = 3,
) -> DataFrame:
    """Lead/lag detection between per-group hourly series — the relay
    read :func:`correlated_series` (lag 0 only) cannot make: a proxy
    that re-beacons three hours after its upstream C2 correlates at
    lag 3, not lag 0. For every co-active pair (a < b) and every lag
    L ∈ [−max_lag, +max_lag], the squared Pearson correlation of
    x = a's series against y_i = b's count at bucket i+L, reported at
    the pair's BEST lag (``r2`` DESC, \\|lag\\| ASC, lag ASC — rounded
    before ranking, the repo discipline). Positive ``lag`` means b
    trails a.

    Universe semantics (pinned, and deliberately different from
    correlated_series' active-bucket universe): the DENSE integer
    bucket range [min_bucket, max_bucket] of the whole frame, both
    series zero-extended — so n is lag-independent and y's moments
    over the shifted window [min+L, max+L] are computed exactly per
    (group, lag) by a conditional aggregate. All sums are exact
    integers; ``r2`` is ONE round-6 division with the sign reported
    separately; zero-variance sides are dropped (undefined, never
    faked).

    Scale shape: one (group, hour) count; per-group x-moments and
    per-(group, lag) y-moments are dimension-sized aggregates
    (groups × (2·max_lag+1) rows); the only data-sized join is the
    bucket-keyed co-activity self-join, fanned out (2·max_lag+1)× on
    the lagged side — bounded fan-out, same posture as the banded
    interval join. Best-lag selection is a window over pair×lag rows
    (dimension-sized). No Python, no cartesian.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")
    events = events.filter(F.col(ts_col).isNotNull())
    # cast-truncation matches DuckDB's integer // (also truncating
    # toward zero), so pre-1970 garbage buckets identically
    bucket = (F.unix_timestamp(F.col(ts_col)) / F.lit(3600)).cast("long")
    counts = events.groupBy(
        F.col(group_col).alias("g"), bucket.alias("bucket")
    ).agg(F.count("*").alias("x"))
    rng = counts.agg(
        F.min("bucket").alias("_mn"),
        F.max("bucket").alias("_mx"),
        (F.max("bucket") - F.min("bucket") + F.lit(1)).alias("_n"),
    )
    lags = (
        events.sparkSession.range(-max_lag, max_lag + 1)
        .select(F.col("id").cast("long").alias("lag"))
    )
    # x-moments over the dense range: every active bucket is inside
    # [mn, mx] by construction, so these are plain per-group sums.
    mx_ = counts.groupBy("g").agg(
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    # y-moments per (group, lag) over the SHIFTED window [mn+L, mx+L].
    ylag = counts.crossJoin(F.broadcast(lags)).crossJoin(F.broadcast(rng))
    my = (
        ylag.filter(
            (F.col("bucket") >= F.col("_mn") + F.col("lag"))
            & (F.col("bucket") <= F.col("_mx") + F.col("lag"))
        )
        .groupBy("g", "lag")
        .agg(
            F.sum("x").alias("sy1"),
            F.sum(F.col("x") * F.col("x")).alias("sy2"),
        )
    )
    ca = counts.select(F.col("g").alias("a"), "bucket", F.col("x").alias("xa"))
    cb = (
        counts.crossJoin(F.broadcast(lags))
        .select(
            F.col("g").alias("b"),
            "lag",
            (F.col("bucket") - F.col("lag")).alias("bucket"),
            F.col("x").alias("xb"),
        )
    )
    xy = (
        ca.join(cb, "bucket")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "lag")
        .agg(
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
            F.count("*").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= min_overlap)
    )
    ma = mx_.select(
        F.col("g").alias("a"), F.col("s1").alias("s1a"), F.col("s2").alias("s2a")
    )
    mb = my.select(
        F.col("g").alias("b"), "lag",
        F.col("sy1").alias("s1b"), F.col("sy2").alias("s2b"),
    )
    n = F.col("_n")
    num = n * F.col("sxy") - F.col("s1a") * F.col("s1b")
    vara = n * F.col("s2a") - F.col("s1a") * F.col("s1a")
    varb = n * F.col("s2b") - F.col("s1b") * F.col("s1b")
    # each factor cast to double BEFORE the squares/products: num is
    # exactly representable while |num| < 2^53, so the ratio is
    # bit-identical to the oracle there, and past it degrades to the
    # same graceful precision loss on both engines instead of silent
    # int64 wraparound (n is the DENSE bucket-range size — a year of
    # hours x real counts overflows num*num as a long)
    numd, varad, varbd = (
        num.cast("double"), vara.cast("double"), varb.cast("double")
    )
    scored = (
        xy.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), ["b", "lag"])
        .crossJoin(F.broadcast(rng.select("_n")))
        .filter((vara > 0) & (varb > 0))
        .select(
            "a",
            "b",
            F.col("lag").cast("int").alias("lag"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.signum(num).cast("int").alias("direction"),
            F.round((numd * numd) / (varad * varbd), 6).alias("r2"),
        )
    )
    w = Window.partitionBy("a", "b").orderBy(
        F.col("r2").desc(), F.abs(F.col("lag")).asc(), F.col("lag").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def robust_trend(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Non-parametric trend per group — Mann-Kendall S/z plus the
    Theil–Sen slope over hourly volumes: the robust complement to
    :func:`trend_slope`'s least squares, which one burst hour can
    drag into a fake "ramping" verdict; MK counts only ORDER
    (concordant minus discordant pairs) and Theil–Sen takes the
    median pairwise slope, so both shrug off outlier hours.

        S   = Σ_{i<j} sign(y_j − y_i)               (exact integer)
        z   = (S∓1) / √var,  var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18
                                   (tie-corrected; ×18-scaled integer)
        sen = the nearest-rank-median pairwise slope (y_j−y_i)/(t_j−t_i)

    Exactness: S, n, and the ×18-scaled variance are exact integers
    (the one √ is IEEE over var18/18.0 — two deterministic ops); z is
    ONE round-6 division. The Theil–Sen median is a nearest-rank PICK
    (ordered by the slope double, pair-key tiebreak — equal doubles
    order identically everywhere), so the emitted value is a single
    round-6 division of the one chosen pair. Groups with < 2 buckets
    or zero variance (all hours tied) are dropped, never faked.

    Scale shape: one (group, hour) count, then a per-group PAIR
    self-join — a DOCUMENTED quadratic fan-out in the bucket count
    (b hours → b(b−1)/2 rows; a year of hourly buckets is ~38M pairs
    per group — fine keyed work, but cap the window or pre-bucket to
    days if b grows past ~10⁴); tie counts and the median window are
    group-keyed aggregates over the same frames. No Python.
    """
    events = events.filter(F.col(ts_col).isNotNull())
    hour_idx = (
        F.unix_timestamp(F.date_trunc("hour", F.col(ts_col).cast("timestamp")))
        / F.lit(3600)
    ).cast("long")
    counts = (
        events.groupBy(F.col(group_col).alias("g"), hour_idx.alias("h"))
        .agg(F.count("*").alias("y"))
    )
    a = counts.select(F.col("g"), F.col("h").alias("hi"), F.col("y").alias("yi"))
    b = counts.select(F.col("g"), F.col("h").alias("hj"), F.col("y").alias("yj"))
    pairs = a.join(b, "g").filter(F.col("hi") < F.col("hj"))
    mk = pairs.groupBy("g").agg(
        F.sum(F.signum(F.col("yj") - F.col("yi")).cast("long")).alias("_s"),
        F.count("*").alias("_npairs"),
    )
    nbuckets = counts.groupBy("g").agg(F.count("*").alias("_n"))
    # tie correction: Σ over tied-value groups of t(t-1)(2t+5)
    ties = (
        counts.groupBy("g", "y")
        .agg(F.count("*").alias("_t"))
        .groupBy("g")
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tie18")
        )
    )
    n = F.col("_n")
    var18 = n * (n - 1) * (2 * n + 5) - F.col("_tie18")
    s = F.col("_s")
    zexpr = F.when(s > 0, (s - 1).cast("double")).when(
        s < 0, (s + 1).cast("double")
    ).otherwise(F.lit(0.0)) / F.sqrt(var18.cast("double") / F.lit(18.0))
    mkz = (
        nbuckets.join(mk, "g")
        .join(ties, "g")
        .filter((n >= 2) & (var18 > 0))
        .select(
            "g",
            n.cast("long").alias("n_buckets"),
            s.cast("long").alias("mk_s"),
            F.round(zexpr, 6).alias("mk_z"),
        )
    )
    # Theil–Sen: nearest-rank median of pairwise slopes, pair-key
    # tiebreak on the ordering so the PICKED pair is engine-stable.
    slopes = pairs.select(
        "g",
        "hi",
        "hj",
        (
            (F.col("yj") - F.col("yi")).cast("double")
            / (F.col("hj") - F.col("hi")).cast("double")
        ).alias("_slope"),
    )
    wrk = Window.partitionBy("g").orderBy(
        F.col("_slope").asc(), F.col("hi").asc(), F.col("hj").asc()
    )
    wn = Window.partitionBy("g")
    sen = (
        slopes.select(
            "g",
            "_slope",
            F.row_number().over(wrk).alias("_rn"),
            F.count("*").over(wn).alias("_m"),
        )
        .filter(F.col("_rn") == F.ceil(F.col("_m") / 2))
        .select("g", F.round(F.col("_slope"), 6).alias("sen_slope"))
    )
    return mkz.join(sen, "g").select(
        F.col("g").alias(group_col),
        "n_buckets",
        "mk_s",
        "mk_z",
        "sen_slope",
    )
