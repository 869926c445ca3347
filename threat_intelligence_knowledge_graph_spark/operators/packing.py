"""Training-data assembly operators: sequence packing + deterministic splits.

Two ops every LLM-pretraining pipeline needs downstream of dedup/quality:

- ``pack_documents`` — assign documents to fixed-token-budget packs.
  Deterministic bin-by-prefix-sum packing: documents are globally ordered
  by a stable key, a window cumulative sum of token counts is computed,
  and a document lands in pack ``floor(preceding_cumsum / budget)``.
  Pure Catalyst (one window over the chosen order) and therefore exactly
  SQL-reproducible — unlike greedy first-fit, which is sequential and
  engine-specific. Scale note: pass ``shard_col`` (e.g. a date bucket)
  so the window is ``partitionBy(shard)`` and packing parallelizes;
  the shard-less global window sorts through a single task.

- ``split_by_hash`` — deterministic train/validation assignment by
  hashing a stable key: md5-derived 64-bit value (the same engine-
  portable hash the simhash kernel uses — DuckDB ``md5_number_upper``)
  compared against ``train_frac · 2⁶⁴``. Reproducible across engines,
  runs, and partitionings; no RNG, no seed drift.

- ``sample_by_hash`` — deterministic stratified sampling: per-stratum
  keep rates applied through the same md5 bucket. Monotone in the rate
  (raising a stratum's rate only ADDS rows — stable experiment nesting)
  and partition-independent, unlike ``df.sample``/``sampleBy`` whose
  draw depends on the RNG stream per partition.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

# train_frac is quantized to this many buckets so the threshold is an
# exact integer in BOTH engines (no float⋅2^64 rounding ambiguity).
_FRAC_DENOM = 1_000_000


def pack_documents(
    documents: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shard_col: str | None = None,
) -> DataFrame:
    """(…, n_tokens, pack_id): pack = floor(preceding-cumsum / budget)
    over ascending ``id_col`` order. Oversized documents (> budget) get
    their own pack by construction.

    ``shard_col`` is the scale path: with it, the cumulative sum runs per
    shard (``Window.partitionBy(shard)``) so packing parallelizes across
    shards — pack ids are LOCAL to a shard and the shard column is kept
    in the output ((shard, pack_id) is the global pack key). Without it,
    the global ``Window.orderBy`` funnels every row through ONE task —
    fine for a demo, wrong at 100 TB; shard by date/source bucket there.
    """
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    base = Window.partitionBy(shard_col) if shard_col else Window
    w = base.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
    preceding = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    cols = [F.col(shard_col)] if shard_col else []
    return documents.select(
        *cols,
        F.col(id_col),
        F.col(tokens_col),
        F.floor(preceding / F.lit(token_budget)).cast("long").alias("pack_id"),
    )


def pack_stats(packed: DataFrame) -> DataFrame:
    """Per-pack fill statistics: (pack_id, n_docs, total_tokens)."""
    return packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


def _md5_u64(key_col: str, salt: str):
    """Full 64-bit md5_number_upper(salt || ':' || key) as an exact
    decimal(20,0) Column — the ONE cross-engine hash primitive every
    md5-family op derives from (buckets, splits, KMV minima).

    First 8 md5 digest bytes little-endian == DuckDB md5_number_upper;
    conv(hex, 16, 10) on 16 hex chars yields the unsigned value as a
    decimal string — cast through decimal to stay unsigned-exact.

    ``key_col`` is a column name or a Column expression.
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    keyed = F.concat(F.lit(salt), F.lit(":"), key.cast("string"))
    le_hex = F.concat_ws(
        "",
        *[F.substring(F.md5(keyed), 15 - 2 * i, 2) for i in range(8)],
    )
    return F.conv(le_hex, 16, 10).cast("decimal(20,0)")


def _md5_bucket(key_col: str, salt: str, denom: int = _FRAC_DENOM):
    """md5_number_upper(salt || ':' || key) % denom as a long Column
    (``_md5_u64`` reduced to a bucket)."""
    return (_md5_u64(key_col, salt) % F.lit(denom)).cast("long")


def split_by_hash(
    df: DataFrame,
    key_col: str,
    train_frac: float,
    salt: str = "split",
) -> DataFrame:
    """Adds a ``split`` column ('train' | 'val') by deterministic hash.

    hash = md5_number_upper(salt || ':' || key) scaled to [0, 1_000_000);
    rows below ``train_frac``·1e6 are train. Changing ``salt`` re-draws
    the assignment without touching data.
    """
    if not 0.0 <= train_frac <= 1.0:
        raise ValueError("train_frac must be in [0, 1]")
    threshold = int(round(train_frac * _FRAC_DENOM))
    bucket = _md5_bucket(key_col, salt)
    return df.withColumn(
        "split",
        F.when(bucket < threshold, F.lit("train")).otherwise(F.lit("val")),
    )


def sample_by_hash(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    salt: str = "sample",
) -> DataFrame:
    """Deterministic stratified sample: keep a row iff its md5 bucket
    falls below its stratum's ``fractions`` rate (strata not listed are
    dropped — rate 0). The bucket depends only on (salt, key), so the
    draw is partition-independent, engine-portable, and MONOTONE in the
    rate: fractions[s]=0.2 keeps a superset of fractions[s]=0.1 under
    the same salt, which nests subsamples for ablation ladders.
    """
    for s, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0, 1]")
    bucket = _md5_bucket(key_col, salt)
    rate = F.lit(0)
    for s, frac in fractions.items():
        rate = F.when(
            F.col(strata_col) == s, F.lit(int(round(frac * _FRAC_DENOM)))
        ).otherwise(rate)
    return df.filter(bucket < rate)


def mixture_sample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    shares: dict[str, float],
    salt: str = "mixture",
    on_missing: str = "error",
) -> DataFrame:
    """Deterministic EXACT-PROPORTION corpus mixing: the largest sample
    whose per-source composition matches ``shares``, drawn with the same
    engine-portable md5 bucket as ``sample_by_hash``.

    The binding source (smallest count_s / share_s) is taken whole; every
    other source is down-sampled to ``share_s · T / count_s`` where
    ``T = min_s(count_s / share_s)`` is the largest total respecting all
    proportions without over-sampling any source. This is the standard
    pretraining-mixture operation (e.g. "books 30% / web 60% / code 10%")
    made deterministic and partition-independent — no RNG, re-runs and
    engine ports reproduce the identical row set.

    One count aggregation (rows bounded by the number of sources) picks
    the rates; the filter itself is one scan. Sources absent from
    ``shares`` are dropped; shares need not sum to 1 (only ratios
    matter). Rows whose md5 bucket < rate·1e6 are kept — the comparison
    is done in double precision on both engines (no rounding step to
    diverge on).

    A source named in ``shares`` but absent from the input would silently
    skew the output composition, so by default (``on_missing="error"``)
    it raises; pass ``on_missing="renormalize"`` to explicitly accept
    renormalizing the water level over the sources that are present.
    """
    if not shares:
        raise ValueError("shares must be non-empty")
    if on_missing not in ("error", "renormalize"):
        raise ValueError("on_missing must be 'error' or 'renormalize'")
    for s, w in shares.items():
        if w <= 0:
            raise ValueError(f"share for source {s!r} must be > 0")
    counts = {
        r["src"]: r["n"]
        for r in df.filter(F.col(source_col).isin(*shares.keys()))
        .groupBy(F.col(source_col).alias("src"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    present = {s: w for s, w in shares.items() if counts.get(s)}
    missing = sorted(set(shares) - set(present))
    if missing and on_missing == "error":
        raise ValueError(
            f"sources {missing} requested in shares have no rows in the "
            "input; the output composition would silently deviate from "
            "shares — pass on_missing='renormalize' to accept that"
        )
    if not present:
        return df.filter(F.lit(False))
    t_max = min(counts[s] / w for s, w in present.items())
    bucket = _md5_bucket(key_col, salt)
    rate = F.lit(-1.0)
    for s, w in present.items():
        # evaluation order pinned: (1e6 * share) * T / count — the SQL
        # oracle computes the identical double expression
        thresh = _FRAC_DENOM * w * t_max / counts[s]
        rate = F.when(F.col(source_col) == s, F.lit(thresh)).otherwise(rate)
    return df.filter(bucket.cast("double") < rate)


def temperature_mixture(
    df: DataFrame,
    key_col: str,
    source_col: str,
    alpha: float = 0.5,
    salt: str = "mixture-temp",
) -> DataFrame:
    """Temperature-scaled corpus mixing: target share ∝ count_s^α — the
    multilingual/multi-source rebalancing rule (exponentiated sampling
    in XLM-R, Conneau et al. 2020; the data-mixing temperature knob of
    Llama-style pretraining recipes). α = 1 keeps natural proportions
    (every source binds — the filter keeps everything); α = 0 equalizes
    every source down to the smallest; α = 0.5 is the common softening.

    Shares are derived from ONE bounded count aggregation (rows = number
    of sources) and the draw delegates to ``mixture_sample``'s
    md5-deterministic water-level filter, so the selected row set is
    partition/run-independent. For α = 0.5 the weight uses ``sqrt``
    (correctly-rounded per IEEE on every engine) — the whole threshold
    chain is then exactly reproducible cross-engine; other α use
    ``pow`` (deterministic within Spark; a last-ulp libm divergence is
    possible across engines, which only matters if a bucket integer
    lands exactly on the threshold).
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    counts = {
        r["src"]: r["n"]
        for r in df.filter(F.col(source_col).isNotNull())
        .groupBy(F.col(source_col).alias("src"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if not counts:
        return df.filter(F.lit(False))
    shares = {
        s: (math.sqrt(n) if alpha == 0.5 else float(n) ** alpha)
        for s, n in counts.items()
    }
    return mixture_sample(df, key_col, source_col, shares, salt=salt)


def sampled_boundaries(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_buckets: int,
    sample_pct: int,
    salt: str,
) -> list:
    """Deterministic nearest-rank bucket-boundary VALUES of
    ``value_col`` — the shared TeraSort/RangePartitioner primitive
    behind ``curriculum_order`` and
    ``canonicalize.sorted_neighborhood_pairs``: a ``sample_pct``%
    md5(tiebreak)-drawn sample (partition- and run-independent, the
    mixture_sample draw), rank-windowed over ``(value, tiebreak)``
    (bounded rows by construction), boundary values at ranks
    ``ceil(k·n / n_buckets)`` returned in ONE bounded collect.
    Returns <= n_buckets−1 non-null values in rank order (duplicates
    kept — a duplicated boundary skips buckets identically on every
    engine); empty when ``n_buckets <= 1`` or the sample is empty.
    """
    if n_buckets <= 1:
        return []
    thresh = sample_pct * (_FRAC_DENOM // 100)
    sample = df.filter(_md5_bucket(tiebreak_col, salt) < F.lit(thresh))
    w = Window.orderBy(
        F.col(value_col).asc(), F.col(tiebreak_col).asc()
    )
    ranked = sample.select(
        value_col,
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy()).alias("_n"),
    )
    conds = [
        F.max(
            F.when(
                F.col("_rn")
                == F.expr(
                    f"CAST(({k} * _n + {n_buckets - 1}) "
                    f"DIV {n_buckets} AS BIGINT)"
                ),
                F.col(value_col),
            )
        ).alias(f"b{k}")
        for k in range(1, n_buckets)
    ]
    row = ranked.agg(*conds).collect()[0]
    return [
        row[f"b{k}"]
        for k in range(1, n_buckets)
        if row[f"b{k}"] is not None
    ]


def curriculum_order(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4,
    sample_pct: int = 5,
    salt: str = "curriculum",
    min_term_len: int = 2,
) -> DataFrame:
    """(key, difficulty, bucket): curriculum-learning bucket assignment
    — docs staged easy→hard by token count (the standard length-as-
    difficulty proxy; Bengio et al. 2009's curriculum applied to
    corpus ordering). ``bucket`` ∈ [1, n_buckets] ascending difficulty;
    a training loader feeds bucket 1 first.

    A GLOBAL ntile would be a single-partition sort of the corpus, so
    the boundaries come the TeraSort/RangePartitioner way, made
    deterministic: a ``sample_pct``% md5-drawn sample (partition- and
    run-independent, the mixture_sample draw), nearest-rank percentiles
    at k/n_buckets over the sample ordered by (difficulty, key) — the
    value at ordered row ceil(q·n), integer arithmetic — then the
    n_buckets−1 boundary values come back in ONE bounded collect and
    bucket assignment is a scan-local broadcast-literal comparison:
    ``bucket = 1 + #{boundaries < difficulty}`` (strictly-less, so a
    value equal to a boundary stays in the lower bucket; duplicate
    boundary values skip buckets on both engines identically). Empty
    sample (tiny input) → every doc lands in bucket 1.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if not 0 < sample_pct <= 100:
        raise ValueError("sample_pct must be in (0, 100]")
    diff = F.size(
        F.expr(
            f"regexp_extract_all(lower({text_col}), "
            f"'[a-z0-9]{{{min_term_len},}}', 0)"
        )
    ).cast("long")
    scored = df.select(
        F.col(key_col).alias("key"), diff.alias("difficulty")
    )
    boundaries: list[int] = sampled_boundaries(
        scored, "difficulty", "key", n_buckets, sample_pct, salt
    )
    bucket = F.lit(1)
    for b in boundaries:
        bucket = bucket + F.when(
            F.col("difficulty") > F.lit(int(b)), F.lit(1)
        ).otherwise(F.lit(0))
    return scored.select(
        "key", "difficulty", bucket.cast("int").alias("bucket")
    )


def split_oversized(
    documents: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, piece_idx, text, n_tokens): documents over ``token_budget``
    whitespace tokens are split into budget-sized pieces so packing
    never receives an unpackable row (``pack_documents`` gives oversized
    docs their own pack; real pipelines split them first).

    Pieces are contiguous token ranges rejoined with single spaces
    (whitespace-normalizing, documented); ``piece_idx`` preserves order
    so a consumer can reconstruct the document. Pure Catalyst: tokens
    array → ceil(n/budget) slices via sequence+transform+posexplode.
    """
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    # coalesce: a NULL text would null the pieces array and posexplode
    # would silently DROP the document — reject-don't-drop means a null
    # doc degrades to one empty piece instead of vanishing.
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    n = F.size(toks)
    n_pieces = F.ceil(n / F.lit(token_budget)).cast("int")
    pieces = F.transform(
        F.sequence(F.lit(0), n_pieces - 1),
        lambda i: F.array_join(
            F.slice(toks, i * token_budget + 1, token_budget), " "
        ),
    )
    return documents.select(
        F.col(id_col),
        F.posexplode(pieces).alias("piece_idx", text_col),
    ).withColumn(
        "n_tokens",
        F.size(F.split(F.col(text_col), r"\s+")).cast("long"),
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of ``k`` rows
    (Efraimidis–Spirakis A-ES, IPL 2006): each row draws u ∈ (0,1)
    from its md5 bucket and gets priority −ln(u)/w — an Exp(w) variate
    — and the k SMALLEST priorities are the sample. Inclusion odds are
    proportional to weight, the draw depends only on (salt, key) so it
    is partition-count-independent and re-runnable, and changing
    ``salt`` redraws without touching data. This is the quality-
    weighted corpus subsampling primitive (`sample_by_hash` is
    per-stratum Bernoulli; THIS picks exactly k, biased by a per-row
    score such as a quality-model weight).

    Rows with NULL or non-positive weight are excluded BY THE
    SEMANTICS, not silently: w = 0 means zero sampling mass (priority
    +inf), and a negative weight has no A-ES meaning — they never
    appear in the output, and the docstring is the contract (the
    mixture_sample on_missing discipline applies to absent sources,
    not zero-mass rows).

    Determinism across engines: u = (bucket+1)/(DENOM+1) is a ratio of
    small exact ints (correctly-rounded double), ln is the same libm
    call family the oracled entropy/logprob entries rely on, and the
    priority is rounded to 6 with (priority, key) tie-break BEFORE the
    top-k cut — both engines pick identical rows (batch_topk's
    rounded-rank discipline).

    Scale shape: scan-local priority projection, then ONE
    TakeOrderedAndProject (orderBy().limit(k)) — no global sort, no
    window over the corpus; the final rank window sees only k rows.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    u = (
        (_md5_bucket(key_col, salt) + F.lit(1)).cast("double")
        / F.lit(float(_FRAC_DENOM + 1))
    )
    w = F.col(weight_col).cast("double")
    pri = F.round(-F.log(u) / w, 6)
    picked = (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("_priority", pri)
        .orderBy(F.col("_priority").asc(), F.col(key_col).asc())
        .limit(k)
    )
    rk = Window.orderBy(F.col("_priority").asc(), F.col(key_col).asc())
    return picked.withColumn("rk", F.row_number().over(rk).cast("int")).withColumnRenamed(
        "_priority", "priority"
    )
