"""md5-derived hash primitives shared by the sketches, the graph
algorithms and entity-resolution blocking.

- ``_md5_u64`` / ``_md5_bucket`` — the first 8 bytes of
  ``md5(salt || ':' || key)`` read little-endian (DuckDB's
  ``md5_number_upper``), as an exact unsigned Column or reduced to a
  bucket. The value depends only on the key and the salt, so it is the
  same on every engine, run and partitioning.
- ``sampled_boundaries`` — nearest-rank range-bucket boundaries drawn
  from an md5 sample: the RangePartitioner/TeraSort primitive behind
  the sorted-neighborhood blocking in ``canonicalize``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

# Buckets for ``_md5_bucket``: sampling rates are quantized to this many
# buckets so a threshold is an exact integer in every engine (no
# float⋅2^64 rounding ambiguity).
_FRAC_DENOM = 1_000_000


def _md5_u64(key_col: str, salt: str):
    """Full 64-bit md5_number_upper(salt || ':' || key) as an exact
    decimal(20,0) Column — the ONE cross-engine hash primitive every
    md5-family op derives from (buckets, range samples, KMV minima).

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


def sampled_boundaries(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_buckets: int,
    sample_pct: int,
    salt: str,
) -> list:
    """Deterministic nearest-rank bucket-boundary VALUES of
    ``value_col`` — the TeraSort/RangePartitioner primitive behind
    ``canonicalize.sorted_neighborhood_pairs``: a ``sample_pct``%
    md5(tiebreak)-drawn sample (partition- and run-independent),
    rank-windowed over ``(value, tiebreak)`` (bounded rows by
    construction), boundary values at ranks
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
