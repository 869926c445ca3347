"""Declarative data-quality constraints — one scan, many checks.

Deequ/dbt-style table expectations for pipeline outputs (nodes unique
by id, edges endpoint-non-null, metrics non-negative, …): each check
compiles to a conditional aggregate, and ``run_checks`` evaluates the
whole suite in a SINGLE aggregation pass over the table — at 100 TB the
table is scanned once regardless of how many constraints run
(uniqueness checks add distinct-aggregate phases but no extra scan).

Results come back as one row per check ``(check, violations, passed)``
so they can land in a metrics/audit table next to the pipeline's
per-partition lineage rows (``plans/pipeline.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# A check is (name, violations_aggregate_column). The aggregate must be
# valid inside one df.agg(...) call.
Check = tuple[str, Column]

_L = "bigint"


def not_null(col: str) -> Check:
    return (
        f"not_null({col})",
        F.sum(F.col(col).isNull().cast(_L)),
    )


def unique(col: str) -> Check:
    """Violations = extra copies beyond the first of each value (nulls
    count as a value via the null-safe composite below)."""
    return (
        f"unique({col})",
        F.count(F.lit(1)) - F.count_distinct(F.coalesce(F.col(col).cast("string"), F.lit("\0null"))),
    )


def in_set(col: str, values: list) -> Check:
    """Rows whose value is not in ``values`` (nulls are violations —
    consistent with ``matches``; a null would otherwise slip through the
    three-valued SUM unnoticed)."""
    return (
        f"in_set({col})",
        F.sum(F.coalesce(~F.col(col).isin(*values), F.lit(True)).cast(_L)),
    )


def in_range(col: str, lo, hi) -> Check:
    """Rows outside [lo, hi] (nulls are violations — see ``in_set``)."""
    return (
        f"in_range({col})",
        F.sum(
            F.coalesce((F.col(col) < lo) | (F.col(col) > hi), F.lit(True)).cast(_L)
        ),
    )


def matches(col: str, pattern: str) -> Check:
    """Rows NOT matching ``pattern`` (nulls are violations — pair with
    ``not_null`` if nulls are separately legal)."""
    return (
        f"matches({col})",
        F.sum(
            F.coalesce(~F.col(col).rlike(pattern), F.lit(True)).cast(_L)
        ),
    )


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """(check, violations, passed) — the whole suite in one agg pass."""
    if not checks:
        raise ValueError("no checks given")
    agg = df.agg(
        *[
            F.coalesce(col, F.lit(0)).cast(_L).alias(f"_c{i}")
            for i, (_n, col) in enumerate(checks)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("check"),
                F.col(f"_c{i}").alias("violations"),
            )
            for i, (name, _c) in enumerate(checks)
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select(
            "r.check",
            "r.violations",
            (F.col("r.violations") == 0).alias("passed"),
        )
    )
