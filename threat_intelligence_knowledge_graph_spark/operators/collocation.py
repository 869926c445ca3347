"""Co-occurrence collocation scoring — NPMI edge confidence.

The pipeline's triple view records THAT two entities co-occur; NPMI
(normalized pointwise mutual information, Bouma 2009) records whether
they co-occur MORE than their individual frequencies predict — the
standard collocation / edge-confidence signal. On a threat graph it
separates "this actor and this CVE appear together because both are
everywhere" (npmi ≈ 0) from "these two specifically travel together"
(npmi → 1), which is exactly the noise-edge triage a KG curator needs.
Same signal NLP pipelines use for phrase mining over (doc, term) pairs.

Definitions, over distinct ``(group, item)`` incidences with N distinct
groups: p(a) = n_a/N, p(a,b) = n_ab/N,
pmi = ln(p(a,b) / (p(a)·p(b))), npmi = pmi / −ln(p(a,b)) ∈ [−1, 1]
(+1 ⇔ the pair only ever appears together; n_ab = N is pinned to +1.0
— the −ln term is 0 there and the limit is +1).

Plan shape (scale notes inline):

- incidences are deduped once: one (group, item) distinct shuffle.
- pairs come from ONE group-keyed self-join with ``item_a < item_b`` —
  never a cartesian. Pair fan-out is quadratic in GROUP size, the only
  superlinear hazard, so groups above ``max_group_size`` are excluded
  from pair generation (their items keep counting toward marginals and
  N — the retained pairs' statistics are unchanged) and REPORTED via
  ``return_dropped=True``; a group with 10⁶ items carries no
  collocation signal, only a 10¹²-row join bomb. The LSH bucket-cap
  convention.
- marginals are an item-dimension-sized count agg joined back
  BROADCAST; N is a 1-row agg crossed in broadcast — zero driver
  collects.
- every count is an exact integer; the two ln() calls run once per
  surviving pair on integer arguments' exact doubles, then round(6) —
  cross-engine reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cooccur_npmi(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pair_count: int = 1,
    max_group_size: int = 10_000,
    return_dropped: bool = False,
):
    """(item_a, item_b, n_ab, n_a, n_b, npmi) per unordered co-occurring
    item pair; ``item_a < item_b``. ``min_pair_count`` prunes rare pairs
    BEFORE the ln math (count filters are exact; npmi on a 1-group pair
    is noise anyway). ``return_dropped=True`` → ``(pairs, dropped)``
    where dropped is (group, group_size) for groups excluded from pair
    generation by ``max_group_size``.
    """
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    if max_group_size < 2:
        raise ValueError("max_group_size must be >= 2")
    inc = (
        df.select(
            F.col(group_col).cast("string").alias("g"),
            F.col(item_col).cast("string").alias("item"),
        )
        .where(F.col("g").isNotNull() & F.col("item").isNotNull())
        .distinct()
    )
    n_total = inc.select(
        F.count_distinct("g").cast("long").alias("n_groups")
    )
    marg = inc.groupBy("item").agg(F.count("*").cast("long").alias("n_i"))
    sizes = inc.groupBy("g").agg(F.count("*").cast("long").alias("group_size"))
    dropped = sizes.filter(F.col("group_size") > max_group_size)
    small = inc.join(
        dropped.select("g"), "g", "left_anti"
    )
    a = small.select(F.col("g"), F.col("item").alias("item_a"))
    b = small.select(F.col("g").alias("g2"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, (a["g"] == b["g2"]) & (a["item_a"] < b["item_b"]))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    ma = marg.select(F.col("item").alias("item_a"), F.col("n_i").alias("n_a"))
    mb = marg.select(F.col("item").alias("item_b"), F.col("n_i").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(ma), "item_a")
        .join(F.broadcast(mb), "item_b")
        .crossJoin(F.broadcast(n_total))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.when(F.col("n_ab") == F.col("n_groups"), F.lit(1.0)).otherwise(
                    (
                        F.log(
                            F.col("n_ab")
                            * F.col("n_groups")
                            / (F.col("n_a") * F.col("n_b"))
                        )
                    )
                    / -F.log(F.col("n_ab") / F.col("n_groups"))
                ),
                6,
            ).alias("npmi"),
        )
    )
    return (scored, dropped) if return_dropped else scored
