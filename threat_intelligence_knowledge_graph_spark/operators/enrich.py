"""IP → CIDR-block enrichment (ASN / geo / ownership lookup).

The reference types IPv4 mentions as graph nodes (SURVEY.md §2 op 10)
but leaves network-block context (ASN, geo, ownership) to the analyst.
Joining observed IPs to a CIDR block table is the standard enrichment
— and a containment (range) join, which Spark lacks as a built-in and
which a naive inequality join turns into a cartesian product.

The cure is a bucketed interval join on IPv4 space: blocks
explode to the fixed-width /g prefix buckets they cover (a /16 block is
ONE /16 bucket; a /8 explodes to 256), IPs map to exactly one bucket,
the join is a hash equi-join on the bucket with exact containment as a
residual filter, and each (ip, block) match surfaces in exactly one
bucket — no dedup. Block tables are dimension-sized (the full BGP table
is under a million rows), so the exploded side broadcasts.

All parsing is pure Catalyst arithmetic over the dotted-quad string —
no UDFs, no ipaddress library on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def ipv4_to_long(col: Column) -> Column:
    """Dotted-quad string → uint32 as a long (no validation: feed it
    IOC-engine output, which is already syntax-checked)."""
    o = F.split(col, r"\.")
    return (
        o.getItem(0).cast("long") * 16777216
        + o.getItem(1).cast("long") * 65536
        + o.getItem(2).cast("long") * 256
        + o.getItem(3).cast("long")
    )


def cidr_bounds(col: Column) -> tuple[Column, Column, Column]:
    """'a.b.c.d/p' → (start, size, prefix) longs; unaligned bases are
    masked down to their block start (10.0.3.0/16 → 10.0.0.0)."""
    base = ipv4_to_long(F.substring_index(col, "/", 1))
    prefix = F.substring_index(col, "/", -1).cast("int")
    size = F.pow(F.lit(2.0), 32 - prefix).cast("long")
    start = F.floor(base / size) * size
    return start, size, prefix


def ip_cidr_enrich(
    ips: DataFrame,
    blocks: DataFrame,
    ip_col: str = "ip",
    cidr_col: str = "cidr",
    granularity: int = 16,
    longest_prefix: bool = True,
    broadcast_blocks: bool = True,
) -> DataFrame:
    """Inner-join each IP row to the CIDR block(s) containing it.

    ``longest_prefix=True`` keeps only the most specific block per IP
    row (the routing-table rule; deterministic — two distinct blocks
    of the same prefix length cannot both contain one address).
    ``granularity`` is the bucket width in prefix bits: blocks with
    prefix < granularity explode to 2^(granularity-prefix) buckets —
    16 is right for ASN/geo tables (a /8 costs 256 rows); lower it if
    the block table is dominated by very short prefixes. Output keeps
    all ip columns plus all block columns.
    """
    if not 0 < granularity <= 32:
        raise ValueError("granularity must be in (0, 32]")
    shift = int(2 ** (32 - granularity))
    start, size, prefix = cidr_bounds(F.col(cidr_col))
    b = blocks.withColumn("_start", start).withColumn(
        "_end", start + size
    ).withColumn("_prefix", prefix)
    b = b.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("_start") / shift),
                F.floor((F.col("_end") - 1) / shift),
            )
        ),
    )
    if broadcast_blocks:
        b = F.broadcast(b)
    i = ips.withColumn("_ipn", ipv4_to_long(F.col(ip_col))).withColumn(
        "_bucket", F.floor(F.col("_ipn") / shift)
    )
    joined = i.join(b, i["_bucket"] == b["_bucket"], "inner").filter(
        (F.col("_ipn") >= F.col("_start")) & (F.col("_ipn") < F.col("_end"))
    )
    if longest_prefix:
        # dense_rank, not row_number: duplicate input rows each keep
        # their (identical) best match instead of one being swallowed
        # into the other's rank sequence. Distinct blocks of equal
        # prefix can't both contain one IP, so rank 1 is unique per
        # input row (blocks themselves must be distinct).
        w = Window.partitionBy(*[i[c] for c in ips.columns]).orderBy(
            F.col("_prefix").desc()
        )
        joined = joined.withColumn("_rk", F.dense_rank().over(w)).filter(
            F.col("_rk") == 1
        )
    return joined.drop("_ipn", "_bucket", "_start", "_end", "_prefix", "_rk")
