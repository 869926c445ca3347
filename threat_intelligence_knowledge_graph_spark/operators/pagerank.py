"""PageRank over the knowledge graph — iterative DataFrame power method.

Analyst use: rank hot infrastructure (domains/IPs/CVEs with many
incoming COMMUNICATES_WITH / RESOLVES_TO edges) on the threat graph the
pipeline materializes; complements the degree/two-hop views in
``plans/graph_queries.py`` (reference surface: its Cypher query
interface, main.py:191-210, exposes the stored graph for exactly this
kind of analysis — the reference itself ships no ranking algorithm).

Scale shape: each iteration is one join of the edge list with the
current rank vector (both partitioned on the join key), one
aggregation, and one bounded driver-side scalar (the dangling-mass sum
— a 1-row collect per iteration, like the IVF centroid pull).
``localCheckpoint`` per iteration truncates the growing plan/lineage,
the standard iterative-algorithm discipline on Spark (same as the
connected-components operators in ``operators/minhash.py``).

Exact update (uniform teleport + dangling-mass redistribution):

    rank'(v) = (1-d)/n + d * ( Σ_{u→v} rank(u)/outdeg(u) + dangling/n )
    dangling = Σ_{u: outdeg(u)=0} rank(u)

With a fixed iteration count this is a deterministic float recurrence
(IEEE ops are exactly rounded), so it is SQL-reproducible: the contract
entry's DuckDB oracle unrolls the same recurrence and both sides round
to 9 decimals (summation-order differences are ~1e-17).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src_id",
    dst: str = "dst_id",
    weight: str | None = None,
    seeds: list[str] | None = None,
) -> DataFrame:
    """(id, rank) after ``iterations`` synchronous power steps.

    ``edges`` is a directed edge list; parallel edges are counted once
    (deduped up front — the KG's edge semantics). Ranks sum to 1 at
    every step (dangling mass redistributed uniformly).

    ``weight``: optional positive edge-weight column (GDS
    ``relationshipWeightProperty`` analog — e.g. mention counts). A
    node's rank then flows to its out-neighbors in proportion to
    weight: ``w(u→v) = Σ weight(u,v) / Σ_x weight(u,x)`` (parallel-edge
    weights are summed per (src, dst)). Non-positive weights are
    dropped up front — a zero-total source would otherwise be a
    division by zero masquerading as a dangling node. The unweighted
    path is exactly the weighted one with weight ≡ 1, but keeps its
    ``1.0/out_deg`` form so existing oracle arithmetic is untouched.

    ``seeds``: optional node-id list → PERSONALIZED PageRank (GDS
    ``sourceNodes`` analog): the teleport vector concentrates on the
    seeds instead of being uniform — t(v) = 1/|S∩nodes| for seeds, 0
    elsewhere — and dangling mass returns to the seeds:

        rank'(v) = (1-d)·t(v) + d·( Σ_{u→v} rank(u)·w(u→v) + dangling·t(v) )

    with rank⁰ = t. Ranks still sum to 1 every step; a node unreachable
    from the seeds converges to 0 — the analyst reading is "importance
    FROM the seeds' perspective" (e.g. infrastructure proximity to a
    known-compromised host). Seeds are an analyst-sized id list
    (broadcast as a literal predicate); raises if none is in the graph.
    ``seeds=None`` keeps the uniform-teleport arithmetic byte-for-byte
    (its oracle entries predate this parameter).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")

    if weight is None:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    else:
        e = (
            edges.filter(F.col(weight) > 0)
            .groupBy(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .agg(F.sum(F.col(weight).cast("double")).alias("_ew"))
        )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        # Empty graph (e.g. a run whose extraction produced no triples):
        # return an empty (id, rank) frame rather than dividing by zero.
        return nodes.select("id", F.lit(0.0).alias("rank"))
    if weight is None:
        outdeg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
        # Pre-joining the degree onto the edge list once keeps the per-
        # iteration work to a single (rank ⋈ edges) join + aggregation.
        weighted = (
            e.join(outdeg, "src")
            .select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w"))
            .localCheckpoint(eager=True)
        )
    else:
        outdeg = e.groupBy("src").agg(F.sum("_ew").alias("out_w"))
        weighted = (
            e.join(outdeg, "src")
            .select("src", "dst", (F.col("_ew") / F.col("out_w")).alias("w"))
            .localCheckpoint(eager=True)
        )
    has_out = outdeg.select(F.col("src").alias("id")).localCheckpoint(eager=True)

    if seeds is not None:
        k = nodes.filter(F.col("id").isin(list(seeds))).count()
        if k == 0:
            raise ValueError("no seed node is present in the graph")
        # Teleport vector as a column on the node frame: 1/|S∩nodes| on
        # seeds, 0 elsewhere. The seed list is analyst-sized, so the
        # membership test is a literal IN predicate (no join/shuffle).
        nodes = nodes.select(
            "id",
            F.when(F.col("id").isin(list(seeds)), F.lit(1.0 / k))
            .otherwise(F.lit(0.0))
            .alias("t"),
        ).localCheckpoint(eager=True)
        ranks = nodes.select("id", F.col("t").alias("rank"))
    else:
        ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        dangling = (
            ranks.join(has_out, "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            weighted.join(ranks.select("id", "rank").withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        if seeds is not None:
            new_rank = (
                F.lit(1.0 - damping) * F.col("t")
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling) * F.col("t"))
            )
            cols = ["id", new_rank.alias("rank"), F.col("t").alias("t")]
        else:
            new_rank = (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling / n))
            )
            cols = ["id", new_rank.alias("rank")]
        ranks = (
            nodes.join(contribs, "id", "left")
            .select(*cols)
            .localCheckpoint(eager=True)
        )
    return ranks.select("id", "rank")
