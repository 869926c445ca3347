"""Distributed graph algorithms over the edge table (GDS-style).

The reference serves analysts through Neo4j, where triangle counting,
node similarity, and component analysis come from the Graph Data
Science library (its Cypher interface is SURVEY.md §2 op 30). This
module provides those algorithms Spark-side over the same ``edges``
tables — pure DataFrame joins/aggregations, no per-row Python:

- ``triangle_count`` — per-node triangle membership via the canonical
  ordered-edge three-way join (each triangle {a<b<c} found exactly
  once).
- ``node_similarity`` — neighbor-set Jaccard for node pairs sharing at
  least one neighbor (the GDS nodeSimilarity shape): one self-join on
  the shared neighbor, then degree arithmetic — |N(a) ∩ N(b)| comes
  from the join, |N(a) ∪ N(b)| = deg(a) + deg(b) − |∩|.
- ``k_core`` — synchronous peeling to the maximal subgraph of degree
  ≥ k (GDS k-core membership), with the max_iter/truncated reporting
  contract of ``bfs_distances``.
- ``cooccurrence_edges`` — weighted co-occurrence graph CONSTRUCTION
  from observation logs (items sharing a context become an edge,
  weight = #shared contexts) — the standard way a KG gains behavioral
  edges from event streams; feeds every algorithm above.
- ``betweenness`` — sampled Brandes betweenness centrality (forward
  σ-counting + backward δ-accumulation as level-synchronous keyed
  joins; GDS betweenness with samplingSize).
- ``sssp_weighted`` / ``harmonic_closeness`` — weighted shortest
  paths (frontier Bellman–Ford) and closeness centrality over the
  per-source BFS sweep.
- ``strongly_connected_components`` — directed SCC via Orzan's
  coloring (forward max-propagation fixpoint + backward root sweep
  per round), every step a keyed equi-join.
- ``random_walks`` — deterministic hash-seeded node2vec/DeepWalk
  sampling: next hop = argmin md5(walk|step|neighbor), one keyed
  join + min_by per step, reproducible across engines/partitionings.
- connected components live in ``operators.minhash`` (propagation +
  large-star/small-star) — re-exported here for discoverability.

Scale posture: triangles join on edge endpoints (shuffle by key, AQE
skew-split applies); node similarity explodes around hot neighbors —
``max_neighbor_degree`` caps the per-neighbor fan-out with the repo's
no-silent-truncation rule (dropped neighbors are returned for
reporting, and a dropped SHARED neighbor only lowers recall of the
pair list, never invents a pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .minhash import connected_components  # noqa: F401  (re-export)


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges as (a < b) pairs; self-loops dropped."""
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    return (
        edges.select(a, b).filter(F.col("a") != F.col("b")).distinct()
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, triangles): number of triangles each node participates in.

    Canonical three-way join: for ordered edges a<b<c, a triangle is
    (a,b), (b,c), (a,c) — each counted once, then credited to all three
    corners. Nodes in no triangle are reported with 0 (GDS parity:
    every node of the graph gets a row — including nodes whose only
    incident edge is a self-loop, which can never close a triangle but
    still belong to the graph; the universe is built from the RAW
    endpoints, before the self-loop filter, matching
    ``label_propagation``).
    """
    # No cache: the frame is referenced four times but a function-local
    # cache() has no unpersist seam and leaks storage memory per call;
    # recomputing the canonical projection is one cheap scan each, and
    # a caller looping over edge tables can cache its input itself.
    e = _canonical_edges(edges, src, dst)
    e_ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e_bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e_ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e_ab.join(e_bc, "y")
        .join(e_ac, ["x", "z"])
        .select("x", "y", "z")
    )
    corners = tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
    counts = corners.groupBy("id").agg(F.count("*").alias("triangles"))
    all_nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    return (
        all_nodes.join(counts, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        )
    )


def local_clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, degree, lcc): Watts-Strogatz local clustering coefficient
    per node — ``2·triangles / (deg·(deg−1))`` on the simple undirected
    graph (parallel edges deduped, self-loops dropped; GDS
    gds.localClusteringCoefficient analog). Nodes with degree < 2 have
    no possible wedge and score 0.0 (GDS convention); the node universe
    is the RAW endpoint set, so self-loop-only nodes appear with
    degree 0.

    Scale shape: ``triangle_count``'s keyed three-way equi-join plus
    one degree aggregation over the canonical edge list, then a final
    keyed join — no new shuffle class beyond what triangle counting
    already pays, and the division is scan-local. ``lcc`` is rounded
    to 6 decimals (the round-before-compare discipline).
    """
    tri = triangle_count(edges, src, dst)
    e = _canonical_edges(edges, src, dst)
    deg = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        tri.join(deg, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
            F.round(
                F.when(
                    F.coalesce(F.col("degree"), F.lit(0)) >= 2,
                    F.lit(2.0) * F.col("triangles")
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("lcc"),
        )
    )


def node_similarity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    threshold: float = 0.0,
    max_neighbor_degree: int = 10_000,
    return_dropped: bool = False,
) -> DataFrame:
    """(a, b, jaccard) for node pairs (a < b) sharing >= 1 neighbor,
    with neighbor-set Jaccard >= ``threshold``.

    Neighbors are OUT-neighbors of the directed input (GDS
    nodeSimilarity on a natural orientation); pass a symmetrized edge
    frame for undirected semantics. A neighbor shared by d sources
    creates d·(d−1)/2 candidate rows — neighbors with in-degree over
    ``max_neighbor_degree`` are removed from the graph before the
    computation (degrees AND intersections — the result is the EXACT
    similarity of the degree-filtered graph, not a silently-distorted
    value on the full one) and returned via ``return_dropped=True``,
    the same cap + reporting rule as every LSH bucket join here.
    """
    nbrs = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).distinct()
    nbr_deg = nbrs.groupBy("nbr").agg(F.count("*").alias("nbr_deg"))
    ok = nbr_deg.filter(F.col("nbr_deg") <= max_neighbor_degree)
    dropped = nbr_deg.filter(F.col("nbr_deg") > max_neighbor_degree)
    capped = nbrs.join(ok.select("nbr"), "nbr")
    deg = capped.groupBy("node").agg(F.count("*").alias("deg"))
    left = capped.select("nbr", F.col("node").alias("a"))
    right = capped.select("nbr", F.col("node").alias("b"))
    inter = (
        left.join(right, "nbr")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    sim = (
        inter.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            "a",
            "b",
            (
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return (sim, dropped) if return_dropped else sim


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_hops: int = 30,
    return_truncated: bool = False,
    per_source: bool = False,
) -> DataFrame:
    """(id, dist): minimum hop count from any source node, directed
    (GDS BFS / single-source-shortest-path on unweighted edges).
    Unreached nodes are absent from the result.

    Frontier expansion: each hop is ONE join (frontier × edges) plus an
    anti-join against the settled set — work per hop proportional to
    the frontier, the standard scalable BFS shape. ``localCheckpoint``
    per hop truncates lineage (the CC/PageRank pattern); the loop stops
    at the first empty frontier, with ``max_hops`` as the backstop on
    adversarially deep graphs.

    ``per_source=True`` returns ``(source, id, dist)`` — every source's
    OWN distance function, computed in the same single loop (the
    settled key becomes the composite ``(source, id)``, so the work per
    hop is proportional to the union of the per-source frontiers, not
    #sources × the loop count). This is the input shape for
    ``harmonic_closeness``.

    ``return_truncated=True`` returns ``(dist, truncated)`` where
    ``truncated`` means the backstop fired with a non-empty frontier —
    absent nodes may then be DEEP rather than unreachable (no silent
    truncation: callers using absence as unreachability must check it).
    """
    # Checkpoint the deduped edge frame once: every hop joins against
    # it, and without this each hop re-runs the full O(|E|) scan +
    # distinct exchange (the same reason label_propagation checkpoints
    # its symmetrized frame).
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    srcs = sources.select(F.col(id_col).alias("id")).distinct()
    if per_source:
        srcs = srcs.withColumn("source", F.col("id"))
    keys = ["source", "id"] if per_source else ["id"]
    dist = srcs.withColumn("dist", F.lit(0)).localCheckpoint(eager=True)
    frontier = dist
    truncated = False
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["u"])
            .select(*(["source"] if per_source else []), F.col("v").alias("id"))
            .distinct()
            .join(dist.select(*keys), keys, "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    else:
        # backstop exhausted with a live frontier — deeper nodes may exist
        truncated = True
    out = dist.select(*keys, F.col("dist").cast("int").alias("dist"))
    return (out, truncated) if return_truncated else out


def harmonic_closeness(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_hops: int = 30,
    return_truncated: bool = False,
) -> DataFrame | tuple[DataFrame, bool]:
    """(id, closeness): harmonic centrality ``Σ_s 1/d(s, id)`` over the
    given source set (GDS harmonic/closeness centrality; pass a sampled
    seed set for the standard large-graph approximation — the full node
    set makes it exact). Directed distances FROM the sources; a node's
    own 0-distance row is excluded (1/0); unreached (source, node)
    pairs contribute nothing, the harmonic convention that makes the
    measure disconnect-safe.

    One ``bfs_distances(per_source=True)`` sweep (all sources advance
    in the same loop) + one aggregation. The sum is ROUNDED to 6
    decimals — double addition order varies across engines/partitions,
    so the rounded value is the deterministic contract (the
    tfidf/PageRank discipline).

    ``return_truncated=True`` returns ``(df, truncated)``; truncated
    means the BFS backstop fired with a live frontier, so closeness
    values are LOWER BOUNDS (contributions deeper than ``max_hops`` are
    missing) and deep-only nodes may be absent — the ``bfs_distances``
    no-silent-truncation contract propagated (r5 review fix)."""
    d, truncated = bfs_distances(
        edges,
        sources,
        src=src,
        dst=dst,
        id_col=id_col,
        max_hops=max_hops,
        per_source=True,
        return_truncated=True,
    )
    out = (
        d.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("closeness")
        )
    )
    return (out, truncated) if return_truncated else out


def betweenness(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_hops: int = 30,
    return_truncated: bool = False,
) -> DataFrame | tuple[DataFrame, bool]:
    """(id, betweenness): Brandes betweenness centrality over DIRECTED
    edges, restricted to the given source set — the standard sampled
    approximation (GDS betweenness with ``samplingSize``; pass every
    node for the exact value). ``betweenness(v) = Σ_{s∈S} δ_s(v)``
    where ``δ_s(v)`` is the dependency of ``s`` on ``v`` — the fraction
    of shortest s→t paths through ``v``, summed over targets. Sources
    score 0 for their own sweeps; nodes on no shortest path are absent.

    Two level-synchronous sweeps, ALL sources advancing together on
    composite ``(source, id)`` keys (the ``bfs_distances(per_source)``
    shape):

    - forward: per hop one (frontier ⋈ edges) join + an anti-join
      against the settled set + a sum-agg — ``σ(v) = Σ σ(u)`` over
      same-hop predecessors (shortest-path counts);
    - backward, deepest level first: one three-way keyed join per level
      — ``δ(v) = Σ_w σ(v)/σ(w) · (1 + δ(w))`` over successors ``w``
      one level deeper (the shortest-path DAG edges are exactly the
      level-k → level-k+1 edges, so no DAG materialization is needed).

    Every per-level frame is ``localCheckpoint``-truncated; the final
    score is ROUNDED to 6 decimals (cross-engine sum order — the
    harmonic/tfidf discipline; σ are exact integers in doubles).

    ``return_truncated=True``: the flag means the forward backstop
    fired with a live frontier — scores are then LOWER bounds (paths
    deeper than ``max_hops`` contribute nothing), the
    ``bfs_distances`` no-silent-truncation contract."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lvl = (
        sources.select(F.col(id_col).alias("id"))
        .distinct()
        .select(F.col("id").alias("s"), "id", F.lit(1.0).alias("sigma"))
        .localCheckpoint(eager=True)
    )
    settled = lvl
    levels = [lvl]
    truncated = False
    for _hop in range(1, max_hops + 1):
        nxt = (
            lvl.join(e, lvl["id"] == e["u"])
            .select("s", F.col("v").alias("id"), "sigma")
            .join(settled.select("s", "id"), ["s", "id"], "left_anti")
            .groupBy("s", "id")
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        levels.append(nxt)
        settled = settled.unionByName(nxt).localCheckpoint(eager=True)
        lvl = nxt
    else:
        truncated = True

    acc = None
    delta = levels[-1].select("s", "id", F.lit(0.0).alias("delta"))
    for k in range(len(levels) - 2, -1, -1):
        succ = delta.select(
            F.col("s"),
            F.col("id").alias("_w"),
            F.col("delta").alias("_dw"),
        ).join(
            levels[k + 1].select(
                "s", F.col("id").alias("_w"), F.col("sigma").alias("_sw")
            ),
            ["s", "_w"],
        )
        contrib = (
            levels[k]
            .join(e, levels[k]["id"] == e["u"])
            .select("s", "id", "sigma", F.col("v").alias("_w"))
            .join(succ, ["s", "_w"])
            .groupBy("s", "id")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("_sw") * (F.lit(1.0) + F.col("_dw"))
                ).alias("delta")
            )
        )
        delta = (
            levels[k]
            .select("s", "id")
            .join(contrib, ["s", "id"], "left_outer")
            .select("s", "id", F.coalesce("delta", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=True)
        )
        if k >= 1:  # level 0 is the source itself — its own sweep scores 0
            part = delta.filter(F.col("delta") > 0)
            acc = part if acc is None else acc.unionByName(part)
    if acc is None:
        out = delta.filter(F.lit(False)).select(
            "id", F.col("delta").alias("betweenness")
        )
    else:
        out = (
            acc.groupBy("id")
            .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
            .filter(F.col("betweenness") > 0)
        )
    return (out, truncated) if return_truncated else out


def sssp_weighted(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    id_col: str = "id",
    max_iter: int = 30,
    return_truncated: bool = False,
) -> DataFrame | tuple[DataFrame, bool]:
    """(id, dist): minimum total edge weight from any source node,
    directed, non-negative weights (GDS Dijkstra/delta-stepping
    analog). Unreached nodes are absent.

    Frontier Bellman–Ford: each round relaxes only edges leaving nodes
    whose distance IMPROVED last round — after round ``i`` the frame
    equals full Bellman–Ford's ``dist_i`` (shortest path using ≤ i
    edges; relaxations from unimproved nodes were already applied when
    they last improved), which is what lets an unrolled SQL oracle
    reproduce it exactly. Per round: one join (frontier × edges) + one
    min-agg + one join against the settled frame to keep strict
    improvements; ``localCheckpoint`` per round. Stops at the first
    round with no improvement; ``max_iter`` is the backstop — with
    ``return_truncated=True`` the flag means another round could still
    improve, so returned distances are UPPER BOUNDS and deep nodes may
    be missing (the ``bfs_distances`` no-silent-truncation contract).

    Negative weights raise (one bounded aggregate check): Bellman–Ford
    tolerates them but ``max_iter`` truncation would then silently keep
    non-minimal paths even on converged-looking rounds.
    """
    e = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("double").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    neg = e.filter(F.col("w") < 0).take(1)
    if neg:
        raise ValueError(
            f"sssp_weighted requires non-negative weights; found edge "
            f"({neg[0]['u']!r}, {neg[0]['v']!r}) with weight {neg[0]['w']}"
        )
    dist = (
        sources.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    truncated = False
    for i in range(max_iter + 1):
        cand = (
            frontier.join(e, frontier["id"] == e["u"])
            .select(F.col("v").alias("id"), (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        improved = (
            cand.join(dist, "id", "left_outer")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("id", F.col("cand").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if not improved.take(1):
            break
        if i == max_iter:
            truncated = True
            break
        dist = (
            dist.join(improved.select("id"), "id", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    out = dist.select("id", F.col("dist").alias("dist"))
    return (out, truncated) if return_truncated else out


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, label): synchronous label-propagation community detection
    (GDS LPA), made DETERMINISTIC: labels initialize to the node id,
    and each iteration every node adopts the label most frequent among
    its neighbors' current labels with ties broken by the SMALLEST
    label. Undirected (edges symmetrized); isolated nodes keep their
    own label. A fixed iteration count (not convergence detection)
    keeps the recurrence a deterministic function of the input — which
    is what lets an unrolled SQL oracle reproduce it exactly — and
    sidesteps sync-LPA's classic two-coloring oscillation non-halting.

    Per iteration: one join (neighbor label lookup) + one count
    aggregation + one per-node argmax window — all keyed shuffles;
    localCheckpoint truncates lineage (the PageRank/CC pattern).
    """
    from pyspark.sql.window import Window

    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Node universe from the ORIGINAL edge list, not the self-loop-free
    # sym frame: a node whose only edge is a self-loop has no proper
    # neighbors (self-loops don't vote) but must still appear in the
    # output with its own label — this is what makes the coalesce
    # fallback below reachable rather than dead code.
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("id")).localCheckpoint(eager=True)
    w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(iterations):
        freq = (
            sym.join(labels, sym["v"] == labels["id"])
            .groupBy("u", "label")
            .agg(F.count("*").alias("cnt"))
        )
        new = (
            freq.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("u").alias("id"), "label")
        )
        # isolated nodes (no neighbors) keep their current label
        labels = (
            labels.select("id", F.col("label").alias("_old"))
            .join(new, "id", "left")
            .select("id", F.coalesce("label", "_old").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def cooccurrence_edges(
    observations: DataFrame,
    item_col: str,
    context_cols: list[str],
    max_context_items: int | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Weighted undirected co-occurrence edges from an observation log:
    ``(a, b, weight)`` where ``a < b`` are distinct ``item_col`` values
    seen in the same context (the ``context_cols`` tuple — e.g.
    ``[user_id, hour]`` for event types, ``[doc_id]`` for entities) and
    ``weight`` is the number of distinct shared contexts.

    This is graph construction, not analysis: the output plugs directly
    into ``pagerank(weight=...)``, ``triangle_count``, ``k_core`` etc.,
    turning an event/mention stream into behavioral KG edges.

    Plan: one distinct over (context, item) — the only pass over the
    log — then a self-equi-join on the context key and a count
    aggregation; all shuffles are on natural keys, no cartesian. The
    per-context fan-out is quadratic in that context's distinct item
    count, so ``max_context_items`` caps it (a hot context — one user
    firing every event type every hour — is exactly the LSH hot-bucket
    shape): when set, returns ``(edges, dropped_contexts)`` where
    ``dropped_contexts`` carries each over-cap context and its size —
    the repo's no-silent-truncation contract.
    """
    items = observations.select(
        *context_cols, F.col(item_col).alias("_item")
    ).distinct()
    dropped = None
    if max_context_items is not None:
        sized = items.groupBy(*context_cols).agg(
            F.count("*").alias("context_size")
        )
        dropped = sized.filter(F.col("context_size") > max_context_items)
        items = items.join(dropped.select(*context_cols), context_cols, "left_anti")
    a = items.select(*context_cols, F.col("_item").alias("a"))
    b = items.select(*context_cols, F.col("_item").alias("b"))
    edges = (
        a.join(b, context_cols)
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("weight"))
    )
    return (edges, dropped) if max_context_items is not None else edges


def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int = 20,
    src: str = "src",
    dst: str = "dst",
    return_truncated: bool = False,
) -> DataFrame | tuple[DataFrame, bool]:
    """(id, degree) of the k-core: the maximal subgraph in which every
    node has undirected degree ≥ k (GDS k-core decomposition membership
    for a given k; ``degree`` is the node's degree WITHIN the core).
    Undirected, parallel edges deduped, self-loops dropped — the
    ``_canonical_edges`` semantics shared with triangle_count.

    Synchronous peeling: every round simultaneously removes ALL nodes
    whose current degree is < k, then recomputes degrees over the
    survivors; a chain graph therefore peels one layer per round from
    the endpoints inward, so rounds-to-fixpoint is the graph's peel
    depth, not a constant. The update is set-valued and deterministic
    (no tie-breaking), so early exit at the fixpoint is oracle-safe:
    extra unrolled oracle iterations are no-ops.

    ``max_iter`` is the lineage/backstop bound (each round is one
    degree aggregation + two semi-joins + a bounded count scalar,
    localCheckpoint-truncated — the PageRank/CC discipline). With
    ``return_truncated=True`` returns ``(df, truncated)``; truncated
    means the backstop fired while another round would still peel —
    the returned set is then a SUPERSET of the k-core (no silent
    truncation, the bfs_distances contract).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    cur = _canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    truncated = False
    deg = None
    for i in range(max_iter + 1):
        both = cur.select(F.col("a").alias("id")).union(
            cur.select(F.col("b").alias("id"))
        )
        deg = both.groupBy("id").agg(F.count("*").alias("degree"))
        doomed = deg.filter(F.col("degree") < k).localCheckpoint(eager=True)
        n_doomed = doomed.count()
        if n_doomed == 0:
            break
        if i == max_iter:
            truncated = True
            break
        cur = (
            cur.join(doomed.select(F.col("id").alias("a")), "a", "left_anti")
            .join(doomed.select(F.col("id").alias("b")), "b", "left_anti")
            .localCheckpoint(eager=True)
        )
    out = deg.filter(F.col("degree") >= k).select(
        "id", F.col("degree").cast("int").alias("degree")
    )
    return (out, truncated) if return_truncated else out


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    return_truncated: bool = False,
) -> DataFrame | tuple[DataFrame, bool]:
    """(id, scc_id): strongly connected components of the DIRECTED
    graph, ``scc_id`` = min node id in the component (GDS scc).

    Coloring algorithm (Orzan's, the standard distributed SCC shape):
    per round, (1) a forward max-propagation fixpoint colors every
    remaining node with the largest id that can reach it — keyed
    join + max-agg per step, the connected-components recurrence on a
    directed graph; (2) nodes whose color is themselves are roots, and
    a backward reachability sweep from each root CONSTRAINED to its
    own color class marks exactly the root's SCC (color(v) = c proves
    c→v, the backward sweep proves v→c); (3) marked nodes retire, the
    round repeats on the rest. Every step is a keyed equi-join — no
    cartesian, no driver-side graph. Rounds needed = depth of the
    color-class nesting, typically small; ``max_iter`` bounds both the
    outer rounds and each inner fixpoint, and ``return_truncated``
    reports a fired backstop (remaining nodes are then assigned their
    forward color as a best-effort component — a REFINEMENT-pending
    answer, never silently dropped).

    Self-loops don't affect membership and are dropped from
    propagation, but self-loop-only nodes keep their (singleton)
    output row — the node universe is the raw src/dst columns (the
    triangle_count review lesson).
    """
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    e_all = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    remaining = nodes.localCheckpoint(eager=True)
    assigned = None  # (id, root)
    truncated = False
    for _round in range(max_iter):
        if not remaining.take(1):
            break
        er = (
            e_all.join(
                remaining.select(F.col("id").alias("u")), "u", "left_semi"
            )
            .join(remaining.select(F.col("id").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        # (1) forward fixpoint: color(v) = max id with a path to v.
        color = remaining.select("id", F.col("id").alias("color"))
        color = color.localCheckpoint(eager=True)
        for _step in range(max_iter):
            incoming = er.join(
                color.withColumnRenamed("id", "u"), "u"
            ).select(F.col("v").alias("id"), "color")
            newc = (
                color.unionByName(incoming)
                .groupBy("id")
                .agg(F.max("color").alias("color"))
                .localCheckpoint(eager=True)
            )
            changed = (
                newc.alias("n")
                .join(color.alias("o"), "id")
                .filter(F.col("n.color") != F.col("o.color"))
            )
            color = newc
            if not changed.take(1):
                break
        else:
            truncated = True
        # (2) backward sweep from roots, within each color class.
        reached = color.filter(F.col("id") == F.col("color")).localCheckpoint(
            eager=True
        )
        for _step in range(max_iter):
            preds = (
                er.join(
                    reached.select(
                        F.col("id").alias("v"), F.col("color").alias("rcolor")
                    ),
                    "v",
                )
                .select(F.col("u").alias("id"), F.col("rcolor").alias("color"))
                .distinct()
                .join(color.withColumnRenamed("color", "own"), "id")
                .filter(F.col("color") == F.col("own"))
                .select("id", "color")
                .join(reached.select("id"), "id", "left_anti")
                .localCheckpoint(eager=True)
            )
            if not preds.take(1):
                break
            reached = reached.unionByName(preds).localCheckpoint(eager=True)
        else:
            truncated = True
        part = reached.select("id", F.col("color").alias("root"))
        assigned = part if assigned is None else assigned.unionByName(part)
        assigned = assigned.localCheckpoint(eager=True)
        remaining = remaining.join(
            reached.select("id"), "id", "left_anti"
        ).localCheckpoint(eager=True)
    if remaining.take(1):
        # outer backstop fired: best-effort color assignment, flagged.
        truncated = True
        leftover = remaining.select(
            "id", F.col("id").alias("root")
        )
        assigned = (
            leftover if assigned is None else assigned.unionByName(leftover)
        )
    scc_min = assigned.groupBy("root").agg(F.min("id").alias("scc_id"))
    out = assigned.join(scc_min, "root").select("id", "scc_id")
    return (out, truncated) if return_truncated else out


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_length: int = 4,
    walks_per_node: int = 1,
    start_nodes: DataFrame | None = None,
) -> DataFrame:
    """(walk_id, start, step, node): deterministic hash-seeded walks —
    the sampling stage of node2vec/DeepWalk-style graph embedding
    pipelines, reproducible across engines, partitionings, and reruns.

    The next hop from node c on walk w at step i is the out-neighbor
    minimizing ``md5(walk_id || '|i|' || neighbor)`` — a per-(walk,
    step) uniform draw with no RNG state: the hash key includes the
    candidate, so the argmin is collision-free and identical on any
    engine with md5. Each step is ONE keyed join (frontier × edges)
    plus a min_by agg — work proportional to live walks, never the
    pair count. Walks that reach a sink stop early (their remaining
    steps emit no rows). Step 0 is the start node itself.
    """
    if walk_length < 0 or walks_per_node < 1:
        raise ValueError("walk_length >= 0 and walks_per_node >= 1")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    starts = start_nodes or (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
    )
    js = F.array(*[F.lit(j) for j in range(walks_per_node)])
    frontier = (
        starts.select("id", F.explode(js).alias("_j"))
        .select(
            F.concat(
                F.col("id").cast("string"),
                F.lit("#"),
                F.col("_j").cast("string"),
            ).alias("walk_id"),
            F.col("id").alias("start"),
            F.col("id").alias("node"),
        )
        .localCheckpoint(eager=True)
    )
    out = frontier.withColumn("step", F.lit(0))
    for i in range(1, walk_length + 1):
        h = F.md5(
            F.concat(F.col("walk_id"), F.lit(f"|{i}|"), F.col("v").cast("string"))
        )
        frontier = (
            frontier.join(e, frontier["node"] == e["u"])
            .select("walk_id", "start", F.col("v"), h.alias("h"))
            .groupBy("walk_id", "start")
            .agg(F.min_by("v", "h").alias("node"))
            .localCheckpoint(eager=True)
        )
        if not frontier.take(1):
            break
        out = out.unionByName(frontier.withColumn("step", F.lit(i)))
    return out.select("walk_id", "start", "step", "node")


def node2vec_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_length: int = 4,
    walks_per_node: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    start_nodes: DataFrame | None = None,
    salt: str = "n2v",
) -> DataFrame:
    """(walk_id, start, step, node): deterministic node2vec walks —
    the SECOND-ORDER biased sampling of Grover & Leskovec 2016 (KDD),
    where the hop from ``node`` given the previous node ``prev`` weights
    each out-neighbor x by α = 1/p if x == prev (return), 1 if x is a
    neighbor of prev (BFS-ish), 1/q otherwise (DFS-ish). p > 1, q < 1
    pushes walks outward (structural equivalence); the reverse keeps
    them local (homophily). ``p == q == 1`` is distribution-equivalent
    to ``random_walks`` (uniform), though the draws differ (different
    hash streams).

    The weighted draw is an exponential race with hash-seeded clocks:
    x wins when it minimizes ``E = round(−ln(u)·w, 9)`` with
    ``u = (md5_bucket(walk_id|step|x) + 0.5)/10⁶`` and ``w`` = p, 1, or
    q per the class above (winning probability ∝ 1/w — exponential
    clocks), ties broken by x. Rounding BEFORE the compare + id
    tiebreak keeps it reproducible: the ln is the only
    transcendental, and a 1-ulp libm divergence cannot flip a rounded
    compare, so the walk is engine/run/partitioning-identical.

    Per step: ONE frontier×edges keyed join, ONE (prev, x) keyed LEFT
    join against the edge set (the dist-1 test — the cost of second-
    order bias; uniform walks skip it), one per-walk min_by. Work stays
    proportional to live walks; sinks terminate early; step 0 is the
    start node. Node ids are compared as strings.
    """
    if walk_length < 0 or walks_per_node < 1:
        raise ValueError("walk_length >= 0 and walks_per_node >= 1")
    if p <= 0 or q <= 0:
        raise ValueError("p and q must be positive")
    from .hashing import _md5_bucket

    e = (
        edges.select(
            F.col(src).cast("string").alias("u"),
            F.col(dst).cast("string").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = e.select(F.col("u").alias("a_u"), F.col("v").alias("a_v"))
    starts = start_nodes or (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
    )
    js = F.array(*[F.lit(j) for j in range(walks_per_node)])
    frontier = (
        starts.select(F.col("id").cast("string").alias("id"), F.explode(js).alias("_j"))
        .select(
            F.concat(F.col("id"), F.lit("#"), F.col("_j").cast("string")).alias(
                "walk_id"
            ),
            F.col("id").alias("start"),
            F.lit(None).cast("string").alias("prev"),
            F.col("id").alias("node"),
        )
        .localCheckpoint(eager=True)
    )
    out = frontier.select("walk_id", "start", F.lit(0).alias("step"), "node")
    for i in range(1, walk_length + 1):
        cand = (
            frontier.join(e, frontier["node"] == e["u"])
            .select("walk_id", "start", "prev", "node", e["v"].alias("x"))
            .join(
                adj,
                (F.col("prev") == F.col("a_u")) & (F.col("x") == F.col("a_v")),
                "left",
            )
        )
        w = (
            F.when(F.col("prev").isNull(), F.lit(1.0))
            .when(F.col("x") == F.col("prev"), F.lit(float(p)))
            .when(F.col("a_u").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(float(q)))
        )
        key = F.concat(F.col("walk_id"), F.lit(f"|{i}|"), F.col("x"))
        u_draw = (_md5_bucket(key, salt, 1_000_000) + F.lit(0.5)) / F.lit(
            1_000_000.0
        )
        clock = F.round(-F.log(u_draw) * w, 9)
        frontier = (
            cand.withColumn("_e", clock)
            .groupBy("walk_id", "start")
            .agg(
                F.min_by(
                    F.struct(F.col("node").alias("pv"), F.col("x").alias("nx")),
                    F.struct(F.col("_e"), F.col("x")),
                ).alias("m")
            )
            .select(
                "walk_id",
                "start",
                F.col("m.pv").alias("prev"),
                F.col("m.nx").alias("node"),
            )
            .localCheckpoint(eager=True)
        )
        if not frontier.take(1):
            break
        out = out.unionByName(
            frontier.select("walk_id", "start", F.lit(i).alias("step"), "node")
        )
    return out.select("walk_id", "start", "step", "node")


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    score_on: str = "adamic_adar",
    min_score: float = 0.0,
    max_neighbor_degree: int = 10_000,
    return_dropped: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Link-prediction scores for NON-adjacent node pairs (a < b) that
    share at least one neighbor — the GDS `gds.alpha.linkprediction.*`
    measure family (adamicAdar, commonNeighbors, resourceAllocation,
    preferentialAttachment), computed SET-wise over every candidate
    pair instead of GDS's per-pair function calls (reference parity:
    the Cypher interface is per-pair; a batch engine scores the whole
    frontier in one plan).

    Undirected `_canonical_edges` semantics (parallel edges deduped,
    self-loops dropped). One output row per candidate pair with ALL
    four measures as columns:

    - ``common_neighbors``  |N(a) ∩ N(b)|
    - ``adamic_adar``       Σ_z 1/ln(deg(z))   over shared z
    - ``resource_allocation`` Σ_z 1/deg(z)
    - ``preferential_attachment`` deg(a)·deg(b)

    deg(·) is the FULL undirected degree (the measure definition), even
    when ``max_neighbor_degree`` removes a hub as a *through*-node:
    the cap bounds the d·(d−1)/2 candidate fan-out of a power-law hub
    (the node_similarity/LSH bucket-cap rule), so for z over the cap
    no candidate pairs are generated THROUGH z, but z's degree still
    weights other sums it appears in — with ``return_dropped=True`` the
    over-cap through-nodes come back as (nbr, nbr_deg) for reporting,
    never silently. Any shared neighbor z of a valid pair has
    deg(z) ≥ 2, so ln(deg(z)) > 0 and neither sum can divide by zero.

    Already-adjacent pairs are removed by a left-anti join against the
    canonical edge set — the operator predicts MISSING links only.
    ``min_score`` filters on the ``score_on`` column (default
    adamic_adar). 100 TB shape: keyed equi-joins only (through-node
    self-join + two degree joins + one anti-join), no cartesian; the
    hub cap bounds the worst key.
    """
    measures = (
        "common_neighbors",
        "adamic_adar",
        "resource_allocation",
        "preferential_attachment",
    )
    if score_on not in measures:
        raise ValueError(f"score_on must be one of {measures}")
    und = _canonical_edges(edges, src, dst)
    sym = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).union(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("deg"))
    thru = sym.select(F.col("nbr").alias("z"), F.col("node").alias("leaf")).join(
        deg.select(F.col("node").alias("z"), F.col("deg").alias("z_deg")), "z"
    )
    dropped = (
        thru.filter(F.col("z_deg") > max_neighbor_degree)
        .select(F.col("z").alias("nbr"), F.col("z_deg").alias("nbr_deg"))
        .distinct()
    )
    thru = thru.filter(F.col("z_deg") <= max_neighbor_degree)
    left = thru.select("z", "z_deg", F.col("leaf").alias("a"))
    right = thru.select(F.col("z").alias("z2"), F.col("leaf").alias("b"))
    scores = (
        left.join(right, left["z"] == right["z2"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("int").alias("common_neighbors"),
            F.sum(F.lit(1.0) / F.log(F.col("z_deg"))).alias("adamic_adar"),
            F.sum(F.lit(1.0) / F.col("z_deg")).alias("resource_allocation"),
        )
        .join(und, ["a", "b"], "left_anti")
        .join(deg.select(F.col("node").alias("a"), F.col("deg").alias("_da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("_db")), "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            "adamic_adar",
            "resource_allocation",
            (F.col("_da") * F.col("_db")).cast("long").alias(
                "preferential_attachment"
            ),
        )
        .filter(F.col(score_on) >= min_score)
    )
    return (scores, dropped) if return_dropped else scores


def edge_support(cur: DataFrame) -> DataFrame:
    """(a, b, support) triangle support of every edge in a CANONICAL
    (a < b, distinct, loop-free) edge frame — one ``k_truss`` peel
    round's read side, exposed so the plan auditor can inspect the
    un-checkpointed shape: wedge self-join keyed on the shared
    neighbor, closed by an edge equi-join (the triangle_count shape),
    LEFT-joined back so triangle-free edges read 0."""
    sym = cur.select(F.col("a").alias("id"), F.col("b").alias("other")).union(
        cur.select(F.col("b").alias("id"), F.col("a").alias("other"))
    )
    x, y = sym.alias("x"), sym.alias("y")
    tri = (
        x.join(
            y,
            (F.col("x.other") == F.col("y.other"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .join(cur, ["a", "b"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("s"))
    )
    return (
        cur.join(tri, ["a", "b"], "left")
        .withColumn("support", F.coalesce(F.col("s"), F.lit(0)))
        .drop("s")
    )


def k_truss(
    edges: DataFrame,
    k: int,
    max_iter: int = 20,
    src: str = "src",
    dst: str = "dst",
    return_truncated: bool = False,
) -> DataFrame | tuple[DataFrame, bool]:
    """(a, b, support) edges of the k-truss: the maximal subgraph in
    which every edge participates in ≥ k−2 triangles WITHIN the
    subgraph (``support`` is the edge's converged in-truss triangle
    count). The cohesion ladder one rung above k-core — a k-truss is
    always inside the (k−1)-core but prunes barely-attached spokes a
    degree test keeps, which is what makes it the standard "tight
    community skeleton" cut. Undirected ``_canonical_edges`` semantics
    (parallel edges deduped, self-loops dropped).

    Synchronous peeling, the ``k_core`` discipline edge-wise: every
    round computes each surviving edge's support via the wedge
    self-join (sym ⋈ sym on the shared neighbor, closed by an edge
    equi-join — the triangle_count shape, keyed joins only), then
    simultaneously removes ALL edges with support < k−2. The update is
    set-valued and deterministic, so early exit at the fixpoint is
    oracle-safe: extra unrolled oracle iterations are no-ops.

    ``max_iter`` is the lineage/backstop bound (each round
    localCheckpoint-truncated, one bounded count scalar for loop
    control). With ``return_truncated=True`` returns ``(df,
    truncated)``; truncated means the backstop fired while another
    round would still peel — the returned edge set is then a SUPERSET
    of the k-truss (no silent truncation, the bfs_distances contract).
    100 TB shape: the wedge join is the bottleneck; pre-filtering to
    the (k−1)-core and a degree-ordered orientation are the standard
    mitigations and compose here unchanged (PLANS.md triangle notes).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    cur = _canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    truncated = False
    supp = None
    for i in range(max_iter + 1):
        supp = edge_support(cur).localCheckpoint(eager=True)
        doomed_n = supp.filter(F.col("support") < k - 2).count()
        if doomed_n == 0:
            break
        if i == max_iter:
            truncated = True
            break
        cur = (
            supp.filter(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    out = supp.filter(F.col("support") >= k - 2).select(
        "a", "b", F.col("support").cast("int").alias("support")
    )
    return (out, truncated) if return_truncated else out


def diameter_two_sweep(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed: str | None = None,
    max_hops: int = 60,
) -> DataFrame:
    """One-row (seed, peripheral, far_node, diameter_lb, truncated):
    the classic double-BFS diameter LOWER BOUND (Magnien et al. —
    exact on trees, and within a small constant on real power-law
    graphs, vs the all-pairs O(V·E) exact sweep no 100 TB graph can
    afford). UNDIRECTED: the edge frame is symmetrized first.

    Sweep 1 runs BFS from ``seed`` (the minimum node id when None —
    deterministic) and picks the farthest settled node, min-id
    tie-break (``peripheral``); sweep 2 runs BFS from that node, and
    its farthest settled node (``far_node``, same tie-break) sits
    ``diameter_lb`` hops away. Both argmax picks are
    TakeOrderedAndProject(1) + a 1-row collect — bounded driver
    actions, the PageRank dangling-mass discipline. The bound covers
    the SEED'S component only (document contract for disconnected
    graphs), and ``truncated`` reports either sweep's backstop firing
    with a live frontier (the bound may then be slack — never
    silently)."""
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = und.sparkSession
    if seed is None:
        head = und.agg(F.min("u").alias("m")).collect()  # 1 row
        seed = head[0].m
    if seed is None:
        return spark.createDataFrame(
            [], "seed string, peripheral string, far_node string, "
            "diameter_lb int, truncated boolean",
        )

    def _sweep(start: str):
        d, tr = bfs_distances(
            und,
            spark.createDataFrame([(start,)], ["id"]),
            src="u",
            dst="v",
            max_hops=max_hops,
            return_truncated=True,
        )
        far = d.orderBy(F.col("dist").desc(), "id").limit(1).collect()
        return far[0], tr

    p1, t1 = _sweep(seed)
    p2, t2 = _sweep(p1.id)
    return spark.createDataFrame(
        [(seed, p1.id, p2.id, int(p2.dist), bool(t1 or t2))],
        "seed string, peripheral string, far_node string, "
        "diameter_lb int, truncated boolean",
    )


def graph_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row graph summary: (n_nodes, n_edges, avg_degree,
    max_degree, assortativity) over the undirected ``_canonical_edges``
    view — the first-look card every graph tool prints before an
    analyst drills in.

    ``assortativity`` is Newman's degree-correlation coefficient
    (Pearson r of endpoint degrees over the DIRECTED-PAIR multiset,
    i.e. both orientations of every undirected edge — which makes the
    two endpoint moments identical, the standard undirected form). The
    simplified full-degree variant (not excess-degree) is used and
    documented; the DuckDB oracle mirrors it term for term. A
    zero-variance (regular) graph has no defined r — emitted as NULL,
    never a fake 0. Plan: one degree agg + one edge-degree join pair +
    one global agg; every term a sum, so map-side partial aggregation
    does the heavy lifting at 100 TB.
    """
    und = _canonical_edges(edges, src, dst)
    both = und.select(F.col("a").alias("id")).union(
        und.select(F.col("b").alias("id"))
    )
    deg = both.groupBy("id").agg(F.count("*").alias("deg"))
    # directed-pair multiset: (j, k) for both orientations of each edge
    jk = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
        .select(F.col("da").alias("j"), F.col("db").alias("k"))
    )
    jk = jk.union(jk.select(F.col("k").alias("j"), F.col("j").alias("k")))
    agg = jk.agg(
        F.count("*").alias("m2"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum("j").alias("sj"),
        F.sum(F.col("j") * F.col("j")).alias("sj2"),
    )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("deg").cast("int").alias("max_degree"),
        F.sum("deg").alias("deg_sum"),
    )
    return stats.crossJoin(agg).select(
        F.col("n_nodes"),
        (F.col("deg_sum") / 2).cast("long").alias("n_edges"),
        F.round(F.col("deg_sum") / F.col("n_nodes"), 6).alias("avg_degree"),
        "max_degree",
        F.round(
            F.when(
                F.col("sj2") / F.col("m2")
                - (F.col("sj") / F.col("m2")) * (F.col("sj") / F.col("m2"))
                == 0,
                None,
            ).otherwise(
                (
                    F.col("sjk") / F.col("m2")
                    - (F.col("sj") / F.col("m2")) * (F.col("sj") / F.col("m2"))
                )
                / (
                    F.col("sj2") / F.col("m2")
                    - (F.col("sj") / F.col("m2")) * (F.col("sj") / F.col("m2"))
                )
            ),
            6,
        ).alias("assortativity"),
    )


def walk_pmi_embedding(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_length: int = 4,
    walks_per_node: int = 1,
    window: int = 2,
    round_to: int = 6,
    start_nodes: DataFrame | None = None,
) -> DataFrame:
    """Sparse PPMI node embedding from deterministic random walks —
    the closed-form analog of DeepWalk/node2vec: skip-gram with
    negative sampling factorizes a shifted PPMI co-occurrence matrix
    (Levy & Goldberg 2014), so the PPMI rows ARE the embedding, with
    no SGD and no RNG. Output: (node_id, context, n_co, ppmi) — the
    positive-PMI context weights of each node; rows with
    PMI <= 0 are dropped (standard PPMI sparsification). Feed the
    rows to the ANN/cosine stack for walk-structural node similarity.

    Pipeline: ``random_walks`` (hash-seeded, engine-reproducible) →
    within-walk position pairs at distance 1..``window`` (both
    directions) → co-occurrence counts → PPMI. The positivity filter
    compares ``n_co * total > m(node) * m(context)`` in EXACT integer
    arithmetic (sign-identical on any engine; the float ln only runs
    on survivors, rounded to ``round_to``). Counts fit int64 up to
    ~9e18 total pairs — beyond any realistic walk corpus.

    Scale shape: the pair stage is a walk_id-keyed self-join emitting
    <= 2·window rows per walk position (never all-pairs); both count
    aggs combine map-side; the two marginals and the 1-row total join
    back by node key / broadcast. Walk cost itself is one keyed join
    per step (see ``random_walks``).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    walks = random_walks(
        edges, src, dst, walk_length, walks_per_node, start_nodes
    )
    a = walks.select(
        "walk_id", F.col("step").alias("_sa"), F.col("node").alias("node_id")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("_sb"), F.col("node").alias("context")
    )
    co = (
        a.join(b, "walk_id")
        .filter(
            (F.col("_sa") != F.col("_sb"))
            & (F.abs(F.col("_sa") - F.col("_sb")) <= window)
        )
        .groupBy("node_id", "context")
        .agg(F.count("*").alias("n_co"))
    )
    marg = co.groupBy("node_id").agg(F.sum("n_co").alias("_m"))
    total = co.groupBy().agg(F.sum("n_co").alias("_t"))
    joined = (
        co.join(marg, "node_id")
        .join(
            marg.select(
                F.col("node_id").alias("context"), F.col("_m").alias("_mc")
            ),
            "context",
        )
        .join(F.broadcast(total))
    )
    ratio = (
        F.col("n_co").cast("double")
        * F.col("_t").cast("double")
        / (F.col("_m").cast("double") * F.col("_mc").cast("double"))
    )
    return (
        joined.filter(F.col("n_co") * F.col("_t") > F.col("_m") * F.col("_mc"))
        .select(
            "node_id",
            "context",
            "n_co",
            F.round(F.log(ratio), round_to).alias("ppmi"),
        )
    )


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    alpha: float = 0.1,
    beta: float = 1.0,
    iterations: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """(node_id, katz): truncated Katz centrality — ``iterations``
    synchronous steps of the affine recurrence

        x_{t+1}(v) = α · Σ_{u→v} x_t(u) + β,   x_0 ≡ β

    i.e. the k-truncated series β·Σ_t α^t · (#paths of length t into
    v). Unlike PageRank there is no degree normalization — a node is
    central because many (short) walks END there — and unlike HITS no
    per-step L2 norm, so the recurrence is a pure affine float map:
    with a fixed iteration count every engine reproduces it to ~1e-16
    (sums and multiplies are exactly-rounded IEEE ops), collapsed by
    the final ``round_to``. Parallel edges are counted once (the KG's
    edge semantics, as in ``pagerank``); ``alpha`` should sit below
    1/λ_max for the untruncated series to converge, but the truncated
    recurrence is finite for any α.

    Scale shape: per iteration ONE (src-keyed) join of the edge list
    with the current vector + one map-side-combining sum agg + a LEFT
    join back onto the node universe (nodes with no in-edges coalesce
    to β); ``localCheckpoint`` truncates lineage per step. No driver
    collects at all.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src).alias("_u"), F.col(dst).alias("_v")
    ).distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("_u").alias("node_id"))
        .union(e.select("_v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    x = nodes.withColumn("x", F.lit(float(beta)))
    for _ in range(iterations):
        incoming = (
            e.join(x, e["_u"] == x["node_id"])
            .groupBy("_v")
            .agg(F.sum("x").alias("_s"))
        )
        x = (
            nodes.join(incoming, nodes["node_id"] == incoming["_v"], "left")
            .select(
                "node_id",
                (
                    F.lit(float(alpha)) * F.coalesce(F.col("_s"), F.lit(0.0))
                    + F.lit(float(beta))
                ).alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    return x.select("node_id", F.round("x", round_to).alias("katz"))


def connected_components_increment(
    assignment: DataFrame,
    new_edges: DataFrame,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Merge a batch of new edges into an existing min-id component
    ``assignment`` (id, component) WITHOUT recomputing over the full
    edge set — the steady-state form of ``connected_components`` for a
    graph that grows by ingest batches.

    Connectivity is transitive, so CC(E_old ∪ E_new) factors through
    the old assignment: map each new edge's endpoints to their current
    component (new ids = their own singleton), build the COMPONENT
    graph those edges induce — bounded by the BATCH size, not the
    corpus — run the in-repo CC on it, and remap. Min-id labels
    compose exactly: a merged component's label is the min over merged
    components' labels, which is the min member id overall, so the
    result is byte-identical to a from-scratch CC over the union
    (asserted by tests and the contract oracle).

    Scale shape: one keyed LEFT join maps endpoints (broadcast if the
    batch is small), the CC rounds run on the batch-bounded component
    graph, and the corpus-wide remap is ONE broadcast join against the
    touched-component map (≤ 2·batch rows) — untouched components pass
    through without shuffling the assignment table.
    """
    ends = (
        new_edges.select(F.col(a).alias("id"))
        .union(new_edges.select(F.col(b).alias("id")))
        .distinct()
    )
    asg = assignment.select("id", "component")
    mapped_ends = ends.join(asg, "id", "left").select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
    ).localCheckpoint(eager=True)
    ca = mapped_ends.select(
        F.col("id").alias(a), F.col("component").alias("ca")
    )
    cb = mapped_ends.select(
        F.col("id").alias(b), F.col("component").alias("cb")
    )
    comp_edges = (
        new_edges.join(ca, a)
        .join(cb, b)
        .filter(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("a"), F.col("cb").alias("b"))
        .distinct()
    )
    new_singletons = mapped_ends.join(asg.select("id"), "id", "left_anti")
    base = asg.unionByName(new_singletons)
    if not comp_edges.take(1):
        return base
    super_map = connected_components(comp_edges).select(
        F.col("id").alias("component"),
        F.col("component").alias("_super"),
    )
    return (
        base.join(F.broadcast(super_map), "component", "left")
        .select(
            "id",
            F.coalesce(F.col("_super"), F.col("component")).alias("component"),
        )
    )


def reciprocity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row directed-graph reciprocity: the fraction of distinct
    non-loop directed edges whose reverse edge also exists — GDS-style
    graph health check and a CTI signal in its own right (C2 check-ins
    are two-way; scan sweeps and exfil pushes are one-way, so a low
    reciprocity COMMUNICATES_WITH subgraph reads as sweep/exfil, a
    high one as interactive sessions).

    Conventions: parallel edges deduped, self-loops dropped (a loop is
    trivially its own reverse), empty graph → one row with NULL
    reciprocity (never a fake 0). Exact integer numerator/denominator,
    ONE round-6 division.

    Scale shape: distinct on the edge key, then ONE keyed left-semi
    self-join on the swapped pair (never cartesian) and two 1-row
    aggregates — map-side partials do the heavy lifting; nothing is
    ever collected.
    """
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .distinct()
    )
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    mutual = e.join(rev, ["a", "b"], "left_semi")
    n = e.agg(F.count("*").alias("n_directed"))
    m = mutual.agg(F.count("*").alias("n_mutual"))
    return n.crossJoin(m).select(
        F.col("n_directed").cast("long"),
        F.col("n_mutual").cast("long"),
        F.when(
            F.col("n_directed") > 0,
            F.round(F.col("n_mutual") / F.col("n_directed"), 6),
        ).alias("reciprocity"),
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row degree assortativity coefficient (Newman 2002) of the
    undirected simple graph: the Pearson correlation between the
    degrees at either end of an edge. Positive r = hubs link to hubs
    (social-network shape); negative r = hubs link to leaves — the
    typical C2 star topology, so a strongly negative COMMUNICATES_WITH
    assortativity reads as centralized infrastructure, drifting toward
    0 as campaigns blend.

    Conventions: parallel edges deduped, self-loops dropped, degrees
    taken on the resulting simple graph. With each undirected edge's
    endpoint degrees (j, k) summed over the M edges as S1 = Σ j·k,
    S2 = Σ (j+k), S3 = Σ (j²+k²), the coefficient multiplies through
    by 4M² to stay in EXACT integer arithmetic:

        r = (4·M·S1 − S2²) / (2·M·S3 − S2²)

    — one round-6 division of two exact bigints, so the value is
    bit-identical across engines. Degenerate graphs (M = 0, or a
    regular graph where the denominator is 0 — every degree equal, r
    undefined) yield NULL, never a fake 0. int64 overflow needs
    Σ degree² · M ≳ 2^63 — beyond any real graph's reach only when
    M·max_deg² stays under ~9.2e18; for 100 TB-scale graphs cast the
    three sums to double before the final expression if that bound
    binds (noted, not done: exactness is the test contract here).

    Scale shape: ONE distinct on the canonical (least, greatest) edge
    key, ONE degree aggregation, two keyed equi-joins of the edge list
    against the N_nodes-sized degree frame, then a single 1-row
    aggregate — map-side partials carry it; nothing collects.
    """
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    j = deg.select(F.col("id").alias("a"), F.col("deg").alias("_j"))
    k = deg.select(F.col("id").alias("b"), F.col("deg").alias("_k"))
    sums = (
        e.join(j, "a")
        .join(k, "b")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum(F.col("_j") * F.col("_k")).cast("long").alias("_s1"),
            F.sum(F.col("_j") + F.col("_k")).cast("long").alias("_s2"),
            F.sum(
                F.col("_j") * F.col("_j") + F.col("_k") * F.col("_k")
            ).cast("long").alias("_s3"),
        )
    )
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    num = 4 * F.col("n_edges") * F.col("_s1") - F.col("_s2") * F.col("_s2")
    den = 2 * F.col("n_edges") * F.col("_s3") - F.col("_s2") * F.col("_s2")
    return sums.crossJoin(n_nodes).select(
        "n_nodes",
        "n_edges",
        F.when(
            (F.col("n_edges") > 0) & (den != 0), F.round(num / den, 6)
        ).alias("assortativity"),
    )


def _anf_round(sym: DataFrame, sk: DataFrame, m: int) -> DataFrame:
    """One UN-checkpointed HyperANF round: every node absorbs its
    neighbors' sketches by registerwise max — one keyed equi-join
    (``sym`` × ``sk``) + one groupBy with m scalar max-aggs. Split out
    so `scripts/plan_audit.py::anf_round_no_cartesian_no_python` can
    inspect the round's actual join plan (the checkpointed final frame
    in `anf_ball_sizes` truncates lineage, which would make a guard on
    the end plan vacuous)."""
    maxes = [F.max(F.col("regs")[j]).alias(f"_r{j}") for j in range(m)]
    rebuild = F.array(*[F.col(f"_r{j}") for j in range(m)]).alias("regs")
    msgs = sym.join(sk, sym["v"] == sk["id"]).select(
        F.col("u").alias("id"), "regs"
    )
    return (
        sk.select("id", "regs")
        .union(msgs)
        .groupBy("id")
        .agg(*maxes)
        .select("id", rebuild)
    )


def anf_ball_sizes(
    edges: DataFrame,
    hops: int = 2,
    p: int = 4,
    src: str = "src",
    dst: str = "dst",
    salt: str = "anf",
    directed: bool = False,
) -> DataFrame:
    """(id, n_zero, s_scaled, est_ball): HyperANF — the approximate
    neighborhood function (Boldi, Rosa & Vigna, WWW 2011; Palmer et
    al.'s ANF with HLL counters) — estimating, for EVERY node at once,
    the size of its ball B(v, hops) = {u : dist(v, u) <= hops}
    (``directed=True``: forward-reachable set). The reference's GDS
    surface has no per-node reachability-size primitive at all; at
    web scale this is how neighborhood growth / effective-diameter
    profiles are computed without |V| BFS sweeps.

    Mechanism: each node carries a 2^p-register HyperLogLog sketch of
    its known ball, initialized to {v}; each round every node merges
    (registerwise max) its neighbors' sketches. After ``hops`` rounds
    the sketch covers exactly B(v, hops) — set-union semantics make the
    recurrence idempotent over the duplicate paths a multigraph walk
    would double-count.

    Scale shape: sketches are PACKED int arrays (one row per node, m
    entries), so a round is ONE keyed equi-join (edges x sketches,
    message size m ints) + ONE groupBy with m scalar max-aggs — all
    JVM-side, map-side combining, AQE skew handling on hot nodes; no
    per-register row blowup (row-per-register would multiply the
    shuffle by m). localCheckpoint truncates lineage per round (the
    PageRank/CC pattern). Registers/ranks reuse the engine-portable
    md5 family of ``operators.sketches`` (``_md5_u64`` routing + the
    integer-comparison leading-1 rank), and the per-node estimate is
    the same SCALED-INTEGER harmonic sum as ``hll_estimate`` — exact
    decimal arithmetic, one final float division — so the DuckDB
    oracle replays the recurrence bit-identically (``s_scaled`` is the
    hash-checked integer witness; a raw-HLL estimate, no small-range
    correction, per sketches.py).
    """
    from .hashing import _md5_u64
    from .sketches import _HLL_SCALE, _hll_rank

    if not 1 <= p <= 8:
        raise ValueError("p must be in [1, 8]")
    if hops < 0:
        raise ValueError("hops must be >= 0")
    m = 1 << p
    # null endpoints carry no identity: drop them up front (the
    # hll_build isNotNull discipline) — otherwise a corrupt null id
    # would surface as a fabricated all-empty-register node whose raw
    # estimate (= alpha*m) can outrank real nodes.
    clean = edges.filter(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    )
    sym = clean.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        sym = sym.union(
            clean.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
    sym = (
        sym.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        clean.select(F.col(src).alias("id"))
        .union(clean.select(F.col(dst).alias("id")))
        .distinct()
    )
    h = _md5_u64(F.col("id"), salt)
    reg = (h % F.lit(m)).cast("int")
    rank = _hll_rank(F.floor(h / F.lit(m)).cast("long"))
    # untouched registers are 0; a touched register's rank is >= 1, so
    # 0 unambiguously means empty (rank of a zero payload is _HLL_SCALE)
    sk = nodes.select(
        "id",
        F.array(
            *[
                F.when(reg == F.lit(j), rank).otherwise(F.lit(0))
                for j in range(m)
            ]
        ).alias("regs"),
    ).localCheckpoint(eager=True)
    for _ in range(hops):
        sk = _anf_round(sym, sk, m).localCheckpoint(eager=True)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << _HLL_SCALE)
    s = F.expr(
        f"aggregate(regs, CAST(0 AS DECIMAL(38,0)), (acc, x) -> "
        f"acc + CAST(shiftleft(1L, {_HLL_SCALE} - x) AS DECIMAL(38,0)))"
    )
    return sk.select(
        "id",
        F.expr("size(filter(regs, x -> x = 0))").cast("long").alias("n_zero"),
        s.cast("string").alias("s_scaled"),
        F.round(F.lit(numer) / s.cast("double"), 3).alias("est_ball"),
    )


def transitivity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row GLOBAL clustering coefficient card: (n_closed_wedges,
    n_triangles, n_wedges, transitivity) over the undirected
    ``_canonical_edges`` view — the graph-level companion to
    ``local_clustering_coefficient`` (per node) and ``graph_stats``
    (degrees): transitivity = 3·triangles / wedges, the fraction of
    open two-paths that close. Mention-spoke CTI graphs sit near 0;
    a genuinely interlinked campaign core pushes it up — the one-number
    before/after check for `campaign_skeletons`-style stripping.

    Exact arithmetic: Σ per-node triangle credits is EXACTLY 3T (each
    triangle has three corners), wedges = Σ_v C(deg v, 2) via the
    shiftright-exact binomial (the eval_clusters_pairwise identity),
    so the ratio needs NO separate factor of 3 — transitivity =
    closed/wedges in ONE round-6 division of two exact bigints;
    n_triangles is the exact integer division 3T div 3. Zero wedges
    (empty or perfect-matching graph) emits NULL, never 0/0.

    Scale shape: one canonical-triangle three-way equi-join (the
    audited triangle_count plan — no cartesian), one degree aggregate,
    then two 1-row frames cross-joined. The power-law caveat and
    mitigation (degree cap / pre-bucketing) are triangle_count's,
    unchanged.
    """
    closed = triangle_count(edges, src, dst).agg(
        F.sum("triangles").alias("closed")
    )
    e = _canonical_edges(edges, src, dst)
    deg = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    wedges = deg.agg(
        F.sum(
            F.shiftright(F.col("deg") * (F.col("deg") - F.lit(1)), 1)
        ).alias("wedges")
    )
    return closed.crossJoin(wedges).select(
        F.coalesce(F.col("closed"), F.lit(0)).cast("long").alias("n_closed_wedges"),
        F.expr("coalesce(closed, 0) div 3").cast("long").alias("n_triangles"),
        F.coalesce(F.col("wedges"), F.lit(0)).cast("long").alias("n_wedges"),
        F.when(
            F.col("wedges") > 0,
            F.round(
                F.coalesce(F.col("closed"), F.lit(0)).cast("double")
                / F.col("wedges").cast("double"),
                6,
            ),
        ).alias("transitivity"),
    )


def rich_club(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Rich-club curve φ(k) (Zhou & Mondragón 2004; Colizza et al.
    2006 uncorrected form): for every degree threshold k in the
    graph's degree spectrum, the density of the subgraph induced by
    nodes with degree > k — (k, n_club, e_club, phi) with φ =
    2·E_k/(N_k·(N_k−1)). A rising tail means the hubs specifically
    interconnect (a coordinated campaign core); mention-spoke CTI
    graphs fall toward 0. Thresholds with n_club < 2 have no defined
    density and are omitted.

    Exact arithmetic via the suffix-count identity — NO induced
    subgraph is ever materialized: N_k is a descending cumulative sum
    over the degree histogram, E_k the same over the histogram of
    per-edge min(deg_a, deg_b) (an edge survives the k-club cut iff
    its weaker endpoint does), both aligned on the merged threshold
    spectrum. φ is ONE round-6 division of exact bigints; the binomial
    denominator uses the shiftright-exact form.

    Scale shape: one degree aggregate, one edge↔degree join pair (the
    graph_stats shape), two dimension-sized histograms (≤ |distinct
    degrees| rows — power-law graphs have O(max_degree) distinct
    values), ONE ordered window over that merged dimension frame (the
    gini discipline: the global sort sees the histogram, never the
    graph).
    """
    from pyspark.sql import Window

    und = _canonical_edges(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("id"))
        .union(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    nd = deg.groupBy("deg").agg(F.count("*").alias("nd"))
    md = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
        .select(F.least(F.col("da"), F.col("db")).alias("deg"))
        .groupBy("deg")
        .agg(F.count("*").alias("md"))
    )
    merged = (
        nd.join(md, "deg", "full_outer")
        .na.fill({"nd": 0, "md": 0})
    )
    w = (
        Window.orderBy(F.col("deg").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = merged.select(
        "deg",
        "nd",
        "md",
        F.sum("nd").over(w).alias("cn"),
        F.sum("md").over(w).alias("cm"),
    )
    # club at threshold k: strictly-greater degrees -> subtract own bucket
    n_club = (F.col("cn") - F.col("nd")).alias("n_club")
    e_club = (F.col("cm") - F.col("md")).alias("e_club")
    out = cum.select(F.col("deg").alias("k"), n_club, e_club).filter(
        F.col("n_club") >= 2
    )
    denom = F.shiftright(F.col("n_club") * (F.col("n_club") - F.lit(1)), 1)
    return out.select(
        F.col("k").cast("long").alias("k"),
        F.col("n_club").cast("long").alias("n_club"),
        F.col("e_club").cast("long").alias("e_club"),
        F.round(
            F.col("e_club").cast("double") / denom.cast("double"), 6
        ).alias("phi"),
    )


def avg_neighbor_degree(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, deg, avg_nbr_deg): each node's degree and the mean degree
    of its neighbors over the undirected ``_canonical_edges`` view —
    the per-node detail curve behind ``graph_stats``'s single
    assortativity number (networkx average_neighbor_degree / the
    knn(k) of Pastor-Satorras et al.). A hub whose avg_nbr_deg ≈ 1 is
    a pure mention spoke; avg_nbr_deg ≫ its own degree flags a leaf
    hanging off the campaign core.

    Exact arithmetic: neighbor-degree sums are exact bigints over the
    symmetrized edge list; the mean is ONE round-6 division by the
    node's own (nonzero by construction) degree.

    Scale shape: one degree aggregate, one keyed join of the
    symmetrized edges against it, one node-keyed sum — the
    graph_stats jk shape minus its second moment; map-side combining
    carries the 100 TB weight, hot hubs are single AQE-split keys.
    """
    und = _canonical_edges(edges, src, dst)
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    j = sym.join(
        deg.select(F.col("a").alias("b"), F.col("deg").alias("nbr_deg")), "b"
    )
    per = j.groupBy("a").agg(
        F.count("*").alias("deg"),
        F.sum("nbr_deg").alias("s"),
    )
    return per.select(
        F.col("a").alias("id"),
        F.col("deg").cast("long").alias("deg"),
        F.round(F.col("s").cast("double") / F.col("deg").cast("double"), 6).alias(
            "avg_nbr_deg"
        ),
    )


def degree_histogram(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(deg, n_nodes): the degree distribution over the undirected
    ``_canonical_edges`` view — the first plot of any graph audit and
    the input every tail diagnostic (rich_club, hill_tail) reduces to.
    One degree aggregate + one histogram aggregate, both map-side
    combining; output is dimension-sized (≤ |distinct degrees| rows).
    """
    und = _canonical_edges(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("id"))
        .union(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    return (
        deg.groupBy("deg")
        .agg(F.count("*").alias("n_nodes"))
        .select(
            F.col("deg").cast("long").alias("deg"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
        )
    )


def hill_tail(
    edges: DataFrame,
    d_min: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One-row Hill estimator of the degree-distribution tail exponent
    (Hill 1975; the Clauset-Shalizi-Newman power-law check's MLE core):
    α = 1 + n / Σ_{deg ≥ d_min} ln(deg/d_min) over the ``d_min``-tail
    — the one-number answer to "is this graph scale-free hub-dominated
    (α ≈ 2–3) or degree-homogeneous (α large)?", which decides whether
    the skew mitigations (degree caps, salting) are load-bearing or
    dormant for a given corpus.

    Output (d_min, n_tail, alpha); alpha NULL when the tail is empty
    or entirely AT d_min (Σ ln = 0: the MLE diverges — reported as
    undefined, never +inf). The ln sum runs over the DIMENSION-SIZED
    histogram (count · ln(deg/d_min) per distinct degree, so every ln
    argument is an exact integer ratio), round-6 after the one division.
    """
    if d_min < 1:
        raise ValueError("d_min must be >= 1")
    hist = degree_histogram(edges, src, dst).filter(F.col("deg") >= d_min)
    agg = hist.agg(
        F.sum("n_nodes").alias("n_tail"),
        F.sum(
            F.col("n_nodes").cast("double")
            * F.log(F.col("deg").cast("double") / F.lit(float(d_min)))
        ).alias("_lns"),
    )
    return agg.select(
        F.lit(d_min).cast("int").alias("d_min"),
        F.coalesce(F.col("n_tail"), F.lit(0)).cast("long").alias("n_tail"),
        F.when(
            F.col("_lns") > 0,
            F.round(
                F.lit(1.0) + F.col("n_tail").cast("double") / F.col("_lns"), 6
            ),
        ).alias("alpha"),
    )
