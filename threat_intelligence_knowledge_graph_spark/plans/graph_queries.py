"""Graph query interface over the materialized tables.

The reference exposes a raw Cypher pass-through (reference
neo4j_store.py:175-208, SURVEY.md §2 op 30). Our store is relational, so
graph questions are SQL joins over registered views — no query-language
translation layer, by design: every Cypher pattern the reference's users
run (neighbors, typed edges, degree, 2-hop paths) maps to one of these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tableio import LocalTableCatalog


def register_graph_views(spark: SparkSession, catalog: LocalTableCatalog) -> None:
    """Expose nodes/edges/triples (+ metrics, extraction) as
    temp views for spark.sql."""
    for t in ("nodes", "edges", "triples", "metrics", "extraction"):
        if catalog.exists(t):
            catalog.read(spark, t).createOrReplaceTempView(t)


def neighbors(spark: SparkSession, node_id: str) -> DataFrame:
    """All edges touching a node — Cypher ``MATCH (n {id})-[r]-(m)``."""
    return spark.sql(
        """
        SELECT subj, pred, obj FROM triples
        WHERE subj = :node OR obj = :node
        """,
        args={"node": node_id},
    )


def degrees(spark: SparkSession) -> DataFrame:
    """Per-node in/out/total degree — Cypher ``MATCH (n) RETURN n, degree``."""
    return spark.sql(
        """
        WITH outs AS (SELECT subj AS node_id, count(*) AS out_degree
                      FROM triples GROUP BY subj),
             ins  AS (SELECT obj AS node_id, count(*) AS in_degree
                      FROM triples GROUP BY obj)
        SELECT coalesce(outs.node_id, ins.node_id) AS node_id,
               coalesce(out_degree, 0) AS out_degree,
               coalesce(in_degree, 0) AS in_degree,
               coalesce(out_degree, 0) + coalesce(in_degree, 0) AS degree
        FROM outs FULL OUTER JOIN ins ON outs.node_id = ins.node_id
        """
    )


def two_hop(spark: SparkSession, pred1: str | None = None, pred2: str | None = None) -> DataFrame:
    """2-hop paths — Cypher ``MATCH (a)-[r1]->(b)-[r2]->(c)``; self-join on
    the triples view (shuffle on the join key; AQE skew-splits hot hubs)."""
    t1 = spark.table("triples").alias("t1")
    t2 = spark.table("triples").alias("t2")
    j = t1.join(t2, F.col("t1.obj") == F.col("t2.subj"))
    if pred1:
        j = j.filter(F.col("t1.pred") == pred1)
    if pred2:
        j = j.filter(F.col("t2.pred") == pred2)
    return j.select(
        F.col("t1.subj").alias("a"),
        F.col("t1.pred").alias("pred1"),
        F.col("t1.obj").alias("b"),
        F.col("t2.pred").alias("pred2"),
        F.col("t2.obj").alias("c"),
    )


def top_communicators(spark: SparkSession, k: int = 20) -> DataFrame:
    """Malware hashes ranked by distinct infrastructure they talk to —
    the analyst's "noisiest implant" view."""
    return spark.sql(
        """
        SELECT subj AS malware, count(DISTINCT obj) AS n_infra
        FROM triples WHERE pred = 'COMMUNICATES_WITH'
        GROUP BY subj ORDER BY n_infra DESC, malware LIMIT :k
        """,
        args={"k": k},
    )


def fast_flux_domains(spark: SparkSession, min_ips: int = 2) -> DataFrame:
    """Domains resolving to many IPs (fast-flux indicator)."""
    return spark.sql(
        """
        SELECT subj AS domain, count(DISTINCT obj) AS n_ips
        FROM triples WHERE pred = 'RESOLVES_TO'
        GROUP BY subj HAVING count(DISTINCT obj) >= :m
        ORDER BY n_ips DESC, domain
        """,
        args={"m": min_ips},
    )


def shared_infrastructure(spark: SparkSession) -> DataFrame:
    """Pairs of malware samples sharing a C2 endpoint — the classic
    campaign-clustering join (self-join on obj; AQE splits hot hubs)."""
    t1 = spark.table("triples").alias("t1")
    t2 = spark.table("triples").alias("t2")
    return (
        t1.filter(F.col("t1.pred") == "COMMUNICATES_WITH")
        .join(
            t2.filter(F.col("t2.pred") == "COMMUNICATES_WITH"),
            F.col("t1.obj") == F.col("t2.obj"),
        )
        .filter(F.col("t1.subj") < F.col("t2.subj"))
        .select(
            F.col("t1.subj").alias("malware_a"),
            F.col("t2.subj").alias("malware_b"),
            F.col("t1.obj").alias("shared_endpoint"),
        )
        .distinct()
    )


def cve_hotlist(spark: SparkSession, k: int = 10) -> DataFrame:
    """Most-referenced vulnerabilities across the corpus (the hot-skew
    entities by design) — uses the salted rollup for the degree count."""
    from ..operators.skew import hot_entity_counts

    return (
        hot_entity_counts(spark.table("triples"))
        .filter(F.col("entity").startswith("Vulnerability_"))
        .orderBy(F.col("count").desc(), "entity")
        .limit(k)
    )


def hot_infrastructure(
    spark: SparkSession,
    k: int = 20,
    iterations: int = 5,
    weighted: bool = True,
) -> DataFrame:
    """PageRank over the triple view — infrastructure nodes (domains,
    IPs, URLs, CVEs) that many distinct actors/malware point into rank
    highest; complements raw degree (``cve_hotlist``) by weighting WHO
    links, not just how often. Cypher users approximate this with
    ``CALL gds.pageRank``; here it is ``operators/pagerank.py``.

    ``weighted=True`` (default since r5) weighs each (subj, obj) edge
    by its predicate multiplicity — a pair linked by RESOLVES_TO and
    COMMUNICATES_WITH and TARGETS carries 3× the rank flow of a
    single-relation pair, sharpening the "hot" ranking on skewed
    infrastructure. ``weighted=False`` is the uniform GDS default."""
    from ..operators.pagerank import pagerank

    if weighted:
        edges = (
            spark.table("triples")
            .groupBy(F.col("subj").alias("src_id"), F.col("obj").alias("dst_id"))
            .agg(F.count("*").alias("wt"))
        )
        ranks = pagerank(edges, iterations=iterations, weight="wt")
    else:
        edges = spark.table("triples").select(
            F.col("subj").alias("src_id"), F.col("obj").alias("dst_id")
        )
        ranks = pagerank(edges, iterations=iterations)
    return ranks.orderBy(F.col("rank").desc(), "id").limit(k)


def blast_radius(
    spark: SparkSession, node_id: str, max_hops: int = 3
) -> DataFrame:
    """(id, dist, truncated): every node reachable from ``node_id`` in
    at most ``max_hops`` directed triple-view hops — the incident-
    response "what can this compromised node touch" query (GDS BFS).
    ``truncated`` is true on every row when the hop backstop fired with
    a non-empty frontier: the blast set shown is then a LOWER bound and
    the analyst must widen ``max_hops`` (no silent truncation — the
    ``bfs_distances`` reporting contract surfaced to the pack)."""
    from ..operators.graph_algos import bfs_distances

    src = spark.createDataFrame([(node_id,)], ["id"])
    dist, truncated = bfs_distances(
        spark.table("triples").select("subj", "obj"),
        src,
        src="subj",
        dst="obj",
        max_hops=max_hops,
        return_truncated=True,
    )
    return dist.withColumn("truncated", F.lit(truncated)).orderBy("dist", "id")


def report_hubs(
    spark: SparkSession, k: int = 20, iterations: int = 5
) -> DataFrame:
    """HITS over the triple view — top-k *hubs* (nodes that point at
    many well-referenced targets: aggregation-style entities like
    threat actors or campaign nodes linking broad infrastructure) and
    the top-k *authorities* (the infrastructure those hubs agree on),
    returned as one frame with a ``role`` column. Where PageRank's
    ``hot_infrastructure`` measures global rank mass, HITS separates
    "who curates" from "what is curated" — the classic triage split
    for deciding whether a node is a source or a target of linkage.
    GDS analog: ``gds.hits``. (operators/hits.py)"""
    from ..operators.hits import hits

    edges = spark.table("triples").select(
        F.col("subj").alias("src_id"), F.col("obj").alias("dst_id")
    )
    scores = hits(edges, iterations=iterations)
    top_h = (
        scores.select("id", F.lit("hub").alias("role"), F.col("hub").alias("score"))
        .orderBy(F.col("score").desc(), "id")
        .limit(k)
    )
    top_a = (
        scores.select("id", F.lit("authority").alias("role"), F.col("auth").alias("score"))
        .orderBy(F.col("score").desc(), "id")
        .limit(k)
    )
    return top_h.union(top_a)


def campaign_communities(
    spark: SparkSession, iterations: int = 4, min_size: int = 2
) -> DataFrame:
    """Modularity communities over the (undirected) triple view —
    campaign clustering: actors, malware, and infrastructure that
    interlink more densely with each other than with the rest of the
    graph land in one community (the working definition of a campaign
    in CTI triage). Returns (community, n_members, member sample) for
    communities of at least ``min_size``, largest first. GDS analog:
    ``gds.louvain``. (operators/louvain.py)"""
    from ..operators.louvain import louvain_communities

    edges = spark.table("triples").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    comm = louvain_communities(edges, iterations=iterations)
    return (
        comm.groupBy("community")
        .agg(
            F.count("*").alias("n_members"),
            F.slice(F.sort_array(F.collect_list("id")), 1, 10).alias("sample"),
        )
        .filter(F.col("n_members") >= min_size)
        .orderBy(F.col("n_members").desc(), "community")
    )


def community_quality(
    spark: SparkSession, iterations: int = 4, min_size: int = 2
) -> DataFrame:
    """Per-community conductance of the ``campaign_communities``
    clustering — the triage complement: `campaign_communities` lists
    the clusters, this ranks which of them are LEAKY (φ → 1: more
    boundary than body — a cluster bleeding edges into the rest of the
    graph is a merge/split candidate, or two campaigns sharing
    infrastructure). Leakiest first. GDS analog: ``gds.conductance``."""
    from ..operators.louvain import conductance, louvain_communities

    edges = spark.table("triples").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    comm = louvain_communities(edges, iterations=iterations)
    return (
        conductance(edges, comm)
        .filter(F.col("n_members") >= min_size)
        .orderBy(F.col("conductance").desc(), F.col("community"))
    )


def campaign_cards(
    spark: SparkSession, iterations: int = 4, min_size: int = 2
) -> DataFrame:
    """One operational card per campaign community — the triage view an
    analyst opens instead of three separate queries: ``(community,
    n_members, exemplar, exemplar_rank, top_pred, top_pred_share)``
    where ``exemplar`` is the community's top-PageRank member (the node
    to open first), and ``top_pred`` the community's dominant internal
    relationship type with its round-6 share of the community's
    subj-side triples. Largest communities first.

    Composition of the already-tested pieces (louvain communities +
    uniform PageRank + one triple aggregation); every per-community
    pick is a community-keyed window ordered (score DESC, id) /
    (count DESC, pred) — fully deterministic under ties.

    Scale shape: the window partitions by community (N_nodes-sized
    frames, never the triple table); the predicate mix aggregates the
    triple scan once, keyed by (community, pred)."""
    from ..operators.louvain import louvain_communities
    from ..operators.pagerank import pagerank

    triples = spark.table("triples")
    edges = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    comm = louvain_communities(edges, iterations=iterations)
    pr = pagerank(
        edges.select(
            F.col("src").alias("src_id"), F.col("dst").alias("dst_id")
        ),
        iterations=iterations,
    )
    w = Window.partitionBy("community").orderBy(
        F.col("rank").desc(), F.col("id")
    )
    exemplar = (
        comm.join(pr, "id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "community",
            F.col("id").alias("exemplar"),
            F.round("rank", 6).alias("exemplar_rank"),
        )
    )
    sizes = comm.groupBy("community").agg(
        F.count("*").cast("long").alias("n_members")
    )
    pred_mix = (
        triples.join(
            comm.select(F.col("id").alias("subj"), "community"), "subj"
        )
        .groupBy("community", "pred")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    wp = Window.partitionBy("community").orderBy(
        F.col("_n").desc(), F.col("pred")
    )
    top_pred = (
        pred_mix.withColumn("_tot", F.sum("_n").over(Window.partitionBy("community")))
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") == 1)
        .select(
            "community",
            F.col("pred").alias("top_pred"),
            F.round(F.col("_n") / F.col("_tot"), 6).alias("top_pred_share"),
        )
    )
    return (
        sizes.filter(F.col("n_members") >= min_size)
        .join(exemplar, "community")
        .join(top_pred, "community", "left")
        .orderBy(F.col("n_members").desc(), "community")
    )


def influence_from(
    spark: SparkSession,
    seed_ids: list[str],
    k: int = 20,
    iterations: int = 5,
) -> DataFrame:
    """Personalized PageRank from known-compromised seeds — "which
    infrastructure matters FROM these hosts' perspective". Where
    ``blast_radius`` answers reachability (hop counts), this ranks the
    reachable set by proximity-weighted importance: teleport
    concentrates on the seeds, so rank decays with graph distance and
    concentrates on nodes the seeds point into through many short
    paths. GDS analog: ``gds.pageRank`` with ``sourceNodes``. Seeds not
    in the graph are ignored (raises only if none is present)."""
    from ..operators.pagerank import pagerank

    edges = spark.table("triples").select(
        F.col("subj").alias("src_id"), F.col("obj").alias("dst_id")
    )
    ranks = pagerank(edges, iterations=iterations, seeds=seed_ids)
    return (
        ranks.filter(F.col("rank") > 0)
        .orderBy(F.col("rank").desc(), "id")
        .limit(k)
    )


def central_infrastructure(
    spark: SparkSession,
    seed_ids: list[str] | None = None,
    k: int = 20,
    max_hops: int = 10,
) -> DataFrame:
    """Harmonic-closeness ranking of the triple view — "which nodes sit
    closest to everything" (GDS closeness/harmonic centrality). Where
    ``hot_infrastructure`` ranks by link mass (PageRank) and
    ``blast_radius`` answers one node's reach, this ranks nodes by how
    NEAR they are to the seed population: high closeness = reachable
    from many seeds in few hops = choke-point infrastructure.

    ``seed_ids=None`` seeds from EVERY subject node (exact centrality
    on the analyst graph); pass a sampled/curated seed list for the
    standard large-graph approximation. Rows carry a ``truncated``
    column (the hop backstop's no-silent-truncation contract: values
    are lower bounds when true)."""
    from ..operators.graph_algos import harmonic_closeness

    edges = spark.table("triples").select("subj", "obj")
    seeds = (
        spark.createDataFrame([(s,) for s in seed_ids], ["id"])
        if seed_ids is not None
        else edges.select(F.col("subj").alias("id")).distinct()
    )
    scores, truncated = harmonic_closeness(
        edges,
        seeds,
        src="subj",
        dst="obj",
        max_hops=max_hops,
        return_truncated=True,
    )
    return (
        scores.withColumn("truncated", F.lit(truncated))
        .orderBy(F.col("closeness").desc(), "id")
        .limit(k)
    )


def choke_points(
    spark: SparkSession,
    seed_ids: list[str] | None = None,
    k: int = 20,
    max_hops: int = 10,
) -> DataFrame:
    """Brandes betweenness over the triple view — nodes that shortest
    attack paths FUNNEL THROUGH (GDS betweenness; ``seed_ids`` is the
    sampled-source approximation, ``None`` = exact from every subject).
    High betweenness = cut-point infrastructure: taking it down (or
    monitoring it) intersects the most shortest s→t paths — the
    complement of ``hot_infrastructure`` (rank mass) and
    ``central_infrastructure`` (proximity). Rows carry ``truncated``
    (lower bounds when the hop backstop fired)."""
    from ..operators.graph_algos import betweenness

    edges = spark.table("triples").select("subj", "obj")
    seeds = (
        spark.createDataFrame([(s,) for s in seed_ids], ["id"])
        if seed_ids is not None
        else edges.select(F.col("subj").alias("id")).distinct()
    )
    scores, truncated = betweenness(
        edges,
        seeds,
        src="subj",
        dst="obj",
        max_hops=max_hops,
        return_truncated=True,
    )
    return (
        scores.withColumn("truncated", F.lit(truncated))
        .orderBy(F.col("betweenness").desc(), "id")
        .limit(k)
    )


def infrastructure_rings(
    spark: SparkSession, min_size: int = 2, max_iter: int = 50
) -> DataFrame:
    """Mutually-connected infrastructure rings: strongly connected
    components of the DIRECTED triple view (GDS scc). A ring is a set
    of nodes that all reach each other — redirect loops, fast-flux
    rotation sets, C2 relays pointing at one another — which plain
    (undirected) connected components can't distinguish from a benign
    hub-and-spoke. Returns one row per node in a ring of ≥ min_size
    with the ring id (min node id) and ring size, largest rings
    first."""
    from ..operators.graph_algos import strongly_connected_components

    edges = spark.table("triples").select("subj", "obj")
    scc, truncated = strongly_connected_components(
        edges, src="subj", dst="obj", max_iter=max_iter,
        return_truncated=True,
    )
    sizes = scc.groupBy("scc_id").agg(F.count("*").alias("ring_size"))
    return (
        scc.join(sizes.filter(F.col("ring_size") >= min_size), "scc_id")
        .withColumn("truncated", F.lit(truncated))
        .select("scc_id", "id", "ring_size", "truncated")
        .orderBy(F.col("ring_size").desc(), "scc_id", "id")
    )


def related_entities(
    spark: SparkSession,
    node_id: str,
    walk_length: int = 4,
    walks_per_node: int = 8,
    k: int = 10,
    p: float | None = None,
    q: float | None = None,
) -> DataFrame:
    """Walk-based relatedness: launch deterministic random walks from
    one node over the UNDIRECTED triple view and rank co-visited nodes
    by visit count (the DeepWalk/Pixie neighborhood-sampling idea —
    multi-hop affinity that plain neighbor listing misses, without
    materializing the k-hop ball). Deterministic hash-seeded draws, so
    the same question always returns the same answer.

    Pass ``p``/``q`` to bias the exploration node2vec-style
    (``operators.graph_algos.node2vec_walks``): q < 1 pushes walks
    OUTWARD (campaign-wide context — structural equivalence), q > 1
    with p > 1 keeps them tight around the seed (homophily). Default
    (both None) is the uniform first-order walk."""
    from ..operators.graph_algos import node2vec_walks, random_walks

    e = spark.table("triples").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    start = spark.createDataFrame([(node_id,)], ["id"])
    if p is None and q is None:
        walks = random_walks(
            sym,
            walk_length=walk_length,
            walks_per_node=walks_per_node,
            start_nodes=start,
        )
    else:
        walks = node2vec_walks(
            sym,
            walk_length=walk_length,
            walks_per_node=walks_per_node,
            p=p if p is not None else 1.0,
            q=q if q is not None else 1.0,
            start_nodes=start,
        )
    return (
        walks.filter((F.col("step") > 0) & (F.col("node") != node_id))
        .groupBy("node")
        .agg(F.count("*").alias("visits"))
        .orderBy(F.col("visits").desc(), "node")
        .limit(k)
    )


def predicted_links(
    spark: SparkSession,
    k: int = 20,
    min_common: int = 2,
    max_neighbor_degree: int = 10_000,
) -> DataFrame:
    """Likely MISSING relationships: top-k non-adjacent node pairs by
    Adamic–Adar over the undirected triple view (the GDS
    linkprediction.adamicAdar triage, batch-scored). Two IOCs that
    share several reports/actors but were never directly linked are
    the analyst's "same campaign?" candidates; the full measure
    quartet (common-neighbor count, Adamic–Adar, resource allocation,
    preferential attachment) is surfaced per pair, with node labels
    joined in so a malware↔infrastructure suggestion reads at a
    glance."""
    from ..operators.graph_algos import link_prediction

    e = spark.table("triples").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    scored = link_prediction(
        e, min_score=0.0, max_neighbor_degree=max_neighbor_degree
    ).filter(F.col("common_neighbors") >= min_common)
    labels = spark.table("nodes").select(
        F.col("node_id"), F.col("node_label").alias("label")
    )
    return (
        scored.join(
            labels.select(
                F.col("node_id").alias("a"), F.col("label").alias("label_a")
            ),
            "a",
            "left",
        )
        .join(
            labels.select(
                F.col("node_id").alias("b"), F.col("label").alias("label_b")
            ),
            "b",
            "left",
        )
        .select(
            "a", "label_a", "b", "label_b", "common_neighbors",
            "adamic_adar", "resource_allocation", "preferential_attachment",
        )
        .orderBy(F.col("adamic_adar").desc(), "a", "b")
        .limit(k)
    )


def campaign_skeletons(
    spark: SparkSession, k: int = 4, min_edges: int = 3, max_iter: int = 20
) -> DataFrame:
    """Tight campaign skeletons: the k-truss of the undirected triple
    view, grouped into skeletons (connected components of the
    surviving edges, named by min node id). A k-truss edge sits in
    ≥ k−2 mutual triangles, so a skeleton is infrastructure whose
    members corroborate EACH OTHER — the actor↔malware↔C2 cores that
    survive when report-mention spokes are stripped away. Returns one
    row per surviving edge with its skeleton id, skeleton edge count
    (≥ min_edges), and in-truss support, biggest skeletons first; the
    ``truncated`` flag carries the k_truss backstop contract (if set,
    the skeleton set is a superset — never silently tight)."""
    from ..operators.graph_algos import connected_components, k_truss

    e = spark.table("triples").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    truss, truncated = k_truss(
        e, k=k, max_iter=max_iter, return_truncated=True
    )
    comp = connected_components(truss.select("a", "b"))
    sized = truss.join(
        comp.select(F.col("id").alias("a"), F.col("component").alias("skeleton_id")),
        "a",
    )
    counts = sized.groupBy("skeleton_id").agg(F.count("*").alias("skeleton_edges"))
    return (
        sized.join(counts.filter(F.col("skeleton_edges") >= min_edges), "skeleton_id")
        .withColumn("truncated", F.lit(truncated))
        .select("skeleton_id", "a", "b", "support", "skeleton_edges", "truncated")
        .orderBy(F.col("skeleton_edges").desc(), "skeleton_id", "a", "b")
    )


def graph_summary(spark: SparkSession) -> DataFrame:
    """The first-look card: one row of n_nodes / n_edges / avg_degree /
    max_degree / assortativity over the undirected triple view. A
    strongly negative assortativity (hubs touching leaves) is the
    mention-spoke signature; drifting toward 0/positive after
    `campaign_skeletons`-style stripping means the core is genuinely
    interlinked."""
    from ..operators.graph_algos import graph_stats

    return graph_stats(
        spark.table("triples").select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
    )


def infrastructure_by_block(
    spark: SparkSession, blocks: DataFrame, min_ips: int = 1
) -> DataFrame:
    """Roll the graph's observed IPv4 infrastructure up to network
    blocks: every IPv4 node (store ids are ``Ipv4_a_b_c_d``) enriched
    with its longest-prefix CIDR block, counted per block — "which
    networks is this campaign actually coming from", the ASN/geo view
    analysts pivot to after per-IP triage. ``blocks`` is a (cidr,
    label) dimension table (distinct cidrs)."""
    from ..operators.enrich import ip_cidr_enrich

    ips = (
        spark.table("nodes")
        .filter(F.col("node_id").startswith("Ipv4_"))
        .select(
            F.col("node_id"),
            F.regexp_replace(
                F.regexp_replace(F.col("node_id"), "^Ipv4_", ""), "_", "."
            ).alias("ip"),
        )
    )
    enriched = ip_cidr_enrich(ips, blocks)
    return (
        enriched.groupBy("cidr", "label")
        .agg(F.count("*").alias("n_ips"))
        .filter(F.col("n_ips") >= min_ips)
        .orderBy(F.col("n_ips").desc(), "cidr")
    )


def campaign_domains(spark: SparkSession, min_hosts: int = 1) -> DataFrame:
    """Roll the graph's Domain nodes up to registrable domains
    (eTLD+1): hostname-level nodes that share a registrant collapse to
    one campaign asset, while PSL'd platform subdomains (github.io,
    blogspot.com tenants) correctly stay separate. Store ids are
    ``Domain_<labels-joined-by-_>``; unlisted TLDs land in the NULL
    registrable bucket for triage rather than vanishing."""
    from ..operators.domains import registrable_domain

    hosts = (
        spark.table("nodes")
        .filter(F.col("node_id").startswith("Domain_"))
        .select(
            F.col("node_id"),
            F.regexp_replace(
                F.regexp_replace(F.col("node_id"), "^Domain_", ""), "_", "."
            ).alias("host"),
        )
    )
    return (
        registrable_domain(hosts)
        .groupBy("registrable", "suffix")
        .agg(F.count("*").alias("n_hosts"))
        .filter(F.col("n_hosts") >= min_hosts)
        .orderBy(F.col("n_hosts").desc(), "registrable")
    )


def dedicated_infrastructure(
    spark: SparkSession, k: int = 20, min_degree: int = 2
) -> DataFrame:
    """Tightly-knit infrastructure pockets: nodes whose neighborhoods
    are near-cliques (high local clustering coefficient at meaningful
    degree). A shared public resolver or a sinkhole touches many
    otherwise-unrelated entities (hub: high degree, LCC → 0); a
    dedicated campaign's assets all talk to EACH OTHER (LCC → 1) — the
    triage complement to ``report_hubs``. Ranked (lcc DESC, degree
    DESC, id); GDS analog: ``gds.localClusteringCoefficient``."""
    from ..operators.graph_algos import local_clustering_coefficient

    edges = spark.table("triples").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    return (
        local_clustering_coefficient(edges)
        .filter(F.col("degree") >= min_degree)
        .orderBy(F.col("lcc").desc(), F.col("degree").desc(), "id")
        .limit(k)
    )


def flagship_query(spark: SparkSession) -> DataFrame:
    """SURVEY.md §7: "Which infrastructure does each malware family
    communicate with, and which CVEs are exploited?"."""
    return spark.sql(
        """
        SELECT subj, pred, obj FROM triples
        WHERE pred IN ('COMMUNICATES_WITH', 'RESOLVES_TO', 'TARGETS')
        ORDER BY subj, pred, obj
        """
    )


def neighborhood_growth(
    spark: SparkSession, hops: int = 3, p: int = 6, k: int = 20
) -> DataFrame:
    """(id, est_ball, n_zero): the ``k`` nodes with the LARGEST
    estimated ``hops``-hop reachable sets over the undirected triple
    view — HyperANF (`operators/graph_algos.py::anf_ball_sizes`)
    surfaced to the pack. `blast_radius` answers "what can THIS node
    touch" exactly; this answers "which nodes could touch the MOST"
    for every node at once without |V| BFS sweeps — the prioritization
    pass that picks which blast_radius calls are worth running. Raw-HLL
    estimates (≈ ±1.04/√2^p relative error at p=6); the ranking, not
    the absolute count, is the analyst signal."""
    from ..operators.graph_algos import anf_ball_sizes

    balls = anf_ball_sizes(
        spark.table("triples").select("subj", "obj"),
        hops=hops,
        p=p,
        src="subj",
        dst="obj",
    )
    return (
        balls.select("id", "est_ball", "n_zero")
        .orderBy(F.col("est_ball").desc(), "id")
        .limit(k)
    )
