"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG query end-to-end on sf0.001.
``queries()``/``oracle_sql()`` pair every SQL-expressible operator from
SURVEY.md §2 with a DuckDB oracle. Strategy for the KG-specific operators:
the sf tables carry no IOCs, so several queries *construct* deterministic
CTI-shaped text from table keys (same arithmetic on both sides), run the
real Spark operator/kernel over it, while the oracle derives the expected
result analytically — an independent end-to-end check, not a replay.

Column names/aliases are kept identical between each query and its
oracle; doubles are rounded before comparison (sum-order differs across
engines).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from threat_intelligence_knowledge_graph_spark.operators.chunker import chunk_documents
from threat_intelligence_knowledge_graph_spark.operators.extraction import (
    extract_graph_records,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Constructed CTI corpus from `orders` (both engines build identical text).
# ---------------------------------------------------------------------------

def _cti_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("string")
    a = (F.col("o_orderkey") % 250).cast("string")
    b = ((F.col("o_orderkey") * 7) % 250).cast("string")
    c = ((F.col("o_orderkey") % 249) + 1).cast("string")
    text = F.concat(
        F.lit("The domain evil-"), k, F.lit(".example.net resolves to 10."),
        a, F.lit("."), b, F.lit("."), c, F.lit(" now. "),
        F.lit("Fetched https://evil-"), k, F.lit(".example.net/p"), k,
        F.lit(" today. "),
        F.lit("Order exploits CVE-2021-"),
        ((F.col("o_orderkey") % 9000) + 1000).cast("string"),
        F.lit(" and CVE-2017-0144 today."),
    )
    return o.select(k.alias("conv_id"), text.alias("doc_text"))


_CTI_TEXT_SQL = """
    SELECT cast(o_orderkey AS varchar) AS doc_id,
           'The domain evil-' || cast(o_orderkey AS varchar)
           || '.example.net resolves to 10.'
           || cast(o_orderkey % 250 AS varchar) || '.'
           || cast((o_orderkey * 7) % 250 AS varchar) || '.'
           || cast((o_orderkey % 249) + 1 AS varchar) || ' now. '
           || 'Fetched https://evil-' || cast(o_orderkey AS varchar)
           || '.example.net/p' || cast(o_orderkey AS varchar) || ' today. '
           || 'Order exploits CVE-2021-'
           || cast((o_orderkey % 9000) + 1000 AS varchar)
           || ' and CVE-2017-0144 today.' AS text
    FROM orders
"""

_IPV4_SIMPLE = r"(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_CVE_RX = r"CVE-[0-9]{4}-[0-9]{4,7}"

# Planted 30-node test graph shared by the k-core and harmonic-closeness
# entries AND their SQL oracles (one definition each side — an edit to
# the topology desynchronizing operator vs oracle was the r5 review's
# drift-trap finding): an open chain n0—n1—…—n24 plus region edges
# n_i—r_(i%5) for i < 10.
_CHAIN_REGION_EDGES_SQL = """
          SELECT 'n' || cast(n_nationkey AS varchar) AS src,
                 'n' || cast(n_nationkey + 1 AS varchar) AS dst
          FROM nation WHERE n_nationkey < 24
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'r' || cast(n_nationkey % 5 AS varchar)
          FROM nation WHERE n_nationkey < 10
"""


def _chain_region_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_CHAIN_REGION_EDGES_SQL`` (directed src→dst)."""
    nat = _t(spark, sf_dir, "nation").select("n_nationkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    chain = nat.filter(F.col("n_nationkey") < 24).select(
        nkey.alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 1).cast("string")).alias(
            "dst"
        ),
    )
    reg = nat.filter(F.col("n_nationkey") < 10).select(
        nkey.alias("src"),
        F.concat(F.lit("r"), (F.col("n_nationkey") % 5).cast("string")).alias(
            "dst"
        ),
    )
    return chain.union(reg)

def _html_to_text_oracle_sql() -> str:
    from threat_intelligence_knowledge_graph_spark.sources.html import (
        html_to_text_sql,
    )

    html_expr = (
        "'<html><head><style>body{color:red}</style></head><body>'"
        " || '<script>var x = 1 < 2;</script>'"
        " || '<article><h1>Report ' || cast(o_orderkey AS varchar) || '</h1>'"
        " || '<p>Priority &amp; status: ' || o_orderpriority"
        " || '</p><!-- hidden --><p>Customer &lt;'"
        " || cast(o_custkey AS varchar)"
        " || '&gt;</p></article>'"
        " || '<footer>ignored? no — body fallback only</footer></body></html>'"
    )
    return f"""
        SELECT o_orderkey AS doc_id,
               {html_to_text_sql(f"({html_expr})")} AS text
        FROM orders
    """


_KERNEL_NODES_SQL = """
    SELECT 'Domain' AS node_label,
           'Domain_Evil-' || cast(o_orderkey AS varchar) || '_Example_Net' AS node_id
    FROM orders
    UNION
    SELECT 'Ipv4' AS node_label,
           'Ipv4_10_' || cast(o_orderkey % 250 AS varchar) || '_'
             || cast((o_orderkey * 7) % 250 AS varchar) || '_'
             || cast((o_orderkey % 249) + 1 AS varchar) AS node_id
    FROM orders
    UNION
    SELECT 'Url' AS node_label,
           'Url_Https___Evil-' || cast(o_orderkey AS varchar)
             || '_Example_Net_P' || cast(o_orderkey AS varchar) AS node_id
    FROM orders
    UNION
    SELECT 'Vulnerability' AS node_label,
           'Vulnerability_Cve-2021-' || cast((o_orderkey % 9000) + 1000 AS varchar) AS node_id
    FROM orders
    UNION
    SELECT 'Vulnerability' AS node_label,
           'Vulnerability_Cve-2017-0144' AS node_id
    FROM orders
"""


def _uuid_sql(expr: str) -> str:
    """SQL for the UUID-shaped 8-4-4-4-12 rendering of md5(expr) — the
    oracle twin of operators/stix_export._uuidish."""
    h = f"md5({expr})"
    return (
        f"substr({h}, 1, 8) || '-' || substr({h}, 9, 4) || '-' || "
        f"substr({h}, 13, 4) || '-' || substr({h}, 17, 4) || '-' || "
        f"substr({h}, 21, 12)"
    )


_KERNEL_TRIPLES_SQL = """
    SELECT 'Domain_Evil-' || cast(o_orderkey AS varchar) || '_Example_Net' AS subj,
           'RESOLVES_TO' AS pred,
           'Ipv4_10_' || cast(o_orderkey % 250 AS varchar) || '_'
             || cast((o_orderkey * 7) % 250 AS varchar) || '_'
             || cast((o_orderkey % 249) + 1 AS varchar) AS obj
    FROM orders
    UNION
    SELECT 'Url_Https___Evil-' || cast(o_orderkey AS varchar)
             || '_Example_Net_P' || cast(o_orderkey AS varchar) AS subj,
           'CONTAINS' AS pred,
           'Domain_Evil-' || cast(o_orderkey AS varchar) || '_Example_Net' AS obj
    FROM orders
"""


# ---------------------------------------------------------------------------
# queries()
# ---------------------------------------------------------------------------

def q_kg_chunks(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text")
    )
    return chunk_documents(docs, 100, 10).select(
        F.col("conv_id").alias("doc_id"),
        "chunk_index",
        "total_chunks",
        "chunk_text",
    )


def q_kg_node_ids(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    node_type = (
        F.when(F.col("doc_id") % 3 == 0, "Domain")
        .when(F.col("doc_id") % 3 == 1, "IPv4")
        .otherwise("URL")
    )
    value = F.concat(
        F.lit("val-"), F.col("doc_id").cast("string"), F.lit("/x."),
        (F.col("doc_id") % 7).cast("string"),
    )
    return d.select(
        "doc_id",
        node_type.alias("node_type"),
        F.concat(
            F.lower(node_type), F.lit("_"),
            F.regexp_replace(value, r"[^a-zA-Z0-9_-]", "_"),
        ).alias("node_id"),
    )


def q_kg_ioc_typing(spark, sf_dir):
    from threat_intelligence_knowledge_graph_spark.rules.mappings import (
        IOC_TO_ENTITY_TYPE,
    )

    d = _t(spark, sf_dir, "documents")
    classes = ["domains", "md5s", "cves", "urls", "ipv4s", "not_a_class", "asns"]
    ioc_class = F.element_at(
        F.array(*[F.lit(c) for c in classes]), (F.col("doc_id") % 7 + 1).cast("int")
    )
    mapping = spark.createDataFrame(
        [(k, v) for k, v in IOC_TO_ENTITY_TYPE.items()], ["ioc_class", "node_type"]
    )
    mentions = d.select("doc_id", ioc_class.alias("ioc_class"))
    return mentions.join(F.broadcast(mapping), "ioc_class").select(
        "doc_id", "ioc_class", "node_type"
    )


def q_kg_cve_mentions(spark, sf_dir):
    docs = _cti_docs(spark, sf_dir)
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all("doc_text", F.lit(_CVE_RX), 0)
            ).alias("value")
        )
        .groupBy("value")
        .agg(F.count("*").alias("n_mentions"))
    )


def q_ioc_first_last_seen(spark, sf_dir):
    """IOC sighting window (MISP/OpenCTI first_seen/last_seen analog):
    per CVE value over the deterministic CTI corpus, the earliest and
    latest sighting date (o_orderdate as the document timestamp) and
    the distinct-document count. Pure Catalyst: regexp explode →
    groupBy(min, max, count distinct) — one keyed shuffle."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    docs = _cti_docs(spark, sf_dir).join(
        o.select(
            F.col("o_orderkey").cast("string").alias("conv_id"), "o_orderdate"
        ),
        "conv_id",
    )
    return (
        docs.select(
            "conv_id",
            "o_orderdate",
            F.explode(
                F.regexp_extract_all("doc_text", F.lit(_CVE_RX), 0)
            ).alias("value"),
        )
        .groupBy("value")
        .agg(
            F.min("o_orderdate").alias("first_seen"),
            F.max("o_orderdate").alias("last_seen"),
            F.countDistinct("conv_id").alias("n_docs"),
        )
    )


def q_kg_ipv4_mentions(spark, sf_dir):
    docs = _cti_docs(spark, sf_dir)
    return (
        docs.select(
            F.col("conv_id").alias("doc_id"),
            F.explode(
                F.regexp_extract_all("doc_text", F.lit(_IPV4_SIMPLE), 0)
            ).alias("value"),
        )
        .distinct()
    )


def q_kg_triples_from_kernel(spark, sf_dir):
    """Full extraction kernel over constructed text; the oracle predicts
    the triple set analytically (strongest end-to-end check)."""
    records = extract_graph_records(_cti_docs(spark, sf_dir))
    return (
        records.filter(F.col("kind") == "edge")
        .select(
            F.col("src_id").alias("subj"),
            F.col("rel_type").alias("pred"),
            F.col("dst_id").alias("obj"),
        )
        .distinct()
    )


def q_kg_nodes_from_kernel(spark, sf_dir):
    """Kernel node typing/canonicalization over constructed text; oracle
    predicts (label, id) rows analytically."""
    records = extract_graph_records(_cti_docs(spark, sf_dir))
    return (
        records.filter(F.col("kind") == "node")
        .select("node_label", "node_id")
        .distinct()
    )


def q_kg_llm_mock_triples(spark, sf_dir):
    """Full LLM-extractor plumbing (chunk dispatch → batch backend → JSON
    repair → stored records) with the deterministic mock backend over the
    constructed CTI corpus; every 3rd payload is truncated so the repair
    path runs inside the gate. Constructed docs are single-chunk, so the
    expected triples equal the kernel oracle's analytic prediction."""
    from threat_intelligence_knowledge_graph_spark.operators.extractors import (
        LlmExtractor,
        MockKernelBackend,
    )

    docs = _cti_docs(spark, sf_dir)  # (conv_id, doc_text), single-chunk texts
    ex = LlmExtractor("default", backend=MockKernelBackend(corrupt_every=3))
    records = ex.extract(docs)
    return (
        records.filter(F.col("kind") == "edge")
        .select(
            F.col("src_id").alias("subj"),
            F.col("rel_type").alias("pred"),
            F.col("dst_id").alias("obj"),
        )
        .distinct()
    )


def q_kg_edge_dedup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.concat(F.lit("part_"), F.col("l_partkey").cast("string")).alias("subj"),
            F.lit("SUPPLIED_BY").alias("pred"),
            F.concat(F.lit("supp_"), F.col("l_suppkey").cast("string")).alias("obj"),
        )
        .distinct()
    )


def q_kg_endpoint_semijoin(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nodes = cust.select(
        F.concat(F.lit("c_"), F.col("c_custkey").cast("string")).alias("node_id")
    )
    edges = o.select(
        F.concat(F.lit("c_"), F.col("o_custkey").cast("string")).alias("src_id"),
        F.concat(F.lit("c_"), (F.col("o_orderkey") % 3000).cast("string")).alias(
            "dst_id"
        ),
    ).distinct()
    return (
        edges.join(nodes, edges.src_id == nodes.node_id, "left_semi")
        .join(nodes, edges.dst_id == nodes.node_id, "left_semi")
    )


def _constructed_triples(spark, sf_dir):
    """Deterministic triple table from orders: customer -PLACED-> order
    -HANDLED-> priority-class node (two typed hops per order row)."""
    o = _t(spark, sf_dir, "orders")
    placed = o.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("subj"),
        F.lit("PLACED").alias("pred"),
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("obj"),
    )
    handled = o.select(
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("subj"),
        F.lit("HANDLED").alias("pred"),
        F.concat(F.lit("p_"), F.col("o_orderpriority")).alias("obj"),
    )
    return placed.unionByName(handled)


_CONSTRUCTED_TRIPLES_SQL = """
    SELECT 'c' || cast(o_custkey AS varchar) AS subj,
           'PLACED' AS pred,
           'o' || cast(o_orderkey AS varchar) AS obj
    FROM orders
    UNION ALL
    SELECT 'o' || cast(o_orderkey AS varchar) AS subj,
           'HANDLED' AS pred,
           'p_' || o_orderpriority AS obj
    FROM orders
"""


def q_kg_degrees(spark, sf_dir):
    """The graph-query interface (SURVEY §2 op 30) against a constructed
    triple view — per-node in/out/total degree via the real `degrees`
    function the Cypher-degree pattern maps to."""
    from threat_intelligence_knowledge_graph_spark.plans.graph_queries import degrees

    _constructed_triples(spark, sf_dir).createOrReplaceTempView("triples")
    return degrees(spark)


def q_kg_two_hop(spark, sf_dir):
    """Cypher `(a)-[PLACED]->(b)-[HANDLED]->(c)` via the real `two_hop`
    self-join over the constructed triple view."""
    from threat_intelligence_knowledge_graph_spark.plans.graph_queries import two_hop

    _constructed_triples(spark, sf_dir).createOrReplaceTempView("triples")
    return two_hop(spark, "PLACED", "HANDLED")


def q_kg_metrics_rollup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(F.col("event_type").alias("stage")).agg(
        F.count("*").alias("n_rows"),
        F.floor(F.sum("value")).cast("long").alias("total_value"),
    )


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.floor(F.sum("l_extendedprice")).cast("long").alias("sum_base_price"),
            F.floor(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).cast("long").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_customer_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.floor(F.sum("o_totalprice")).cast("long").alias("revenue"),
        )
    )


def q_events_user_windows(spark, sf_dir):
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


def q_events_sessionize(spark, sf_dir):
    from pyspark.sql.window import Window

    # One unix_micros conversion per row up front; both windows and the
    # final agg then work on the bigint (ordering by tsu ≡ ordering by
    # ts — the conversion is monotone — so the shared partition-local
    # sort, ONE Exchange + ONE Sort, is unchanged; re-pinned r5).
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
    )
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    gap = F.col("tsu") - F.lag("tsu").over(w)
    flagged = e.select(
        "user_id",
        "event_id",
        "tsu",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    w2 = Window.partitionBy("user_id").orderBy("tsu", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.select(
        "user_id", "event_id", "tsu", F.sum("new_session").over(w2).alias("session_id")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        ((F.max("tsu") - F.min("tsu")) / F.lit(1_000_000))
        .cast("long")
        .alias("duration_sec"),
    )


def q_top_parts_by_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        rev.join(F.broadcast(p), rev.l_partkey == p.p_partkey)
        .select(F.col("p_partkey").alias("partkey"), F.col("p_name").alias("part_name"), "revenue")
        .orderBy(F.col("revenue").desc(), F.col("partkey"))
        .limit(10)
    )


def q_html_to_text(spark, sf_dir):
    """URL/report ingestion path (reference main.py:136-142): extract
    readable text from constructed HTML — article-region pick, script
    strip, entity decode — as a pure Catalyst chain; the oracle runs the
    identical pinned spec in DuckDB SQL."""
    from threat_intelligence_knowledge_graph_spark.sources.html import html_to_text

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("string")
    html = F.concat(
        F.lit("<html><head><style>body{color:red}</style></head><body>"),
        F.lit("<script>var x = 1 < 2;</script>"),
        F.lit("<article><h1>Report "), k, F.lit("</h1>"),
        F.lit("<p>Priority &amp; status: "), F.col("o_orderpriority"),
        F.lit("</p><!-- hidden --><p>Customer &lt;"),
        F.col("o_custkey").cast("string"),
        F.lit("&gt;</p></article>"),
        F.lit("<footer>ignored? no — body fallback only</footer></body></html>"),
    )
    return o.select(
        F.col("o_orderkey").alias("doc_id"),
        html_to_text(html).alias("text"),
    )


def q_skew_hot_entities(spark, sf_dir):
    """Salted two-phase rollup (value-independent salt) over the
    constructed triple table — must equal a plain GROUP BY count."""
    from threat_intelligence_knowledge_graph_spark.operators.skew import (
        hot_entity_counts,
    )

    return hot_entity_counts(_constructed_triples(spark, sf_dir), n_salts=32)


def q_graph_connected_components(spark, sf_dir):
    """Connected components (min-id labeling) over a planted chain
    forest: every 11th orderkey contributes a 5-node path (diameter 4 —
    several propagation rounds, not a trivial star). The DuckDB oracle
    is an INDEPENDENT computation: a recursive-CTE transitive closure
    with min-reachable-id labeling."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        connected_components,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    base = o.select(
        (F.col("o_orderkey") * 5).alias("k5"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
    )
    edges = base.select(
        (F.col("k5") + F.col("i")).alias("a"),
        (F.col("k5") + F.col("i") + 1).alias("b"),
    )
    return connected_components(edges).select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    )


def _triangle_gadget_edges(spark, sf_dir):
    """Planted 3-clique + pendant-tail gadgets (one per 13th orderkey):
    edges (3k,3k+1), (3k+1,3k+2), (3k,3k+2), (3k+2,3k+3) as (src, dst)
    — shared by the triangle-count and clustering-coefficient entries."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    k3 = (F.col("o_orderkey") * 3).alias("k3")
    return (
        o.select(k3, F.explode(F.array(
            F.struct(F.lit(0).alias("i"), F.lit(1).alias("j")),
            F.struct(F.lit(1).alias("i"), F.lit(2).alias("j")),
            F.struct(F.lit(0).alias("i"), F.lit(2).alias("j")),
            F.struct(F.lit(2).alias("i"), F.lit(3).alias("j")),
        )).alias("p"))
        .select(
            (F.col("k3") + F.col("p.i")).alias("src"),
            (F.col("k3") + F.col("p.j")).alias("dst"),
        )
    )


def q_graph_triangle_count(spark, sf_dir):
    """Per-node triangle membership (GDS triangleCount shape): every
    13th orderkey plants a 3-clique plus a pendant tail node (1 triangle
    per clique corner, 0 for the tail). Oracle: an independent canonical
    ordered-edge three-way join in SQL."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        triangle_count,
    )

    e = _triangle_gadget_edges(spark, sf_dir)
    return triangle_count(e).select(
        F.col("id").cast("long").alias("id"),
        F.col("triangles").cast("long").alias("triangles"),
    )


def q_graph_node_similarity(spark, sf_dir):
    """Neighbor-set Jaccard between parts sharing suppliers (GDS
    nodeSimilarity shape) over the lineitem part→supplier bipartite
    graph (every 20th part). Fully SQL-expressible: intersection from
    the shared-neighbor self-join, union from degree arithmetic."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        node_similarity,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 20 == 0)
    edges = li.select(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    return node_similarity(edges, threshold=0.2).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_graph_link_prediction(spark, sf_dir):
    """Shared-neighbor link prediction (GDS alpha linkprediction.*
    family: commonNeighbors / adamicAdar / resourceAllocation /
    preferentialAttachment, all four as columns) over planted per-order
    star gadgets: every 23rd orderkey k gets nodes o{k}_0..o{k}_4 with
    hub edges 0-{1,2,3,4} plus leaf edge 1-2. The open wedges through
    the hub are the predicted pairs; (1,2) is adjacent and must be
    anti-joined away. Fully SQL-expressible: the same through-node
    self-join + degree arithmetic as the node-similarity oracle."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        link_prediction,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 23 == 0)
    node = lambda i: F.concat(  # noqa: E731
        F.lit("o"), F.col("o_orderkey").cast("string"), F.lit(f"_{i}")
    )
    pairs = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)]
    edges = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(node(a).alias("src"), node(b).alias("dst"))
                    for a, b in pairs
                ]
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return link_prediction(edges).select(
        "a",
        "b",
        "common_neighbors",
        F.round("adamic_adar", 6).alias("adamic_adar"),
        F.round("resource_allocation", 6).alias("resource_allocation"),
        "preferential_attachment",
    )


def q_graph_label_propagation(spark, sf_dir):
    """Deterministic synchronous LPA (4 iterations, min-label ties)
    over planted 4-cliques (every 17th orderkey → nodes 4k..4k+3). With
    init labels = ids and a fixed iteration count the update is a pure
    recurrence; the oracle unrolls the identical join + count + argmax
    per iteration."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        label_propagation,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 17 == 0)
    k4 = (F.col("o_orderkey") * 4).alias("k4")
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    e = (
        o.select(
            k4,
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                        for a, b in pairs
                    ]
                )
            ).alias("p"),
        )
        .select(
            (F.col("k4") + F.col("p.a")).alias("src"),
            (F.col("k4") + F.col("p.b")).alias("dst"),
        )
    )
    return label_propagation(e, iterations=4).select(
        F.col("id").cast("long").alias("id"),
        F.col("label").cast("long").alias("label"),
    )


def q_graph_bfs_distances(spark, sf_dir):
    """Directed BFS hop distances from n0 over the planted nation graph
    (the PageRank topology: 25-cycle over n-nodes + nation→region sink
    edges). With deterministic topology the min-hop distances are a
    fixed point the recursive-CTE oracle reaches by enumerating walks
    (UNION-dedup bounds the recursion on the cycle)."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        bfs_distances,
    )

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    cyc = nat.select(
        nkey.alias("src"),
        F.concat(
            F.lit("n"), ((F.col("n_nationkey") + 1) % 25).cast("string")
        ).alias("dst"),
    )
    reg = nat.select(
        nkey.alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    edges = cyc.unionByName(reg)
    sources = spark.createDataFrame([("n0",)], ["id"])
    return bfs_distances(edges, sources, max_hops=30)


def q_graph_anf(spark, sf_dir):
    """HyperANF (Boldi/Rosa/Vigna) 2-hop ball-size estimates for every
    node of the planted nation graph (undirected 25-cycle +
    nation–region edges), p=4 → 16 registers per node. The whole
    recurrence — md5 register routing, integer-comparison leading-1
    ranks, registerwise-max merges over neighbors, and the
    scaled-integer harmonic sum — is exact integer arithmetic, so the
    row-based DuckDB unroll lands on the identical per-node witness
    (`s_scaled`); the one float op is the final division, identical in
    both engines (raw-HLL estimate, no small-range correction, per
    operators/sketches.py)."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        anf_ball_sizes,
    )

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    cyc = nat.select(
        nkey.alias("src"),
        F.concat(
            F.lit("n"), ((F.col("n_nationkey") + 1) % 25).cast("string")
        ).alias("dst"),
    )
    reg = nat.select(
        nkey.alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    return anf_ball_sizes(cyc.unionByName(reg), hops=2, p=4)


def q_table_checks(spark, sf_dir):
    """Declarative data-quality suite over orders — 5 constraints in ONE
    aggregation pass (deequ-style expectations for pipeline outputs)."""
    from threat_intelligence_knowledge_graph_spark.operators.quality_checks import (
        in_range,
        in_set,
        matches,
        not_null,
        run_checks,
        unique,
    )

    o = _t(spark, sf_dir, "orders")
    return run_checks(
        o,
        [
            not_null("o_orderkey"),
            unique("o_orderkey"),
            in_set("o_orderstatus", ["O", "F", "P"]),
            in_range("o_totalprice", 0.0, 1e9),
            matches("o_orderpriority", r"^[1-5]-"),
        ],
    )


def q_graph_pagerank(spark, sf_dir):
    """PageRank (3 synchronous power steps, d=0.85) over a planted
    30-node graph derived from `nation`: a 25-cycle over n-nodes plus
    nation→region edges (the 5 r-nodes are dangling sinks, exercising
    dangling-mass redistribution). With a fixed iteration count the
    update is a deterministic float recurrence, so the DuckDB oracle
    unrolls the identical arithmetic; both sides round to 9 decimals
    (summation-order noise is ~1e-17)."""
    from threat_intelligence_knowledge_graph_spark.operators.pagerank import (
        pagerank,
    )

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    cyc = nat.select(
        nkey.alias("src_id"),
        F.concat(
            F.lit("n"), ((F.col("n_nationkey") + 1) % 25).cast("string")
        ).alias("dst_id"),
    )
    reg = nat.select(
        nkey.alias("src_id"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst_id"),
    )
    ranks = pagerank(cyc.union(reg), iterations=3, damping=0.85)
    return ranks.select("id", F.round("rank", 9).alias("rank"))


def q_graph_pagerank_weighted(spark, sf_dir):
    """Weighted PageRank (GDS relationshipWeightProperty analog, 3
    steps, d=0.85) over the same planted nation graph as
    q_graph_pagerank, with integer edge weights (cycle edge u→v weighs
    1 + (n_nationkey % 3); nation→region edges weigh 2). Rank flows in
    proportion to weight / out-weight-sum; the DuckDB oracle unrolls
    the identical float recurrence (both sides round to 9 decimals)."""
    from threat_intelligence_knowledge_graph_spark.operators.pagerank import (
        pagerank,
    )

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    cyc = nat.select(
        nkey.alias("src_id"),
        F.concat(
            F.lit("n"), ((F.col("n_nationkey") + 1) % 25).cast("string")
        ).alias("dst_id"),
        (F.lit(1) + F.col("n_nationkey") % 3).cast("double").alias("wt"),
    )
    reg = nat.select(
        nkey.alias("src_id"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst_id"),
        F.lit(2.0).alias("wt"),
    )
    ranks = pagerank(
        cyc.union(reg), iterations=3, damping=0.85, weight="wt"
    )
    return ranks.select("id", F.round("rank", 9).alias("rank"))


def q_graph_pagerank_personalized(spark, sf_dir):
    """Personalized PageRank (GDS sourceNodes analog, 3 steps, d=0.85)
    over the same planted nation graph as q_graph_pagerank, teleporting
    to seeds {n0, n12, r2} (r2 is a dangling sink — dangling mass
    returns to the seeds, not uniformly). rank⁰ = t; rank'(v) =
    (1-d)·t(v) + d·(Σ contribs + dangling·t(v)). The DuckDB oracle
    unrolls the identical float recurrence with the seeded teleport
    vector; both sides round to 9 decimals."""
    from threat_intelligence_knowledge_graph_spark.operators.pagerank import (
        pagerank,
    )

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    cyc = nat.select(
        nkey.alias("src_id"),
        F.concat(
            F.lit("n"), ((F.col("n_nationkey") + 1) % 25).cast("string")
        ).alias("dst_id"),
    )
    reg = nat.select(
        nkey.alias("src_id"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst_id"),
    )
    ranks = pagerank(
        cyc.union(reg), iterations=3, damping=0.85, seeds=["n0", "n12", "r2"]
    )
    return ranks.select("id", F.round("rank", 9).alias("rank"))


def _cypher_graph(spark, sf_dir):
    """Planted node/edge store for the Cypher-lite entries: every 31st
    orderkey k gets Malware m{k} (props name=mal{k}, size=k%10), two
    Domains a{k}/b{k} (.evil.net names), an Ipv4, and edges
    m→COMMUNICATES_WITH→both domains + a{k}→RESOLVES_TO→ip{k}."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 31 == 0)
    k = F.col("o_orderkey").cast("string")
    size = (F.col("o_orderkey") % 10).cast("string")

    def node(label, nid, name, with_size=False):
        props = [F.lit("name"), name]
        if with_size:
            props += [F.lit("size"), size]
        return o.select(
            F.lit(label).alias("node_label"),
            nid.alias("node_id"),
            F.create_map(*props).alias("properties"),
        )

    m_id = F.concat(F.lit("m"), k)
    da_id = F.concat(F.lit("da"), k)
    db_id = F.concat(F.lit("db"), k)
    ip_id = F.concat(F.lit("ip"), k)
    nodes = (
        node("Malware", m_id, F.concat(F.lit("mal"), k), with_size=True)
        .unionByName(node("Domain", da_id, F.concat(F.lit("a"), k, F.lit(".evil.net"))))
        .unionByName(node("Domain", db_id, F.concat(F.lit("b"), k, F.lit(".evil.net"))))
        .unionByName(node("Ipv4", ip_id, F.lit("10.0.0.1")))
    )

    def edge(sl, sid, rt, dl, did):
        return o.select(
            F.lit(sl).alias("src_label"),
            sid.alias("src_id"),
            F.lit(rt).alias("rel_type"),
            F.lit(dl).alias("dst_label"),
            did.alias("dst_id"),
        )

    edges = (
        edge("Malware", m_id, "COMMUNICATES_WITH", "Domain", da_id)
        .unionByName(edge("Malware", m_id, "COMMUNICATES_WITH", "Domain", db_id))
        .unionByName(edge("Domain", da_id, "RESOLVES_TO", "Ipv4", ip_id))
    )
    return nodes, edges


def q_cypher_match_filter(spark, sf_dir):
    """Cypher-lite translation end-to-end: label + property-map scans,
    a typed directed hop, numeric weak-typed WHERE and STARTS WITH —
    the ad-hoc MATCH surface the reference exposes as a raw Neo4j
    pass-through (reference neo4j_store.py:175-208). The oracle
    replays the planted-graph semantics directly in SQL."""
    from threat_intelligence_knowledge_graph_spark.plans.cypher_lite import (
        cypher_query,
    )

    nodes, edges = _cypher_graph(spark, sf_dir)
    return cypher_query(
        spark,
        "MATCH (m:Malware)-[r:COMMUNICATES_WITH]->(d:Domain) "
        "WHERE m.size > 5 AND d.name STARTS WITH 'a' "
        "RETURN m AS malware, d.name AS domain",
        nodes=nodes,
        edges=edges,
    )


def q_cypher_two_hop_count(spark, sf_dir):
    """Cypher-lite two-hop chain + implicit aggregation grouping
    (RETURN m.size, count(*)) over the planted store — Cypher's
    GROUP-BY-what-you-didn't-aggregate rule translated to a
    groupBy/agg."""
    from threat_intelligence_knowledge_graph_spark.plans.cypher_lite import (
        cypher_query,
    )

    nodes, edges = _cypher_graph(spark, sf_dir)
    return cypher_query(
        spark,
        "MATCH (m:Malware)-[:COMMUNICATES_WITH]->(d:Domain)"
        "-[:RESOLVES_TO]->(i:Ipv4) "
        "RETURN m.size AS size, count(*) AS n",
        nodes=nodes,
        edges=edges,
    )


def q_graph_diameter(spark, sf_dir):
    """Two-sweep (double-BFS) diameter lower bound over the planted
    chain+region graph, undirected. Deterministic end to end: seed =
    min node id, each sweep's far node = min-id among max-dist, so the
    DuckDB oracle replays the identical two recursive-CTE walks with
    the same ORDER BY dist DESC, id LIMIT 1 picks. max_hops=60 on a
    30-node graph can never truncate, so the flag is analytically
    false on both sides."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        diameter_two_sweep,
    )

    return diameter_two_sweep(_chain_region_edges(spark, sf_dir), max_hops=60)


def q_graph_stats(spark, sf_dir):
    """One-row graph summary card (n_nodes/n_edges/avg_degree/
    max_degree/Newman assortativity) over the planted chain+region
    graph. Every term is a sum over edges/degrees, so the oracle is the
    identical arithmetic in SQL; round-6 on the two ratios."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        graph_stats,
    )

    return graph_stats(_chain_region_edges(spark, sf_dir))


def q_graph_kcore(spark, sf_dir):
    """k-core membership (k=2) over a planted 30-node graph from
    `nation`: an open chain n0—n1—…—n24 plus region edges n_i—r_(i%5)
    for i<10. n24 has degree 1, so synchronous peeling cascades one
    chain node per round from the n24 end (15 rounds to fixpoint —
    deep-loop exercise); the surviving core is {n0..n9, r0..r4} with
    in-core degrees. The peel update is set-valued and deterministic,
    so the DuckDB oracle unrolls the same recurrence (20 rounds — no-op
    past the fixpoint) and both sides agree exactly."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        k_core,
    )

    return k_core(_chain_region_edges(spark, sf_dir), k=2, max_iter=20)


def _truss_gadget_edges(spark, sf_dir):
    """Planted truss gadgets: every 29th orderkey k gets nodes
    g{k}_0..g{k}_8 with a K4 core {0,1,2,3}, a side triangle {3,4,5},
    a pendant edge 5—6, a hanging triangle {0,1,7} and a second-tier
    triangle {0,7,8}. Under k=4 (support ≥ 2) the peel CASCADES:
    round 1 drops (0,8),(7,8),(1,7),(5,6) and the side-triangle edges,
    round 2 drops (0,7) — whose only support, the {0,7,8}/{0,1,7}
    wedges, died in round 1 — leaving exactly the K4 with in-truss
    support 2 per edge. Multi-round edge-wise peel, analytically
    exact."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 29 == 0)
    node = lambda i: F.concat(  # noqa: E731
        F.lit("g"), F.col("o_orderkey").cast("string"), F.lit(f"_{i}")
    )
    pairs = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (3, 4), (3, 5), (4, 5), (5, 6),
        (0, 7), (1, 7), (0, 8), (7, 8),
    ]
    return o.select(
        F.explode(
            F.array(
                *[
                    F.struct(node(a).alias("src"), node(b).alias("dst"))
                    for a, b in pairs
                ]
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def q_graph_ktruss(spark, sf_dir):
    """4-truss (every edge in ≥ 2 in-truss triangles) over the planted
    cascade gadgets — see _truss_gadget_edges for why the peel takes
    two genuine rounds. The synchronous edge-peel update is set-valued
    and deterministic, so the DuckDB oracle unrolls the identical
    wedge-join + coalesce-0 + filter recurrence (6 rounds, no-op past
    the fixpoint) and both sides agree exactly, including the
    converged in-truss ``support`` column."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        k_truss,
    )

    return k_truss(_truss_gadget_edges(spark, sf_dir), k=4, max_iter=10)


def q_graph_harmonic_closeness(spark, sf_dir):
    """Harmonic centrality over the planted chain+region graph (the
    q_graph_kcore topology) from seeds {n0, n5, r2}: one per-source BFS
    sweep (all seeds advance in the same loop) + Σ 1/d, rounded to 6
    BEFORE comparison. Oracle = recursive-CTE walk per seed."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        harmonic_closeness,
    )

    seeds = spark.createDataFrame([("n0",), ("n5",), ("r2",)], ["id"])
    return harmonic_closeness(
        _chain_region_edges(spark, sf_dir), seeds, max_hops=30
    )


def q_graph_sssp_weighted(spark, sf_dir):
    """Weighted single-source shortest paths (frontier Bellman–Ford)
    over a planted weighted DAG from `nation`: chain n_i→n_{i+1} with
    weight (i%3)+1 plus shortcut n_i→n_{i+5} weight 3 for i%5==0 —
    shortest paths genuinely mix shortcuts and chain tails. Integer
    weights in doubles → every distance exact; oracle = unrolled
    Bellman–Ford recurrence (12 rounds, fixpoint-safe no-ops past the
    longest shortest path's 8 edges)."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        sssp_weighted,
    )

    nat = _t(spark, sf_dir, "nation").select("n_nationkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    chain = nat.filter(F.col("n_nationkey") < 24).select(
        nkey.alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 1).cast("string")).alias(
            "dst"
        ),
        ((F.col("n_nationkey") % 3) + 1).cast("double").alias("weight"),
    )
    cuts = nat.filter(
        (F.col("n_nationkey") % 5 == 0) & (F.col("n_nationkey") < 20)
    ).select(
        nkey.alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 5).cast("string")).alias(
            "dst"
        ),
        F.lit(3.0).alias("weight"),
    )
    src = spark.createDataFrame([("n0",)], ["id"])
    return sssp_weighted(chain.union(cuts), src, max_iter=12)


def q_graph_betweenness(spark, sf_dir):
    """Sampled Brandes betweenness over a planted directed graph from
    `nation`: chain n0→…→n11, parallel rails n_i→p_i→n_{i+2} at
    i∈{2,6} (σ doubles past each rail — exercises path counting), and
    region sinks n_i→r_(i%3) for i<6; sources {n0, n4}. Oracle =
    the same forward-σ/backward-δ recurrence unrolled level by level
    (13 levels, fixpoint-safe empties past the 11-deep chain)."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        betweenness,
    )

    nat = _t(spark, sf_dir, "nation").select("n_nationkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    chain = nat.filter(F.col("n_nationkey") < 11).select(
        nkey.alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 1).cast("string")).alias("dst"),
    )
    rail_out = nat.filter(F.col("n_nationkey").isin(2, 6)).select(
        nkey.alias("src"),
        F.concat(F.lit("p"), F.col("n_nationkey").cast("string")).alias("dst"),
    )
    rail_in = nat.filter(F.col("n_nationkey").isin(2, 6)).select(
        F.concat(F.lit("p"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 2).cast("string")).alias("dst"),
    )
    sinks = nat.filter(F.col("n_nationkey") < 6).select(
        nkey.alias("src"),
        F.concat(F.lit("r"), (F.col("n_nationkey") % 3).cast("string")).alias("dst"),
    )
    edges = chain.union(rail_out).union(rail_in).union(sinks)
    srcs = spark.createDataFrame([("n0",), ("n4",)], ["id"])
    return betweenness(edges, srcs, max_hops=13)


def q_ip_cidr_enrich(spark, sf_dir):
    """IP→CIDR block enrichment with longest-prefix match: the IOC
    corpus's 10.a.b.c addresses against 25 /16 blocks (from nation)
    plus a covering 10.0.0.0/8 — every IP matches the /8, a < 25 also
    matches its /16 and the routing rule must pick it. The bucketized
    containment join runs Spark-side; the oracle is DuckDB's native
    inequality join + window — an independent plan."""
    from threat_intelligence_knowledge_graph_spark.operators.enrich import (
        ip_cidr_enrich,
    )

    o = _t(spark, sf_dir, "orders")
    ips = o.select(
        F.col("o_orderkey").alias("ip_id"),
        F.concat(
            F.lit("10."),
            (F.col("o_orderkey") % 250).cast("string"),
            F.lit("."),
            ((F.col("o_orderkey") * 7) % 250).cast("string"),
            F.lit("."),
            ((F.col("o_orderkey") % 249) + 1).cast("string"),
        ).alias("ip"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.concat(
            F.lit("10."), F.col("n_nationkey").cast("string"), F.lit(".0.0/16")
        ).alias("cidr"),
        F.concat(F.lit("net-"), F.col("n_nationkey").cast("string")).alias(
            "label"
        ),
    )
    corp = spark.createDataFrame([("10.0.0.0/8", "corp")], ["cidr", "label"])
    return ip_cidr_enrich(ips, nat.union(corp)).select(
        "ip_id", "ip", "cidr", "label"
    )


def q_bloom_prefilter(spark, sf_dir):
    """Bloom-filter semi-join pruning end-to-end: build a deliberately
    tight 4096-bit / 3-hash filter over the o_orderkey%7 member set,
    probe EVERY orderkey. The md5 hash family is engine-portable, so
    the false positives — the probabilistic part — match bit-for-bit;
    members are always True (no false negatives, pytest-asserted)."""
    from threat_intelligence_knowledge_graph_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    o = _t(spark, sf_dir, "orders")
    members = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").cast("string").alias("k")
    )
    bloom = bloom_build(members, "k", m_bits=4096, k=3)
    probes = o.select(
        F.col("o_orderkey").alias("key_id"),
        F.col("o_orderkey").cast("string").alias("k"),
    )
    return bloom_might_contain(probes, bloom, "k", m_bits=4096, k=3).select(
        "key_id", "might_contain"
    )


def q_domain_registrable(spark, sf_dir):
    """eTLD+1 rollup over constructed hostnames covering every PSL
    branch (depth-2 suffix, depth-1, PSL'd platform subdomain,
    unlisted TLD → NULLs, bare suffix → NULL registrable). The Spark
    side runs the real longest-suffix operator; the oracle derives the
    answer analytically per case — independent, not a replay."""
    from threat_intelligence_knowledge_graph_spark.operators.domains import (
        registrable_domain,
    )

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("string")
    m = F.col("o_orderkey") % 5
    host = (
        F.when(m == 0, F.concat(F.lit("www.evil-"), k, F.lit(".co.uk")))
        .when(m == 1, F.concat(F.lit("cdn.evil-"), k, F.lit(".com")))
        .when(m == 2, F.concat(F.lit("u"), k, F.lit(".github.io")))
        .when(m == 3, F.concat(F.lit("evil-"), k, F.lit(".zz")))
        .otherwise(F.lit("github.io"))
    )
    hosts = o.select(F.col("o_orderkey").alias("host_id"), host.alias("host"))
    return registrable_domain(hosts)


def q_cms_user_counts(spark, sf_dir):
    """Count-min sketch end-to-end: build a deliberately tight 3×32
    sketch over events.user_id (collisions guaranteed at sf0.01), then
    point-estimate every distinct user and pair with the exact count.
    The md5_number_upper hash family makes every cell bit-identical on
    both engines, so collisions — the interesting part — match too;
    est ≥ exact always (pytest asserts the guarantee)."""
    from threat_intelligence_knowledge_graph_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    e = _t(spark, sf_dir, "events").select("user_id")
    sketch = cms_build(e, "user_id", depth=3, width=32)
    est = cms_estimate(sketch, e.distinct(), "user_id", depth=3, width=32)
    exact = e.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    return est.join(exact, "user_id").select(
        "user_id", "cms_count", "exact_count"
    )


def q_graph_scc(spark, sf_dir):
    """Strongly connected components over a planted directed motif per
    sampled orderkey (10 nodes: a 3-cycle feeding a chain into a
    2-cycle, plus a diamond whose sink node's forward color class root
    is NOT backward-reachable — that node resolves only in coloring
    round 2, so the outer loop is genuinely exercised). The oracle
    computes mutual reachability independently via a recursive-CTE
    transitive closure; scc_id = min node id of the component on both
    sides."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    pairs = [
        (0, 1), (1, 2), (2, 0),          # 3-cycle
        (2, 3), (3, 4), (4, 5), (5, 4),  # chain into a 2-cycle
        (6, 8), (6, 9), (8, 7), (9, 7),  # diamond: 7 needs round 2
    ]
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                for a, b in pairs
            ]
        )
    )
    edges = (
        o.select((F.col("o_orderkey") * 10).alias("base"), offs.alias("p"))
        .select(
            (F.col("base") + F.col("p.a")).alias("src"),
            (F.col("base") + F.col("p.b")).alias("dst"),
        )
    )
    return strongly_connected_components(edges)


def q_graph_random_walks(spark, sf_dir):
    """Deterministic hash-seeded random walks (node2vec/DeepWalk
    sampling) over the symmetrized chain+region graph: 2 walks per
    node, 4 steps, next hop = argmin md5(walk_id|step|neighbor). The
    hash draw makes the 'random' choice a pure function both engines
    compute identically — the oracle unrolls the 4 steps with DuckDB's
    arg_min over the same md5 key."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        random_walks,
    )

    e0 = _chain_region_edges(spark, sf_dir)
    e = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return random_walks(e, walk_length=4, walks_per_node=2).select(
        "walk_id", F.col("start").alias("start_id"), "step", "node"
    )


def q_graph_walk_pmi(spark, sf_dir):
    """Sparse PPMI node embedding from the deterministic walks
    (Levy & Goldberg 2014: SGNS factorizes shifted PPMI, so the PPMI
    rows ARE the embedding — no SGD, no RNG). Same symmetrized
    chain+region graph and walk parameters as graph_random_walks; the
    oracle reuses the unrolled walk CTE, pairs in-walk positions at
    distance <= 2, and applies the identical integer-exact positivity
    test before the (rounded) float ln."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        walk_pmi_embedding,
    )

    e0 = _chain_region_edges(spark, sf_dir)
    e = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return walk_pmi_embedding(e, walk_length=4, walks_per_node=2, window=2)


def q_graph_hits(spark, sf_dir):
    """HITS hubs & authorities (3 synchronous L2-normalized steps,
    GDS gds.hits analog) over the planted directed nation graph of
    q_graph_pagerank (25-cycle over n-nodes + nation→region edges; the
    5 r-nodes have no out-edges → hub 0, exercising the zero-row
    coalesce). With a fixed iteration count the update is a
    deterministic float recurrence (sum, divide, sqrt are all exactly
    rounded), so the DuckDB oracle unrolls the identical arithmetic;
    both sides round to 9 decimals (summation-order noise ~1e-16)."""
    from threat_intelligence_knowledge_graph_spark.operators.hits import hits

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    cyc = nat.select(
        nkey.alias("src_id"),
        F.concat(
            F.lit("n"), ((F.col("n_nationkey") + 1) % 25).cast("string")
        ).alias("dst_id"),
    )
    reg = nat.select(
        nkey.alias("src_id"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst_id"),
    )
    scores = hits(cyc.union(reg), iterations=3)
    return scores.select(
        "id", F.round("hub", 9).alias("hub"), F.round("auth", 9).alias("auth")
    )


def q_graph_katz(spark, sf_dir):
    """Truncated Katz centrality (3 affine steps, α=0.1, β=1) over the
    planted directed nation graph of q_graph_hits — pure affine float
    recurrence, so the DuckDB oracle unrolls the identical arithmetic;
    both sides round to 6 (summation-order noise ~1e-16)."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        katz_centrality,
    )

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    cyc = nat.select(
        nkey.alias("src"),
        F.concat(
            F.lit("n"), ((F.col("n_nationkey") + 1) % 25).cast("string")
        ).alias("dst"),
    )
    reg = nat.select(
        nkey.alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    return katz_centrality(cyc.union(reg), iterations=3)


def q_kmv_distinct_users(spark, sf_dir):
    """KMV distinct-count sketch (k=256) over events.user_id: the k
    smallest md5-family hashes of the distinct keys + the classic
    (k-1)·2^64/h_(k) estimate. The md5 hash family is bit-identical
    across engines, so the sketch contents AND the estimate (double
    division of the same two exact values) match the oracle exactly."""
    from threat_intelligence_knowledge_graph_spark.operators.sketches import (
        kmv_build,
        kmv_estimate,
    )

    ev = _t(spark, sf_dir, "events").select("user_id")
    return kmv_estimate(kmv_build(ev, "user_id", k=256), k=256)


def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity over the planted 3-clique+pendant gadgets:
    identical disjoint gadgets make the coefficient analytic and
    gadget-count-invariant (r = -20/28 = -0.714286 — the hub-to-leaf
    C2-star signature). Exact bigint sums, ONE round-6 division."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        degree_assortativity,
    )

    return degree_assortativity(_triangle_gadget_edges(spark, sf_dir))


def q_stix_objects(spark, sf_dir):
    """STIX 2.1 SDO/SCO skeleton export of the kernel's node set over
    the constructed CTI corpus: store label → STIX type, id =
    '<type>--<uuid-shaped md5(node_id)>' (deterministic content-derived
    ids, re-export-stable). Oracle: the analytic node-set SQL projected
    through the same CASE mapping + md5 formatting."""
    from threat_intelligence_knowledge_graph_spark.operators.stix_export import (
        stix_objects,
    )

    records = extract_graph_records(_cti_docs(spark, sf_dir))
    nodes = (
        records.filter(F.col("kind") == "node")
        .select("node_label", "node_id")
        .distinct()
    )
    return stix_objects(nodes)


def q_stix_relationships(spark, sf_dir):
    """STIX SRO export of the kernel's edge set (RESOLVES_TO /
    CONTAINS over the CTI corpus): relationship_type = store rel
    lowered with '_'→'-', refs derived exactly as q_stix_objects, SRO
    id hashes the full (src, rel, dst) identity."""
    from threat_intelligence_knowledge_graph_spark.operators.stix_export import (
        stix_relationships,
    )

    records = extract_graph_records(_cti_docs(spark, sf_dir))
    edges = (
        records.filter(F.col("kind") == "edge")
        .select("src_label", "src_id", "rel_type", "dst_label", "dst_id")
        .distinct()
    )
    return stix_relationships(edges)


def q_hll_distinct_users(spark, sf_dir):
    """HyperLogLog sketch (p=6, 64 registers) over events.user_id:
    fixed-size distinct-count state that merges by registerwise max —
    the per-partition/per-day cube shape KMV's k-row sketch doesn't
    give. The md5 hash family, register routing, leading-1 ranks, and
    the SCALED-INTEGER harmonic sum (2^(59-M) terms, exact in
    decimal/HUGEINT) are all integer-exact cross-engine; the single
    float op is the final division, identical in both."""
    from threat_intelligence_knowledge_graph_spark.operators.sketches import (
        hll_build,
        hll_estimate,
    )

    ev = _t(spark, sf_dir, "events").select("user_id")
    return hll_estimate(hll_build(ev, "user_id", p=6), p=6)


def q_cypher_optional_match(spark, sf_dir):
    """Cypher-lite OPTIONAL MATCH: the required Domain scan keeps every
    row and the optional RESOLVES_TO hop LEFT-joins in — unresolved
    domains (the planted b{k} family has no RESOLVES_TO edge) surface
    with a NULL ip, exactly Neo4j's unmatched-optional semantics. The
    oracle replays the planted-graph construction in SQL."""
    from threat_intelligence_knowledge_graph_spark.plans.cypher_lite import (
        cypher_query,
    )

    nodes, edges = _cypher_graph(spark, sf_dir)
    return cypher_query(
        spark,
        "MATCH (d:Domain) OPTIONAL MATCH (d)-[r:RESOLVES_TO]->(i:Ipv4) "
        "RETURN d.name AS domain, i AS ip",
        nodes=nodes,
        edges=edges,
    )


def q_cypher_var_length(spark, sf_dir):
    """Cypher-lite bounded variable-length hop: (m:Malware)-[*1..2]->(x)
    over the planted graph — one row per relationship-unique path
    (len 1: both COMMUNICATES_WITH domains; len 2: the ip reached via
    a{k}'s RESOLVES_TO). The oracle enumerates the planted paths
    analytically."""
    from threat_intelligence_knowledge_graph_spark.plans.cypher_lite import (
        cypher_query,
    )

    nodes, edges = _cypher_graph(spark, sf_dir)
    return cypher_query(
        spark,
        "MATCH (m:Malware)-[*1..2]->(x) RETURN m.name AS mal, x AS target",
        nodes=nodes,
        edges=edges,
    )


def _louvain_barbell_edges(spark, sf_dir):
    """Planted Louvain barbell from `nation`: two 12-cliques (keys
    0-11, 12-23) joined by the single bridge n11—n12 — shared by
    q_graph_louvain and q_graph_modularity (the oracle side shares the
    same way via _louvain_oracle_sql)."""
    nat = (
        _t(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("k"))
        .filter(F.col("k") < 24)
    )
    a, b = nat.alias("a"), nat.alias("b")
    cliques = a.join(
        b,
        (F.col("a.k") < F.col("b.k"))
        & (F.floor(F.col("a.k") / 12) == F.floor(F.col("b.k") / 12)),
    ).select(
        F.concat(F.lit("n"), F.col("a.k").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("b.k").cast("string")).alias("dst"),
    )
    bridge = nat.filter(F.col("k") == 11).select(
        F.lit("n11").alias("src"), F.lit("n12").alias("dst")
    )
    return cliques.union(bridge)


def q_graph_louvain(spark, sf_dir):
    """Synchronous Louvain-style modularity communities (GDS
    gds.louvain's local-move phase, 4 directional-alternation rounds)
    over the planted nation barbell (_louvain_barbell_edges). Every
    score is integer arithmetic + one exactly-rounded division, and
    the move gating is a pure function of round parity, so the DuckDB
    oracle unrolls the identical recurrence (operators/louvain.py)."""
    from threat_intelligence_knowledge_graph_spark.operators.louvain import (
        louvain_communities,
    )

    return louvain_communities(_louvain_barbell_edges(spark, sf_dir), iterations=4)


def q_graph_louvain_weighted(spark, sf_dir):
    """Weighted synchronous Louvain (GDS relationshipWeightProperty
    semantics: kin/degree/volume/2m are weight sums) over the nation
    barbell with planted integer weights — (a.k+b.k)%3+1 on clique
    edges, 7 on the n11—n12 bridge, heavy enough that the bridge
    endpoints move differently than in the unweighted entry. Integer
    weights keep every score float-exact, so the oracle unrolls the
    identical weighted recurrence."""
    from threat_intelligence_knowledge_graph_spark.operators.louvain import (
        louvain_communities,
    )

    nat = (
        _t(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("k"))
        .filter(F.col("k") < 24)
    )
    a, b = nat.alias("a"), nat.alias("b")
    cliques = a.join(
        b,
        (F.col("a.k") < F.col("b.k"))
        & (F.floor(F.col("a.k") / 12) == F.floor(F.col("b.k") / 12)),
    ).select(
        F.concat(F.lit("n"), F.col("a.k").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("b.k").cast("string")).alias("dst"),
        ((F.col("a.k") + F.col("b.k")) % 3 + 1).cast("double").alias("w"),
    )
    bridge = nat.filter(F.col("k") == 11).select(
        F.lit("n11").alias("src"),
        F.lit("n12").alias("dst"),
        F.lit(7.0).alias("w"),
    )
    return louvain_communities(
        cliques.unionByName(bridge), iterations=4, weight="w"
    )


def q_graph_modularity(spark, sf_dir):
    """Newman modularity Q of the 4-round Louvain partition on the
    planted nation barbell (see q_graph_louvain) — the partition-
    quality gauge (GDS modularity analog). One row; converged barbell
    partition gives Q just under 0.5. Oracle: the same unrolled
    recurrence with the Q tail (integer counts + exactly-rounded
    double ops, rounded to 9)."""
    from threat_intelligence_knowledge_graph_spark.operators.louvain import (
        louvain_communities,
        modularity,
    )

    edges = _louvain_barbell_edges(spark, sf_dir)
    part = louvain_communities(edges, iterations=4)
    return modularity(edges, part)


def q_dedup_exact_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_id"))
    )


def q_events_json_props(spark, sf_dir):
    """Semi-structured path extraction: parse the events.props JSON
    column in-plan (Catalyst GetJsonObject — no Python, no UDF) and
    aggregate the extracted field per event type. The JSON-path probe
    of the relational surface: rows whose props lack the key, are
    NULL, or whose k is not a plain integer literal drop out via an
    explicit integer-regex gate BEFORE the cast — never an ANSI cast
    error on Spark, and never DuckDB's cast('1.5' AS bigint)=2
    rounding divergence."""
    e = _t(spark, sf_dir, "events")
    ks = F.get_json_object(F.col("props"), "$.k")
    return (
        e.select("event_type", ks.alias("_ks"))
        .filter(F.col("_ks").rlike("^-?[0-9]+$"))
        .select("event_type", F.col("_ks").cast("bigint").alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_k").cast("long").alias("sum_k"),
            F.round(F.avg("_k"), 6).alias("avg_k"),
            F.countDistinct("_k").cast("long").alias("n_distinct_k"),
        )
    )


def q_events_type_cooccurrence(spark, sf_dir):
    """Behavioral co-occurrence edges from the event log: event types
    fired by the same user within the same hour, weight = #shared
    (user, hour) contexts — KG edge construction from observations
    (operators/graph_algos.py::cooccurrence_edges)."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        cooccurrence_edges,
    )

    e = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", "ts").alias("hr"), "event_type"
    )
    return cooccurrence_edges(e, "event_type", ["user_id", "hr"])


def q_set_ops_nations(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).select(F.lit("both").alias("src"), "nationkey")
    cust_only = c.subtract(s).select(  # EXCEPT DISTINCT semantics
        F.lit("customer_only").alias("src"), "nationkey"
    )
    return both.unionByName(cust_only)


def q_rollup_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
        )
    )


def q_pivot_order_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_p"),
    )


def q_anti_join_orders(spark, sf_dir):
    """Orders with no lineitems (left-anti; ~1.7% of orders)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey", "o_orderstatus")
    )


def q_events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )


def q_events_percentiles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


def q_events_extremes(spark, sf_dir):
    """Monitoring-style outlier surfacing: the K most extreme values per
    event_type in each direction, by exact rank (value, event_id tie
    break) — integer ranks, no float-boundary compares, so the oracle
    is bit-exact by construction. One row PER DIRECTION MEMBERSHIP: in
    a group smaller than 2K a row can be both a top-K and a bottom-K
    value and appears twice (a single-label row would silently
    under-report one side — review finding r4)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    hi = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    lo = Window.partitionBy("event_type").orderBy(
        F.asc("value"), F.asc("event_id")
    )
    k = 20
    ranked = e.withColumn("_rh", F.row_number().over(hi)).withColumn(
        "_rl", F.row_number().over(lo)
    )
    cols = ["event_id", "event_type", F.round("value", 4).alias("value")]
    return (
        ranked.filter(F.col("_rh") <= k)
        .select(*cols, F.lit("high").alias("direction"))
        .unionByName(
            ranked.filter(F.col("_rl") <= k).select(
                *cols, F.lit("low").alias("direction")
            )
        )
    )


def q_latest_event_per_user(spark, sf_dir):
    e = _t(spark, sf_dir, "events").alias("e")
    last = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"))
        .alias("l")
    )
    return (
        e.join(
            last,
            (F.col("e.user_id") == F.col("l.user_id"))
            & (F.col("e.ts") == F.col("l.last_ts")),
        )
        .groupBy(F.col("l.user_id").alias("user_id"), F.col("l.last_ts"))
        .agg(F.min("event_id").alias("event_id"))  # deterministic tie-break
        .select("user_id", "event_id")
    )


# --- LSH entry over a PLANTED corpus ----------------------------------------
# The sf tables carry random text, where an approximate operator's
# output isn't SQL-predictable. This entry plants deterministic
# near-duplicates (derived from o_orderkey on BOTH sides) chosen so the
# approximate operator provably returns the exact answer:
# - identical shingle sets ⇒ identical LSH signatures in every band ⇒
#   candidacy is guaranteed, not probabilistic;
# - all other jaccards sit far below the threshold ⇒ exact
#   verification removes any chance collisions.
# The DuckDB oracle then computes the expected set independently,
# making the entry an "approximate == exact on this corpus"
# equivalence check.


def q_canonical_map(spark, sf_dir):
    """Stage-D alias canonicalization dictionary
    (operators/canonicalize.py::build_alias_dictionary): MinHash/LSH
    blocking over normalized surfaces → Jaccard verify → connected
    components → (node_id, canonical_id) for every non-canonical alias.

    Planted so the LSH outcome is ANALYTIC: every 7th orderkey seeds a
    family of 2-3 CASE-variant ids ('GRP-…-X' / 'Grp-…-x' / 'grp-…-x') whose
    lowercased surfaces are IDENTICAL — identical shingle sets ⇒
    identical signatures ⇒ certain candidacy in every band ⇒ Jaccard
    exactly 1.0. Family keys are FULL 32-char md5 digests (NOT
    zero-padded integers: repeated-digit keys like 77 vs 777 have
    near-NESTED shingle sets, J = 15/16 — found the hard way; and not
    8-char prefixes, whose 32-bit space collides with ~5% probability
    already at sf0.1 key counts), so keys are unique at any SF and
    cross-family shingle Jaccard stays low — the 0.9 verify threshold
    rejects every cross-family candidate with wide margin. The
    dictionary is therefore exactly: family-min id canonicalizes the
    other members — which is what the DuckDB oracle computes without
    touching minhash."""
    from threat_intelligence_knowledge_graph_spark.operators.canonicalize import (
        build_alias_dictionary,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    key = F.md5(F.col("o_orderkey").cast("string"))
    base = o.select(
        key.alias("k8"), (F.col("o_orderkey") % 2 == 0).alias("third")
    )
    variants = base.select(
        F.explode(
            F.when(
                F.col("third"),
                F.array(
                    F.concat(F.lit("GRP-"), F.col("k8"), F.lit("-X")),
                    F.concat(F.lit("Grp-"), F.col("k8"), F.lit("-x")),
                    F.concat(F.lit("grp-"), F.col("k8"), F.lit("-x")),
                ),
            ).otherwise(
                F.array(
                    F.concat(F.lit("GRP-"), F.col("k8"), F.lit("-X")),
                    F.concat(F.lit("Grp-"), F.col("k8"), F.lit("-x")),
                )
            )
        ).alias("node_id")
    ).select(F.lit("Group").alias("node_label"), "node_id")
    return build_alias_dictionary(variants, jaccard_threshold=0.9).orderBy(
        "node_id"
    )


def q_cms_join_size(spark, sf_dir):
    """Count-min inner-product join-cardinality estimate (the AMS/CM
    §4.2 estimator): |orders ⋈ customer| on custkey from two
    dimension-sized sketches — the decide-before-you-shuffle triage.
    Integer counts/products/sums, min over 3 hash rows; never below
    the true cardinality; bit-identical cross-engine."""
    from threat_intelligence_knowledge_graph_spark.operators.sketches import (
        cms_build,
        cms_join_size,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    sa = cms_build(o, "k", depth=3, width=512, salt="cmsj")
    sb = cms_build(c, "k", depth=3, width=512, salt="cmsj")
    return cms_join_size(sa, sb, depth=3)


def q_graph_conductance(spark, sf_dir):
    """Per-community conductance (GDS gds.conductance analog) of the
    ground-truth two-clique split over the planted nation barbell:
    each 12-clique has directed volume 12·11+1 = 133 and cut 1 (the
    bridge, once per direction on its own side) → φ = 1/133 exactly.
    Integer cut/volume arithmetic, one exactly-rounded division."""
    from threat_intelligence_knowledge_graph_spark.operators.louvain import (
        conductance,
    )

    e = _louvain_barbell_edges(spark, sf_dir)
    asg = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 24)
        .select(
            F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias(
                "id"
            ),
            F.floor(F.col("n_nationkey") / 12).cast("long").alias("community"),
        )
    )
    return conductance(e, asg)


def q_events_hist_quantiles(spark, sf_dir):
    """Mergeable fixed-bucket histogram quantiles (the order-statistics
    sketch completing KMV/CMS/HLL/Bloom): 64 buckets over value ∈
    [0, 200) — width 3.125 is exactly representable, so bucketing,
    cumulative integer counts, and the lower-bound quantile value are
    bit-identical cross-engine. q literals are cast to double in the
    oracle (DuckDB's decimal 0.95 · total would ceil differently from
    the IEEE product at exact-integer boundaries)."""
    from threat_intelligence_knowledge_graph_spark.operators.sketches import (
        hist_build,
        hist_quantiles,
    )

    sk = hist_build(
        _t(spark, sf_dir, "events"), "value", lo=0.0, hi=200.0, n_buckets=64
    )
    return hist_quantiles(sk, [0.5, 0.95], lo=0.0, hi=200.0, n_buckets=64)


def q_url_normalize(spark, sf_dir):
    """URL canonicalization (web-corpus dedup prerequisite / CTI
    indicator identity): scheme+host lowercase, default ports stripped,
    empty path → '/', tracking params dropped and the rest sorted,
    fragment dropped, non-URLs → NULL. Four planted spelling variants
    per orderkey; the oracle mirrors the regexp/split/sort/join chain
    verbatim (functions/strings.py::url_normalize_expr)."""
    from threat_intelligence_knowledge_graph_spark.functions.strings import (
        url_normalize_expr,
    )

    k = F.col("o_orderkey")
    raw = F.concat(
        F.when(k % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("HTTPS://")),
        F.lit("Example"),
        (k % 7).cast("string"),
        F.lit(".COM"),
        F.when(k % 4 == 0, F.lit(":80/a?utm_source=x&b=2&a=1"))
        .when(k % 4 == 1, F.lit(":443/A/B#frag"))
        .when(k % 4 == 2, F.lit(""))
        .otherwise(F.lit(":8080/x?gclid=1&z=9")),
    )
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", raw.alias("u"))
        .select("o_orderkey", url_normalize_expr(F.col("u")).alias("url_norm"))
    )


def q_graph_cc_increment(spark, sf_dir):
    """Incremental connected components: a planted 6-node chain per
    orderkey (% 19) arrives in two batches — batch 1 leaves segments
    {0,1,2} and {3,4}; batch 2 bridges them (edge 2–3) and introduces
    the NEW node 5 (edge 4–5). Spark computes CC on batch 1 then merges
    batch 2 through the batch-bounded component graph; min-id labels
    compose exactly, so the oracle is a from-scratch recursive-CTE
    closure over the UNION of both batches."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        connected_components,
        connected_components_increment,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 19 == 0)
    base = o.select((F.col("o_orderkey") * 7).alias("k7"))

    def _edges(idxs):
        return base.select(
            "k7", F.explode(F.array(*[F.lit(i) for i in idxs])).alias("i")
        ).select(
            (F.col("k7") + F.col("i")).alias("a"),
            (F.col("k7") + F.col("i") + 1).alias("b"),
        )

    batch1 = _edges([0, 1, 3])
    batch2 = _edges([2, 4])
    a1 = connected_components(batch1)
    return connected_components_increment(a1, batch2).select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    )


def q_graph_eigenvector(spark, sf_dir):
    """Eigenvector centrality (3 L2-normalized power-iteration steps,
    GDS gds.eigenvector analog) over the planted directed nation graph
    of q_graph_hits — HITS' authority half-step iterated alone, so the
    oracle unrolls the identical float-exact recurrence; both sides
    round to 9 (summation-order noise ~1e-16)."""
    from threat_intelligence_knowledge_graph_spark.operators.hits import (
        eigenvector_centrality,
    )

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nkey = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    cyc = nat.select(
        nkey.alias("src_id"),
        F.concat(
            F.lit("n"), ((F.col("n_nationkey") + 1) % 25).cast("string")
        ).alias("dst_id"),
    )
    reg = nat.select(
        nkey.alias("src_id"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst_id"),
    )
    return eigenvector_centrality(cyc.union(reg), iterations=3).select(
        "id", F.round("score", 9).alias("score")
    )


def q_graph_node2vec(spark, sf_dir):
    """Deterministic node2vec walks (Grover & Leskovec 2016) with
    strong second-order bias (p=4 discourages returns, q=0.25 pushes
    outward) over the symmetrized chain+region graph of
    q_graph_random_walks. The weighted draw is an exponential race on
    hash-seeded clocks rounded BEFORE the compare, so the oracle
    unrolls the identical md5 arithmetic, the identical prev/dist-1/dist-2
    CASE, and the identical
    (clock, candidate) total order per step."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        node2vec_walks,
    )

    e0 = _chain_region_edges(spark, sf_dir)
    e = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return node2vec_walks(
        e, walk_length=4, walks_per_node=2, p=4.0, q=0.25
    ).select("walk_id", F.col("start").alias("start_id"), "step", "node")


def q_graph_lcc(spark, sf_dir):
    """Local clustering coefficient over the planted 3-clique + pendant
    graph (see q_graph_triangle_count): clique corners score 1.0 (deg 2)
    or 1/3 (the corner carrying the pendant, deg 3), tails 0.0 (deg 1)
    — every value analytic. Oracle: independent canonical three-way
    triangle join + degree count in SQL."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        local_clustering_coefficient,
    )

    return local_clustering_coefficient(_triangle_gadget_edges(spark, sf_dir))


def _reciprocity_gadget_edges(spark, sf_dir):
    """Planted directed gadgets (one per 11th orderkey, nodes 4k..4k+2):
    a→b always, b→a only for EVEN gadget keys, a→c always, the c→c
    self-loop always (must be dropped), and a duplicate a→b (must
    dedupe) — so reciprocity depends on the even/odd gadget mix."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    k4 = (F.col("o_orderkey") * 4).alias("k4")
    even = (F.col("o_orderkey") % 2 == 0)
    return (
        o.select(k4, even.alias("ev"))
        .select("k4", F.explode(F.array(
            F.struct(F.lit(0).alias("i"), F.lit(1).alias("j"), F.lit(True).alias("keep")),
            F.struct(F.lit(0).alias("i"), F.lit(1).alias("j"), F.lit(True).alias("keep")),
            F.struct(F.lit(1).alias("i"), F.lit(0).alias("j"), F.col("ev").alias("keep")),
            F.struct(F.lit(0).alias("i"), F.lit(2).alias("j"), F.lit(True).alias("keep")),
            F.struct(F.lit(2).alias("i"), F.lit(2).alias("j"), F.lit(True).alias("keep")),
        )).alias("p"))
        .filter(F.col("p.keep"))
        .select(
            (F.col("k4") + F.col("p.i")).alias("src"),
            (F.col("k4") + F.col("p.j")).alias("dst"),
        )
    )


def q_graph_reciprocity(spark, sf_dir):
    """Directed-graph reciprocity over planted gadgets whose mutual
    fraction depends on the even/odd orderkey mix: parallel edges
    deduped, self-loops dropped, exact-integer counts, ONE round-6
    division; the mutual test is a keyed left-semi self-join on the
    swapped pair."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        reciprocity,
    )

    return reciprocity(_reciprocity_gadget_edges(spark, sf_dir))


def q_er_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (Hernandez-Stolfo merge/purge) over
    the reversed customer name (the classic last-chars-first blocking
    key): candidate pairs within 5 positions of the (key, c_custkey)
    total order — the TeraSort-style sampled-boundary rank makes the
    global window a keyed block join; the oracle is DuckDB's literal
    row_number self-join."""
    from threat_intelligence_knowledge_graph_spark.operators.canonicalize import (
        sorted_neighborhood_pairs,
    )

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("node_id"),
        F.reverse(F.col("c_name")).alias("block_key"),
    )
    return sorted_neighborhood_pairs(
        c, window=5, n_buckets=8, sample_pct=10
    )


def q_kg_schema_audit(spark, sf_dir):
    """Domain/range conformance audit (SHACL-lite) over a constructed
    triple table with planted violations: the conformant RESOLVES_TO
    base plus reversed-endpoint (% 10), unknown-predicate (% 17) and
    dangling-object (% 23) rows — the audit's verdict per row is
    analytic. Signature table from the same RELATION_RULES the
    extractor runs on (operators/triples.relation_signatures)."""
    from threat_intelligence_knowledge_graph_spark.operators.triples import (
        validate_triple_schema,
    )

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    dom = F.concat(
        F.lit("Domain_Evil-"), k.cast("string"), F.lit("_Example_Net")
    )
    ip = F.concat(
        F.lit("Ipv4_10_"),
        (k % 250).cast("string"),
        F.lit("_"),
        ((k * 7) % 250).cast("string"),
        F.lit("_"),
        ((k % 249) + 1).cast("string"),
    )
    nodes = (
        o.select(F.lit("Domain").alias("node_label"), dom.alias("node_id"))
        .unionByName(
            o.select(F.lit("Ipv4").alias("node_label"), ip.alias("node_id"))
        )
        .distinct()
    )
    base = o.select(
        dom.alias("subj"), F.lit("RESOLVES_TO").alias("pred"), ip.alias("obj")
    )
    reversed_ = o.filter(k % 10 == 0).select(
        ip.alias("subj"), F.lit("RESOLVES_TO").alias("pred"), dom.alias("obj")
    )
    unknown_pred = o.filter(k % 17 == 0).select(
        dom.alias("subj"), F.lit("FOOBAR").alias("pred"), ip.alias("obj")
    )
    dangling = o.filter(k % 23 == 0).select(
        dom.alias("subj"),
        F.lit("RESOLVES_TO").alias("pred"),
        F.concat(F.lit("Missing_"), k.cast("string")).alias("obj"),
    )
    triples = (
        base.unionByName(reversed_)
        .unionByName(unknown_pred)
        .unionByName(dangling)
    )
    return validate_triple_schema(triples, nodes)


def q_er_verified_matches(spark, sf_dir):
    """The full classic ER candidate path blocking → verify: sorted-
    neighborhood candidates over part names, scored with normalized
    Levenshtein similarity (JVM built-in on both engines) and
    thresholded — the pairs that would feed connected-components
    resolution."""
    from threat_intelligence_knowledge_graph_spark.operators.canonicalize import (
        sorted_neighborhood_pairs,
        verify_pairs_edit_distance,
    )

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("node_id"),
        F.col("p_name").alias("name"),
    )
    pairs = sorted_neighborhood_pairs(
        p, key_col="name", id_col="node_id", window=4, n_buckets=8,
        sample_pct=10,
    )
    return verify_pairs_edit_distance(
        pairs, p, key_col="name", id_col="node_id", tau=0.45
    )


def q_graph_transitivity(spark, sf_dir):
    """Global clustering coefficient over the planted 3-clique+pendant
    gadgets: per gadget 3 closed wedges of 5 total (degrees 2,2,3,1),
    so the oracle is ANALYTIC — transitivity = 0.6 with exact gadget
    counts; the Spark side runs the real three-way-join pipeline."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        transitivity,
    )

    return transitivity(_triangle_gadget_edges(spark, sf_dir))


def q_graph_rich_club(spark, sf_dir):
    """Rich-club curve over the planted 3-clique+pendant gadgets. The
    G disjoint gadgets make the curve ANALYTIC: spectrum {1,2,3};
    k=1 club = the 3G clique nodes with their 3G internal edges
    (phi = 2/(3G-1)); k=2 club = the G degree-3 corners, zero edges
    between gadgets (phi = 0); k=3 club empty (omitted)."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        rich_club,
    )

    return rich_club(_triangle_gadget_edges(spark, sf_dir))


def q_graph_avg_nbr_deg(spark, sf_dir):
    """Average neighbor degree per node over the planted gadgets —
    analytically per gadget: corners 3k/3k+1 see (2+3)/2, the hub
    3k+2 sees (2+2+1)/3, the pendant 3k+3 sees 3/1."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        avg_neighbor_degree,
    )

    return avg_neighbor_degree(_triangle_gadget_edges(spark, sf_dir))


def q_hll_user_overlap(spark, sf_dir):
    """Pairwise distinct-user overlap between event types by HLL
    inclusion-exclusion: per-type sketches from ONE scan, densified
    register equi-join, scaled-integer harmonic-sum witnesses
    (hash-checked strings), one fixed-order float expression round-3."""
    from threat_intelligence_knowledge_graph_spark.operators.sketches import (
        hll_overlap,
    )

    ev = _t(spark, sf_dir, "events")
    return hll_overlap(ev, "user_id", "event_type")


def q_graph_degree_hist(spark, sf_dir):
    """Degree distribution over the planted gadgets — analytic:
    {1: G (pendants), 2: 2G (clique corners), 3: G (hubs)}."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        degree_histogram,
    )

    return degree_histogram(_triangle_gadget_edges(spark, sf_dir))


def q_graph_hill_tail(spark, sf_dir):
    """Hill tail-exponent MLE at d_min=2 over the planted gadgets —
    analytic: tail degrees {2×2G, 3×G}, Σ ln = G·ln(3/2), so
    alpha = 1 + 3G/(G·ln 1.5); the ln sum runs over the
    dimension-sized histogram."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        hill_tail,
    )

    return hill_tail(_triangle_gadget_edges(spark, sf_dir), d_min=2)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: construct CTI text from sf0.001, run the full extraction
    kernel, return the distinct triple set (SURVEY.md §7 flagship query)."""
    return q_kg_triples_from_kernel(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_chunks": q_kg_chunks,
        "kg_node_ids": q_kg_node_ids,
        "kg_ioc_typing": q_kg_ioc_typing,
        "kg_cve_mentions": q_kg_cve_mentions,
        "kg_ipv4_mentions": q_kg_ipv4_mentions,
        "ioc_first_last_seen": q_ioc_first_last_seen,
        "kg_triples_from_kernel": q_kg_triples_from_kernel,
        "kg_llm_mock_triples": q_kg_llm_mock_triples,
        "kg_nodes_from_kernel": q_kg_nodes_from_kernel,
        "kg_edge_dedup": q_kg_edge_dedup,
        "kg_endpoint_semijoin": q_kg_endpoint_semijoin,
        "kg_degrees": q_kg_degrees,
        "kg_two_hop": q_kg_two_hop,
        "kg_metrics_rollup": q_kg_metrics_rollup,
        "tpch_q1": q_tpch_q1,
        "join_customer_orders": q_join_customer_orders,
        "events_user_windows": q_events_user_windows,
        "events_sessionize": q_events_sessionize,
        "events_type_cooccurrence": q_events_type_cooccurrence,
        "top_parts_by_revenue": q_top_parts_by_revenue,
        "set_ops_nations": q_set_ops_nations,
        "rollup_orders": q_rollup_orders,
        "pivot_order_status": q_pivot_order_status,
        "anti_join_orders": q_anti_join_orders,
        "events_hourly": q_events_hourly,
        "events_percentiles": q_events_percentiles,
        "events_extremes": q_events_extremes,
        "latest_event_per_user": q_latest_event_per_user,
        "dedup_exact_docs": q_dedup_exact_docs,
        "html_to_text": q_html_to_text,
        "skew_hot_entities": q_skew_hot_entities,
        "canonical_map": q_canonical_map,
        "graph_pagerank": q_graph_pagerank,
        "graph_pagerank_weighted": q_graph_pagerank_weighted,
        "graph_pagerank_personalized": q_graph_pagerank_personalized,
        "graph_stats": q_graph_stats,
        "graph_kcore": q_graph_kcore,
        "graph_diameter": q_graph_diameter,
        "cypher_match_filter": q_cypher_match_filter,
        "cypher_two_hop_count": q_cypher_two_hop_count,
        "graph_ktruss": q_graph_ktruss,
        "graph_harmonic_closeness": q_graph_harmonic_closeness,
        "graph_sssp_weighted": q_graph_sssp_weighted,
        "graph_betweenness": q_graph_betweenness,
        "table_checks": q_table_checks,
        "graph_bfs_distances": q_graph_bfs_distances,
        "graph_anf": q_graph_anf,
        "graph_label_propagation": q_graph_label_propagation,
        "graph_connected_components": q_graph_connected_components,
        "graph_triangle_count": q_graph_triangle_count,
        "graph_node_similarity": q_graph_node_similarity,
        "graph_link_prediction": q_graph_link_prediction,
        "graph_transitivity": q_graph_transitivity,
        "graph_rich_club": q_graph_rich_club,
        "graph_avg_nbr_deg": q_graph_avg_nbr_deg,
        "hll_user_overlap": q_hll_user_overlap,
        "graph_degree_hist": q_graph_degree_hist,
        "graph_hill_tail": q_graph_hill_tail,
        "events_json_props": q_events_json_props,
        "cms_user_counts": q_cms_user_counts,
        "domain_registrable": q_domain_registrable,
        "bloom_prefilter": q_bloom_prefilter,
        "ip_cidr_enrich": q_ip_cidr_enrich,
        "graph_scc": q_graph_scc,
        "graph_random_walks": q_graph_random_walks,
        "graph_walk_pmi": q_graph_walk_pmi,
        "graph_hits": q_graph_hits,
        "graph_katz": q_graph_katz,
        "kmv_distinct_users": q_kmv_distinct_users,
        "hll_distinct_users": q_hll_distinct_users,
        "cypher_optional_match": q_cypher_optional_match,
        "cypher_var_length": q_cypher_var_length,
        "graph_louvain": q_graph_louvain,
        "graph_louvain_weighted": q_graph_louvain_weighted,
        "graph_modularity": q_graph_modularity,
        "graph_node2vec": q_graph_node2vec,
        "graph_eigenvector": q_graph_eigenvector,
        "graph_cc_increment": q_graph_cc_increment,
        "url_normalize": q_url_normalize,
        "events_hist_quantiles": q_events_hist_quantiles,
        "graph_conductance": q_graph_conductance,
        "cms_join_size": q_cms_join_size,
        "graph_lcc": q_graph_lcc,
        "graph_reciprocity": q_graph_reciprocity,
        "graph_assortativity": q_graph_assortativity,
        "stix_objects": q_stix_objects,
        "stix_relationships": q_stix_relationships,
        "er_sorted_neighborhood": q_er_sorted_neighborhood,
        "kg_schema_audit": q_kg_schema_audit,
        "er_verified_matches": q_er_verified_matches,
    }


def _lpa_oracle_sql(iterations: int) -> str:
    """Unrolled synchronous LPA over the planted 4-clique forest (see
    q_graph_label_propagation): per iteration the identical neighbor-
    label count + (max count, min label) argmax, as a window QUALIFY."""
    parts = [
        """
        WITH ks AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 17 = 0),
        e0 AS (
          SELECT 4 * k + i.a AS s, 4 * k + i.b AS d
          FROM ks CROSS JOIN (VALUES (0,1),(0,2),(0,3),(1,2),(1,3),(2,3)) i(a, b)
        ),
        sym AS (SELECT s AS u, d AS v FROM e0 UNION SELECT d, s FROM e0),
        l0 AS (SELECT DISTINCT u AS id, u AS label FROM sym)
        """
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        f{i} AS (
          SELECT sym.u, l{i - 1}.label, count(*) AS cnt
          FROM sym JOIN l{i - 1} ON sym.v = l{i - 1}.id
          GROUP BY sym.u, l{i - 1}.label
        ),
        l{i} AS (
          SELECT u AS id, label FROM f{i}
          QUALIFY row_number() OVER (
            PARTITION BY u ORDER BY cnt DESC, label ASC) = 1
        )
        """
        )
    parts.append(
        f"""
        SELECT cast(id AS bigint) AS id, cast(label AS bigint) AS label
        FROM l{iterations}
        """
    )
    return "".join(parts)


def _katz_oracle_sql(
    iterations: int, alpha: float = 0.1, beta: float = 1.0
) -> str:
    """Unrolled truncated-Katz recurrence over the planted nation
    graph (see q_graph_katz). Mirrors graph_algos.katz_centrality
    exactly: x0 ≡ β, then per iteration a src-keyed sum of the previous
    vector along in-edges, zero-coalesced over the full node set, then
    the affine map α·s + β. Pure exactly-rounded IEEE arithmetic; the
    final round-6 absorbs summation-order noise (~1e-16)."""
    parts = [
        """
        WITH e0 AS (
          SELECT 'n' || cast(n_nationkey AS varchar) AS src,
                 'n' || cast((n_nationkey + 1) % 25 AS varchar) AS dst
          FROM nation
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'r' || cast(n_regionkey AS varchar)
          FROM nation
        ),
        e AS (SELECT DISTINCT src, dst FROM e0),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        """
        + f"x0 AS (SELECT id, cast({beta!r} AS double) AS x FROM nodes)"
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        s{i} AS (
          SELECT e.dst AS id, sum(x.x) AS s
          FROM e JOIN x{i - 1} x ON e.src = x.id GROUP BY e.dst
        ),
        x{i} AS (
          SELECT nd.id,
                 cast({alpha!r} AS double)
                   * coalesce(s.s, cast(0.0 AS double))
                 + cast({beta!r} AS double) AS x
          FROM nodes nd LEFT JOIN s{i} s ON s.id = nd.id
        )"""
        )
    parts.append(
        f"""
        SELECT id AS node_id, round(x, 6) AS katz FROM x{iterations}
        """
    )
    return "".join(parts)


def _eigenvector_oracle_sql(iterations: int) -> str:
    """Unrolled eigenvector-centrality power iteration over the planted
    nation graph (see q_graph_eigenvector): per step the in-edge pull
    sum, zero-coalesced over the full node set, L2-normalized — the
    authority half of _hits_oracle_sql iterated alone."""
    parts = [
        """
        WITH e0 AS (
          SELECT 'n' || cast(n_nationkey AS varchar) AS src,
                 'n' || cast((n_nationkey + 1) % 25 AS varchar) AS dst
          FROM nation
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'r' || cast(n_regionkey AS varchar)
          FROM nation
        ),
        e AS (SELECT DISTINCT src, dst FROM e0),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        x0 AS (SELECT id, cast(1.0 AS double) AS score FROM nodes)
        """
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        xr{i} AS (
          SELECT e.dst AS id, sum(x.score) AS s
          FROM e JOIN x{i - 1} x ON e.src = x.id GROUP BY e.dst
        ),
        xf{i} AS (
          SELECT nd.id, coalesce(xr.s, cast(0.0 AS double)) AS s
          FROM nodes nd LEFT JOIN xr{i} xr ON xr.id = nd.id
        ),
        xn{i} AS (SELECT sqrt(sum(s * s)) AS nrm FROM xf{i}),
        x{i} AS (
          SELECT xf.id, xf.s / xn.nrm AS score
          FROM xf{i} xf CROSS JOIN xn{i} xn
        )"""
        )
    parts.append(
        f"""
        SELECT id, round(score, 9) AS score FROM x{iterations}
        """
    )
    return "".join(parts)


def _hits_oracle_sql(iterations: int) -> str:
    """Unrolled HITS recurrence over the planted nation graph (see
    q_graph_hits). Mirrors operators/hits.py exactly: per iteration an
    authority half-step (sum of PREVIOUS hubs along in-edges, zero-
    coalesced over the full node set, L2-normalized), then a hub
    half-step reading the JUST-normalized authority vector. sqrt and /
    are exactly-rounded IEEE ops, so 9-decimal rounding absorbs the
    only divergence (summation order, ~1e-16)."""
    parts = [
        """
        WITH e0 AS (
          SELECT 'n' || cast(n_nationkey AS varchar) AS src,
                 'n' || cast((n_nationkey + 1) % 25 AS varchar) AS dst
          FROM nation
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'r' || cast(n_regionkey AS varchar)
          FROM nation
        ),
        e AS (SELECT DISTINCT src, dst FROM e0),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        h0 AS (SELECT id, cast(1.0 AS double) AS hub FROM nodes)
        """
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        ar{i} AS (
          SELECT e.dst AS id, sum(h.hub) AS a
          FROM e JOIN h{i - 1} h ON e.src = h.id GROUP BY e.dst
        ),
        af{i} AS (
          SELECT nd.id, coalesce(ar.a, cast(0.0 AS double)) AS a
          FROM nodes nd LEFT JOIN ar{i} ar ON ar.id = nd.id
        ),
        an{i} AS (SELECT sqrt(sum(a * a)) AS nrm FROM af{i}),
        a{i} AS (
          SELECT af.id, af.a / an.nrm AS auth
          FROM af{i} af CROSS JOIN an{i} an
        ),
        hr{i} AS (
          SELECT e.src AS id, sum(a.auth) AS h
          FROM e JOIN a{i} a ON e.dst = a.id GROUP BY e.src
        ),
        hf{i} AS (
          SELECT nd.id, coalesce(hr.h, cast(0.0 AS double)) AS h
          FROM nodes nd LEFT JOIN hr{i} hr ON hr.id = nd.id
        ),
        hn{i} AS (SELECT sqrt(sum(h * h)) AS nrm FROM hf{i}),
        h{i} AS (
          SELECT hf.id, hf.h / hn.nrm AS hub
          FROM hf{i} hf CROSS JOIN hn{i} hn
        )
            """
        )
    parts.append(
        f"""
        SELECT h.id, round(h.hub, 9) AS hub, round(a.auth, 9) AS auth
        FROM h{iterations} h JOIN a{iterations} a ON a.id = h.id
        """
    )
    return "".join(parts)


def _louvain_oracle_sql(iterations: int, weighted: bool = False) -> str:
    """Unrolled synchronous-Louvain recurrence over the planted nation
    barbell (see q_graph_louvain). Mirrors operators/louvain.py
    exactly per round: community volumes, per-(node, community) edge
    counts with the own-community kin-0 floor, the ΔQ-numerator score
    (integer arithmetic + one exactly-rounded division, rounded to 9),
    the round-parity direction gate (even round index: smaller ids
    only; odd: larger only), argmax (score DESC, comm ASC), and the
    strict-improvement move condition (NULL best → stay, matching
    Spark's when/otherwise).

    ``weighted=True`` plants integer edge weights ((a.k+b.k)%3+1 on
    clique edges, 7 on the bridge — heavy enough that n11/n12 behave
    differently than unweighted) and swaps every count for the weight
    sum (kin, degrees, volumes, 2m) — the GDS
    relationshipWeightProperty semantics; integer weights keep the
    recurrence float-exact."""
    if weighted:
        head = """
        WITH nk AS (
          SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 24
        ),
        e0 AS (
          SELECT 'n' || cast(a.k AS varchar) AS s,
                 'n' || cast(b.k AS varchar) AS d,
                 cast((a.k + b.k) % 3 + 1 AS double) AS w
          FROM nk a JOIN nk b
            ON a.k < b.k AND floor(a.k / 12) = floor(b.k / 12)
          UNION ALL
          SELECT 'n11', 'n12', cast(7 AS double) FROM nk WHERE k = 11
        ),
        sym AS MATERIALIZED (
          -- planted pairs are unique, so UNION ALL mirrors the
          -- operator's groupBy-SUM merge exactly
          SELECT s AS u, d AS v, w FROM e0 WHERE s <> d
          UNION ALL
          SELECT d, s, w FROM e0 WHERE s <> d
        ),
        nodes AS (SELECT s AS id FROM e0 UNION SELECT d FROM e0),
        m2 AS (SELECT cast(sum(w) AS double) AS m2 FROM sym),
        degs AS MATERIALIZED (SELECT u AS id, sum(w) AS deg FROM sym GROUP BY u),
        c0 AS MATERIALIZED (SELECT id, id AS c FROM nodes)
        """
    else:
        head = """
        WITH nk AS (
          SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 24
        ),
        e0 AS (
          SELECT 'n' || cast(a.k AS varchar) AS s,
                 'n' || cast(b.k AS varchar) AS d
          FROM nk a JOIN nk b
            ON a.k < b.k AND floor(a.k / 12) = floor(b.k / 12)
          UNION ALL
          SELECT 'n11', 'n12' FROM nk WHERE k = 11
        ),
        sym0 AS (
          SELECT s AS u, d AS v FROM e0 WHERE s <> d
          UNION
          SELECT d, s FROM e0 WHERE s <> d
        ),
        sym AS MATERIALIZED (SELECT u, v, cast(1 AS double) AS w FROM sym0),
        nodes AS (SELECT s AS id FROM e0 UNION SELECT d FROM e0),
        m2 AS (SELECT cast(sum(w) AS double) AS m2 FROM sym),
        degs AS MATERIALIZED (SELECT u AS id, sum(w) AS deg FROM sym GROUP BY u),
        c0 AS MATERIALIZED (SELECT id, id AS c FROM nodes)
        """
    parts = [head]
    for i in range(1, iterations + 1):
        gate = "<" if (i - 1) % 2 == 0 else ">"
        parts.append(
            f""",
        vol{i} AS MATERIALIZED (
          SELECT c.c AS comm, sum(coalesce(d.deg, 0)) AS vol
          FROM c{i - 1} c LEFT JOIN degs d ON d.id = c.id GROUP BY c.c
        ),
        kin{i} AS MATERIALIZED (
          SELECT s.u, cv.c AS comm, sum(s.w) AS kin
          FROM sym s JOIN c{i - 1} cv ON s.v = cv.id GROUP BY s.u, cv.c
        ),
        own{i} AS MATERIALIZED (
          SELECT c.id AS u, c.c AS own_c, coalesce(d.deg, 0) AS deg
          FROM c{i - 1} c LEFT JOIN degs d ON d.id = c.id
        ),
        cand{i} AS MATERIALIZED (
          SELECT u, comm, max(kin) AS kin FROM (
            SELECT u, comm, kin FROM kin{i}
            UNION ALL
            SELECT u, own_c AS comm, 0 AS kin FROM own{i}
          ) GROUP BY u, comm
        ),
        sc{i} AS MATERIALIZED (
          SELECT cand.u, cand.comm, own.own_c,
                 round(cand.kin
                       - own.deg * (vol.vol - CASE WHEN cand.comm = own.own_c
                                                   THEN own.deg ELSE 0 END)
                         / m2.m2, 9) AS score
          FROM cand{i} cand
          JOIN own{i} own ON own.u = cand.u
          JOIN vol{i} vol ON vol.comm = cand.comm
          CROSS JOIN m2
        ),
        best{i} AS MATERIALIZED (
          SELECT u, comm AS best, score AS bscore FROM sc{i}
          WHERE comm {gate} own_c
          QUALIFY row_number() OVER (
            PARTITION BY u ORDER BY score DESC, comm ASC) = 1
        ),
        c{i} AS MATERIALIZED (
          SELECT o.u AS id,
                 CASE WHEN b.bscore > so.score THEN b.best
                      ELSE o.own_c END AS c
          FROM own{i} o
          LEFT JOIN best{i} b ON b.u = o.u
          LEFT JOIN sc{i} so ON so.u = o.u AND so.comm = o.own_c
        )
            """
        )
    parts.append(f"SELECT id, c AS community FROM c{iterations}")
    return "".join(parts)


def _modularity_oracle_sql(iterations: int) -> str:
    """Newman modularity Q of the unrolled Louvain partition (see
    _louvain_oracle_sql): Q = Σ_C (dp_C/2m − (vol_C/2m)²) with
    dp_C the directed intra-community pair count — the exact float
    expression of operators/louvain.py::modularity, rounded to 9."""
    chain = _louvain_oracle_sql(iterations)
    head = chain[: chain.rindex("SELECT id, c AS community")]
    return (
        head
        + f""",
        dpq AS MATERIALIZED (
          SELECT cu.c, count(*) AS dp
          FROM sym s
          JOIN c{iterations} cu ON s.u = cu.id
          JOIN c{iterations} cv ON s.v = cv.id
          WHERE cu.c = cv.c GROUP BY cu.c
        ),
        volq AS MATERIALIZED (
          SELECT c.c, sum(coalesce(d.deg, 0)) AS vol
          FROM c{iterations} c LEFT JOIN degs d ON d.id = c.id GROUP BY c.c
        )
        SELECT round(sum(coalesce(dp, 0) / m2.m2
                         - (vol / m2.m2) * (vol / m2.m2)), 9) AS modularity
        FROM volq LEFT JOIN dpq USING (c) CROSS JOIN m2
        """
    )


def _walks_cte_sql(walk_length: int = 4, walks_per_node: int = 2) -> str:
    """WITH-clause prefix ending in relation ``walks(walk_id, start_id,
    step, node)`` — the unrolled md5-argmin walk over the symmetrized
    chain+region graph (the q_graph_random_walks recurrence, shared by
    the walk-PMI oracle). Caller appends its own final SELECT."""
    js = ",".join(f"({j})" for j in range(walks_per_node))
    steps, prev = [], "w"
    for i in range(1, walk_length + 1):
        steps.append(f"""
            s{i} AS (
              SELECT walk_id, start_id,
                     arg_min(v, md5(walk_id || '|{i}|' || v)) AS node
              FROM {prev} JOIN e ON e.u = {prev}.node
              GROUP BY walk_id, start_id
            )""")
        prev = f"s{i}"
    union = "\n".join(
        f"              UNION ALL"
        f" SELECT walk_id, start_id, {i} AS step, node FROM s{i}"
        for i in range(1, walk_length + 1)
    )
    return f"""
            WITH e0 AS ({_CHAIN_REGION_EDGES_SQL}),
            e AS (
              SELECT src AS u, dst AS v FROM e0
              UNION
              SELECT dst, src FROM e0
            ),
            nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
            w AS (
              SELECT id || '#' || cast(j AS varchar) AS walk_id,
                     id AS start_id, id AS node
              FROM nodes CROSS JOIN (VALUES {js}) t(j)
            ),{",".join(steps)},
            walks AS (
              SELECT walk_id, start_id, 0 AS step, node FROM w
{union}
            )"""


def _node2vec_cte_sql(
    walk_length: int, walks_per_node: int, p: float, q: float
) -> str:
    """WITH-clause prefix ending in relation ``walks(walk_id, start_id,
    step, node)`` — the unrolled exponential-race node2vec walk over the
    symmetrized chain+region graph (see q_graph_node2vec). Per step:
    the identical md5-seeded clock round(−ln((b+0.5)/10⁶)·w, 9) with
    the prev/dist-1/dist-2 CASE, total-ordered by (clock, candidate)."""
    js = ",".join(f"({j})" for j in range(walks_per_node))
    steps, prev = [], "w"
    for i in range(1, walk_length + 1):
        steps.append(f"""
            s{i} AS (
              SELECT walk_id, start_id, prev, node FROM (
                SELECT c.walk_id, c.start_id, c.node AS prev,
                       c.x AS node,
                       row_number() OVER (
                         PARTITION BY c.walk_id
                         ORDER BY round(
                           -ln((md5_number_upper('n2v:' || c.walk_id
                                  || '|{i}|' || c.x) % 1000000 + 0.5)
                               / 1000000.0)
                           * (CASE WHEN c.prev IS NULL THEN 1.0
                                   WHEN c.x = c.prev THEN {p!r}
                                   WHEN a.a_u IS NOT NULL THEN 1.0
                                   ELSE {q!r} END), 9) ASC,
                           c.x ASC
                       ) AS rn
                FROM (
                  SELECT s.walk_id, s.start_id, s.prev, s.node, e.v AS x
                  FROM {prev} s JOIN e ON e.u = s.node
                ) c
                LEFT JOIN (SELECT u AS a_u, v AS a_v FROM e) a
                  ON a.a_u = c.prev AND a.a_v = c.x
              ) WHERE rn = 1
            )""")
        prev = f"s{i}"
    union = "\n".join(
        f"              UNION ALL"
        f" SELECT walk_id, start_id, {i} AS step, node FROM s{i}"
        for i in range(1, walk_length + 1)
    )
    return f"""
            WITH e0 AS ({_CHAIN_REGION_EDGES_SQL}),
            e AS (
              SELECT src AS u, dst AS v FROM e0
              UNION
              SELECT dst, src FROM e0
            ),
            nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
            w AS (
              SELECT id || '#' || cast(j AS varchar) AS walk_id,
                     id AS start_id, cast(NULL AS varchar) AS prev,
                     id AS node
              FROM nodes CROSS JOIN (VALUES {js}) t(j)
            ),{",".join(steps)},
            walks AS (
              SELECT walk_id, start_id, 0 AS step, node FROM w
{union}
            )"""


def _kcore_oracle_sql(k: int, iterations: int) -> str:
    """Unrolled synchronous k-core peeling over the planted chain +
    region graph (see q_graph_kcore). Each round recomputes degrees
    over the surviving node set and drops nodes with degree < k; the
    update is set-valued and deterministic, so iterations past the
    fixpoint are no-ops — the oracle just unrolls enough rounds to
    cover the planted graph's 15-round peel depth. The final SELECT
    reads the last round's degree frame (at fixpoint that IS the
    in-core degree, matching the operator's converged recompute)."""
    head = f"""
        WITH e0 AS ({_CHAIN_REGION_EDGES_SQL}),
        e AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM e0 WHERE src <> dst
        ),
        sym AS MATERIALIZED (
          SELECT a AS id, b AS other FROM e
          UNION ALL
          SELECT b AS id, a AS other FROM e
        ),
        alive0 AS MATERIALIZED (SELECT DISTINCT id FROM sym)
        """
    parts = [head]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        deg{i} AS (
          SELECT s.id, count(*) AS c
          FROM sym s
          JOIN alive{i - 1} p ON s.id = p.id
          JOIN alive{i - 1} q ON s.other = q.id
          GROUP BY s.id
        ),
        alive{i} AS MATERIALIZED (SELECT id FROM deg{i} WHERE c >= {k})
            """
        )
    parts.append(
        f"SELECT id, cast(c AS integer) AS degree "
        f"FROM deg{iterations} WHERE c >= {k}"
    )
    return "".join(parts)


def _ktruss_oracle_sql(k: int, iterations: int) -> str:
    """Unrolled synchronous k-truss edge-peeling over the planted
    cascade gadgets (see q_graph_ktruss / _truss_gadget_edges). Each
    round recomputes every surviving edge's triangle support via the
    wedge self-join closed by an edge equi-join, LEFT-joins it back so
    triangle-free edges read support 0, and drops edges with support
    < k−2; the update is set-valued and deterministic, so iterations
    past the fixpoint are no-ops. The final SELECT reads the last
    round's support frame — at fixpoint that IS the in-truss support,
    matching the operator's converged recompute."""
    head = """
        WITH o AS (
          SELECT o_orderkey AS kk FROM orders WHERE o_orderkey % 29 = 0
        ),
        e0 AS (
          SELECT 'g'||kk||'_'||x AS src, 'g'||kk||'_'||y AS dst
          FROM o CROSS JOIN (VALUES
            (0,1),(0,2),(0,3),(1,2),(1,3),(2,3),
            (3,4),(3,5),(4,5),(5,6),
            (0,7),(1,7),(0,8),(7,8)) t(x,y)
        ),
        alive0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM e0 WHERE src <> dst
        )
        """
    parts = [head]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        sym{i} AS MATERIALIZED (
          SELECT a AS id, b AS other FROM alive{i - 1}
          UNION ALL
          SELECT b AS id, a AS other FROM alive{i - 1}
        ),
        tri{i} AS (
          SELECT x.id AS a, y.id AS b, count(*) AS s
          FROM sym{i} x
          JOIN sym{i} y ON x.other = y.other AND x.id < y.id
          JOIN alive{i - 1} e ON e.a = x.id AND e.b = y.id
          GROUP BY x.id, y.id
        ),
        supp{i} AS MATERIALIZED (
          SELECT e.a, e.b, coalesce(t.s, 0) AS s
          FROM alive{i - 1} e
          LEFT JOIN tri{i} t ON t.a = e.a AND t.b = e.b
        ),
        alive{i} AS MATERIALIZED (
          SELECT a, b FROM supp{i} WHERE s >= {k - 2}
        )
            """
        )
    parts.append(
        f"SELECT a, b, cast(s AS integer) AS support "
        f"FROM supp{iterations} WHERE s >= {k - 2}"
    )
    return "".join(parts)


def _betweenness_oracle_sql(levels: int) -> str:
    """Unrolled Brandes over the planted graph (see
    q_graph_betweenness): forward level frames ``l_k`` carry
    shortest-path counts σ (sum over level-(k-1) predecessors, with a
    settled anti-join), backward frames ``d_k`` carry the dependency
    δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) over level-(k+1) successors. Levels
    past the true depth are empty, making a fixed unroll fixpoint-safe;
    σ are integer-exact doubles and the final score is rounded to 6
    (matching the operator's round-before-compare). Every frame is
    MATERIALIZED — each is referenced by several later frames and
    un-materialized CTE re-evaluation would blow up exponentially."""
    head = """
        WITH e AS MATERIALIZED (
          SELECT 'n' || cast(n_nationkey AS varchar) AS u,
                 'n' || cast(n_nationkey + 1 AS varchar) AS v
          FROM nation WHERE n_nationkey < 11
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'p' || cast(n_nationkey AS varchar)
          FROM nation WHERE n_nationkey IN (2, 6)
          UNION ALL
          SELECT 'p' || cast(n_nationkey AS varchar),
                 'n' || cast(n_nationkey + 2 AS varchar)
          FROM nation WHERE n_nationkey IN (2, 6)
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'r' || cast(n_nationkey % 3 AS varchar)
          FROM nation WHERE n_nationkey < 6
        ),
        srcs AS (SELECT 'n0' AS s UNION ALL SELECT 'n4'),
        l0 AS MATERIALIZED (
          SELECT s, s AS id, cast(1 AS double) AS sigma FROM srcs
        ),
        st0 AS MATERIALIZED (SELECT s, id FROM l0)
        """
    parts = [head]
    for k in range(1, levels + 1):
        parts.append(
            f""",
        l{k} AS MATERIALIZED (
          SELECT p.s, e.v AS id, sum(p.sigma) AS sigma
          FROM l{k - 1} p
          JOIN e ON p.id = e.u
          LEFT JOIN st{k - 1} st ON p.s = st.s AND e.v = st.id
          WHERE st.id IS NULL
          GROUP BY p.s, e.v
        ),
        st{k} AS MATERIALIZED (
          SELECT s, id FROM st{k - 1} UNION ALL SELECT s, id FROM l{k}
        )
            """
        )
    parts.append(
        f""",
        d{levels} AS MATERIALIZED (
          SELECT s, id, cast(0 AS double) AS delta FROM l{levels}
        )
        """
    )
    for k in range(levels - 1, 0, -1):
        parts.append(
            f""",
        d{k} AS MATERIALIZED (
          SELECT lv.s, lv.id, coalesce(c.delta, 0) AS delta
          FROM l{k} lv LEFT JOIN (
            SELECT a.s, a.id,
                   sum(a.sigma / w.sigma * (1 + w.delta)) AS delta
            FROM l{k} a
            JOIN e ON a.id = e.u
            JOIN (
              SELECT dn.s, dn.id, dn.delta, ln.sigma
              FROM d{k + 1} dn JOIN l{k + 1} ln
                ON dn.s = ln.s AND dn.id = ln.id
            ) w ON a.s = w.s AND e.v = w.id
            GROUP BY a.s, a.id
          ) c ON lv.s = c.s AND lv.id = c.id
        )
            """
        )
    union = " UNION ALL ".join(
        f"SELECT id, delta FROM d{k}" for k in range(1, levels + 1)
    )
    parts.append(
        f"""
        SELECT id, round(sum(delta), 6) AS betweenness
        FROM ({union}) WHERE delta > 0
        GROUP BY id HAVING round(sum(delta), 6) > 0
        """
    )
    return "".join(parts)


def _sssp_oracle_sql(iterations: int) -> str:
    """Unrolled Bellman–Ford over the planted weighted DAG (see
    q_graph_sssp_weighted): d_i(v) = min(d_{i-1}(v), min_u(d_{i-1}(u) +
    w(u,v))). The operator's frontier variant produces the identical
    frame after every round (relaxations from unimproved nodes were
    already applied when they last improved), and rounds past the
    fixpoint are no-ops, so any unroll depth ≥ the longest shortest
    path's edge count matches exactly; integer weights keep every
    double exact."""
    head = """
        WITH e0 AS (
          SELECT 'n' || cast(n_nationkey AS varchar) AS u,
                 'n' || cast(n_nationkey + 1 AS varchar) AS v,
                 cast((n_nationkey % 3) + 1 AS double) AS w
          FROM nation WHERE n_nationkey < 24
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'n' || cast(n_nationkey + 5 AS varchar),
                 cast(3 AS double)
          FROM nation WHERE n_nationkey % 5 = 0 AND n_nationkey < 20
        ),
        e AS MATERIALIZED (SELECT u, v, min(w) AS w FROM e0 GROUP BY u, v),
        d0 AS (SELECT 'n0' AS id, cast(0 AS double) AS dist)
        """
    parts = [head]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        d{i} AS MATERIALIZED (
          SELECT id, min(dd) AS dist FROM (
            SELECT id, dist AS dd FROM d{i - 1}
            UNION ALL
            SELECT e.v AS id, p.dist + e.w AS dd
            FROM d{i - 1} p JOIN e ON p.id = e.u
          ) GROUP BY id
        )
            """
        )
    parts.append(f"SELECT id, dist FROM d{iterations}")
    return "".join(parts)


def _pagerank_oracle_sql(
    iterations: int,
    damping: float,
    weighted: bool = False,
    seeds: tuple[str, ...] | None = None,
) -> str:
    """Unrolled PageRank recurrence over the planted nation graph
    (see q_graph_pagerank). Generated per iteration so the SQL mirrors
    the operator's float arithmetic EXACTLY: contributions use
    rank * (1.0/out_deg) (not rank/out_deg — different IEEE rounding),
    the teleport term is (1.0 - d)/n, and the damped term is
    d * (c + dangling/n). ``weighted=True`` mirrors the weighted path:
    per-(src,dst) weight sums, w = ew / out-weight-sum (see
    q_graph_pagerank_weighted for the planted weights). ``seeds``
    mirrors the personalized path: a teleport CTE with 1/|S| on the
    seeds and 0 elsewhere replaces both the uniform teleport and the
    uniform dangling redistribution, and it0 starts at t (all planted
    seeds exist in the nation graph at every SF, so |S| is the literal
    seed count — the operator counts S∩nodes at runtime)."""
    d = repr(damping)
    if weighted:
        head = """
        WITH e0 AS (
          SELECT 'n' || cast(n_nationkey AS varchar) AS src,
                 'n' || cast((n_nationkey + 1) % 25 AS varchar) AS dst,
                 cast(1 + n_nationkey % 3 AS double) AS wt
          FROM nation
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'r' || cast(n_regionkey AS varchar),
                 cast(2.0 AS double)
          FROM nation
        ),
        e AS (SELECT src, dst, sum(wt) AS ew FROM e0
              WHERE wt > 0 GROUP BY src, dst),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        cnt AS (SELECT cast(count(*) AS double) AS n FROM nodes),
        outdeg AS (SELECT src, sum(ew) AS out_w FROM e GROUP BY src),
        w AS (
          SELECT e.src, e.dst, e.ew / outdeg.out_w AS w
          FROM e JOIN outdeg USING (src)
        ),
        it0 AS (SELECT id, (SELECT 1.0 / n FROM cnt) AS rank FROM nodes)
        """
    else:
        head = """
        WITH e0 AS (
          SELECT 'n' || cast(n_nationkey AS varchar) AS src,
                 'n' || cast((n_nationkey + 1) % 25 AS varchar) AS dst
          FROM nation
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'r' || cast(n_regionkey AS varchar)
          FROM nation
        ),
        e AS (SELECT DISTINCT src, dst FROM e0),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        cnt AS (SELECT cast(count(*) AS double) AS n FROM nodes),
        outdeg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
        w AS (
          -- cast: bare 1.0 is DECIMAL(2,1) in DuckDB, and decimal
          -- division would only coincidentally match Spark's IEEE
          -- double 1.0/out_deg when every reciprocal is exact
          SELECT e.src, e.dst, cast(1.0 AS double) / outdeg.out_deg AS w
          FROM e JOIN outdeg USING (src)
        ),
        it0 AS (SELECT id, (SELECT 1.0 / n FROM cnt) AS rank FROM nodes)
        """
    if seeds is not None:
        ids = ", ".join(f"'{s}'" for s in seeds)
        head = head.replace(
            "it0 AS (SELECT id, (SELECT 1.0 / n FROM cnt) AS rank FROM nodes)",
            f"""tele AS (
          SELECT id,
                 CASE WHEN id IN ({ids})
                      THEN cast(1.0 AS double) / {len(seeds)}
                      ELSE cast(0.0 AS double) END AS t
          FROM nodes
        ),
        it0 AS (SELECT id, t AS rank FROM tele)""",
        )
    parts = [head]
    for i in range(1, iterations + 1):
        if seeds is not None:
            update = f"""it{i} AS (
          SELECT nd.id,
                 (1.0 - {d}) * t.t
                   + {d} * (coalesce(c.c, 0.0) + dang{i}.dm * t.t) AS rank
          FROM nodes nd
          JOIN tele t ON t.id = nd.id
          CROSS JOIN dang{i}
          LEFT JOIN contrib{i} c ON c.id = nd.id
        )"""
        else:
            update = f"""it{i} AS (
          SELECT nd.id,
                 (1.0 - {d}) / cnt.n
                   + {d} * (coalesce(c.c, 0.0) + dang{i}.dm / cnt.n) AS rank
          FROM nodes nd
          CROSS JOIN cnt
          CROSS JOIN dang{i}
          LEFT JOIN contrib{i} c ON c.id = nd.id
        )"""
        parts.append(
            f""",
        dang{i} AS (
          SELECT coalesce(sum(r.rank), 0.0) AS dm
          FROM it{i - 1} r LEFT JOIN outdeg o ON r.id = o.src
          WHERE o.src IS NULL
        ),
        contrib{i} AS (
          SELECT w.dst AS id, sum(r.rank * w.w) AS c
          FROM w JOIN it{i - 1} r ON w.src = r.id
          GROUP BY w.dst
        ),
        {update}
            """
        )
    parts.append(
        f"SELECT id, round(rank, 9) AS rank FROM it{iterations}"
    )
    return "".join(parts)


def _hll_rank_case_sql(w_bits: int = 58, scale: int = 59) -> str:
    """Generated integer-comparison CASE for the HLL leading-1 rank of
    a column ``w`` — the ONE cross-engine-exact leading-zero count
    (mirrors operators/sketches.py::_hll_rank; shared by every
    HLL-family oracle so the chain cannot drift per-entry)."""
    return f"CASE WHEN w = 0 THEN {scale} " + " ".join(
        f"WHEN w >= {1 << (w_bits - r)} THEN {r}" for r in range(1, w_bits + 1)
    ) + " END"


def _hll_numer(m: int, scale: int = 59) -> float:
    """alpha_m * m^2 * 2^scale — the raw-HLL estimator numerator
    (mirrors operators/sketches.py::hll_estimate; shared so a constant
    change lands in every HLL-family oracle at once)."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << scale)


def _hll_oracle_sql() -> str:
    """HLL oracle: same md5 routing, the shared generated rank CASE,
    and the scaled-integer harmonic sum in HUGEINT — mirrors
    operators/sketches.py::hll_build/hll_estimate exactly."""
    scale, m = 59, 64
    rank_case = _hll_rank_case_sql()
    numer = _hll_numer(m)
    zero_term = (
        f"CAST({m} - present AS HUGEINT) * CAST({1 << scale} AS HUGEINT)"
    )
    s_expr = f"coalesce(s_present, 0) + {zero_term}"
    return f"""
        WITH h AS (
          SELECT md5_number_upper('hll:' || cast(user_id AS varchar)) AS hu
          FROM events WHERE user_id IS NOT NULL
        ),
        rw AS (SELECT hu % {m} AS register, hu // {m} AS w FROM h),
        regs AS (
          SELECT register, max({rank_case}) AS m_rank FROM rw GROUP BY register
        ),
        agg AS (
          SELECT count(*) AS present,
                 sum(CAST(1 AS BIGINT) << ({scale} - m_rank)) AS s_present
          FROM regs
        )
        SELECT {m} AS m,
               CAST({m} - present AS BIGINT) AS n_zero,
               CAST({s_expr} AS VARCHAR) AS s_scaled,
               round({numer!r} / CAST({s_expr} AS DOUBLE), 3) AS est_distinct
        FROM agg
    """


def _hll_overlap_oracle_sql() -> str:
    """Pairwise HLL overlap oracle: per-type sketches with the shared
    md5 routing + rank CASE, densified over all 64 registers (empty =
    rank 0), register equi-join per unordered pair, HUGEINT harmonic
    sums, and the same fixed-order inclusion-exclusion float — mirrors
    operators/sketches.py::hll_overlap exactly."""
    scale, m = 59, 64
    rank_case = _hll_rank_case_sql()
    numer = _hll_numer(m)
    return f"""
        WITH h AS (
          SELECT event_type AS grp,
                 md5_number_upper('hll:' || cast(user_id AS varchar)) AS hu
          FROM events WHERE user_id IS NOT NULL
        ),
        rw AS (SELECT grp, hu % {m} AS register, hu // {m} AS w FROM h),
        regs AS (
          SELECT grp, register, max({rank_case}) AS m_rank
          FROM rw GROUP BY grp, register
        ),
        grps AS (SELECT DISTINCT grp FROM regs),
        dense AS (
          SELECT g.grp, r.register, coalesce(s.m_rank, 0) AS m_rank
          FROM grps g
          CROSS JOIN (SELECT unnest(range(0, {m})) AS register) r
          LEFT JOIN regs s
            ON s.grp = g.grp AND s.register = r.register
        ),
        pairs AS (
          SELECT d1.grp AS a, d2.grp AS b,
                 sum(CAST(1 AS BIGINT) << ({scale} - d1.m_rank)) AS sa,
                 sum(CAST(1 AS BIGINT) << ({scale} - d2.m_rank)) AS sb,
                 sum(CAST(1 AS BIGINT)
                     << ({scale} - greatest(d1.m_rank, d2.m_rank))) AS su
          FROM dense d1
          JOIN dense d2 ON d1.register = d2.register AND d1.grp < d2.grp
          GROUP BY 1, 2
        )
        SELECT a, b,
               CAST(sa AS VARCHAR) AS s_a,
               CAST(sb AS VARCHAR) AS s_b,
               CAST(su AS VARCHAR) AS s_union,
               round({numer!r} / CAST(sa AS DOUBLE), 3) AS est_a,
               round({numer!r} / CAST(sb AS DOUBLE), 3) AS est_b,
               round({numer!r} / CAST(su AS DOUBLE), 3) AS est_union,
               round({numer!r} / CAST(sa AS DOUBLE)
                     + {numer!r} / CAST(sb AS DOUBLE)
                     - {numer!r} / CAST(su AS DOUBLE), 3) AS est_overlap
        FROM pairs
    """


def _anf_oracle_sql(hops: int = 2, m: int = 16) -> str:
    """HyperANF oracle: the same md5 register routing and generated
    58-branch leading-1 rank CASE as `_hll_oracle_sql`, then ``hops``
    unrolled rounds of registerwise-max merge over the symmetrized
    planted nation graph (row-based: a register has a row iff it has
    ever been touched — rank 0 never occurs, mirroring the operator's
    packed-array 0 = empty convention), finished with the per-node
    scaled-integer harmonic sum in HUGEINT."""
    scale = 59
    rank_case = _hll_rank_case_sql()
    numer = _hll_numer(m)
    rounds = []
    for i in range(1, hops + 1):
        prev = f"sk{i - 1}"
        rounds.append(f""",
        sk{i} AS (
          SELECT id, register, max(m_rank) AS m_rank FROM (
            SELECT id, register, m_rank FROM {prev}
            UNION ALL
            SELECT e.u AS id, s.register, s.m_rank
            FROM sym e JOIN {prev} s ON s.id = e.v
          ) GROUP BY id, register
        )""")
    s_expr = (
        f"coalesce(s_present, 0) + CAST({m} - present AS HUGEINT)"
        f" * CAST({1 << scale} AS HUGEINT)"
    )
    return f"""
        WITH nedge AS (
          SELECT 'n' || cast(n_nationkey AS varchar) AS u,
                 'n' || cast((n_nationkey + 1) % 25 AS varchar) AS v
          FROM nation
          UNION ALL
          SELECT 'n' || cast(n_nationkey AS varchar),
                 'r' || cast(n_regionkey AS varchar)
          FROM nation
        ),
        sym AS (
          SELECT DISTINCT u, v FROM (
            SELECT u, v FROM nedge UNION ALL SELECT v AS u, u AS v FROM nedge
          ) WHERE u <> v
        ),
        nodes AS (
          SELECT DISTINCT u AS id FROM (
            SELECT u FROM nedge UNION ALL SELECT v AS u FROM nedge
          )
        ),
        h AS (
          SELECT id, md5_number_upper('anf:' || id) AS hu FROM nodes
        ),
        sk0 AS (
          SELECT id, register, {rank_case} AS m_rank FROM (
            SELECT id, cast(hu % {m} AS int) AS register, hu // {m} AS w
            FROM h
          )
        ){''.join(rounds)},
        agg AS (
          SELECT id, count(*) AS present,
                 sum(CAST(1 AS BIGINT) << ({scale} - m_rank)) AS s_present
          FROM sk{hops} GROUP BY id
        )
        SELECT id,
               cast({m} - present AS bigint) AS n_zero,
               cast({s_expr} AS varchar) AS s_scaled,
               round({numer!r} / cast({s_expr} AS double), 3) AS est_ball
        FROM agg
    """


def _schema_audit_oracle_sql() -> str:
    """Conformance-audit oracle: the signature VALUES are generated
    from the SAME rule expansion the operator broadcasts
    (operators/triples.relation_signatures) — one definition, two
    engines, the repo's shared-rule-data convention."""
    from threat_intelligence_knowledge_graph_spark.operators.triples import (
        relation_signatures,
    )

    sigs = relation_signatures()
    values = ", ".join(f"('{p}', '{s}', '{o}')" for p, s, o in sigs)
    preds = ", ".join(f"'{p}'" for p in sorted({p for p, _s, _o in sigs}))
    return f"""
        WITH base AS (
          SELECT 'Domain_Evil-' || cast(o_orderkey AS varchar)
                   || '_Example_Net' AS dom,
                 'Ipv4_10_' || cast(o_orderkey % 250 AS varchar) || '_'
                   || cast((o_orderkey * 7) % 250 AS varchar) || '_'
                   || cast((o_orderkey % 249) + 1 AS varchar) AS ip,
                 o_orderkey AS k
          FROM orders
        ),
        nodes AS (
          SELECT 'Domain' AS node_label, dom AS node_id FROM base
          UNION
          SELECT 'Ipv4', ip FROM base
        ),
        triples AS (
          SELECT dom AS subj, 'RESOLVES_TO' AS pred, ip AS obj FROM base
          UNION ALL
          SELECT ip, 'RESOLVES_TO', dom FROM base WHERE k % 10 = 0
          UNION ALL
          SELECT dom, 'FOOBAR', ip FROM base WHERE k % 17 = 0
          UNION ALL
          SELECT dom, 'RESOLVES_TO', 'Missing_' || cast(k AS varchar)
          FROM base WHERE k % 23 = 0
        ),
        sigs(pred, subj_label, obj_label) AS (VALUES {values}),
        lab AS (
          SELECT t.subj, t.pred, t.obj,
                 ns.node_label AS subj_label, nd.node_label AS obj_label
          FROM triples t
          LEFT JOIN nodes ns ON t.subj = ns.node_id
          LEFT JOIN nodes nd ON t.obj = nd.node_id
        )
        SELECT l.subj, l.pred, l.obj, l.subj_label, l.obj_label,
               CASE
                 WHEN l.subj_label IS NULL OR l.obj_label IS NULL
                   THEN 'unknown_endpoint'
                 WHEN l.pred NOT IN ({preds}) THEN 'unknown_predicate'
                 WHEN s.pred IS NOT NULL THEN 'ok'
                 ELSE 'signature_mismatch'
               END AS status
        FROM lab l
        LEFT JOIN sigs s
          ON l.pred = s.pred AND l.subj_label = s.subj_label
         AND l.obj_label = s.obj_label
    """


def oracle_sql() -> dict[str, str]:
    return {
        "kg_chunks": """
            WITH d AS (
              SELECT cast(doc_id AS varchar) AS doc_id, text, length(text) AS n
              FROM documents WHERE length(text) > 0
            )
            SELECT doc_id,
                   cast(u.i AS int) AS chunk_index,
                   cast(floor((n - 1) / 90) + 1 AS int) AS total_chunks,
                   substring(text, cast(u.i AS int) * 90 + 1, 100) AS chunk_text
            FROM (
              SELECT doc_id, text, n,
                     unnest(range(0, cast(floor((n - 1) / 90) AS bigint) + 1)) AS i
              FROM d
            ) u
        """,
        "kg_node_ids": """
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'Domain'
                        WHEN doc_id % 3 = 1 THEN 'IPv4'
                        ELSE 'URL' END AS node_type,
                   lower(CASE WHEN doc_id % 3 = 0 THEN 'Domain'
                              WHEN doc_id % 3 = 1 THEN 'IPv4'
                              ELSE 'URL' END)
                   || '_'
                   || regexp_replace(
                        'val-' || cast(doc_id AS varchar) || '/x.'
                        || cast(doc_id % 7 AS varchar),
                        '[^a-zA-Z0-9_-]', '_', 'g') AS node_id
            FROM documents
        """,
        "kg_ioc_typing": """
            WITH m AS (
              SELECT doc_id,
                     (['domains','md5s','cves','urls','ipv4s','not_a_class','asns'])
                       [cast(doc_id % 7 AS int) + 1] AS ioc_class
              FROM documents
            ), map(ioc_class, node_type) AS (VALUES
              ('domains','Domain'), ('md5s','Hash'), ('cves','Vulnerability'),
              ('urls','URL'), ('ipv4s','IPv4'), ('asns','ASN')
            )
            SELECT m.doc_id, m.ioc_class, map.node_type
            FROM m JOIN map USING (ioc_class)
        """,
        "kg_cve_mentions": f"""
            WITH t AS ({_CTI_TEXT_SQL})
            SELECT u.value AS value, count(*) AS n_mentions
            FROM t, unnest(regexp_extract_all(t.text, '{_CVE_RX}')) AS u(value)
            GROUP BY u.value
        """,
        "ioc_first_last_seen": f"""
            WITH t0 AS ({_CTI_TEXT_SQL}),
            t AS (
              SELECT t0.doc_id, t0.text, o.o_orderdate
              FROM t0 JOIN orders o
                ON t0.doc_id = cast(o.o_orderkey AS varchar)
            )
            SELECT u.value AS value,
                   min(t.o_orderdate) AS first_seen,
                   max(t.o_orderdate) AS last_seen,
                   count(DISTINCT t.doc_id) AS n_docs
            FROM t, unnest(regexp_extract_all(t.text, '{_CVE_RX}')) AS u(value)
            GROUP BY u.value
        """,
        "kg_ipv4_mentions": f"""
            WITH t AS ({_CTI_TEXT_SQL})
            SELECT DISTINCT t.doc_id AS doc_id, u.value AS value
            FROM t, unnest(regexp_extract_all(t.text, '{_IPV4_SIMPLE}')) AS u(value)
        """,
        # Analytic prediction of the kernel's output on constructed text:
        # sentence 1 → Domain RESOLVES_TO Ipv4 (lookup rule idx 8);
        # sentence 2 → Url CONTAINS Domain (lookup rule idx 9; the URL
        # string itself contains the domain, so co-location holds).
        # Stored ids are Python str.title() of
        # '<type>_<sanitized value>' (reference neo4j_store.py:114).
        "kg_triples_from_kernel": _KERNEL_TRIPLES_SQL,
        # The mock-backed LLM path must land on the same analytic triple
        # set (single-chunk docs; the mock emits the kernel's graph as
        # function-call JSON, with every 3rd payload truncated → repaired).
        "kg_llm_mock_triples": _KERNEL_TRIPLES_SQL,
        "kg_nodes_from_kernel": _KERNEL_NODES_SQL,
        # STIX 2.1 exports: the analytic node/edge sets projected
        # through the SAME label→type CASE and md5-uuid formatting the
        # operator computes (see q_stix_objects / q_stix_relationships
        # and operators/stix_export.py).
        "stix_objects": f"""
            WITH n AS ({_KERNEL_NODES_SQL}),
            t AS (
              SELECT node_label, node_id,
                     CASE node_label
                          WHEN 'Domain' THEN 'domain-name'
                          WHEN 'Ipv4' THEN 'ipv4-addr'
                          WHEN 'Url' THEN 'url'
                          WHEN 'Vulnerability' THEN 'vulnerability'
                     END AS stix_type
              FROM n
            )
            SELECT stix_type || '--' || {_uuid_sql("node_id")} AS stix_id,
                   stix_type, node_label, node_id
            FROM t
        """,
        "stix_relationships": f"""
            WITH tr AS ({_KERNEL_TRIPLES_SQL}),
            e AS (
              SELECT subj AS src_id, pred AS rel_type, obj AS dst_id,
                     CASE pred WHEN 'RESOLVES_TO' THEN 'domain-name'
                               ELSE 'url' END AS src_type,
                     CASE pred WHEN 'RESOLVES_TO' THEN 'ipv4-addr'
                               ELSE 'domain-name' END AS dst_type
              FROM tr
            )
            SELECT 'relationship--'
                   || {_uuid_sql("src_id || chr(31) || rel_type || chr(31) || dst_id")}
                     AS stix_id,
                   lower(replace(rel_type, '_', '-')) AS relationship_type,
                   src_type || '--' || {_uuid_sql("src_id")} AS source_ref,
                   dst_type || '--' || {_uuid_sql("dst_id")} AS target_ref
            FROM e
        """,
        "kg_edge_dedup": """
            SELECT DISTINCT 'part_' || cast(l_partkey AS varchar) AS subj,
                   'SUPPLIED_BY' AS pred,
                   'supp_' || cast(l_suppkey AS varchar) AS obj
            FROM lineitem
        """,
        "kg_endpoint_semijoin": """
            WITH nodes AS (
              SELECT 'c_' || cast(c_custkey AS varchar) AS node_id FROM customer
            ), edges AS (
              SELECT DISTINCT 'c_' || cast(o_custkey AS varchar) AS src_id,
                     'c_' || cast(o_orderkey % 3000 AS varchar) AS dst_id
              FROM orders
            )
            SELECT e.src_id, e.dst_id FROM edges e
            WHERE EXISTS (SELECT 1 FROM nodes n WHERE n.node_id = e.src_id)
              AND EXISTS (SELECT 1 FROM nodes n WHERE n.node_id = e.dst_id)
        """,
        "kg_degrees": f"""
            WITH triples AS ({_CONSTRUCTED_TRIPLES_SQL}),
            outs AS (SELECT subj AS node_id, count(*) AS out_degree
                     FROM triples GROUP BY subj),
            ins  AS (SELECT obj AS node_id, count(*) AS in_degree
                     FROM triples GROUP BY obj)
            SELECT coalesce(outs.node_id, ins.node_id) AS node_id,
                   coalesce(out_degree, 0) AS out_degree,
                   coalesce(in_degree, 0) AS in_degree,
                   coalesce(out_degree, 0) + coalesce(in_degree, 0) AS degree
            FROM outs FULL OUTER JOIN ins ON outs.node_id = ins.node_id
        """,
        "kg_two_hop": f"""
            WITH triples AS ({_CONSTRUCTED_TRIPLES_SQL})
            SELECT t1.subj AS a, t1.pred AS pred1, t1.obj AS b,
                   t2.pred AS pred2, t2.obj AS c
            FROM triples t1 JOIN triples t2 ON t1.obj = t2.subj
            WHERE t1.pred = 'PLACED' AND t2.pred = 'HANDLED'
        """,
        "kg_metrics_rollup": """
            SELECT event_type AS stage, count(*) AS n_rows,
                   cast(floor(sum(value)) AS bigint) AS total_value
            FROM events GROUP BY event_type
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   cast(sum(l_quantity) AS bigint) AS sum_qty,
                   cast(floor(sum(l_extendedprice)) AS bigint) AS sum_base_price,
                   cast(floor(sum(l_extendedprice * (1 - l_discount))) AS bigint) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_customer_orders": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   cast(floor(sum(o_totalprice)) AS bigint) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "events_user_windows": """
            SELECT event_id, user_id,
                   cast(row_number() OVER w AS int) AS rn,
                   lag(event_type) OVER w AS prev_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "events_sessionize": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sessions AS (
              SELECT user_id, event_id, ts,
                     sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flagged
            )
            SELECT user_id, cast(session_id AS bigint) AS session_id,
                   count(*) AS n_events,
                   cast((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS bigint) AS duration_sec
            FROM sessions GROUP BY user_id, session_id
        """,
        "events_type_cooccurrence": """
            WITH it AS (
              SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr, event_type
              FROM events
            )
            SELECT x.event_type AS a, y.event_type AS b, count(*) AS weight
            FROM it x JOIN it y
              ON x.user_id = y.user_id AND x.hr = y.hr
             AND x.event_type < y.event_type
            GROUP BY 1, 2
        """,
        "top_parts_by_revenue": """
            WITH rev AS (
              SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem GROUP BY l_partkey
            )
            SELECT p_partkey AS partkey, p_name AS part_name, revenue
            FROM rev JOIN part ON l_partkey = p_partkey
            ORDER BY revenue DESC, partkey
            LIMIT 10
        """,
        "set_ops_nations": """
            SELECT 'both' AS src, nationkey FROM (
              SELECT c_nationkey AS nationkey FROM customer
              INTERSECT
              SELECT s_nationkey FROM supplier
            )
            UNION ALL
            SELECT 'customer_only' AS src, nationkey FROM (
              SELECT DISTINCT c_nationkey AS nationkey FROM customer
              EXCEPT
              SELECT s_nationkey FROM supplier
            )
        """,
        "rollup_orders": """
            SELECT coalesce(o_orderpriority, 'ALL') AS priority,
                   coalesce(o_orderstatus, 'ALL') AS status,
                   count(*) AS n
            FROM orders
            GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        # DuckDB sum(int) is HUGEINT (decimal128 in Arrow) while Spark's is
        # bigint; the driver hash is type-sensitive, so cast explicitly.
        "pivot_order_status": """
            SELECT o_orderpriority,
                   cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS bigint) AS n_f,
                   cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS bigint) AS n_o,
                   cast(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS bigint) AS n_p
            FROM orders GROUP BY o_orderpriority
        """,
        "anti_join_orders": """
            SELECT o_orderkey, o_orderstatus FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "events_extremes": """
            WITH ranked AS (
              SELECT event_id, event_type, value,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY value DESC, event_id ASC) AS rh,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY value ASC, event_id ASC) AS rl
              FROM events
            )
            SELECT event_id, event_type, round(value, 4) AS value,
                   'high' AS direction
            FROM ranked WHERE rh <= 20
            UNION ALL
            SELECT event_id, event_type, round(value, 4), 'low'
            FROM ranked WHERE rl <= 20
        """,
        "events_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   round(min(value), 4) AS vmin,
                   round(max(value), 4) AS vmax
            FROM events GROUP BY event_type
        """,
        "latest_event_per_user": """
            WITH last AS (SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id)
            SELECT e.user_id, min(e.event_id) AS event_id
            FROM events e JOIN last l ON e.user_id = l.user_id AND e.ts = l.last_ts
            GROUP BY e.user_id, l.last_ts
        """,
        "ip_cidr_enrich": """
            WITH ips AS (
              SELECT o_orderkey AS ip_id,
                     '10.' || (o_orderkey % 250) || '.'
                       || ((o_orderkey * 7) % 250) || '.'
                       || ((o_orderkey % 249) + 1) AS ip,
                     167772160 + 65536 * (o_orderkey % 250)
                       + 256 * ((o_orderkey * 7) % 250)
                       + ((o_orderkey % 249) + 1) AS ipn
              FROM orders
            ),
            cidrs AS (
              SELECT '10.' || n_nationkey || '.0.0/16' AS cidr,
                     'net-' || n_nationkey AS label,
                     167772160 + 65536 * n_nationkey AS start,
                     65536 AS sz, 16 AS prefix
              FROM nation
              UNION ALL
              SELECT '10.0.0.0/8', 'corp', 167772160, 16777216, 8
            ),
            m AS (
              SELECT ip_id, ip, cidr, label,
                     row_number() OVER (
                       PARTITION BY ip_id ORDER BY prefix DESC
                     ) AS rn
              FROM ips JOIN cidrs ON ipn >= start AND ipn < start + sz
            )
            SELECT ip_id, ip, cidr, label FROM m WHERE rn = 1
        """,
        "bloom_prefilter": """
            WITH members AS (
              SELECT cast(o_orderkey AS varchar) AS k
              FROM orders WHERE o_orderkey % 7 = 0
            ),
            pos AS (
              SELECT cast(md5_number_upper('bloom' || r.i || ':' || k)
                          % 4096 AS bigint) AS pos
              FROM members CROSS JOIN (VALUES (0),(1),(2)) r(i)
            ),
            bloom AS (
              SELECT pos // 32 AS word,
                     bit_or(1::BIGINT << cast(pos % 32 AS int)) AS bits
              FROM pos GROUP BY 1
            ),
            probes AS (
              SELECT o_orderkey AS key_id,
                     cast(md5_number_upper('bloom' || r.i || ':'
                          || cast(o_orderkey AS varchar)) % 4096 AS bigint) AS pos
              FROM orders CROSS JOIN (VALUES (0),(1),(2)) r(i)
            ),
            checked AS (
              SELECT p.key_id,
                     sum(CASE WHEN coalesce(b.bits, 0)
                              & (1::BIGINT << cast(p.pos % 32 AS int)) <> 0
                         THEN 1 ELSE 0 END) AS hits,
                     count(*) AS n
              FROM probes p LEFT JOIN bloom b ON b.word = p.pos // 32
              GROUP BY 1
            )
            SELECT key_id, hits = n AS might_contain FROM checked
        """,
        "domain_registrable": """
            SELECT o_orderkey AS host_id,
                   CASE cast(o_orderkey % 5 AS int)
                     WHEN 0 THEN 'www.evil-' || o_orderkey || '.co.uk'
                     WHEN 1 THEN 'cdn.evil-' || o_orderkey || '.com'
                     WHEN 2 THEN 'u' || o_orderkey || '.github.io'
                     WHEN 3 THEN 'evil-' || o_orderkey || '.zz'
                     ELSE 'github.io' END AS host,
                   CASE cast(o_orderkey % 5 AS int)
                     WHEN 0 THEN 'co.uk'
                     WHEN 1 THEN 'com'
                     WHEN 2 THEN 'github.io'
                     WHEN 3 THEN NULL
                     ELSE 'github.io' END AS suffix,
                   CASE cast(o_orderkey % 5 AS int)
                     WHEN 0 THEN 'evil-' || o_orderkey || '.co.uk'
                     WHEN 1 THEN 'evil-' || o_orderkey || '.com'
                     WHEN 2 THEN 'u' || o_orderkey || '.github.io'
                     ELSE NULL END AS registrable
            FROM orders
        """,
        "cms_user_counts": """
            WITH cells AS (
              SELECT r.i AS row,
                     cast(md5_number_upper('cms' || r.i || ':'
                          || cast(user_id AS varchar)) % 32 AS bigint) AS bucket,
                     count(*) AS n
              FROM events CROSS JOIN (VALUES (0),(1),(2)) r(i)
              GROUP BY 1, 2
            ),
            probes AS (
              SELECT DISTINCT user_id, r.i AS row,
                     cast(md5_number_upper('cms' || r.i || ':'
                          || cast(user_id AS varchar)) % 32 AS bigint) AS bucket
              FROM events CROSS JOIN (VALUES (0),(1),(2)) r(i)
            ),
            est AS (
              SELECT p.user_id, min(c.n) AS cms_count
              FROM probes p JOIN cells c USING (row, bucket)
              GROUP BY 1
            ),
            exact AS (SELECT user_id, count(*) AS exact_count FROM events GROUP BY 1)
            SELECT est.user_id, cms_count, exact_count
            FROM est JOIN exact USING (user_id)
        """,
        "events_json_props": """
            WITH x AS (
              SELECT event_type,
                     cast(ks AS bigint) AS k
              FROM (
                SELECT event_type,
                       json_extract_string(props, '$.k') AS ks
                FROM events
              )
              WHERE ks IS NOT NULL AND regexp_matches(ks, '^-?[0-9]+$')
            )
            SELECT event_type,
                   cast(count(*) AS bigint) AS n,
                   cast(sum(k) AS bigint) AS sum_k,
                   round(avg(k), 6) AS avg_k,
                   cast(count(DISTINCT k) AS bigint) AS n_distinct_k
            FROM x
            GROUP BY event_type
        """,
        # Global transitivity over the 3-clique+pendant gadgets is
        # ANALYTIC: each disjoint gadget contributes 3 closed wedges,
        # 1 triangle, 5 wedges (degrees 2,2,3,1) — see
        # q_graph_transitivity.
        "graph_transitivity": """
            WITH g AS (
              SELECT cast(count(*) AS bigint) AS ng
              FROM orders WHERE o_orderkey % 13 = 0
            )
            SELECT cast(3 * ng AS bigint) AS n_closed_wedges,
                   ng AS n_triangles,
                   cast(5 * ng AS bigint) AS n_wedges,
                   CASE WHEN ng > 0 THEN
                     round(cast(3 * ng AS double)
                           / cast(5 * ng AS double), 6)
                   END AS transitivity
            FROM g
        """,
        # Rich-club curve over the disjoint gadgets is ANALYTIC (see
        # q_graph_rich_club): spectrum {1,2}, phi(1) = 3G/C(3G,2),
        # phi(2) = 0 across G clique corners.
        "graph_rich_club": """
            WITH g AS (
              SELECT cast(count(*) AS bigint) AS ng
              FROM orders WHERE o_orderkey % 13 = 0
            )
            SELECT cast(1 AS bigint) AS k,
                   cast(3 * ng AS bigint) AS n_club,
                   cast(3 * ng AS bigint) AS e_club,
                   round(cast(3 * ng AS double)
                         / cast((3 * ng * (3 * ng - 1)) // 2 AS double), 6)
                     AS phi
            FROM g WHERE 3 * ng >= 2
            UNION ALL
            SELECT cast(2 AS bigint), ng, cast(0 AS bigint), 0.0
            FROM g WHERE ng >= 2
        """,
        # Average neighbor degree per gadget node is analytic: corners
        # see (2+3)/2, the hub (2+2+1)/3, the pendant 3/1 (see
        # q_graph_avg_nbr_deg).
        "graph_avg_nbr_deg": """
            WITH ks AS (
              SELECT cast(o_orderkey * 3 AS bigint) AS k3
              FROM orders WHERE o_orderkey % 13 = 0
            ),
            o(i, deg, s) AS (VALUES
              (0, 2, 5), (1, 2, 5), (2, 3, 5), (3, 1, 3)
            )
            SELECT k3 + i AS id, cast(deg AS bigint) AS deg,
                   round(cast(s AS double) / cast(deg AS double), 6)
                     AS avg_nbr_deg
            FROM ks CROSS JOIN o
        """,
        "hll_user_overlap": _hll_overlap_oracle_sql(),
        # Degree histogram over the gadgets is analytic (see
        # q_graph_degree_hist).
        "graph_degree_hist": """
            WITH g AS (
              SELECT cast(count(*) AS bigint) AS ng
              FROM orders WHERE o_orderkey % 13 = 0
            )
            SELECT cast(1 AS bigint) AS deg, ng AS n_nodes FROM g
            UNION ALL
            SELECT 2, cast(2 * ng AS bigint) FROM g
            UNION ALL
            SELECT 3, ng FROM g
        """,
        # Hill tail MLE over the gadgets is analytic: sum ln =
        # 2G·ln(1) + G·ln(3/2) (see q_graph_hill_tail).
        "graph_hill_tail": """
            WITH g AS (
              SELECT cast(count(*) AS bigint) AS ng
              FROM orders WHERE o_orderkey % 13 = 0
            )
            SELECT cast(2 AS int) AS d_min,
                   cast(3 * ng AS bigint) AS n_tail,
                   round(1.0 + cast(3 * ng AS double)
                         / (cast(ng AS double)
                            * ln(cast(3 AS double) / cast(2 AS double))), 6)
                     AS alpha
            FROM g
        """,
        "graph_scc": """
            WITH RECURSIVE ks AS (
              SELECT o_orderkey * 10 AS base FROM orders WHERE o_orderkey % 13 = 0
            ),
            e AS (
              SELECT base + p.a AS src, base + p.b AS dst
              FROM ks CROSS JOIN (VALUES
                (0,1),(1,2),(2,0),(2,3),(3,4),(4,5),(5,4),
                (6,8),(6,9),(8,7),(9,7)) p(a, b)
            ),
            reach(s, d) AS (
              SELECT src, dst FROM e
              UNION
              SELECT r.s, e2.dst FROM reach r JOIN e e2 ON e2.src = r.d
            ),
            nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            mut AS (
              SELECT r1.s AS a, r1.d AS b
              FROM reach r1 JOIN reach r2 ON r1.s = r2.d AND r1.d = r2.s
            )
            SELECT id, min(m) AS scc_id FROM (
              SELECT id, id AS m FROM nodes
              UNION ALL
              SELECT a, b FROM mut
            ) t GROUP BY id
        """,
        "graph_random_walks": _walks_cte_sql(4, 2)
        + """
            SELECT walk_id, start_id, step, node FROM walks
        """,
        "graph_walk_pmi": _walks_cte_sql(4, 2)
        + """,
            co AS (
              SELECT a.node AS node_id, b.node AS context,
                     count(*) AS n_co
              FROM walks a JOIN walks b USING (walk_id)
              WHERE a.step <> b.step AND abs(a.step - b.step) <= 2
              GROUP BY 1, 2
            ),
            marg AS (SELECT node_id, sum(n_co) AS m FROM co GROUP BY 1),
            tot AS (SELECT sum(n_co) AS t FROM co)
            SELECT co.node_id, co.context, co.n_co,
                   round(ln(cast(co.n_co AS double) * cast(tot.t AS double)
                            / (cast(ma.m AS double) * cast(mc.m AS double))),
                         6) AS ppmi
            FROM co
            JOIN marg ma USING (node_id)
            JOIN marg mc ON mc.node_id = co.context
            CROSS JOIN tot
            WHERE co.n_co * tot.t > ma.m * mc.m
        """,
        "graph_hits": _hits_oracle_sql(3),
        "graph_katz": _katz_oracle_sql(3),
        "graph_louvain": _louvain_oracle_sql(4),
        "graph_louvain_weighted": _louvain_oracle_sql(4, weighted=True),
        "graph_modularity": _modularity_oracle_sql(4),
        "kmv_distinct_users": """
            WITH h AS (
              SELECT DISTINCT
                     md5_number_upper('kmv:' || cast(user_id AS varchar)) AS hu
              FROM events WHERE user_id IS NOT NULL
            ),
            topk AS (SELECT hu FROM h ORDER BY hu LIMIT 256),
            agg AS (
              SELECT count(*) AS n_hashes, max(cast(hu AS double)) AS hk
              FROM topk
            )
            SELECT n_hashes,
                   round(CASE WHEN n_hashes < 256
                              THEN cast(n_hashes AS double)
                              ELSE cast(4703919738795935662080 AS double) / hk
                         END, 3) AS est_distinct
            FROM agg
        """,
        "hll_distinct_users": _hll_oracle_sql(),
        # Newman degree assortativity over the 3-clique+pendant gadget
        # union: exact bigint sums over edge-endpoint degrees, the
        # 4M²-scaled integer numerator/denominator, ONE round-6
        # division (see q_graph_assortativity).
        "graph_assortativity": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders
                        WHERE o_orderkey % 13 = 0),
            e0 AS (
              SELECT 3 * k AS s, 3 * k + 1 AS d FROM ks
              UNION ALL SELECT 3 * k + 1, 3 * k + 2 FROM ks
              UNION ALL SELECT 3 * k, 3 * k + 2 FROM ks
              UNION ALL SELECT 3 * k + 2, 3 * k + 3 FROM ks
            ),
            e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                  FROM e0 WHERE s <> d),
            deg AS (
              SELECT id, count(*) AS dg FROM (
                SELECT a AS id FROM e UNION ALL SELECT b FROM e
              ) GROUP BY id
            ),
            s AS (
              SELECT cast(count(*) AS bigint) AS m,
                     cast(sum(da.dg * db.dg) AS bigint) AS s1,
                     cast(sum(da.dg + db.dg) AS bigint) AS s2,
                     cast(sum(da.dg * da.dg + db.dg * db.dg) AS bigint)
                       AS s3
              FROM e
              JOIN deg da ON e.a = da.id
              JOIN deg db ON e.b = db.id
            )
            SELECT (SELECT cast(count(*) AS bigint) FROM deg) AS n_nodes,
                   m AS n_edges,
                   CASE WHEN m > 0 AND 2 * m * s3 - s2 * s2 <> 0
                        THEN round((4 * m * s1 - s2 * s2)
                                   / (2 * m * s3 - s2 * s2), 6) END
                     AS assortativity
            FROM s
        """,
        "cypher_var_length": """
            WITH k AS (
              SELECT CAST(o_orderkey AS VARCHAR) AS k
              FROM orders WHERE o_orderkey % 31 = 0
            )
            -- relationship-unique paths of length 1..2 from m{k}:
            -- len 1 → da{k}, db{k}; len 2 → ip{k} (m→da→ip); db has no
            -- outgoing edge and no 2-path reuses an edge, so the
            -- planted enumeration is exact
            SELECT 'mal' || k AS mal, 'da' || k AS target FROM k
            UNION ALL
            SELECT 'mal' || k, 'db' || k FROM k
            UNION ALL
            SELECT 'mal' || k, 'ip' || k FROM k
        """,
        "cypher_optional_match": """
            WITH k AS (
              SELECT CAST(o_orderkey AS VARCHAR) AS k
              FROM orders WHERE o_orderkey % 31 = 0
            )
            SELECT 'a' || k || '.evil.net' AS domain, 'ip' || k AS ip FROM k
            UNION ALL
            SELECT 'b' || k || '.evil.net' AS domain,
                   CAST(NULL AS VARCHAR) AS ip
            FROM k
        """,
        "html_to_text": _html_to_text_oracle_sql(),
        "skew_hot_entities": f"""
            WITH triples AS ({_CONSTRUCTED_TRIPLES_SQL}),
            m AS (
              SELECT subj AS entity FROM triples
              UNION ALL
              SELECT obj AS entity FROM triples
            )
            SELECT entity, count(*) AS count FROM m GROUP BY entity
        """,
        "dedup_exact_docs": """
            SELECT md5(text) AS content_hash, count(*) AS n_copies,
                   min(doc_id) AS keep_id
            FROM documents GROUP BY md5(text)
        """,
        "canonical_map": """
            WITH ks AS (
              SELECT md5(cast(o_orderkey AS varchar)) AS k8,
                     o_orderkey % 2 = 0 AS third
              FROM orders WHERE o_orderkey % 7 = 0
            ),
            v AS (
              SELECT k8, 'GRP-' || k8 || '-X' AS node_id FROM ks
              UNION ALL SELECT k8, 'Grp-' || k8 || '-x' FROM ks
              UNION ALL SELECT k8, 'grp-' || k8 || '-x' FROM ks WHERE third
            ),
            m AS (SELECT k8, min(node_id) AS canon FROM v GROUP BY k8)
            SELECT v.node_id, m.canon AS canonical_id
            FROM v JOIN m USING (k8)
            WHERE v.node_id <> m.canon
            ORDER BY v.node_id
        """,
        "graph_label_propagation": _lpa_oracle_sql(iterations=4),
        "graph_anf": _anf_oracle_sql(hops=2, m=16),
        # Walk enumeration with UNION dedup (recursion bounded: (id, d)
        # pairs are finite under the d < 30 guard), min per node — an
        # independent algorithm from the operator's frontier expansion.
        "graph_bfs_distances": """
            WITH RECURSIVE
            e AS (
              SELECT 'n' || cast(n_nationkey AS varchar) AS src,
                     'n' || cast((n_nationkey + 1) % 25 AS varchar) AS dst
              FROM nation
              UNION ALL
              SELECT 'n' || cast(n_nationkey AS varchar),
                     'r' || cast(n_regionkey AS varchar)
              FROM nation
            ),
            walk(id, d) AS (
              SELECT 'n0', 0
              UNION
              SELECT e.dst, walk.d + 1
              FROM walk JOIN e ON walk.id = e.src
              WHERE walk.d < 30
            )
            SELECT id, cast(min(d) AS int) AS dist FROM walk GROUP BY id
        """,
        # Independent recursive-CTE transitive closure with
        # min-reachable-id labeling (not the analytic chain answer —
        # a genuinely different algorithm from the operator's
        # label-propagation/star contraction).
        "graph_connected_components": """
            WITH RECURSIVE
            ks AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 11 = 0),
            e AS (
              SELECT 5 * k + i.i AS s, 5 * k + i.i + 1 AS d
              FROM ks CROSS JOIN (SELECT unnest(range(4)) AS i) i
            ),
            sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
            nodes AS (SELECT DISTINCT s AS id FROM sym),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s
            )
            SELECT cast(id AS bigint) AS id,
                   cast(min(r) AS bigint) AS component
            FROM reach GROUP BY id
        """,
        "graph_triangle_count": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 13 = 0),
            e0 AS (
              SELECT 3 * k AS s, 3 * k + 1 AS d FROM ks
              UNION ALL SELECT 3 * k + 1, 3 * k + 2 FROM ks
              UNION ALL SELECT 3 * k, 3 * k + 2 FROM ks
              UNION ALL SELECT 3 * k + 2, 3 * k + 3 FROM ks
            ),
            e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM e0),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1
              JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            ),
            corners AS (
              SELECT x AS id FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri
            ),
            nodes AS (SELECT s AS id FROM e0 UNION SELECT d AS id FROM e0)
            SELECT cast(n.id AS bigint) AS id,
                   cast(coalesce(c.cnt, 0) AS bigint) AS triangles
            FROM nodes n
            LEFT JOIN (SELECT id, count(*) AS cnt FROM corners GROUP BY id) c
              USING (id)
        """,
        "graph_node_similarity": """
            WITH nb AS (
              SELECT DISTINCT l_partkey AS node, l_suppkey AS nbr
              FROM lineitem WHERE l_partkey % 20 = 0
            ),
            deg AS (SELECT node, count(*) AS deg FROM nb GROUP BY node),
            inter AS (
              SELECT x.node AS a, y.node AS b, count(*) AS n_common
              FROM nb x JOIN nb y ON x.nbr = y.nbr AND x.node < y.node
              GROUP BY x.node, y.node
            )
            SELECT cast(a AS bigint) AS a, cast(b AS bigint) AS b,
                   round(cast(n_common AS double) / (da.deg + db.deg - n_common), 6)
                     AS jaccard
            FROM inter
            JOIN deg da ON da.node = inter.a
            JOIN deg db ON db.node = inter.b
            WHERE cast(n_common AS double) / (da.deg + db.deg - n_common) >= 0.2
        """,
        # planted star gadgets (see q_graph_link_prediction): the same
        # through-node self-join + degree arithmetic as the
        # node-similarity oracle, plus the NOT EXISTS adjacency
        # anti-join; round-6 BEFORE compare on the double sums (the
        # tfidf discipline — addition order varies per engine).
        "graph_link_prediction": """
            WITH o AS (
              SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 23 = 0
            ),
            e AS (
              SELECT 'o'||k||'_0' AS a, 'o'||k||'_'||i AS b
              FROM o CROSS JOIN (VALUES (1),(2),(3),(4)) t(i)
              UNION ALL
              SELECT 'o'||k||'_1', 'o'||k||'_2' FROM o
            ),
            sym AS (
              SELECT a AS node, b AS nbr FROM e
              UNION ALL SELECT b, a FROM e
            ),
            deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY node),
            thru AS (
              SELECT s.nbr AS z, d.deg AS z_deg, s.node AS leaf
              FROM sym s JOIN deg d ON d.node = s.nbr
            ),
            cand AS (
              SELECT x.leaf AS a, y.leaf AS b,
                     count(*) AS cn,
                     sum(1.0/ln(x.z_deg)) AS aa,
                     sum(1.0/x.z_deg) AS ra
              FROM thru x JOIN thru y ON x.z = y.z AND x.leaf < y.leaf
              GROUP BY x.leaf, y.leaf
            )
            SELECT c.a, c.b,
                   cast(cn AS int) AS common_neighbors,
                   round(aa, 6) AS adamic_adar,
                   round(ra, 6) AS resource_allocation,
                   cast(da.deg * db.deg AS bigint) AS preferential_attachment
            FROM cand c
            JOIN deg da ON da.node = c.a
            JOIN deg db ON db.node = c.b
            WHERE NOT EXISTS (
              SELECT 1 FROM e WHERE e.a = c.a AND e.b = c.b
            )
        """,
        "graph_pagerank": _pagerank_oracle_sql(iterations=3, damping=0.85),
        "graph_pagerank_weighted": _pagerank_oracle_sql(
            iterations=3, damping=0.85, weighted=True
        ),
        "graph_pagerank_personalized": _pagerank_oracle_sql(
            iterations=3, damping=0.85, seeds=("n0", "n12", "r2")
        ),
        # Cypher-lite entries: the oracle replays the planted-store
        # semantics (see _cypher_graph) directly in SQL.
        "cypher_match_filter": """
            SELECT 'm' || cast(o_orderkey AS varchar) AS malware,
                   'a' || cast(o_orderkey AS varchar) || '.evil.net' AS domain
            FROM orders
            WHERE o_orderkey % 31 = 0 AND o_orderkey % 10 > 5
        """,
        "cypher_two_hop_count": """
            SELECT cast(o_orderkey % 10 AS varchar) AS size,
                   count(*) AS n
            FROM orders
            WHERE o_orderkey % 31 = 0
            GROUP BY 1
        """,
        # graph summary card (see q_graph_stats): identical sum
        # arithmetic; round-6 on the ratios.
        "graph_stats": """
            WITH e0 AS (""" + _CHAIN_REGION_EDGES_SQL + """),
            e AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e0 WHERE src <> dst
            ),
            ends AS (SELECT a AS id FROM e UNION ALL SELECT b FROM e),
            deg AS (SELECT id, count(*) AS deg FROM ends GROUP BY id),
            jk0 AS (
              SELECT da.deg AS j, db.deg AS k
              FROM e
              JOIN deg da ON da.id = e.a
              JOIN deg db ON db.id = e.b
            ),
            jk AS (SELECT j, k FROM jk0 UNION ALL SELECT k, j FROM jk0),
            agg AS (
              SELECT count(*) AS m2,
                     sum(cast(j AS double) * k) AS sjk,
                     sum(cast(j AS double)) AS sj,
                     sum(cast(j AS double) * j) AS sj2
              FROM jk
            ),
            st AS (
              SELECT count(*) AS n_nodes, max(deg) AS max_degree,
                     sum(deg) AS deg_sum
              FROM deg
            )
            SELECT cast(n_nodes AS bigint) AS n_nodes,
                   cast(deg_sum / 2 AS bigint) AS n_edges,
                   round(cast(deg_sum AS double) / n_nodes, 6) AS avg_degree,
                   cast(max_degree AS int) AS max_degree,
                   round((sjk/m2 - (sj/m2)*(sj/m2))
                         / (sj2/m2 - (sj/m2)*(sj/m2)), 6) AS assortativity
            FROM st, agg
        """,
        "graph_kcore": _kcore_oracle_sql(k=2, iterations=20),
        "graph_diameter": """
            WITH RECURSIVE
            e0 AS (""" + _CHAIN_REGION_EDGES_SQL + """),
            e AS (
              SELECT src AS u, dst AS v FROM e0
              UNION
              SELECT dst, src FROM e0
            ),
            seedv AS (SELECT min(u) AS id FROM e),
            w1(id, d) AS (
              SELECT id, 0 FROM seedv
              UNION
              SELECT e.v, w1.d + 1 FROM w1 JOIN e ON w1.id = e.u
              WHERE w1.d < 60
            ),
            d1 AS (SELECT id, min(d) AS dist FROM w1 GROUP BY id),
            p1 AS (SELECT id, dist FROM d1 ORDER BY dist DESC, id LIMIT 1),
            w2(id, d) AS (
              SELECT id, 0 FROM p1
              UNION
              SELECT e.v, w2.d + 1 FROM w2 JOIN e ON w2.id = e.u
              WHERE w2.d < 60
            ),
            d2 AS (SELECT id, min(d) AS dist FROM w2 GROUP BY id),
            p2 AS (SELECT id, dist FROM d2 ORDER BY dist DESC, id LIMIT 1)
            SELECT s.id AS seed, p1.id AS peripheral, p2.id AS far_node,
                   cast(p2.dist AS int) AS diameter_lb,
                   cast(0 AS boolean) AS truncated
            FROM seedv s, p1, p2
        """,
        "graph_ktruss": _ktruss_oracle_sql(k=4, iterations=6),
        # per-seed BFS walk + harmonic sum; round-6 BEFORE compare (the
        # tfidf discipline — double addition order varies per engine).
        "graph_harmonic_closeness": f"""
            WITH RECURSIVE
            e AS ({_CHAIN_REGION_EDGES_SQL}),
            walk(s, id, d) AS (
              SELECT id, id, 0 FROM (VALUES ('n0'), ('n5'), ('r2')) AS seeds(id)
              UNION
              SELECT walk.s, e.dst, walk.d + 1
              FROM walk JOIN e ON walk.id = e.src
              WHERE walk.d < 30
            ),
            md AS (SELECT s, id, min(d) AS d FROM walk GROUP BY s, id)
            SELECT id, round(sum(1.0 / d), 6) AS closeness
            FROM md WHERE d > 0 GROUP BY id
        """,
        "graph_sssp_weighted": _sssp_oracle_sql(iterations=12),
        "graph_betweenness": _betweenness_oracle_sql(levels=13),
        "table_checks": """
            WITH a AS (
              SELECT
                cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS bigint) AS c0,
                cast(count(*) - count(DISTINCT coalesce(cast(o_orderkey AS varchar), chr(0) || 'null')) AS bigint) AS c1,
                cast(sum(CASE WHEN o_orderstatus IS NULL
                              OR o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS bigint) AS c2,
                cast(sum(CASE WHEN o_totalprice IS NULL
                              OR o_totalprice < 0.0 OR o_totalprice > 1000000000.0 THEN 1 ELSE 0 END) AS bigint) AS c3,
                cast(sum(CASE WHEN o_orderpriority IS NULL
                              OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
                         THEN 1 ELSE 0 END) AS bigint) AS c4
              FROM orders
            )
            SELECT 'not_null(o_orderkey)' AS check, c0 AS violations, c0 = 0 AS passed FROM a
            UNION ALL SELECT 'unique(o_orderkey)', c1, c1 = 0 FROM a
            UNION ALL SELECT 'in_set(o_orderstatus)', c2, c2 = 0 FROM a
            UNION ALL SELECT 'in_range(o_totalprice)', c3, c3 = 0 FROM a
            UNION ALL SELECT 'matches(o_orderpriority)', c4, c4 = 0 FROM a
        """,
        "graph_node2vec": _node2vec_cte_sql(4, 2, 4.0, 0.25)
        + """
            SELECT walk_id, start_id, step, node FROM walks
        """,
        "graph_eigenvector": _eigenvector_oracle_sql(3),
        # CMS join-size estimate: identical cells, bucketwise integer
        # dot products, min over rows (see q_cms_join_size).
        "cms_join_size": """
            WITH ca AS (
              SELECT r.i AS row,
                     cast(md5_number_upper('cmsj' || r.i || ':'
                          || cast(o_custkey AS varchar)) % 512
                       AS bigint) AS bucket,
                     count(*) AS na
              FROM orders CROSS JOIN (VALUES (0),(1),(2)) r(i)
              GROUP BY 1, 2
            ),
            cb AS (
              SELECT r.i AS row,
                     cast(md5_number_upper('cmsj' || r.i || ':'
                          || cast(c_custkey AS varchar)) % 512
                       AS bigint) AS bucket,
                     count(*) AS nb
              FROM customer CROSS JOIN (VALUES (0),(1),(2)) r(i)
              GROUP BY 1, 2
            ),
            per_row AS (
              SELECT ca.row, sum(ca.na * cb.nb) AS dot
              FROM ca JOIN cb USING (row, bucket)
              GROUP BY ca.row
            )
            SELECT cast(min(dot) AS bigint) AS est_join_size FROM per_row
        """,
        # Conductance: identical directed-pair cut/volume integers and
        # the min-denominator division (see q_graph_conductance).
        "graph_conductance": """
            WITH nk AS (
              SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 24
            ),
            e0 AS (
              SELECT 'n' || cast(a.k AS varchar) AS s,
                     'n' || cast(b.k AS varchar) AS d
              FROM nk a JOIN nk b
                ON a.k < b.k AND floor(a.k / 12) = floor(b.k / 12)
              UNION ALL
              SELECT 'n11', 'n12' FROM nk WHERE k = 11
            ),
            sym AS (
              SELECT s AS u, d AS v FROM e0 WHERE s <> d
              UNION
              SELECT d, s FROM e0 WHERE s <> d
            ),
            asg AS (
              SELECT 'n' || cast(k AS varchar) AS id,
                     cast(floor(k / 12) AS bigint) AS c
              FROM nk
            ),
            m2 AS (SELECT count(*) AS m FROM sym),
            lab AS (
              SELECT au.c AS cu, av.c AS cv
              FROM sym
              JOIN asg au ON sym.u = au.id
              JOIN asg av ON sym.v = av.id
            ),
            per_c AS (
              SELECT cu AS community,
                     cast(count(*) AS bigint) AS volume,
                     cast(sum(CASE WHEN cu <> cv THEN 1 ELSE 0 END)
                       AS bigint) AS cut
              FROM lab GROUP BY cu
            ),
            mem AS (
              SELECT c AS community, cast(count(*) AS bigint) AS n_members
              FROM asg GROUP BY c
            )
            SELECT mem.community, mem.n_members,
                   coalesce(per_c.cut, 0) AS cut,
                   coalesce(per_c.volume, 0) AS volume,
                   round(CASE WHEN least(per_c.volume,
                                         m2.m - per_c.volume) > 0
                         THEN coalesce(per_c.cut, 0)
                              / cast(least(per_c.volume,
                                           m2.m - per_c.volume) AS double)
                         ELSE 0.0 END, 9) AS conductance
            FROM mem LEFT JOIN per_c ON mem.community = per_c.community
            CROSS JOIN m2
        """,
        # Histogram-sketch quantiles: identical bucketing, integer
        # cumulative counts, and double rank arithmetic (q cast to
        # double — see q_events_hist_quantiles).
        "events_hist_quantiles": """
            WITH h AS (
              SELECT cast(least(greatest(
                       floor((value - 0.0) / 3.125), 0), 63) AS bigint)
                       AS bucket,
                     cast(count(*) AS bigint) AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1
            ),
            c AS (
              SELECT bucket, n,
                     sum(n) OVER (ORDER BY bucket
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                     sum(n) OVER () AS total
              FROM h
            )
            SELECT cast(0.5 AS double) AS q, value FROM (
              SELECT cast(bucket * cast(3.125 AS double) AS double) AS value,
                     row_number() OVER (ORDER BY bucket) AS rn
              FROM c WHERE cum >= ceil(cast(0.5 AS double) * total)
            ) WHERE rn = 1
            UNION ALL
            SELECT cast(0.95 AS double) AS q, value FROM (
              SELECT cast(bucket * cast(3.125 AS double) AS double) AS value,
                     row_number() OVER (ORDER BY bucket) AS rn
              FROM c WHERE cum >= ceil(cast(0.95 AS double) * total)
            ) WHERE rn = 1
        """,
        # URL canonicalization — the url_normalize_expr chain mirrored
        # verbatim; DuckDB's empty-list array_to_string is NULL where
        # Spark's array_join is '', hence the coalesce.
        "url_normalize": r"""
            WITH raw AS (
              SELECT o_orderkey,
                     (CASE WHEN o_orderkey % 2 = 0 THEN 'HTTP://'
                           ELSE 'HTTPS://' END)
                     || 'Example' || cast(o_orderkey % 7 AS varchar)
                     || '.COM'
                     || (CASE o_orderkey % 4
                         WHEN 0 THEN ':80/a?utm_source=x&b=2&a=1'
                         WHEN 1 THEN ':443/A/B#frag'
                         WHEN 2 THEN ''
                         ELSE ':8080/x?gclid=1&z=9' END) AS u
              FROM orders
            ),
            parts AS (
              SELECT o_orderkey,
                lower(regexp_extract(trim(u),
                  '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 1))
                  AS scheme,
                lower(regexp_extract(trim(u),
                  '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 2))
                  AS host0,
                regexp_extract(trim(u),
                  '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 3)
                  AS path0,
                regexp_extract(trim(u),
                  '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 4)
                  AS query0
              FROM raw
            ),
            norm AS (
              SELECT o_orderkey, scheme,
                CASE WHEN scheme = 'http'
                       THEN regexp_replace(host0, ':80$', '')
                     WHEN scheme = 'https'
                       THEN regexp_replace(host0, ':443$', '')
                     ELSE host0 END AS host,
                CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                coalesce(array_to_string(list_sort(list_filter(
                  string_split(regexp_replace(query0, '^\?', ''), '&'),
                  p -> p <> '' AND NOT regexp_matches(p,
                         '^(utm_|fbclid=|gclid=|msclkid=)'))), '&'), '')
                  AS qnorm
              FROM parts
            )
            SELECT o_orderkey,
                   CASE WHEN scheme = '' THEN NULL
                        ELSE scheme || '://' || host || path
                             || (CASE WHEN qnorm = '' THEN ''
                                      ELSE '?' || qnorm END)
                   END AS url_norm
            FROM norm
        """,
        # From-scratch closure over the UNION of both batches — the
        # incremental merge must land on the identical min-id labeling
        # (see q_graph_cc_increment).
        "graph_cc_increment": """
            WITH RECURSIVE
            ks AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 19 = 0),
            e AS (
              SELECT 7 * k + i.i AS s, 7 * k + i.i + 1 AS d
              FROM ks CROSS JOIN (SELECT unnest(range(5)) AS i) i
            ),
            sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
            nodes AS (SELECT DISTINCT s AS id FROM sym),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s
            )
            SELECT cast(id AS bigint) AS id,
                   cast(min(r) AS bigint) AS component
            FROM reach GROUP BY id
        """,
        # Local clustering coefficient over the 3-clique + pendant
        # gadgets: independent triangle join + degree count, round-6
        # division, deg < 2 pinned to 0.0 (see q_graph_lcc).
        "graph_lcc": """
            WITH ks AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 13 = 0),
            e0 AS (
              SELECT 3 * k AS s, 3 * k + 1 AS d FROM ks
              UNION ALL SELECT 3 * k + 1, 3 * k + 2 FROM ks
              UNION ALL SELECT 3 * k, 3 * k + 2 FROM ks
              UNION ALL SELECT 3 * k + 2, 3 * k + 3 FROM ks
            ),
            e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                  FROM e0 WHERE s <> d),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1
              JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            ),
            corners AS (
              SELECT x AS id FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri
            ),
            tc AS (SELECT id, count(*) AS cnt FROM corners GROUP BY id),
            deg AS (
              SELECT id, count(*) AS degree FROM (
                SELECT a AS id FROM e UNION ALL SELECT b FROM e
              ) GROUP BY id
            ),
            nodes AS (SELECT s AS id FROM e0 UNION SELECT d AS id FROM e0)
            SELECT cast(n.id AS bigint) AS id,
                   cast(coalesce(deg.degree, 0) AS bigint) AS degree,
                   round(CASE WHEN coalesce(deg.degree, 0) >= 2
                         THEN 2.0 * coalesce(tc.cnt, 0)
                              / (deg.degree * (deg.degree - 1))
                         ELSE 0.0 END, 6) AS lcc
            FROM nodes n
            LEFT JOIN deg ON deg.id = n.id
            LEFT JOIN tc ON tc.id = n.id
        """,
        # Reciprocity: identical gadget construction, distinct/self-loop
        # conventions, EXISTS mutual test, one round-6 division (see
        # q_graph_reciprocity).
        "graph_reciprocity": """
            WITH g AS (
              SELECT o_orderkey * 4 AS k4, o_orderkey % 2 = 0 AS ev
              FROM orders WHERE o_orderkey % 11 = 0
            ),
            raw AS (
              SELECT k4 + 0 AS src, k4 + 1 AS dst FROM g
              UNION ALL SELECT k4 + 0, k4 + 1 FROM g
              UNION ALL SELECT k4 + 1, k4 + 0 FROM g WHERE ev
              UNION ALL SELECT k4 + 0, k4 + 2 FROM g
              UNION ALL SELECT k4 + 2, k4 + 2 FROM g
            ),
            e AS (
              SELECT DISTINCT src AS a, dst AS b FROM raw WHERE src <> dst
            ),
            m AS (
              SELECT count(*) AS n_mutual FROM e
              WHERE EXISTS (SELECT 1 FROM e r WHERE r.a = e.b AND r.b = e.a)
            ),
            n AS (SELECT count(*) AS n_directed FROM e)
            SELECT cast(n_directed AS bigint) AS n_directed,
                   cast(n_mutual AS bigint) AS n_mutual,
                   CASE WHEN n_directed > 0
                        THEN round(n_mutual / n_directed, 6) END AS reciprocity
            FROM n, m
        """,
        "er_sorted_neighborhood": """
            -- literal Hernandez-Stolfo window over the global order;
            -- the Spark side reaches the same ranks via sampled-
            -- boundary bucketing + prefix offsets (TeraSort rank).
            WITH r AS (
              SELECT cast(c_custkey AS bigint) AS id,
                     reverse(c_name) AS key,
                     row_number()
                       OVER (ORDER BY reverse(c_name), c_custkey) AS rk
              FROM customer
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   a.key AS key_a, b.key AS key_b,
                   cast(b.rk - a.rk AS bigint) AS rank_distance
            FROM r a JOIN r b
              ON b.rk > a.rk AND b.rk - a.rk < 5
        """,
        "kg_schema_audit": _schema_audit_oracle_sql(),
        "er_verified_matches": """
            -- blocking (literal sorted-neighborhood window) + verify
            -- (normalized Levenshtein), the Spark side's TeraSort-rank
            -- bucketing reaching identical ranks.
            WITH r AS (
              SELECT cast(p_partkey AS bigint) AS id, p_name AS key,
                     row_number() OVER (ORDER BY p_name, p_partkey)
                       AS rk
              FROM part
            ),
            cand AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     a.key AS key_a, b.key AS key_b
              FROM r a JOIN r b
                ON b.rk > a.rk AND b.rk - a.rk < 4
            ),
            scored AS (
              SELECT id_a, id_b, key_a, key_b,
                     round(CASE
                       WHEN greatest(length(key_a), length(key_b)) = 0
                         THEN 1.0
                       ELSE 1.0 - levenshtein(key_a, key_b)
                              / greatest(length(key_a), length(key_b))
                     END, 6) AS similarity
              FROM cand
            )
            SELECT * FROM scored WHERE similarity >= 0.45
        """,
    }
