"""Stage E — graph assembly: the nodes and edges tables, and the triples view.

DataFrame re-expression of the reference's store semantics
(reference neo4j_store.py:109-164):

- node upsert  = hash-agg dedup on (label, id), last-writer-wins props
  (``max_by`` over a deterministic commit ordering — the reference's
  "last" is serial doc order; we pin ordering by conv_id, which is
  identical when docs are processed in conv order);
- edge upsert  = dedup on (src_id, rel_type, dst_id);
- MATCH-before-MERGE = left-semi joins of edges against the node table on
  both endpoints (edges with missing endpoints silently drop);
- triple view  = the (subj, pred, obj) projection of the edges head — the
  P/R comparison artifact. ``build_triples`` is its one definition:
  ``sources/tableio`` serves the ``triples`` view through it, so no
  triples table is written, merged or resumed.

All aggregations are partial-aggregate friendly (map-side combine); AQE
splits skewed reduce partitions on hot entities (common CVEs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def build_nodes(extraction: DataFrame) -> DataFrame:
    """Global node table: (node_label, node_id, properties)."""
    return (
        extraction.filter(F.col("kind") == "node")
        .groupBy("node_label", "node_id")
        .agg(F.max_by("properties", "conv_id").alias("properties"))
    )


def build_edges(extraction: DataFrame, nodes: DataFrame) -> DataFrame:
    """Global edge table with endpoint-integrity semi-joins."""
    edges = (
        extraction.filter(F.col("kind") == "edge")
        .select("src_label", "src_id", "rel_type", "dst_label", "dst_id")
        .dropDuplicates(["src_id", "rel_type", "dst_id"])
    )
    node_ids = nodes.select(F.col("node_id").alias("_nid"))
    return (
        edges.join(node_ids, edges.src_id == node_ids._nid, "left_semi")
        .join(node_ids, edges.dst_id == node_ids._nid, "left_semi")
    )


def build_triples(edges: DataFrame) -> DataFrame:
    """(subj, pred, obj) per edge — reference neo4j_store.py:152-161. The
    catalog's ``triples`` view applies this to the edges head.

    No ``distinct``: ``edges`` must be unique on ``(src_id, rel_type,
    dst_id)``, as ``build_edges`` and ``apply_canonicalization`` return
    them and as the merged ``edges`` table is, so the triples are
    already unique."""
    return edges.select(
        F.col("src_id").alias("subj"),
        F.col("rel_type").alias("pred"),
        F.col("dst_id").alias("obj"),
    )


# ---------------------------------------------------------------------------
# Domain/range conformance audit (SHACL-lite over the relation schema)
# ---------------------------------------------------------------------------

def relation_signatures() -> list[tuple[str, str, str]]:
    """Allowed ``(pred, subj_label, obj_label)`` signatures in STORE
    form, expanded from the same rule data the extractor runs on
    (rules/relations.py RELATION_RULES, reference
    stix_relation_extractor.py:96-116).

    A rule names STIX 2.1 types (``domain-name``, ``ipv4-addr``) while
    the store labels nodes by capitalized node type (``Domain``,
    ``Ipv4`` — kernel store_label, reference neo4j_store.py:123).
    STIX_TYPE_MAPPING is not injective (``file`` <- Hash and FilePath,
    ``ipv4-addr`` <- IPv4 and CIDR), so each STIX side expands to ALL
    store labels that map onto it; STIX21 vocabulary types with no IOC
    node type (threat-actor, malware, tool, identity) appear as their
    own capitalized form — the label the NER-fallback path stores them
    under.
    """
    from ..kernel.extract import store_label, store_rel_type
    from ..rules.mappings import STIX21_NODE_LABELS, STIX_TYPE_MAPPING
    from ..rules.relations import RELATION_RULES

    labels_of: dict[str, list[str]] = {}
    for ntype, stix in STIX_TYPE_MAPPING.items():
        labels_of.setdefault(stix, []).append(store_label(ntype))
    for stix in STIX21_NODE_LABELS:
        labels_of.setdefault(stix, []).append(store_label(stix))
    # The extractor can also emit via the hardcoded special cases that
    # fire when the rule table has no (src, dst) entry (kernel
    # _extract_relations; reference stix_relation_extractor.py:201-224)
    # — those signatures are just as rule-conformant as the table rows.
    special: list[tuple[str, str, str]] = [
        ("domain-name", "resolves-to", "ipv4-addr"),
        ("url", "contains", "domain-name"),
        ("file", "communicates-with", "ipv4-addr"),
        ("file", "communicates-with", "domain-name"),
        ("file", "communicates-with", "url"),
    ]
    rules = [(src, rel, dst) for _i, src, rel, dst, _r in RELATION_RULES]
    out: list[tuple[str, str, str]] = []
    seen: set[tuple[str, str, str]] = set()
    for src, rel, dst in rules + special:
        for ls in labels_of.get(src, [store_label(src)]):
            for lo in labels_of.get(dst, [store_label(dst)]):
                sig = (store_rel_type(rel), ls, lo)
                if sig not in seen:
                    seen.add(sig)
                    out.append(sig)
    return out


def validate_triple_schema(
    triples: DataFrame, nodes: DataFrame
) -> DataFrame:
    """Per-triple domain/range conformance verdict against the
    extraction relation schema — the KG-quality audit that catches
    upstream corruption (a mis-typed endpoint, a predicate no rule can
    emit) AFTER assembly, where the reference has no check at all
    (its store MERGEs whatever the extractor hands it).

    ``triples``: (subj, pred, obj); ``nodes``: (node_label, node_id).
    Output: (subj, pred, obj, subj_label, obj_label, status) with
    status in {'ok', 'unknown_endpoint', 'unknown_predicate',
    'signature_mismatch'} — precedence in that listed order (an
    unresolvable endpoint is reported as such even if the predicate is
    also unknown: endpoint integrity is the store invariant,
    reference neo4j_store.py:141-151 MATCH-before-MERGE).

    Scale shape: two keyed equi-joins against the node table (never a
    collect — the node table is large), then one broadcast hash join
    against the <= |rules| x |label-expansions| signature literals and
    a broadcast ``isin`` over the <= 10 predicate names. AQE handles
    the hot-endpoint skew (one CVE subj in 10^8 triples) the same way
    the assembly joins do.
    """
    sigs = relation_signatures()
    preds = sorted({p for p, _s, _o in sigs})
    spark = triples.sparkSession
    sig_df = F.broadcast(
        spark.createDataFrame(
            sigs, "pred: string, subj_label: string, obj_label: string"
        ).withColumn("_sig_ok", F.lit(1))
    )
    slab = nodes.select(
        F.col("node_id").alias("_sid"), F.col("node_label").alias("subj_label")
    ).dropDuplicates(["_sid"])
    olab = nodes.select(
        F.col("node_id").alias("_oid"), F.col("node_label").alias("obj_label")
    ).dropDuplicates(["_oid"])
    labeled = (
        triples.join(slab, triples.subj == slab._sid, "left")
        .join(olab, triples.obj == olab._oid, "left")
        .drop("_sid", "_oid")
    )
    checked = labeled.join(
        sig_df, ["pred", "subj_label", "obj_label"], "left"
    )
    status = (
        F.when(
            F.col("subj_label").isNull() | F.col("obj_label").isNull(),
            F.lit("unknown_endpoint"),
        )
        .when(~F.col("pred").isin(preds), F.lit("unknown_predicate"))
        .when(F.col("_sig_ok").isNotNull(), F.lit("ok"))
        .otherwise(F.lit("signature_mismatch"))
    )
    return checked.select(
        "subj", "pred", "obj", "subj_label", "obj_label",
        status.alias("status"),
    )
