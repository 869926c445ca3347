"""Fused reassembly+extraction must equal the declarative path exactly."""

import pandas as pd
import pytest

from threat_intelligence_knowledge_graph_spark.datagen import transcripts_rows
from threat_intelligence_knowledge_graph_spark.operators.extraction import (
    extract_graph_records,
    extract_graph_records_fused,
)
from threat_intelligence_knowledge_graph_spark.operators.reassembly import reassemble
from threat_intelligence_knowledge_graph_spark.operators.triples import (
    build_edges,
    build_nodes,
    build_triples,
)
from threat_intelligence_knowledge_graph_spark.schemas import TRANSCRIPTS_SCHEMA


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(
        pd.DataFrame(transcripts_rows(15)), schema=TRANSCRIPTS_SCHEMA
    ).cache()


def _tables(extraction):
    nodes = build_nodes(extraction)
    edges = build_edges(extraction, nodes)
    return nodes, edges, build_triples(edges)


class TestFusedEqualsDeclarative:
    def test_triples_identical(self, spark, transcripts):
        declarative = extract_graph_records(reassemble(transcripts))
        fused = extract_graph_records_fused(transcripts, num_partitions=7)
        _, _, t1 = _tables(declarative)
        _, _, t2 = _tables(fused)
        s1 = {(r.subj, r.pred, r.obj) for r in t1.collect()}
        s2 = {(r.subj, r.pred, r.obj) for r in t2.collect()}
        assert s1 == s2 and len(s1) > 20

    def test_nodes_identical(self, spark, transcripts):
        declarative = extract_graph_records(reassemble(transcripts))
        fused = extract_graph_records_fused(transcripts, num_partitions=3)
        n1, *_ = _tables(declarative)
        n2, *_ = _tables(fused)
        g1 = {(r.node_label, r.node_id): dict(r.properties) for r in n1.collect()}
        g2 = {(r.node_label, r.node_id): dict(r.properties) for r in n2.collect()}
        assert g1 == g2

    def test_null_conv_id_group_matches_declarative(self, spark):
        """Spark's JVM groupBy keeps a single NULL-key group; the fused
        kernel's numpy boundary scan must coalesce null conv_id rows into
        the same single merged document (sorted nulls are contiguous and
        None != None is elementwise False), keeping fused ≡ declarative
        on this edge too."""
        rows = [
            (None, 0, "u", "The domain evil.example.net resolves", None, None),
            ("c9", 0, "u", "to nothing here at all", None, None),
            (None, 1, "u", "to 10.0.0.9 now.", None, None),
        ]
        tr = spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA)
        declarative = extract_graph_records(reassemble(tr))
        fused = extract_graph_records_fused(tr, num_partitions=2)
        t1 = {(r.subj, r.pred, r.obj) for r in _tables(declarative)[2].collect()}
        t2 = {(r.subj, r.pred, r.obj) for r in _tables(fused)[2].collect()}
        # the two null turns form ONE doc => the cross-turn sentence
        # yields the RESOLVES_TO edge in both paths
        assert t1 == t2
        assert ("Domain_Evil_Example_Net", "RESOLVES_TO", "Ipv4_10_0_0_9") in t2

    def test_input_pregrouped_equals_default_on_colocated_input(
        self, spark, transcripts
    ):
        """input_pregrouped=True (no exchange) must equal the default
        path when each conversation is already co-located within one
        input partition (bucketed-ingest layout)."""
        colocated = transcripts.repartition(4, "conv_id")
        base = extract_graph_records_fused(transcripts, num_partitions=6)
        pre = extract_graph_records_fused(colocated, input_pregrouped=True)
        t1 = {(r.subj, r.pred, r.obj) for r in _tables(base)[2].collect()}
        t2 = {(r.subj, r.pred, r.obj) for r in _tables(pre)[2].collect()}
        assert t1 == t2 and len(t1) > 20

    def test_partition_count_does_not_change_results(self, spark, transcripts):
        a = extract_graph_records_fused(transcripts, num_partitions=1)
        b = extract_graph_records_fused(transcripts, num_partitions=13)
        ta = {(r.subj, r.pred, r.obj) for r in _tables(a)[2].collect()}
        tb = {(r.subj, r.pred, r.obj) for r in _tables(b)[2].collect()}
        assert ta == tb
