"""Round-5 continuation operators: sorted-neighborhood blocking,
triple schema conformance audit, edit-distance pair verification,
triple corroboration."""

from __future__ import annotations

import pytest

from threat_intelligence_knowledge_graph_spark.operators.canonicalize import (
    sorted_neighborhood_pairs,
)
from threat_intelligence_knowledge_graph_spark.operators.triples import (
    relation_signatures,
    validate_triple_schema,
)


def _brute_snm(rows, window):
    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    out = set()
    for i, (ida, _ka) in enumerate(ranked):
        for j in range(i + 1, min(i + window, len(ranked))):
            out.add((ida, ranked[j][0], j - i))
    return out


class TestSortedNeighborhood:
    def test_matches_brute_force_with_ties(self, spark):
        rows = [(i, f"k{i % 7:02d}") for i in range(40)]
        df = spark.createDataFrame(rows, "node_id: long, block_key: string")
        got = {
            (r.id_a, r.id_b, r.rank_distance)
            for r in sorted_neighborhood_pairs(
                df, window=4, n_buckets=5, sample_pct=50
            ).collect()
        }
        assert got == _brute_snm(rows, 4)

    def test_bucket_count_does_not_change_result(self, spark):
        rows = [(i, f"z{(i * 13) % 23:03d}") for i in range(60)]
        df = spark.createDataFrame(rows, "node_id: long, block_key: string")
        one = {
            (r.id_a, r.id_b, r.rank_distance)
            for r in sorted_neighborhood_pairs(df, window=3, n_buckets=1).collect()
        }
        many = {
            (r.id_a, r.id_b, r.rank_distance)
            for r in sorted_neighborhood_pairs(
                df, window=3, n_buckets=8, sample_pct=40
            ).collect()
        }
        assert one == many == _brute_snm(rows, 3)

    def test_window_two_is_adjacent_only(self, spark):
        rows = [(i, chr(97 + i)) for i in range(5)]
        df = spark.createDataFrame(rows, "node_id: long, block_key: string")
        got = sorted(
            (r.id_a, r.id_b)
            for r in sorted_neighborhood_pairs(df, window=2).collect()
        )
        assert got == [(0, 1), (1, 2), (2, 3), (3, 4)]

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "a")], "node_id: long, block_key: string")
        with pytest.raises(ValueError):
            sorted_neighborhood_pairs(df, window=1)
        with pytest.raises(ValueError):
            sorted_neighborhood_pairs(df, n_buckets=0)
        with pytest.raises(ValueError):
            sorted_neighborhood_pairs(df, sample_pct=0)


class TestTripleSchemaAudit:
    def test_signature_expansion_includes_noninjective_stix(self):
        sigs = set(relation_signatures())
        # ipv4-addr expands to BOTH Ipv4 and Cidr store labels.
        assert ("RESOLVES_TO", "Domain", "Ipv4") in sigs
        assert ("RESOLVES_TO", "Domain", "Cidr") in sigs
        # vocabulary-only types appear as their capitalized selves.
        assert ("USES", "Threat_actor", "Malware") in sigs
        assert len(sigs) == len(relation_signatures())  # no dups

    def test_statuses_and_precedence(self, spark):
        nodes = spark.createDataFrame(
            [
                ("Domain", "Domain_X"),
                ("Ipv4", "Ipv4_1"),
                ("Url", "Url_Y"),
            ],
            "node_label: string, node_id: string",
        )
        triples = spark.createDataFrame(
            [
                ("Domain_X", "RESOLVES_TO", "Ipv4_1"),  # ok
                ("Ipv4_1", "RESOLVES_TO", "Domain_X"),  # reversed → mismatch
                ("Domain_X", "FOOBAR", "Ipv4_1"),  # unknown predicate
                ("Domain_X", "FOOBAR", "Missing"),  # endpoint beats predicate
                ("Url_Y", "CONTAINS", "Domain_X"),  # ok
            ],
            "subj: string, pred: string, obj: string",
        )
        got = {
            (r.subj, r.pred, r.obj): r.status
            for r in validate_triple_schema(triples, nodes).collect()
        }
        assert got == {
            ("Domain_X", "RESOLVES_TO", "Ipv4_1"): "ok",
            ("Ipv4_1", "RESOLVES_TO", "Domain_X"): "signature_mismatch",
            ("Domain_X", "FOOBAR", "Ipv4_1"): "unknown_predicate",
            ("Domain_X", "FOOBAR", "Missing"): "unknown_endpoint",
            ("Url_Y", "CONTAINS", "Domain_X"): "ok",
        }

    def test_pipeline_output_is_fully_conformant(self, spark):
        # The kernel can only emit rule-conformant triples: audit of its
        # own output over a synthetic corpus must be all-ok.
        from threat_intelligence_knowledge_graph_spark.datagen import (
            generate_transcripts_df,
        )
        from threat_intelligence_knowledge_graph_spark.operators.extraction import (
            extract_graph_records,
        )
        from threat_intelligence_knowledge_graph_spark.operators.reassembly import (
            reassemble,
        )
        from threat_intelligence_knowledge_graph_spark.operators.triples import (
            build_edges,
            build_nodes,
            build_triples,
        )

        t = generate_transcripts_df(spark, 40)
        ext = extract_graph_records(reassemble(t))
        nodes = build_nodes(ext)
        triples = build_triples(build_edges(ext, nodes))
        audited = validate_triple_schema(
            triples, nodes.select("node_label", "node_id")
        )
        assert audited.filter(audited.status != "ok").count() == 0


class TestVerifyPairsEditDistance:
    def test_threshold_and_similarity(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.canonicalize import (
            verify_pairs_edit_distance,
        )

        recs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha bexa"), (3, "zzzz")],
            "node_id: long, name: string",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3)], "id_a: long, id_b: long"
        )
        got = {
            (r.id_a, r.id_b): r.similarity
            for r in verify_pairs_edit_distance(pairs, recs, tau=0.5).collect()
        }
        assert got == {(1, 2): 0.9}

    def test_empty_strings_score_one(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.canonicalize import (
            verify_pairs_edit_distance,
        )

        recs = spark.createDataFrame(
            [(1, ""), (2, "")], "node_id: long, name: string"
        )
        pairs = spark.createDataFrame([(1, 2)], "id_a: long, id_b: long")
        got = verify_pairs_edit_distance(pairs, recs, tau=0.9).collect()
        assert len(got) == 1 and got[0].similarity == 1.0

    def test_tau_validation(self, spark):
        from threat_intelligence_knowledge_graph_spark.operators.canonicalize import (
            verify_pairs_edit_distance,
        )

        recs = spark.createDataFrame([(1, "a")], "node_id: long, name: string")
        pairs = spark.createDataFrame([(1, 1)], "id_a: long, id_b: long")
        import pytest as _pt

        with _pt.raises(ValueError):
            verify_pairs_edit_distance(pairs, recs, tau=0)
