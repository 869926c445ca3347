"""Tests: graph query interface, extractor factory, tactic tagger slot,
fused pipeline mode."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from threat_intelligence_knowledge_graph_spark.datagen import transcripts_rows
from threat_intelligence_knowledge_graph_spark.operators.extractors import (
    NerExtractor,
    make_extractor,
    tag_tactics,
)
from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
    degrees,
    flagship_query,
    neighbors,
    register_graph_views,
    two_hop,
)
from threat_intelligence_knowledge_graph_spark.plans.pipeline import (
    run_pipeline,
    summarize_metrics,
)
from threat_intelligence_knowledge_graph_spark.schemas import TRANSCRIPTS_SCHEMA
from threat_intelligence_knowledge_graph_spark.sources.tableio import LocalTableCatalog


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    catalog = LocalTableCatalog(str(tmp_path_factory.mktemp("wh")))
    transcripts = spark.createDataFrame(
        pd.DataFrame(transcripts_rows(10)), schema=TRANSCRIPTS_SCHEMA
    )
    run_pipeline(spark, transcripts, catalog, run_id="g1")
    register_graph_views(spark, catalog)
    return catalog


class TestGraphQueries:
    def test_flagship_nonempty(self, spark, warehouse):
        rows = flagship_query(spark).collect()
        assert rows and all(
            r.pred in ("COMMUNICATES_WITH", "RESOLVES_TO", "TARGETS") for r in rows
        )

    def test_degrees_consistent(self, spark, warehouse):
        deg = degrees(spark)
        total_deg = deg.groupBy().sum("degree").first()[0]
        n_triples = spark.table("triples").count()
        assert total_deg == 2 * n_triples

    def test_neighbors(self, spark, warehouse):
        some = spark.table("triples").first()
        rows = neighbors(spark, some.subj).collect()
        assert any(r.obj == some.obj for r in rows)

    def test_two_hop_joins(self, spark, warehouse):
        paths = two_hop(spark).limit(5).collect()
        for p in paths:
            assert p.b is not None


class TestExtractors:
    def test_factory_ner(self, spark):
        ex = make_extractor("ner")
        assert isinstance(ex, NerExtractor)
        docs = spark.createDataFrame(
            [("c1", "The domain evil.example.net resolves to 10.0.0.1 now.")],
            ["conv_id", "doc_text"],
        )
        out = ex.extract(docs)
        assert out.filter("kind='edge'").count() == 1

    def test_llm_slots_raise(self, spark):
        docs = spark.createDataFrame([("c1", "x")], ["conv_id", "doc_text"])
        for m in ("gemini-pro", "claude-haiku", "default"):
            with pytest.raises(NotImplementedError):
                make_extractor(m).extract(docs)

    def test_unknown_model(self):
        with pytest.raises(ValueError):
            make_extractor("gpt-99")

    def _mock_docs(self, spark):
        # > 2048 chars so the default profile genuinely chunks (3 chunks).
        filler = "The quick brown fox jumps over the lazy dog. " * 50
        cti = (
            "The domain evil.example.net resolves to 10.0.0.1 now. "
            "Fetched https://evil.example.net/p1 today. "
            "Attack exploits CVE-2021-44228 via 10.9.8.7 quickly. "
        )
        return spark.createDataFrame(
            [("c1", cti + filler), ("c2", filler + cti), ("c3", cti * 14)],
            ["conv_id", "doc_text"],
        )

    def test_llm_slot_end_to_end_with_mock_backend(self, spark):
        """Default 2048/24 profile through the full LLM plumbing (chunk
        dispatch → batch inference → JSON parse → stored records) with a
        deterministic mock backend. Each chunk must yield exactly the
        kernel's stored-form graph for that chunk's text — asserted by
        replaying the chunker + kernel locally."""
        from threat_intelligence_knowledge_graph_spark.kernel.extract import (
            extract_document,
            finalize_edges,
            finalize_nodes,
        )
        from threat_intelligence_knowledge_graph_spark.operators.chunker import (
            chunk_for_profile,
        )
        from threat_intelligence_knowledge_graph_spark.operators.extractors import (
            LlmExtractor,
            MockKernelBackend,
        )

        docs = self._mock_docs(spark)
        ex = LlmExtractor("default", backend=MockKernelBackend())
        got = ex.extract(docs)
        got_nodes = {
            (r.conv_id, r.node_label, r.node_id)
            for r in got.filter("kind='node'").collect()
        }
        got_edges = {
            (r.conv_id, r.src_id, r.rel_type, r.dst_id)
            for r in got.filter("kind='edge'").collect()
        }
        exp_nodes, exp_edges = set(), set()
        for row in chunk_for_profile(docs, "default").collect():
            g = extract_document(row.chunk_text)
            for label, node_id, _props in finalize_nodes(g):
                exp_nodes.add((row.conv_id, label, node_id))
            for src_l, src_id, rel, dst_l, dst_id, _ctx in finalize_edges(g):
                exp_edges.add((row.conv_id, src_id, rel, dst_id))
        assert got_nodes == exp_nodes and len(got_nodes) > 3
        assert got_edges == exp_edges and len(got_edges) > 1

    def test_llm_slot_repair_path_lossless(self, spark):
        """corrupt_every=1 truncates every payload's final '}' — the
        repair path must restore every record exactly."""
        from threat_intelligence_knowledge_graph_spark.operators.extractors import (
            LlmExtractor,
            MockKernelBackend,
        )

        docs = self._mock_docs(spark)

        def snapshot(df):
            return sorted(
                (
                    r.conv_id, r.kind, r.node_label, r.node_id,
                    tuple(sorted((r.properties or {}).items())),
                    r.src_id, r.rel_type, r.dst_id,
                )
                for r in df.collect()
            )

        clean = snapshot(
            LlmExtractor("default", backend=MockKernelBackend()).extract(docs)
        )
        broken = snapshot(
            LlmExtractor(
                "default", backend=MockKernelBackend(corrupt_every=1)
            ).extract(docs)
        )
        assert clean == broken and len(clean) > 0

    def test_tactic_tagger(self, spark):
        docs = spark.createDataFrame(
            [
                ("c1", "Observed lateral movement and credential dumping."),
                ("c2", "Routine maintenance, nothing suspicious."),
            ],
            ["conv_id", "doc_text"],
        )
        got = {(r.conv_id, r.tactic_code) for r in tag_tactics(docs).collect()}
        assert ("c1", "TA0008") in got and ("c1", "TA0006") in got
        assert not any(c == "c2" for c, _ in got)


class TestMetricsSummary:
    def test_summarize(self, spark, warehouse):
        s = summarize_metrics(spark, warehouse)
        stages = {r.stage for r in s.collect()}
        assert "extract" in stages


class TestAnalystQueries:
    def test_top_communicators(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            top_communicators,
        )
        rows = top_communicators(spark, k=5).collect()
        assert rows and all(r.malware.startswith("Hash_") for r in rows)
        assert [r.n_infra for r in rows] == sorted(
            [r.n_infra for r in rows], reverse=True
        )

    def test_fast_flux_domains(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            fast_flux_domains,
        )
        rows = fast_flux_domains(spark, min_ips=1).collect()
        assert rows and all(r.domain.startswith("Domain_") for r in rows)

    def test_shared_infrastructure_symmetry(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            shared_infrastructure,
        )
        rows = shared_infrastructure(spark).collect()
        for r in rows:
            assert r.malware_a < r.malware_b  # canonical pair order

    def test_cve_hotlist(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            cve_hotlist,
        )
        rows = cve_hotlist(spark, k=5).collect()
        # Corpus seeds CVE targets via co-sentence (hash, cve) pairs which
        # produce no edges — hotlist may be empty unless TARGETS exists;
        # the query itself must run and respect ordering.
        counts = [r["count"] for r in rows]
        assert counts == sorted(counts, reverse=True)

    def test_hot_infrastructure_pagerank(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            hot_infrastructure,
        )

        rows = hot_infrastructure(spark, k=10, iterations=3).collect()
        assert rows
        ranks = [r.rank for r in rows]
        assert ranks == sorted(ranks, reverse=True)
        # Edge destinations (infrastructure) out-rank pure sources: the
        # top-ranked node must have at least one incoming triple.
        top = rows[0].id
        assert (
            spark.table("triples").filter(spark.table("triples").obj == top).count()
            > 0
        )
        # the uniform variant runs too and also ranks descending
        rows_u = hot_infrastructure(spark, k=10, iterations=3, weighted=False).collect()
        ranks_u = [r.rank for r in rows_u]
        assert rows_u and ranks_u == sorted(ranks_u, reverse=True)

    def test_report_hubs_hits(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            report_hubs,
        )

        rows = report_hubs(spark, k=10, iterations=3).collect()
        hubs = [r for r in rows if r.role == "hub"]
        auths = [r for r in rows if r.role == "authority"]
        assert hubs and auths
        for part in (hubs, auths):
            scores = [r.score for r in part]
            assert scores == sorted(scores, reverse=True)
        # The top authority must be a triple destination; the top hub
        # must be a triple source (HITS role semantics).
        t = spark.table("triples")
        assert t.filter(t.obj == auths[0].id).count() > 0
        assert t.filter(t.subj == hubs[0].id).count() > 0

    def test_campaign_communities(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            campaign_communities,
        )

        rows = campaign_communities(spark, iterations=4, min_size=2).collect()
        assert rows
        sizes = [r.n_members for r in rows]
        assert sizes == sorted(sizes, reverse=True)
        for r in rows:
            assert r.n_members >= 2
            assert 1 <= len(r.sample) <= 10
            assert list(r.sample) == sorted(r.sample)

    def test_campaign_cards(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.operators.louvain import (
            louvain_communities,
        )
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            campaign_cards,
        )

        rows = campaign_cards(spark, iterations=4, min_size=2).collect()
        assert rows
        sizes = [r.n_members for r in rows]
        assert sizes == sorted(sizes, reverse=True)
        t = spark.table("triples")
        edges = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        comm = {
            r.id: r.community
            for r in louvain_communities(edges, iterations=4).collect()
        }
        preds = {r.pred for r in t.select("pred").distinct().collect()}
        for r in rows:
            # exemplar belongs to its own community
            assert comm[r.exemplar] == r.community
            assert r.exemplar_rank > 0
            # top_pred is a real predicate with a sane share (a
            # community whose members never appear subj-side has NULLs)
            if r.top_pred is not None:
                assert r.top_pred in preds
                assert 0 < r.top_pred_share <= 1.0

    def test_community_quality(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            community_quality,
        )

        rows = community_quality(spark, iterations=4, min_size=2).collect()
        assert rows
        phis = [r.conductance for r in rows]
        assert phis == sorted(phis, reverse=True)
        for r in rows:
            assert r.n_members >= 2
            assert 0.0 <= r.conductance <= 1.0
            assert r.cut <= r.volume

    def test_influence_from(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            blast_radius,
            influence_from,
        )

        src = spark.table("triples").select("subj").first().subj
        rows = influence_from(spark, [src], k=10, iterations=3).collect()
        assert rows
        ranks = [r.rank for r in rows]
        assert ranks == sorted(ranks, reverse=True)
        assert all(r.rank > 0 for r in rows)
        # positive-rank nodes are exactly seed-reachable ones: every
        # returned node must be in the seed's (uncapped) blast radius
        reach = {r.id for r in blast_radius(spark, src, max_hops=50).collect()}
        assert all(r.id in reach for r in rows)

    def test_blast_radius(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            blast_radius,
        )

        # pick a node with outgoing edges so the blast set is non-trivial
        src = spark.table("triples").select("subj").first().subj
        rows = blast_radius(spark, src, max_hops=2).collect()
        by_id = {r.id: r for r in rows}
        assert by_id[src].dist == 0
        assert all(0 <= r.dist <= 2 for r in rows)
        # direct successors are all present at dist <= 1
        direct = {
            r.obj
            for r in spark.table("triples").filter(F.col("subj") == src).collect()
        }
        assert all(d in by_id and by_id[d].dist <= 1 for d in direct)
        # with a generous hop budget the frontier drains: not truncated
        full = blast_radius(spark, src, max_hops=50).collect()
        assert all(not r.truncated for r in full)

    def test_central_infrastructure(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            central_infrastructure,
        )

        rows = central_infrastructure(spark, k=10, max_hops=10).collect()
        assert rows
        scores = [r.closeness for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(r.closeness > 0 for r in rows)
        # seeded variant: scores can only shrink when the seed
        # population shrinks to one node (fewer 1/d contributions)
        one_seed = spark.table("triples").select("subj").first().subj
        seeded = {
            r.id: r.closeness
            for r in central_infrastructure(
                spark, seed_ids=[one_seed], k=50, max_hops=10
            ).collect()
        }
        full = {r.id: r.closeness for r in rows}
        assert all(
            seeded[i] <= full[i] + 1e-9 for i in seeded if i in full
        )

    def test_choke_points(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            choke_points,
        )

        rows = choke_points(spark, k=10, max_hops=10).collect()
        scores = [r.betweenness for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(r.betweenness > 0 for r in rows)
        # a choke point must actually sit on a path: it has at least
        # one incoming AND one outgoing triple
        if rows:
            t = spark.table("triples")
            top = rows[0].id
            assert t.filter(F.col("obj") == top).count() > 0
            assert t.filter(F.col("subj") == top).count() > 0


class TestRingAndWalkQueries:
    def test_infrastructure_rings(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            infrastructure_rings,
        )

        orig = spark.table("triples")
        crafted = spark.createDataFrame(
            [
                ("a", "REDIRECTS_TO", "b"),
                ("b", "REDIRECTS_TO", "c"),
                ("c", "REDIRECTS_TO", "a"),  # 3-ring
                ("c", "RESOLVES_TO", "d"),   # spoke, not in a ring
                ("e", "RESOLVES_TO", "d"),   # hub-and-spoke, no ring
            ],
            ["subj", "pred", "obj"],
        )
        crafted.createOrReplaceTempView("triples")
        try:
            rows = infrastructure_rings(spark).collect()
            assert {(r.scc_id, r.id) for r in rows} == {
                ("a", "a"), ("a", "b"), ("a", "c")
            }
            assert all(r.ring_size == 3 and not r.truncated for r in rows)
            # min_size=1 surfaces the singletons too
            allrows = infrastructure_rings(spark, min_size=1).collect()
            assert len(allrows) == 5
        finally:
            orig.createOrReplaceTempView("triples")

    def test_infrastructure_rings_on_warehouse_dag(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            infrastructure_rings,
        )

        # the KG's RESOLVES_TO/CONTAINS triples are acyclic by
        # construction: no ring of size >= 2 exists
        assert infrastructure_rings(spark, min_size=2).count() == 0

    def test_infrastructure_by_block(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            infrastructure_by_block,
        )

        blocks = spark.createDataFrame(
            [("10.0.0.0/8", "corp"), ("0.0.0.0/0", "internet")],
            ["cidr", "label"],
        )
        rows = infrastructure_by_block(spark, blocks).collect()
        n_ipv4 = (
            spark.table("nodes")
            .filter(F.col("node_id").startswith("Ipv4_"))
            .count()
        )
        assert n_ipv4 > 0
        # the kernel's planted IPs are all 10.x → longest-prefix puts
        # every one of them in corp, none fall through to 0.0.0.0/0
        by_label = {r.label: r.n_ips for r in rows}
        assert by_label == {"corp": n_ipv4}

    def test_campaign_domains(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            campaign_domains,
        )

        rows = campaign_domains(spark).collect()
        n_domains = (
            spark.table("nodes")
            .filter(F.col("node_id").startswith("Domain_"))
            .count()
        )
        assert n_domains > 0
        # the rollup partitions ALL hostname nodes (NULL-registrable
        # bucket included) and the many evil-K.example.net hosts
        # collapse into the single example.net asset
        assert sum(r.n_hosts for r in rows) == n_domains
        by_reg = {r.registrable: (r.suffix, r.n_hosts) for r in rows}
        assert by_reg["example.net"][0] == "net"
        assert by_reg["example.net"][1] > 1  # genuinely collapsed
        counts = [r.n_hosts for r in rows]
        assert counts == sorted(counts, reverse=True)

    def test_related_entities(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            related_entities,
        )

        src = spark.table("triples").select("subj").first().subj
        a = related_entities(spark, src, walks_per_node=4).collect()
        assert a
        assert all(r.node != src and r.visits > 0 for r in a)
        visits = [r.visits for r in a]
        assert visits == sorted(visits, reverse=True)
        # deterministic: same question, same answer
        b = related_entities(spark, src, walks_per_node=4).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        # node2vec-biased variant: same contract, deterministic too
        c = related_entities(spark, src, walks_per_node=4, p=4.0, q=0.25)
        c1 = c.collect()
        assert all(r.node != src and r.visits > 0 for r in c1)
        c2 = related_entities(
            spark, src, walks_per_node=4, p=4.0, q=0.25
        ).collect()
        assert [tuple(r) for r in c1] == [tuple(r) for r in c2]

    def test_predicted_links(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            predicted_links,
        )

        rows = predicted_links(spark, k=15, min_common=1).collect()
        assert rows
        scores = [r.adamic_adar for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(r.common_neighbors >= 1 and r.adamic_adar > 0 for r in rows)
        # every suggested pair is genuinely MISSING from the graph
        # (either direction) — the operator's anti-join contract
        adj = {
            (t.subj, t.obj)
            for t in spark.table("triples").select("subj", "obj").collect()
        }
        for r in rows:
            assert (r.a, r.b) not in adj and (r.b, r.a) not in adj
        # node labels joined in for readability
        labeled = {n.node_id for n in spark.table("nodes").collect()}
        for r in rows:
            if r.a in labeled:
                assert r.label_a is not None


class TestCampaignSkeletons:
    def test_two_k4_skeletons(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            campaign_skeletons,
        )

        # Plant a triple view with two K4 cores + mention spokes, then
        # restore the module warehouse views afterwards.
        rows = []
        for p in ("A", "B"):
            ids = [f"{p}{i}" for i in range(4)]
            rows += [
                (ids[i], "COMMUNICATES_WITH", ids[j])
                for i in range(4)
                for j in range(i + 1, 4)
            ]
            rows += [(f"Report_{p}", "MENTIONS", ids[0])]
        try:
            spark.createDataFrame(
                rows, ["subj", "pred", "obj"]
            ).createOrReplaceTempView("triples")
            got = campaign_skeletons(spark, k=4, min_edges=3).collect()
            assert len(got) == 12  # 6 edges per K4; spokes stripped
            assert {r.skeleton_id for r in got} == {"A0", "B0"}
            assert all(
                r.support == 2 and r.skeleton_edges == 6 and not r.truncated
                for r in got
            )
        finally:
            register_graph_views(spark, warehouse)


class TestGraphSummary:
    def test_one_row_card(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            graph_summary,
        )

        r = graph_summary(spark).collect()
        assert len(r) == 1
        row = r[0]
        assert row.n_nodes > 0 and row.n_edges > 0 and row.max_degree >= 1
        assert row.avg_degree == round(2 * row.n_edges / row.n_nodes, 6)
        # KG mention graphs are hub-and-spoke → disassortative
        assert row.assortativity is None or -1.0 <= row.assortativity <= 1.0


class TestQueryGraphCli:
    def test_cypher_sql_and_output_modes(self, spark, warehouse, tmp_path, capsys):
        import importlib.util as _ilu
        import os as _os

        spec = _ilu.spec_from_file_location(
            "query_graph",
            _os.path.join(_os.path.dirname(__file__), "..", "jobs", "query_graph.py"),
        )
        qg = _ilu.module_from_spec(spec)
        spec.loader.exec_module(qg)

        rc = qg.main(
            ["--warehouse", warehouse.root, "--cypher",
             "MATCH (a)-[r]->(b) RETURN r AS t, count(*) AS n ORDER BY n DESC LIMIT 3"],
            spark=spark,
        )
        out = capsys.readouterr().out
        assert rc == 0 and "t" in out and "n" in out
        # spark session NOT stopped when passed in
        assert spark.sql("SELECT 1").collect()[0][0] == 1

        rc = qg.main(
            ["--warehouse", warehouse.root, "--sql",
             "SELECT count(*) AS c FROM triples",
             "--output", str(tmp_path / "res.parquet")],
            spark=spark,
        )
        assert rc == 0
        got = spark.read.parquet(str(tmp_path / "res.parquet")).collect()
        assert got[0].c > 0

        import pytest as _pytest

        with _pytest.raises(SystemExit):
            qg.main(
                ["--warehouse", warehouse.root, "--cypher", "MATCH (a), (b) RETURN a"],
                spark=spark,
            )

        # --diff: single-commit warehouse → empty changelog, header shown
        rc = qg.main(
            ["--warehouse", warehouse.root, "--diff", "triples",
             "--from-snapshot", "0"],
            spark=spark,
        )
        out = capsys.readouterr().out
        assert rc == 0 and "_change" in out
        with _pytest.raises(SystemExit, match="from-snapshot"):
            qg.main(
                ["--warehouse", warehouse.root, "--diff", "triples"],
                spark=spark,
            )
        # the fixture's views survive the CLI calls for later tests
        register_graph_views(spark, warehouse)


class TestRateLimitedBackend:
    def test_paces_calls_with_min_interval(self):
        """Op 6 twin: second call within the window waits exactly the
        remainder; calls after the window don't wait (reference
        main.py:259-281 semantics), with an injected clock (no sleeps)."""
        from threat_intelligence_knowledge_graph_spark.operators.extractors import (
            MockKernelBackend,
            RateLimitedBackend,
        )

        t = {"now": 100.0}
        slept = []

        def clock():
            return t["now"]

        def sleeper(s):
            slept.append(round(s, 3))
            t["now"] += s

        rl = RateLimitedBackend(
            MockKernelBackend(), min_interval_sec=13.0, key="t-paces",
            clock=clock, sleeper=sleeper,
        )
        rl.infer(["one."])           # first call: no wait
        assert slept == []
        t["now"] += 3.0
        rl.infer(["two."])           # 3s elapsed -> wait 10s
        assert slept == [10.0]
        t["now"] += 20.0
        rl.infer(["three."])         # window passed -> no wait
        assert slept == [10.0]
        # pacing state must survive instance re-creation (Spark re-pickles
        # the backend per task; only the worker process persists)
        t["now"] += 2.0
        rl2 = RateLimitedBackend(
            MockKernelBackend(), min_interval_sec=13.0, key="t-paces",
            clock=clock, sleeper=sleeper,
        )
        rl2.infer(["four."])         # 2s since rl's last call -> wait 11s
        assert slept == [10.0, 11.0]

    def test_picklable_and_transparent(self, spark):
        import pickle

        from threat_intelligence_knowledge_graph_spark.operators.extractors import (
            LlmExtractor,
            MockKernelBackend,
            RateLimitedBackend,
        )

        rl = pickle.loads(pickle.dumps(
            RateLimitedBackend(MockKernelBackend(), min_interval_sec=0.0)
        ))
        docs = spark.createDataFrame(
            [("c1", "The domain evil.example.net resolves to 10.0.0.1 now.")],
            ["conv_id", "doc_text"],
        )
        out = LlmExtractor("default", backend=rl).extract(docs)
        assert out.filter("kind='edge'").count() == 1


class TestRound5AnalystQueries:
    def test_dedicated_infrastructure(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            dedicated_infrastructure,
        )

        rows = dedicated_infrastructure(spark, k=10, min_degree=2).collect()
        assert rows
        key = [(-r.lcc, -r.degree, r.id) for r in rows]
        assert key == sorted(key)
        for r in rows:
            assert r.degree >= 2
            assert 0.0 <= r.lcc <= 1.0


class TestNeighborhoodGrowth:
    def test_ranking_tracks_reach_on_crafted_graph(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            neighborhood_growth,
        )

        orig = spark.table("triples")
        # hub h reaches everything in <= 2 undirected hops; the chain
        # tail t3 reaches only 3 nodes — the ranking must separate them.
        crafted = spark.createDataFrame(
            [("h", "RESOLVES_TO", f"s{i}") for i in range(8)]
            + [("s0", "RESOLVES_TO", "t1"), ("t1", "RESOLVES_TO", "t2"),
               ("t2", "RESOLVES_TO", "t3")],
            ["subj", "pred", "obj"],
        )
        crafted.createOrReplaceTempView("triples")
        try:
            rows = neighborhood_growth(spark, hops=2, p=6, k=20).collect()
            assert len(rows) == 12  # every node surfaced within k
            # descending order with id tie-break
            pairs = [(-r.est_ball, r.id) for r in rows]
            assert pairs == sorted(pairs)
            # every estimate equals the HLL built over the node's EXACT
            # 2-ball (the anf_ball_sizes recurrence contract; raw-HLL
            # values at these tiny cardinalities are estimator-biased,
            # so equality-to-mirror is the meaningful check, not
            # magnitude ordering)
            from tests.test_graph_algos import TestAnfBallSizes

            mirror = TestAnfBallSizes._mirror(
                [(r.subj, r.obj) for r in crafted.collect()], hops=2, m=64
            )
            got = {r.id: (r.n_zero, r.est_ball) for r in rows}
            assert got == {
                k2: (v[0], v[2]) for k2, v in mirror.items()
            }
        finally:
            orig.createOrReplaceTempView("triples")

    def test_runs_on_warehouse(self, spark, warehouse):
        from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
            neighborhood_growth,
        )

        rows = neighborhood_growth(spark, hops=2, p=4, k=5).collect()
        assert 0 < len(rows) <= 5
        assert all(r.est_ball > 0 for r in rows)
