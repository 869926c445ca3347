"""STIX 2.1 export: object and relationship mapping, export_stix CLI."""

from __future__ import annotations

import hashlib
import re

from threat_intelligence_knowledge_graph_spark.operators.stix_export import (
    STORE_LABEL_TO_STIX,
    stix_objects,
    stix_relationships,
)

STIX_ID_RX = re.compile(
    r"^[a-z0-9-]+--[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
)


def _uuidish(s: str) -> str:
    h = hashlib.md5(s.encode()).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


class TestStixObjects:
    def test_mapping_and_ids(self, spark):
        nodes = spark.createDataFrame(
            [("Domain", "Domain_Evil_Example_Net"),
             ("Ipv4", "Ipv4_10_1_2_3"),
             ("Malwarefamily", "Malwarefamily_X")],  # unmapped label
            "node_label string, node_id string",
        )
        got = {r.node_id: r for r in stix_objects(nodes).collect()}
        d = got["Domain_Evil_Example_Net"]
        assert d.stix_type == "domain-name"
        assert d.stix_id == "domain-name--" + _uuidish("Domain_Evil_Example_Net")
        assert STIX_ID_RX.match(d.stix_id)
        assert got["Ipv4_10_1_2_3"].stix_type == "ipv4-addr"
        # unmapped label -> STIX custom-object convention, never dropped
        m = got["Malwarefamily_X"]
        assert m.stix_type == "x-malwarefamily" and STIX_ID_RX.match(m.stix_id)

    def test_deterministic_reexport(self, spark):
        nodes = spark.createDataFrame(
            [("Url", "Url_Https___X")], "node_label string, node_id string"
        )
        a = stix_objects(nodes).collect()
        b = stix_objects(nodes).collect()
        assert a == b

    def test_store_label_map_covers_pinned_types(self):
        # every pinned STIX type reachable; capitalize() collides never
        assert len(STORE_LABEL_TO_STIX) == 19
        assert STORE_LABEL_TO_STIX["Ipv4"] == "ipv4-addr"
        assert STORE_LABEL_TO_STIX["Url"] == "url"


class TestStixRelationships:
    def test_refs_and_type(self, spark):
        edges = spark.createDataFrame(
            [("Domain", "Domain_A", "RESOLVES_TO", "Ipv4", "Ipv4_B")],
            "src_label string, src_id string, rel_type string, "
            "dst_label string, dst_id string",
        )
        [r] = stix_relationships(edges).collect()
        assert r.relationship_type == "resolves-to"
        assert r.source_ref == "domain-name--" + _uuidish("Domain_A")
        assert r.target_ref == "ipv4-addr--" + _uuidish("Ipv4_B")
        assert r.stix_id == "relationship--" + _uuidish(
            "Domain_A\x1fRESOLVES_TO\x1fIpv4_B"
        )

    def test_distinct_edges_distinct_ids(self, spark):
        edges = spark.createDataFrame(
            [("Domain", "a", "USES", "Url", "b_c"),
             ("Domain", "a", "USES", "Url", "b"),  # near-collision guard
             ("Domain", "a_USES", "X", "Url", "b")],
            "src_label string, src_id string, rel_type string, "
            "dst_label string, dst_id string",
        )
        ids = [r.stix_id for r in stix_relationships(edges).collect()]
        assert len(set(ids)) == 3  # unit separators prevent collisions


class TestExportStixCli:
    def test_end_to_end(self, spark, tmp_path, capsys):
        import importlib.util
        import json
        import os

        import pandas as pd

        from threat_intelligence_knowledge_graph_spark.datagen import (
            transcripts_rows,
        )
        from threat_intelligence_knowledge_graph_spark.plans.pipeline import (
            run_pipeline,
        )
        from threat_intelligence_knowledge_graph_spark.schemas import (
            TRANSCRIPTS_SCHEMA,
        )
        from threat_intelligence_knowledge_graph_spark.sources.tableio import (
            LocalTableCatalog,
        )

        wh = str(tmp_path / "wh")
        catalog = LocalTableCatalog(wh)
        transcripts = spark.createDataFrame(
            pd.DataFrame(transcripts_rows(10)), schema=TRANSCRIPTS_SCHEMA
        )
        run_pipeline(spark, transcripts, catalog, run_id="s1")

        spec = importlib.util.spec_from_file_location(
            "export_stix",
            os.path.join(os.path.dirname(__file__), "..", "jobs",
                         "export_stix.py"),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        out = str(tmp_path / "stix")
        assert mod.main(
            ["--warehouse", wh, "--output", out], spark=spark
        ) == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        objs = spark.read.parquet(out + "/objects")
        rels = spark.read.parquet(out + "/relationships")
        assert summary["objects"] == objs.count() == catalog.read(
            spark, "nodes"
        ).count()
        assert summary["relationships"] == rels.count() == catalog.read(
            spark, "edges"
        ).count()
        assert sum(summary["by_type"].values()) == summary["objects"]
        # every relationship ref resolves to an exported object id
        ids = {r.stix_id for r in objs.select("stix_id").collect()}
        for r in rels.select("source_ref", "target_ref").collect():
            assert r.source_ref in ids and r.target_ref in ids
        # deterministic re-export: identical object ids
        assert mod.main(
            ["--warehouse", wh, "--output", out], spark=spark
        ) == 0
        assert {r.stix_id for r in spark.read.parquet(out + "/objects")
                .select("stix_id").collect()} == ids
