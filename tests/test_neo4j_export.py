"""neo4j-admin CSV export: layout, headers, escaping, content round-trip."""

from __future__ import annotations

import csv
import glob
import os

from threat_intelligence_knowledge_graph_spark.datagen import (
    generate_transcripts_df,
)
from threat_intelligence_knowledge_graph_spark.plans.pipeline import run_pipeline
from threat_intelligence_knowledge_graph_spark.sources.neo4j_export import (
    export_graph,
    export_nodes_csv,
)
from threat_intelligence_knowledge_graph_spark.sources.tableio import (
    LocalTableCatalog,
)


def _read_csv_set(data_dir: str):
    """Header from the sibling single header file; data from headerless
    parts — exactly how the emitted neo4j-admin command consumes them."""
    header_file = data_dir.rsplit(".csv", 1)[0] + "_header.csv"
    with open(header_file, newline="") as fh:
        header = next(csv.reader(fh))
    rows = []
    for f in sorted(glob.glob(os.path.join(data_dir, "part-*.csv"))):
        with open(f, newline="") as fh:
            rows.extend(csv.reader(fh))
    return header, rows


class TestNeo4jExport:
    def test_export_round_trips_graph(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        run_pipeline(
            spark,
            generate_transcripts_df(spark, 40),
            catalog,
            run_id="a",
        )
        out = str(tmp_path / "export")
        summary = export_graph(spark, catalog, out)

        nh, nrows = _read_csv_set(os.path.join(out, "nodes.csv"))
        eh, erows = _read_csv_set(os.path.join(out, "edges.csv"))
        # Reserved bulk-import columns present and first.
        assert nh[:2] == ["id:ID", ":LABEL"]
        assert eh == [":START_ID", ":END_ID", ":TYPE"]
        assert len(nrows) == summary["nodes"]
        assert len(erows) == summary["edges"]

        # Content equality with the committed tables.
        nodes = {
            (r["node_id"], r["node_label"])
            for r in catalog.read(spark, "nodes").collect()
        }
        assert {(r[0], r[1]) for r in nrows} == nodes
        edges = {
            (r["src_id"], r["dst_id"], r["rel_type"])
            for r in catalog.read(spark, "edges").collect()
        }
        assert {tuple(r) for r in erows} == edges

        # Every edge endpoint resolves to an exported node id (the
        # bulk importer hard-fails on dangling refs).
        node_ids = {r[0] for r in nrows}
        assert all(r[0] in node_ids and r[1] in node_ids for r in erows)
        # Command consumes header file + headerless parts.
        assert "nodes_header.csv," in summary["import_command"]
        assert "edges_header.csv," in summary["import_command"]

    def test_multipart_data_files_carry_no_header(self, spark, tmp_path):
        """neo4j-admin reads the header from the FIRST matched file only
        — a header line inside any data part would be ingested as a
        bogus node row. Force multiple parts and assert none has one."""
        nodes = spark.createDataFrame(
            [("L", f"n{i}", {"name": f"v{i}"}) for i in range(60)],
            "node_label string, node_id string, properties map<string,string>",
        ).repartition(4)
        out = str(tmp_path / "n.csv")
        export_nodes_csv(nodes, out)
        parts = sorted(glob.glob(os.path.join(out, "part-*.csv")))
        assert len(parts) > 1
        all_rows = []
        for p in parts:
            with open(p, newline="") as fh:
                all_rows.extend(csv.reader(fh))
        assert all(not r or r[0] != "id:ID" for r in all_rows)
        assert len(all_rows) == 60

    def test_rfc4180_quote_escaping(self, spark, tmp_path):
        """Values containing quotes/commas must round-trip under the
        doubled-quote convention neo4j-admin parses (Spark's default
        backslash escaping would corrupt the row)."""
        tricky = 'Mozilla/5.0 "compatible; MSIE 9.0", path C:\\x'
        nodes = spark.createDataFrame(
            [("UserAgent", "ua1", {"name": tricky})],
            "node_label string, node_id string, properties map<string,string>",
        )
        out = str(tmp_path / "n.csv")
        export_nodes_csv(nodes, out)
        _h, rows = _read_csv_set(out)
        assert rows == [["ua1", "UserAgent", tricky]]
        # concatenate ALL part files: the shared session's partitioning
        # can emit empty parts, so a single arbitrary glob hit may be empty
        raw = "".join(
            open(p).read() for p in sorted(glob.glob(os.path.join(out, "part-*.csv")))
        )
        assert '""compatible' in raw  # doubled-quote, not backslash
        assert '\\"' not in raw

    def test_property_columns_flattened(self, spark, tmp_path):
        nodes = spark.createDataFrame(
            [
                ("Malware", "m1", {"name": "x", "hash_algorithm": "MD5"}),
                ("Domain", "d1", {"name": "evil.example.net"}),
            ],
            "node_label string, node_id string, properties map<string,string>",
        )
        out = str(tmp_path / "n.csv")
        keys = export_nodes_csv(nodes, out)
        assert keys == ["hash_algorithm", "name"]
        header, rows = _read_csv_set(out)
        assert header == ["id:ID", ":LABEL", "hash_algorithm", "name"]
        by_id = {r[0]: r for r in rows}
        assert by_id["m1"][2:] == ["MD5", "x"]
        assert by_id["d1"][2] == ""  # absent key → empty cell

class TestByteGolden:
    """Format-drift guard: the EXACT bytes neo4j-admin would read are
    pinned for a tricky corpus (commas, doubled quotes, unicode ids,
    empty vs null props, embedded newlines). Spark config or writer
    changes that alter quoting/escaping fail here without needing the
    tool. Regenerate tests/goldens/neo4j_nodes_golden.csv ONLY for an
    intentional format change (header, then '-----', then data bytes);
    the input is coalesced to one sorted partition so bytes are stable."""

    def test_nodes_byte_golden(self, spark, tmp_path):
        rows = [
            ("Malware", "m,comma", {"name": 'has "quotes" inside', "family": "emotet"}),
            ("Domain", "d1", {"name": "evil.example.net", "family": None}),
            ("ThreatActor", "апт28", {"name": "Fancy 🐻", "family": ""}),
            ("Tool", "t|pipe", {}),
            ("Url", "u1", {"name": 'http://x.test/a,b?c="d"\ne', "family": "multi\nline"}),
        ]
        nodes = spark.createDataFrame(
            rows, "node_label string, node_id string, properties map<string,string>"
        )
        out = str(tmp_path / "nodes.csv")
        export_nodes_csv(nodes.repartition(1).sortWithinPartitions("node_id"), out)
        base, _ = os.path.splitext(out)
        header = open(f"{base}_header.csv", encoding="utf-8").read()
        data = "".join(
            open(p, encoding="utf-8").read()
            for p in sorted(glob.glob(os.path.join(out, "part-*.csv")))
        )
        golden = open(
            os.path.join(os.path.dirname(__file__), "goldens", "neo4j_nodes_golden.csv"),
            encoding="utf-8",
        ).read()
        want_header, want_data = golden.split("-----\n", 1)
        assert header == want_header
        assert data == want_data
