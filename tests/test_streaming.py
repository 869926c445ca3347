"""Structured Streaming tests: foreachBatch KG sink + windowed mentions."""

import os

import pandas as pd
import pytest

from threat_intelligence_knowledge_graph_spark.datagen import transcripts_rows
from threat_intelligence_knowledge_graph_spark.oracle import oracle_triples
from threat_intelligence_knowledge_graph_spark.operators.reassembly import TURN_SEPARATOR
from threat_intelligence_knowledge_graph_spark.plans.pipeline import run_pipeline
from threat_intelligence_knowledge_graph_spark.schemas import TRANSCRIPTS_SCHEMA
from threat_intelligence_knowledge_graph_spark.sources.tableio import LocalTableCatalog
from threat_intelligence_knowledge_graph_spark.streaming.stream_extract import (
    stream_extract,
    windowed_mention_counts,
)


def _write_shards(spark, rows, path, n_shards=3):
    """Write ``rows`` as ``n_shards`` parquet files (streaming inputs);
    each file holds whole conversations."""
    for shard in range(n_shards):
        shard_rows = [r for r in rows if int(r["conv_id"][-2:]) % n_shards == shard]
        spark.createDataFrame(
            pd.DataFrame(shard_rows), schema=TRANSCRIPTS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(path)


def _oracle(rows):
    docs = {}
    for r in sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])):
        docs.setdefault(r["conv_id"], []).append(r["text"])
    return oracle_triples(
        [(cid, TURN_SEPARATOR.join(ts)) for cid, ts in sorted(docs.items())]
    )


def _triples(spark, catalog):
    return {
        (r.subj, r.pred, r.obj) for r in catalog.read(spark, "triples").collect()
    }


def _graph_logs(catalog):
    """The commit logs of the graph tables (``triples`` is a view)."""
    return {t: catalog.log(t) for t in ("nodes", "edges")}


@pytest.fixture()
def corpus_dir(spark, tmp_path):
    """Transcripts written as several parquet files (streaming micro-batches);
    each file holds whole conversations."""
    rows = transcripts_rows(12)
    path = str(tmp_path / "stream_in")
    _write_shards(spark, rows, path)
    return path, rows


class TestStreamExtract:
    def test_stream_matches_oracle(self, spark, corpus_dir, tmp_path):
        path, rows = corpus_dir
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        q = stream_extract(
            spark, path, str(tmp_path / "ckpt"), catalog, available_now=True
        )
        q.awaitTermination(300)

        golden = _oracle(rows)
        assert _triples(spark, catalog) == golden and len(golden) > 10
        # The micro-batches wrote no triples table: it is a view.
        assert not os.path.exists(catalog._table_dir("triples"))

        # Nodes (with their properties) and edges equal a batch build
        # over the same input: both go through the one commit path.
        batch = LocalTableCatalog(str(tmp_path / "batch"))
        run_pipeline(
            spark, spark.read.parquet(path), batch, run_id="b",
            collect_counts=False,
        )

        def nodes(cat):
            return {
                (r.node_label, r.node_id, tuple(sorted(r.properties.items())))
                for r in cat.read(spark, "nodes").collect()
            }

        def edges(cat):
            return {tuple(r) for r in cat.read(spark, "edges").collect()}

        assert nodes(catalog) == nodes(batch) and len(nodes(batch)) > 10
        assert edges(catalog) == edges(batch)

    def test_restart_is_idempotent(self, spark, corpus_dir, tmp_path):
        path, _ = corpus_dir
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        ckpt = str(tmp_path / "ckpt")
        stream_extract(spark, path, ckpt, catalog, available_now=True).awaitTermination(300)
        before = _triples(spark, catalog)
        # Restart from the same checkpoint: no new files → no new batches;
        # triple set unchanged.
        stream_extract(spark, path, ckpt, catalog, available_now=True).awaitTermination(300)
        assert _triples(spark, catalog) == before

    def test_replayed_batch_commits_nothing(self, spark, corpus_dir, tmp_path):
        """A crash after the graph commit but before Spark's checkpoint
        commit replays the micro-batch under the same batch id on
        restart; the replay must leave the graph tables untouched."""
        path, _ = corpus_dir
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        ckpt = tmp_path / "ckpt"
        stream_extract(spark, path, str(ckpt), catalog, available_now=True).awaitTermination(300)
        logs, triples = _graph_logs(catalog), _triples(spark, catalog)

        last = max(int(f) for f in os.listdir(ckpt / "commits") if f.isdigit())
        os.remove(ckpt / "commits" / str(last))
        os.remove(ckpt / "commits" / f".{last}.crc")
        q = stream_extract(spark, path, str(ckpt), catalog, available_now=True)
        q.awaitTermination(300)
        assert q.exception() is None
        # The batch did run again: Spark re-committed it to the checkpoint.
        assert (ckpt / "commits" / str(last)).exists()
        assert _graph_logs(catalog) == logs
        assert _triples(spark, catalog) == triples

    def test_new_query_same_run_id_commits(self, spark, tmp_path):
        """A second query (fresh checkpoint, same run_id) over new
        conversations into the same warehouse commits them."""
        rows = transcripts_rows(20)
        first = [r for r in rows if int(r["conv_id"][-2:]) < 12]
        later = [r for r in rows if int(r["conv_id"][-2:]) >= 12]
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        for i, part in enumerate((first, later)):
            src = str(tmp_path / f"in{i}")
            _write_shards(spark, part, src)
            stream_extract(
                spark, src, str(tmp_path / f"ckpt{i}"), catalog,
                run_id="stream", available_now=True,
            ).awaitTermination(300)
            if i == 0:
                logs = _graph_logs(catalog)
        assert all(
            len(log) > len(logs[t]) for t, log in _graph_logs(catalog).items()
        )
        assert _triples(spark, catalog) == _oracle(rows)


class TestWindowedMentions:
    def test_windowed_counts(self, spark, corpus_dir, tmp_path):
        path, rows = corpus_dir
        out = (
            windowed_mention_counts(spark, path, window="1 hour")
            .writeStream.format("memory")
            .queryName("cve_windows")
            .outputMode("append")  # finalized windows only
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "wc"))
            .start()
        )
        out.awaitTermination(300)
        # availableNow drains everything; watermark passes end → windows close.
        got = spark.sql("SELECT * FROM cve_windows").collect()
        # Corpus contains CVE mentions; at least the hot CVEs must appear.
        cves = {r.cve for r in got}
        total = sum(r.n_mentions for r in got)
        import re

        expected = sum(
            len(re.findall(r"CVE-\d{4}-\d{4,7}", r["text"])) for r in rows
        )
        if got:
            assert total <= expected
        # The aggregation plan itself is valid streaming (no exception) and
        # deterministic columns:
        assert {c for c in ("window_start", "cve", "n_mentions")} <= set(
            spark.table("cve_windows").columns
        )
