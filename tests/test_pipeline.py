"""Pipeline-level tests: checkpoint/resume, idempotence, lineage/metrics."""

import json
import os
import subprocess
import sys
import uuid
from pathlib import Path

import pandas as pd
import pytest

from threat_intelligence_knowledge_graph_spark.datagen import transcripts_rows
from threat_intelligence_knowledge_graph_spark.plans.pipeline import run_pipeline
from threat_intelligence_knowledge_graph_spark.schemas import TRANSCRIPTS_SCHEMA
from threat_intelligence_knowledge_graph_spark.sources.tableio import LocalTableCatalog


@pytest.fixture()
def transcripts(spark):
    return spark.createDataFrame(
        pd.DataFrame(transcripts_rows(10)), schema=TRANSCRIPTS_SCHEMA
    )


def _triples(spark, catalog):
    return {
        (r.subj, r.pred, r.obj) for r in catalog.read(spark, "triples").collect()
    }


def _job_ids(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` submits, through a job group of its
    own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # Job starts reach the status tracker through the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _logs(root) -> dict[str, str]:
    """Every table's commit log under a warehouse root, as written."""
    return {p.parent.name: p.read_text() for p in Path(root).glob("*/_log.json")}


def _strip_metadata(catalog, name: str) -> None:
    """Rewrite ``name``'s log as a log written before commit records
    carried ``schema`` and ``rows``."""
    entries = catalog.log(name)
    for e in entries:
        e.pop("schema", None)
        e.pop("rows", None)
    with open(catalog._log_path(name), "w") as f:
        json.dump(entries, f)


class TestPipeline:
    def test_end_to_end(self, spark, transcripts, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        result = run_pipeline(spark, transcripts, catalog, run_id="r1")
        assert result.counts["extraction"] > 0
        assert result.counts["triples"] > 0
        assert result.counts["nodes"] > result.counts["triples"] * 0  # exists
        # The extract stage left lineage rows that account for every
        # extraction row.
        lineage = catalog.read(spark, "metrics").filter("stage = 'extract'")
        assert sum(r.value for r in lineage.collect()) == result.counts["extraction"]

    def test_rerun_is_idempotent(self, spark, transcripts, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        run_pipeline(spark, transcripts, catalog, run_id="r1")
        before = _triples(spark, catalog)
        nodes_before = catalog.read(spark, "nodes").count()
        #

        # Re-run same run_id: every stage committed → all skipped, tables
        # unchanged (resume path).
        run_pipeline(spark, transcripts, catalog, run_id="r1")
        assert _triples(spark, catalog) == before
        assert catalog.read(spark, "nodes").count() == nodes_before

        # Fresh run_id over same input: stages recompute, MERGE upserts →
        # content still identical (MERGE idempotence, reference
        # neo4j_store.py:126-164 semantics).
        run_pipeline(spark, transcripts, catalog, run_id="r2")
        assert _triples(spark, catalog) == before
        assert catalog.read(spark, "nodes").count() == nodes_before

    def test_resume_skips_committed_stages(self, spark, transcripts, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        run_pipeline(spark, transcripts, catalog, run_id="r1")
        log_before = catalog.log("extraction")
        run_pipeline(spark, transcripts, catalog, run_id="r1")
        # No new extraction snapshot was written on resume.
        assert catalog.log("extraction") == log_before

    def test_incremental_merge_union(self, spark, tmp_path):
        """Two disjoint corpus halves merged incrementally == one-shot run."""
        catalog = LocalTableCatalog(str(tmp_path / "inc"))
        rows = transcripts_rows(8)
        half1 = [r for r in rows if int(r["conv_id"][-2:]) < 4]
        half2 = [r for r in rows if int(r["conv_id"][-2:]) >= 4]
        df1 = spark.createDataFrame(pd.DataFrame(half1), schema=TRANSCRIPTS_SCHEMA)
        df2 = spark.createDataFrame(pd.DataFrame(half2), schema=TRANSCRIPTS_SCHEMA)
        full = spark.createDataFrame(pd.DataFrame(rows), schema=TRANSCRIPTS_SCHEMA)

        run_pipeline(spark, df1, catalog, run_id="h1")
        run_pipeline(spark, df2, catalog, run_id="h2")
        inc = _triples(spark, catalog)

        catalog2 = LocalTableCatalog(str(tmp_path / "full"))
        run_pipeline(spark, full, catalog2, run_id="f")
        assert inc == _triples(spark, catalog2)


class TestTableIO:
    def test_merge_upsert(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "t"))
        df1 = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
        catalog.merge(spark, df1, "t1", keys=["k"])
        df2 = spark.createDataFrame([("b", 20), ("c", 3)], ["k", "v"])
        catalog.merge(spark, df2, "t1", keys=["k"])
        got = {(r.k, r.v) for r in catalog.read(spark, "t1").collect()}
        assert got == {("a", 1), ("b", 20), ("c", 3)}  # new wins on match

    def test_compact_rewrites_layout_not_content(self, spark, tmp_path):
        import os

        catalog = LocalTableCatalog(str(tmp_path / "t"))
        # Accrete a fragmented table: 32-partition write → many files.
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(2000)], ["k", "v"]
        ).repartition(32)
        catalog.overwrite(df, "t1", run_id="r", stage="load")
        before = {(r.k, r.v) for r in catalog.read(spark, "t1").collect()}

        written = catalog.compact(spark, "t1", target_file_bytes=1 << 30)
        assert written == 1  # tiny table → single file
        snap_dir = catalog._snap_dir("t1", catalog.log("t1")[-1]["snapshot"])
        n_parquet = sum(
            1 for f in os.listdir(snap_dir) if f.endswith(".parquet")
        )
        assert n_parquet == 1
        # Content bit-identical; commit log records the rewrite; the
        # original stage commit is still resumable (committed() true).
        assert {(r.k, r.v) for r in catalog.read(spark, "t1").collect()} == before
        assert catalog.log("t1")[-1]["operation"] == "compact"
        assert catalog.committed("t1", "r", "load")
        # vacuum reclaims the fragmented layout
        removed = catalog.vacuum("t1", keep_last=1)
        assert removed and catalog.read(spark, "t1").count() == 2000

    def test_time_travel_read(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "tt"))
        catalog.overwrite(
            spark.createDataFrame([("a", 1)], ["k", "v"]), "t", run_id="r0"
        )
        catalog.append(
            spark.createDataFrame([("b", 2)], ["k", "v"]), "t", run_id="r1"
        )
        catalog.merge(
            spark,
            spark.createDataFrame([("a", 10)], ["k", "v"]),
            "t",
            keys=["k"],
            run_id="r2",
        )
        states = {
            0: {("a", 1)},
            1: {("a", 1), ("b", 2)},
            2: {("a", 10), ("b", 2)},
        }
        for snap, exp in states.items():
            got = {
                (r.k, r.v)
                for r in catalog.read(spark, "t", as_of_snapshot=snap).collect()
            }
            assert got == exp, snap
        # as-of between commits resolves to the newest not-newer snapshot
        assert catalog.read(spark, "t", as_of_snapshot=99).count() == 2
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            catalog.read(spark, "t", as_of_snapshot=-1)

    def test_snapshot_diff(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "cdf"))
        catalog.overwrite(
            spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]),
            "t",
            run_id="r0",
        )
        catalog.append(
            spark.createDataFrame([("c", 3)], ["k", "v"]), "t", run_id="r1"
        )
        catalog.merge(
            spark,
            spark.createDataFrame([("a", 10)], ["k", "v"]),
            "t",
            keys=["k"],
            run_id="r2",
        )
        # append interval: the diff IS the appended row
        got = {
            (r._change, r.k, r.v)
            for r in catalog.diff(spark, "t", 0, 1).collect()
        }
        assert got == {("insert", "c", 3)}
        # merge interval without keys: raw insert/delete pair
        got = {
            (r._change, r.k, r.v)
            for r in catalog.diff(spark, "t", 1, 2).collect()
        }
        assert got == {("insert", "a", 10), ("delete", "a", 1)}
        # with keys: the pair reclassifies as an update
        got = {
            (r._change, r.k, r.v)
            for r in catalog.diff(spark, "t", 1, 2, key_cols=["k"]).collect()
        }
        assert got == {("update_post", "a", 10), ("update_pre", "a", 1)}
        # full interval to the head (to_snapshot omitted)
        got = {
            (r._change, r.k, r.v)
            for r in catalog.diff(spark, "t", 0, key_cols=["k"]).collect()
        }
        assert got == {
            ("insert", "c", 3),
            ("update_post", "a", 10),
            ("update_pre", "a", 1),
        }
        # identical states → empty diff
        assert catalog.diff(spark, "t", 2).count() == 0

    def test_time_travel_bounded_by_vacuum(self, spark, tmp_path):
        import pytest as _pytest

        catalog = LocalTableCatalog(str(tmp_path / "ttv"))
        for i in range(4):
            catalog.overwrite(
                spark.createDataFrame([(i,)], ["v"]), "t", run_id=f"r{i}"
            )
        catalog.vacuum("t", keep_last=1)
        assert catalog.read(spark, "t", as_of_snapshot=3).collect()[0].v == 3
        with _pytest.raises(FileNotFoundError, match="vacuum"):
            catalog.read(spark, "t", as_of_snapshot=1)

    def test_audit_graph_tables(self, spark, tmp_path):
        """Clean warehouse passes every invariant; a planted duplicate/
        null violation is detected and recorded in metrics."""
        from threat_intelligence_knowledge_graph_spark.datagen import (
            generate_transcripts_df,
        )
        from threat_intelligence_knowledge_graph_spark.plans.pipeline import (
            audit_graph_tables,
            run_pipeline,
        )

        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        t = generate_transcripts_df(spark, 30)
        run_pipeline(spark, t, catalog, run_id="a")
        audit = audit_graph_tables(spark, catalog, run_id="a")
        assert all(r.passed for r in audit.collect())
        # audit rows merged into metrics as stage='audit'
        m = catalog.read(spark, "metrics").filter("stage = 'audit'")
        assert m.count() == audit.count()
        assert {r.value for r in m.collect()} == {0}

        # Plant a duplicate edge + a null endpoint with a predicate no
        # rule emits → the edges checks and the checks over the triples
        # view must all fail.
        edges = catalog.read(spark, "edges")
        bad = edges.limit(1).unionByName(
            spark.createDataFrame(
                [("Malware", None, "X", "Domain", "y")],
                "src_label string, src_id string, rel_type string, "
                "dst_label string, dst_id string",
            )
        )
        catalog.overwrite(edges.unionByName(bad), "edges", run_id="b", stage="tamper")
        audit2 = {
            (r["table"], r["check"]): r["passed"]
            for r in audit_graph_tables(spark, catalog).collect()
        }
        assert audit2[("edges", "unique(src_id,rel_type,dst_id)")] is False
        assert audit2[("edges", "not_null(src_id)")] is False
        assert audit2[("triples", "unique(subj,pred,obj)")] is False
        assert audit2[("triples", "not_null(subj)")] is False
        # The planted row's pred 'X' is no rule's predicate and its null
        # subj resolves to no node → domain/range conformance trips too,
        # while the clean run above passed it (asserted via `all(passed)`).
        assert audit2[("triples", "schema_conformance")] is False

    def test_compact_sorted_rewrite(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "t"))
        df = spark.createDataFrame(
            [(i % 7, i) for i in range(500)], ["bucket", "v"]
        ).repartition(16)
        catalog.overwrite(df, "t1")
        before = {(r.bucket, r.v) for r in catalog.read(spark, "t1").collect()}
        catalog.compact(
            spark, "t1", target_file_bytes=1 << 30, sort_cols=["bucket"]
        )
        assert {
            (r.bucket, r.v) for r in catalog.read(spark, "t1").collect()
        } == before

    def test_snapshot_history(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "t"))
        df = spark.createDataFrame([(1,)], ["x"])
        catalog.overwrite(df, "t2", run_id="r", stage="s")
        catalog.overwrite(df, "t2", run_id="r", stage="s2")
        log = catalog.log("t2")
        assert [e["snapshot"] for e in log] == [0, 1]
        assert catalog.committed("t2", "r", "s")
        assert not catalog.committed("t2", "other", "s")

    def test_two_log_writers_leave_a_readable_log(self, tmp_path):
        """Two threads commit to one table's log at once: no call raises
        and the final log parses. It does not check that all 400 commits
        landed: the read-modify-write still loses some and can repeat a
        snapshot id. Put-if-absent log files fix that (ROADMAP item 2)."""
        import os
        import threading

        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        os.makedirs(catalog._table_dir("t"))
        errors = []

        def writer(w):
            for i in range(200):
                try:
                    catalog._append_log(
                        "t",
                        {"snapshot": i, "run_id": f"w{w}", "stage": str(i),
                         "operation": "append"},
                    )
                except Exception as e:
                    errors.append(repr(e))

        threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errors == []
        assert catalog.log("t")  # parses


class TestCanonicalizePipeline:
    def test_alias_layer_keeps_graph_valid(self, spark, transcripts, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "canon"))
        base = LocalTableCatalog(str(tmp_path / "base"))
        run_pipeline(spark, transcripts, base, run_id="r")
        run_pipeline(spark, transcripts, catalog, run_id="r", canonicalize=True)
        raw = base.read(spark, "triples").count()
        canon = catalog.read(spark, "triples").count()
        # Canonicalization can only merge — never invent — triples.
        assert 0 < canon <= raw
        assert catalog.exists("canonical_map")
        # Conservative threshold on exact-canonical NER ids: distinct
        # domains that differ by one char must NOT have merged.
        alias = {r.node_id: r.canonical_id for r in catalog.read(spark, "canonical_map").collect()}
        for a, b in alias.items():
            assert a.split("_")[0] == b.split("_")[0]  # same type prefix

    def test_triples_view_follows_the_current_base(self, spark, transcripts, tmp_path):
        """Two canonicalizing runs whose alias dictionaries differ, then a
        run without canonicalize. After each, the triples view equals the
        projection of its base row for row: ``edges_canonical`` while its
        head comes from the current edges head, else ``edges``. So no row
        rewritten under a superseded alias mapping lingers, and no
        committed edge is hidden behind a stale canonical table."""
        from datetime import datetime

        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        host = "update-service-for-windows-security-telemetry-collector-alpha"
        texts = {
            "conv_alias_1": f"Also {host}x.example.com resolves to 45.33.12.8.",
            "conv_alias_2": f"The malware beacons to {host}.example.com which resolves to 45.33.12.7.",
            "conv_alias_3": "The malware beacons to evil-relay.example.org which resolves to 45.33.12.9.",
        }

        def feed(*convs):
            rows = [
                {"conv_id": c, "turn_idx": 0, "role": "assistant", "text": texts[c],
                 "tool": None, "ts": datetime(2025, 1, 1)}
                for c in convs
            ]
            return transcripts.unionByName(
                spark.createDataFrame(pd.DataFrame(rows), schema=TRANSCRIPTS_SCHEMA)
            )

        def projection(table):
            return sorted(
                (r.src_id, r.rel_type, r.dst_id) for r in catalog.read(spark, table).collect()
            )

        def check(result, base):
            triples = sorted(tuple(r) for r in catalog.read(spark, "triples").collect())
            assert triples == projection(base)
            assert result.counts["triples"] == len(triples)
            return triples

        def aliases():
            return {(r.node_id, r.canonical_id) for r in catalog.read(spark, "canonical_map").collect()}

        r1 = run_pipeline(spark, feed("conv_alias_1"), catalog, run_id="r1", canonicalize=True)
        first_aliases = aliases()
        stale = ("Domain_Update-Service-For-Windows-Security-Telemetry-Collector-Alphax_Example_Com",
                 "RESOLVES_TO", "Ipv4_45_33_12_8")
        assert stale in check(r1, "edges_canonical")

        r2 = run_pipeline(
            spark, feed("conv_alias_1", "conv_alias_2"), catalog, run_id="r2", canonicalize=True
        )
        assert aliases() != first_aliases and stale[0] in dict(aliases())
        # The run-1 row now maps to the new canonical id; it must not linger.
        assert stale not in check(r2, "edges_canonical")

        r3 = run_pipeline(spark, feed("conv_alias_3"), catalog, run_id="r3")
        # edges_canonical's head is run 2's, so the view reads every
        # committed edge, run 3's included.
        triples = check(r3, "edges")  # every committed edge, row for row
        assert stale in triples
        assert ("Domain_Evil-Relay_Example_Org", "RESOLVES_TO", "Ipv4_45_33_12_9") in triples


class TestTriplesView:
    """``triples`` is the catalog's view over the edges head."""

    EDGES = "src_label string, src_id string, rel_type string, dst_label string, dst_id string"

    def test_view_resolves_its_base_and_refuses_writes(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        assert not catalog.exists("triples")
        # A triples table an older warehouse left behind is never read.
        legacy = catalog._snap_dir("triples", 0)
        spark.createDataFrame([("old", "P", "o")], "subj string, pred string, obj string") \
            .write.parquet(legacy)
        with open(catalog._log_path("triples"), "w") as f:
            json.dump([{"snapshot": 0, "run_id": "r0", "stage": "assemble",
                        "operation": "merge"}], f)

        raw = [("Domain", "d1", "RESOLVES_TO", "Ipv4", "i1"),
               ("Domain", "d2", "RESOLVES_TO", "Ipv4", "i1")]
        catalog.overwrite(spark.createDataFrame(raw, self.EDGES), "edges", "r1", "assemble")
        assert catalog.log("triples") == [] and not catalog.committed("triples", "r0", "assemble")
        assert catalog._chain_dirs("triples", catalog.log("triples")) == []
        assert sorted(catalog.read(spark, "triples").collect()) == [
            ("d1", "RESOLVES_TO", "i1"), ("d2", "RESOLVES_TO", "i1")
        ]
        assert catalog.exists("triples")
        assert _job_ids(spark, lambda: catalog.rows("triples")) == []
        assert catalog.rows("triples") == 2

        # A canonical head derived from the current edges head is the base;
        # once edges move on without it, edges is the base again.
        canon = [("Domain", "d1", "RESOLVES_TO", "Ipv4", "i1")]
        catalog.overwrite(spark.createDataFrame(canon, self.EDGES), "edges_canonical", "r1", "canonicalize")
        assert catalog.rows("triples") == 1
        catalog.compact(spark, "edges")  # same rows: the base stays canonical
        assert catalog.rows("triples") == 1
        catalog.append(
            spark.createDataFrame([("Url", "u1", "CONTAINS", "Domain", "d1")], self.EDGES),
            "edges", "r2", "assemble",
        )
        assert catalog.rows("triples") == 3
        # Time travel and diff use the base's snapshot ids.
        assert catalog.read(spark, "triples", as_of_snapshot=1).count() == 2
        assert [tuple(r) for r in catalog.diff(spark, "triples", 1).collect()] == [
            ("insert", "u1", "CONTAINS", "d1")
        ]

        df = catalog.read(spark, "triples")
        for write in (
            lambda: catalog.overwrite(df, "triples"),
            lambda: catalog.merge(spark, df, "triples", keys=["subj", "pred", "obj"]),
            lambda: catalog.append(df, "triples"),
            lambda: catalog.compact(spark, "triples"),
            lambda: catalog.vacuum("triples"),
        ):
            with pytest.raises(ValueError, match="view"):
                write()
        assert sorted(os.listdir(catalog._table_dir("triples"))) == ["_log.json", "snap-0"]


class TestIncremental:
    def test_daily_increments_equal_full_run(self, spark, tmp_path):
        from threat_intelligence_knowledge_graph_spark.plans.pipeline import (
            run_incremental,
        )

        rows = transcripts_rows(8)
        day1 = [r for r in rows if int(r["conv_id"][-2:]) < 5]
        # Day 2 feed REPLAYS day-1 conversations plus the new ones.
        df1 = spark.createDataFrame(pd.DataFrame(day1), schema=TRANSCRIPTS_SCHEMA)
        dfall = spark.createDataFrame(pd.DataFrame(rows), schema=TRANSCRIPTS_SCHEMA)

        catalog = LocalTableCatalog(str(tmp_path / "incr"))
        run_incremental(spark, df1, catalog, run_id="day1")
        r2 = run_incremental(spark, dfall, catalog, run_id="day2")

        full = LocalTableCatalog(str(tmp_path / "full"))
        run_pipeline(spark, dfall, full, run_id="f")
        assert _triples(spark, catalog) == _triples(spark, full)
        assert r2.counts["triples"] == full.read(spark, "triples").count()

        # Third increment with a pure replay: nothing changes.
        r3 = run_incremental(spark, dfall, catalog, run_id="day3")
        assert r3.counts["triples"] == r2.counts["triples"]
        # Increments write no triples table: it is a view.
        assert not os.path.exists(catalog._table_dir("triples"))


class TestVacuum:
    def test_vacuum_keeps_latest_readable(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "v"))
        for i in range(4):
            catalog.overwrite(
                spark.createDataFrame([(i,)], ["x"]), "t", run_id=f"r{i}", stage="s"
            )
        removed = catalog.vacuum("t", keep_last=2)
        assert removed == [0, 1]
        assert catalog.read(spark, "t").first().x == 3  # latest intact
        assert len(catalog.log("t")) == 4  # history preserved


class TestAppendSnapshots:
    """Fast append (Iceberg append-manifest analog): per-batch writes,
    chain-aware reads, compaction materializes, vacuum never tears a
    live chain."""

    def test_append_accumulates_without_rewrite(self, spark, tmp_path):
        import os

        catalog = LocalTableCatalog(str(tmp_path / "a"))
        for i in range(3):
            catalog.append(
                spark.createDataFrame([(i, f"v{i}")], ["k", "v"]),
                "t", run_id=f"b{i}", stage="ingest",
            )
        got = {(r.k, r.v) for r in catalog.read(spark, "t").collect()}
        assert got == {(0, "v0"), (1, "v1"), (2, "v2")}
        # Each append snapshot dir holds ONLY its batch (no rewrite):
        # every batch here is 1 row; a rewriting append would put all
        # accumulated rows in the newest dir.
        last = catalog.log("t")[-1]
        assert last["operation"] == "append" and last["parent"] == 1
        last_dir = catalog._snap_dir("t", last["snapshot"])
        assert spark.read.parquet(last_dir).count() == 1

    def test_vacuum_preserves_live_append_chain(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "a"))
        for i in range(3):
            catalog.append(
                spark.createDataFrame([(i,)], ["x"]), "t", run_id=f"b{i}", stage="s"
            )
        # keep_last=1: the head is an append whose chain reaches back to
        # snapshot 0 — nothing is reclaimable yet.
        assert catalog.vacuum("t", keep_last=1) == []
        assert catalog.read(spark, "t").count() == 3
        before = sorted(catalog.read(spark, "t").collect())
        # compact materializes; now the old chain is dead and reclaimed
        catalog.compact(spark, "t", target_file_bytes=1 << 30)
        removed = catalog.vacuum("t", keep_last=1)
        assert removed == [0, 1, 2]
        assert {r.x for r in catalog.read(spark, "t").collect()} == {0, 1, 2}
        # compact → vacuum keeps the chain's rows exactly: no row is lost
        # or duplicated by the rewrite
        assert sorted(catalog.read(spark, "t").collect()) == before


class TestCrashWindowResume:
    def test_metrics_gap_recomputed_on_resume(self, spark, transcripts, tmp_path):
        """Crash between a stage's data commit and its metrics commit must
        not skip the stage on resume (review finding): the gate requires
        BOTH commits."""
        from threat_intelligence_knowledge_graph_spark.operators.extraction import (
            extract_graph_records_fused,
        )

        catalog = LocalTableCatalog(str(tmp_path / "crash"))
        # Simulate the crash: data snapshot committed, metrics never merged.
        catalog.overwrite(
            extract_graph_records_fused(transcripts),
            "extraction", run_id="r1", stage="extract",
        )
        assert not catalog.exists("metrics")

        run_pipeline(spark, transcripts, catalog, run_id="r1")
        stages = {r.stage for r in catalog.read(spark, "metrics").collect()}
        assert "extract" in stages  # lineage recovered, not lost forever


class TestCommitMetadata:
    """Each commit record carries the written schema and row count."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "k string, v int")

    def test_every_write_records_its_row_count(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))

        def check(name):
            head = catalog.log(name)[-1]
            assert head["rows"] == catalog.read(spark, name).count()
            assert head["schema"]

        catalog.overwrite(self._df(spark, [("a", 1), ("b", 2)]), "o")
        check("o")
        catalog.merge(spark, self._df(spark, [("a", 1), ("b", 2)]), "m", keys=["k"])
        check("m")  # into an absent table: a plain write
        catalog.merge(spark, self._df(spark, [("b", 20), ("c", 3)]), "m", keys=["k"])
        check("m")  # into an existing table: the merged head, 3 rows
        assert catalog.log("m")[-1]["rows"] == 3
        catalog.append(self._df(spark, [("a", 1)]), "a")
        catalog.append(self._df(spark, [("b", 2), ("c", 3)]), "a")
        assert [e["rows"] for e in catalog.log("a")] == [1, 2]
        catalog.compact(spark, "a")
        check("a")
        assert catalog.log("a")[-1]["rows"] == 3

    def test_rows_sums_an_append_chain(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        catalog.overwrite(self._df(spark, [("a", 1), ("b", 2)]), "t")
        for i in range(3):
            catalog.append(self._df(spark, [(f"x{i}", i)] * (i + 1)), "t")
        assert catalog.rows("t") == 2 + 1 + 2 + 3 == catalog.read(spark, "t").count()
        with pytest.raises(FileNotFoundError):
            catalog.rows("absent")

    def test_entries_without_metadata_still_read_and_count(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        catalog.overwrite(self._df(spark, [("a", 1), ("b", 2)]), "t")
        catalog.append(self._df(spark, [("c", 3)]), "t")
        _strip_metadata(catalog, "t")
        assert "rows" not in catalog.log("t")[-1]
        assert catalog.rows("t") == 3
        assert sorted(catalog.read(spark, "t").collect()) == [
            ("a", 1), ("b", 2), ("c", 3)
        ]
        # Such a read infers the schema, with a Spark job.
        assert _job_ids(spark, lambda: catalog.read(spark, "t"))

    def test_time_travel_reads_with_the_resolved_entry_schema(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        catalog.overwrite(self._df(spark, [("a", 1)]), "t")
        catalog.overwrite(
            spark.createDataFrame([("b", "x", 1.5)], "k string, v string, w double"), "t"
        )
        assert catalog.read(spark, "t", as_of_snapshot=0).schema.simpleString() == (
            "struct<k:string,v:int>"
        )
        assert catalog.read(spark, "t").columns == ["k", "v", "w"]
        # The stored schema is what the read passes: narrow entry 0's.
        entries = catalog.log("t")
        entries[0]["schema"] = spark.createDataFrame([], "k string").schema.json()
        with open(catalog._log_path("t"), "w") as f:
            json.dump(entries, f)
        assert catalog.read(spark, "t", as_of_snapshot=0).collect() == [("a",)]


class TestJobCounts:
    """Reads, counts and resume decide from the commit log: no Spark job."""

    def test_read_submits_no_job(self, spark, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        catalog.overwrite(spark.createDataFrame([("a", 1)], "k string, v int"), "t")
        assert _job_ids(spark, lambda: catalog.read(spark, "t")) == []

    def test_rerun_of_a_committed_run_submits_no_job(self, spark, transcripts, tmp_path):
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        first = _job_ids(spark, lambda: run_pipeline(spark, transcripts, catalog, run_id="r1"))
        assert first  # the probe sees the jobs of a fresh build
        assert _job_ids(
            spark, lambda: run_pipeline(spark, transcripts, catalog, run_id="r1")
        ) == []

    def test_fresh_build_jobs_carry_their_stage(self, spark, transcripts, tmp_path):
        """A fresh build submits at most 9 jobs (10 while triples was a
        table), each described as ``<run_id>:<stage>``, and the caller's
        description is restored afterwards."""
        sc = spark.sparkContext
        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        after = []

        def build():
            run_pipeline(spark, transcripts, catalog, run_id="r1")
            after.append(sc.getLocalProperty("spark.job.description"))

        ids = _job_ids(spark, build)
        assert 0 < len(ids) <= 9
        store = sc._jsc.sc().statusStore()
        described = [store.job(i).description() for i in ids]
        assert all(d.isDefined() and d.get().startswith("r1:") for d in described)
        assert {d.get() for d in described} >= {"r1:extract", "r1:assemble/edges"}
        assert after[0].startswith("jobs-")  # _job_ids' own description
        assert not os.path.exists(catalog._table_dir("triples"))

    def test_incremental_rerun_commits_nothing(self, spark, transcripts, tmp_path):
        from threat_intelligence_knowledge_graph_spark.plans.pipeline import (
            run_incremental,
        )

        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        first = run_incremental(spark, transcripts, catalog, run_id="d1")
        logs = _logs(tmp_path / "wh")
        assert "conv_seen" in logs
        rerun = []
        assert _job_ids(
            spark,
            lambda: rerun.append(
                run_incremental(spark, transcripts, catalog, run_id="d1")
            ),
        ) == []
        assert _logs(tmp_path / "wh") == logs
        assert rerun[0].counts == first.counts

    def test_audit_rerun_records_once(self, spark, transcripts, tmp_path):
        from threat_intelligence_knowledge_graph_spark.plans.pipeline import (
            audit_graph_tables,
        )

        catalog = LocalTableCatalog(str(tmp_path / "wh"))
        run_pipeline(spark, transcripts, catalog, run_id="r1")
        first = audit_graph_tables(spark, catalog, run_id="r1").collect()
        second = audit_graph_tables(spark, catalog, run_id="r1").collect()
        assert sorted(first) == sorted(second)
        audits = [e for e in catalog.log("metrics") if e["stage"] == "audit"]
        assert len(audits) == 1


def test_job_rerun_commits_nothing(spark, transcripts, tmp_path):
    """Re-running jobs/run_pipeline.py with a committed --run-id leaves
    every table's commit log as the first run wrote it."""
    transcripts.write.parquet(str(tmp_path / "in"))
    job = Path(__file__).resolve().parents[1] / "jobs" / "run_pipeline.py"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.pop("SPARK_DRIVER_MEMORY", None)  # Spark's 1g default is plenty
    env["SPARK_MASTER"] = "local[2]"

    def run():
        r = subprocess.run(
            [sys.executable, str(job), "--input", str(tmp_path / "in"),
             "--warehouse", str(tmp_path / "wh"), "--run-id", "r1"],
            cwd=tmp_path,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        assert "'audit': 'PASS'" in r.stdout

    run()
    logs = _logs(tmp_path / "wh")
    assert {"quarantine", "extraction", "nodes", "edges", "metrics"} <= set(logs)
    assert "triples" not in logs  # a view: no log, no directory
    run()
    assert _logs(tmp_path / "wh") == logs
