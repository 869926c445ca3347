"""TableIO seam — Iceberg-style snapshot tables over local parquet.

Production target is an Iceberg catalog (``MERGE INTO`` + snapshot
isolation give the reference's MERGE-upsert idempotence for free,
reference neo4j_store.py:126-164 → SURVEY.md §2 ops 27-28). This sandbox
has no iceberg-spark-runtime jar, so this module reproduces the semantics
the pipeline depends on — atomic snapshot commit, read-committed reads,
key-based merge, commit log for resume — on plain parquet directories plus
a JSON log. The pipeline code is written against this seam only, so
swapping in a real catalog is a constructor change, not a rewrite.

Layout per table::

    <root>/<table>/_log.json          # ordered commit records
    <root>/<table>/snap-<n>/          # immutable parquet snapshot dirs

Commit = write ``snap-<n>`` then atomically replace ``_log.json``
(``os.replace``). Readers resolve the latest committed snapshot from the
log; a crashed writer leaves only an orphan directory, never a torn table.

A commit record holds ``snapshot``, ``run_id``, ``stage``, ``operation``
(``overwrite`` | ``merge`` | ``append`` | ``compact``), ``parent`` (append
only), ``schema`` (the written DataFrame's ``StructType`` as JSON) and
``rows`` (the rows written into ``snap-<n>``, from its parquet footers).
This is the metadata an Iceberg snapshot summary or a Delta ``add``
action carries: ``read`` passes the stored schema, so it submits no
schema-inference job, and ``rows`` answers a table's row count from the
log alone. Entries written before these two fields existed still read
and count, through schema inference and a ``count()``.

``triples`` is a view, not a table: ``build_triples``' projection of the
edges head, resolved on every read the way an Iceberg catalog resolves a
view. It stores nothing, so it has no log, ``committed`` is ``False`` and
every write to it raises ``ValueError``. Its base is ``edges_canonical``
when that head was derived from the current ``edges`` head (the two heads
share a ``run_id``; an ``edges`` compaction keeps the rows and does not
count), else ``edges``. A ``triples/`` directory left by an
older warehouse is never read.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..operators.triples import build_triples

TRIPLES = "triples"  # a view: build_triples over its base edges table


class LocalTableCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- log helpers --------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _log_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_log.json")

    def log(self, name: str) -> list[dict]:
        path = self._log_path(name)
        if name == TRIPLES or not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)

    def _append_log(self, name: str, record: dict) -> None:
        entries = self.log(name)
        entries.append(record)
        # A temp file per writer: with one shared path, two writers
        # interleave in it and can replace the log with a torn file.
        # (mkstemp would also do, but makes the log mode 0600.)
        tmp = f"{self._log_path(name)}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "x") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, self._log_path(name))

    def exists(self, name: str) -> bool:
        return bool(self.log(self._base(name)))

    def _base(self, name: str) -> str:
        """The table that stores ``name``'s rows: ``name`` itself, or the
        base of the ``triples`` view (see the module docstring)."""
        if name != TRIPLES:
            return name
        # A compaction rewrites the same rows, so it does not move the
        # head the canonical table was derived from.
        canonical = self.log("edges_canonical")
        edges = [e for e in self.log("edges") if e["operation"] != "compact"]
        if canonical and edges and canonical[-1]["run_id"] == edges[-1]["run_id"]:
            return "edges_canonical"
        return "edges"

    @staticmethod
    def _writable(name: str) -> None:
        if name == TRIPLES:
            raise ValueError(f"{name} is a view over the edges head; write edges instead")

    def committed(self, name: str, run_id: str, stage: str) -> bool:
        """Has (run_id, stage) already committed to this table? (resume)"""
        return any(
            e["run_id"] == run_id and e["stage"] == stage for e in self.log(name)
        )

    def _next_snapshot(self, name: str) -> int:
        entries = self.log(name)
        return (entries[-1]["snapshot"] + 1) if entries else 0

    def _snap_dir(self, name: str, snap: int) -> str:
        return os.path.join(self._table_dir(name), f"snap-{snap}")

    @staticmethod
    def _chain(entries: list[dict], head: dict | None = None) -> list[dict]:
        """The entries whose data make up ``head``'s file set (default:
        the last entry), oldest first: an append snapshot's file set is
        its own dir plus its parent's file set (Iceberg append manifest
        chain); any other operation materializes fully."""
        by_snap = {e["snapshot"]: e for e in entries}
        chain: list[dict] = []
        e: dict | None = head or (entries[-1] if entries else None)
        while e is not None:
            chain.append(e)
            parent = e.get("parent") if e["operation"] == "append" else None
            e = by_snap.get(parent) if parent is not None else None
        return chain[::-1]

    def _chain_dirs(self, name: str, entries: list[dict]) -> list[str]:
        """Data dirs of the HEAD snapshot (see ``_chain``)."""
        return [self._snap_dir(name, e["snapshot"]) for e in self._chain(entries)]

    def _live_snapshots(self, name: str, heads: list[dict]) -> set[int]:
        """Snapshot ids reachable from the given head entries via append
        parent chains — these must survive vacuum."""
        entries = self.log(name)
        return {e["snapshot"] for h in heads for e in self._chain(entries, h)}

    def _write(self, df: DataFrame, name: str, record: dict) -> int:
        """Write ``df`` as the next snapshot of ``name`` and commit
        ``record`` with the snapshot id, ``df``'s schema and the row
        count of the written files, read from their parquet footers (no
        Spark job, no second pass over the data). Returns the snapshot id.

        Not ``DataFrame.observe``: in Spark 4.1 the first ``Observation``
        makes the session unserializable (its ``ObservationManager`` is
        not), and Spark ML closures that capture the session then fail."""
        os.makedirs(self._table_dir(name), exist_ok=True)
        snap = self._next_snapshot(name)
        path = self._snap_dir(name, snap)
        df.write.mode("overwrite").parquet(path)
        rows = sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        self._append_log(
            name, {"snapshot": snap, **record, "schema": df.schema.json(), "rows": rows}
        )
        return snap

    # -- operations ---------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        name: str,
        as_of_snapshot: int | None = None,
    ) -> DataFrame:
        """Read the table head.

        ``as_of_snapshot`` is time travel (Iceberg ``VERSION AS OF``):
        read the state as of that commit — the newest entry with
        ``snapshot <= as_of_snapshot`` becomes the head and its chain
        resolves normally, read with that entry's stored schema. History
        older than the vacuum horizon raises ``FileNotFoundError`` naming
        the reclaimed snapshot (the log keeps every record, only data
        files are reclaimed — a silent partial read would be worse than
        failing). A view reads its base, at the base's snapshot ids."""
        if name == TRIPLES:
            return build_triples(self.read(spark, self._base(name), as_of_snapshot))
        entries = self.log(name)
        if as_of_snapshot is not None:
            entries = [e for e in entries if e["snapshot"] <= as_of_snapshot]
            if not entries:
                raise FileNotFoundError(
                    f"table {name} has no snapshot <= {as_of_snapshot}"
                )
            for d in self._chain_dirs(name, entries):
                if not os.path.isdir(d):
                    raise FileNotFoundError(
                        f"table {name} snapshot {as_of_snapshot} needs "
                        f"vacuumed data ({d}); time travel is bounded by "
                        "the vacuum horizon (keep_last)"
                    )
        if not entries:
            raise FileNotFoundError(f"table {name} has no committed snapshot")
        reader = spark.read
        if "schema" in entries[-1]:  # absent only from entries of older logs
            reader = reader.schema(StructType.fromJson(json.loads(entries[-1]["schema"])))
        return reader.parquet(*self._chain_dirs(name, entries))

    def rows(self, name: str) -> int:
        """Row count of the table head, from the log: the head's ``rows``,
        summed along its append chain. Only a chain with an entry that
        predates the ``rows`` field is counted with a Spark job. A view
        counts its base."""
        entries = self.log(self._base(name))
        if not entries:
            raise FileNotFoundError(f"table {name} has no committed snapshot")
        chain = self._chain(entries)
        if all("rows" in e for e in chain):
            return sum(e["rows"] for e in chain)
        return self.read(SparkSession.active(), name).count()

    def append(
        self, df: DataFrame, name: str, run_id: str = "", stage: str = ""
    ) -> None:
        """Fast append (Iceberg append snapshot): writes ONLY the new
        rows' files; the commit references the parent snapshot instead
        of rewriting it. This is the right shape for an append-only
        table (e.g. the incremental-MinHash band index) at 100 TB —
        per-batch cost is proportional to the BATCH, not the table.
        Small files accrete across batches; run ``compact`` periodically
        to materialize the chain into one snapshot, then ``vacuum``."""
        self._writable(name)
        entries = self.log(name)
        parent = entries[-1]["snapshot"] if entries else None
        self._write(
            df, name,
            {"run_id": run_id, "stage": stage, "operation": "append", "parent": parent},
        )

    def overwrite(
        self, df: DataFrame, name: str, run_id: str = "", stage: str = ""
    ) -> None:
        """Full-snapshot replace (checkpoint write)."""
        self._writable(name)
        self._write(df, name, {"run_id": run_id, "stage": stage, "operation": "overwrite"})

    def merge(
        self,
        spark: SparkSession,
        df: DataFrame,
        name: str,
        keys: list[str],
        run_id: str = "",
        stage: str = "",
    ) -> None:
        """MERGE INTO emulation: upsert ``df`` into ``name`` on ``keys``.

        WHEN MATCHED → new row wins (last-writer, reference MERGE ``SET n
        += props``); WHEN NOT MATCHED → insert. Idempotent: merging the
        same batch twice is a no-op on content.

        Precondition: the rows of ``df`` are unique on ``keys``. Every
        caller meets it (``build_nodes`` and ``build_edges`` return rows
        unique on their merge keys). So a
        merge into a table with no commit is a plain write of ``df``.
        Into an existing table it is a rewrite: the head and ``df`` are
        unioned and, per key, the incoming row wins through ``max_by``
        over a commit flag; a table whose columns are all keys needs only
        a ``distinct`` over the union (and avoids an empty-struct
        ``max_by``, a fragile edge case). The merged snapshot keeps
        ``df``'s column order, as a plain write does.
        """
        self._writable(name)
        record = {"run_id": run_id, "stage": stage, "operation": "merge"}
        if not self.exists(name):
            self._write(df, name, record)
            return
        current = self.read(spark, name).withColumn("_commit", F.lit(0))
        unioned = current.unionByName(df.withColumn("_commit", F.lit(1)))
        value_cols = [c for c in unioned.columns if c not in keys and c != "_commit"]
        if not value_cols:
            merged = unioned.select(*keys).distinct()
        else:
            merged = (
                unioned.groupBy(*keys)
                .agg(
                    F.max_by(F.struct(*value_cols), F.col("_commit")).alias("_v")
                )
                .select(*[F.col(f"_v.{c}").alias(c) if c in value_cols else c for c in df.columns])
            )
        self._write(merged, name, record)

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_file_bytes: int = 128 << 20,
        sort_cols: list[str] | None = None,
        run_id: str = "",
    ) -> int:
        """Rewrite the current snapshot into ~``target_file_bytes`` files
        (Iceberg ``rewrite_data_files``). Streaming MERGE commits and
        incremental loads accrete small files; at scale the resulting
        per-file scan/open overhead dominates reads. Content is
        bit-identical (same rows, new layout) and the commit is a normal
        snapshot — readers never see a half-compacted table and
        ``vacuum`` reclaims the old layout.

        ``sort_cols`` additionally range-partitions by the given columns
        before writing (Iceberg's sort-order rewrite) so downstream
        equality filters prune files. Returns the number of files in the
        new snapshot.
        """
        self._writable(name)
        entries = self.log(name)
        if not entries:
            raise FileNotFoundError(f"table {name} has no committed snapshot")
        chain = self._chain_dirs(name, entries)
        total = sum(
            os.path.getsize(os.path.join(dp, f))
            for cur_dir in chain
            for dp, _dn, files in os.walk(cur_dir)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, round(total / target_file_bytes))
        # Materializes append chains too: the new snapshot carries the
        # full content with no parent reference, so vacuum can reclaim
        # the superseded per-batch files.
        df = self.read(spark, name)
        df = (
            df.repartitionByRange(n_files, *sort_cols)
            if sort_cols
            else df.coalesce(n_files)
            if df.rdd.getNumPartitions() > n_files
            else df.repartition(n_files)
        )
        snap = self._write(
            df, name, {"run_id": run_id, "stage": "compact", "operation": "compact"}
        )
        written = sum(
            1
            for _dp, _dn, files in os.walk(self._snap_dir(name, snap))
            for f in files
            if f.endswith(".parquet")
        )
        return written

    def diff(
        self,
        spark: SparkSession,
        name: str,
        from_snapshot: int,
        to_snapshot: int | None = None,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """Row-level changes between two snapshots — the Iceberg
        changelog scan / Delta Change Data Feed analog, derived from
        the states themselves (no write-path hooks): rows only in the
        newer state are ``insert``, rows only in the older are
        ``delete`` (multiset semantics via ``exceptAll`` — a duplicate
        appended twice reports twice). With ``key_cols``, a key present
        on BOTH sides of the diff is reclassified ``update_pre`` /
        ``update_post`` — the merge-upsert signature an analyst asks
        "what changed since yesterday" about.

        Output: the table's columns plus a leading ``_change`` column.
        Both states resolve through normal chain reads, so the diff of
        an append-only interval is exactly the appended rows; history
        is bounded by the vacuum horizon like any time travel.
        """
        old = self.read(spark, name, as_of_snapshot=from_snapshot)
        new = (
            self.read(spark, name, as_of_snapshot=to_snapshot)
            if to_snapshot is not None
            else self.read(spark, name)
        )
        cols = new.columns
        ins = new.exceptAll(old).select(
            F.lit("insert").alias("_change"), *cols
        )
        dele = old.exceptAll(new).select(
            F.lit("delete").alias("_change"), *cols
        )
        if key_cols:
            ik = ins.select(*key_cols).distinct()
            dk = dele.select(*key_cols).distinct()
            both = ik.join(dk, key_cols)
            ins = ins.join(F.broadcast(both), key_cols, "left_semi").select(
                F.lit("update_post").alias("_change"), *cols
            ).unionByName(
                ins.join(F.broadcast(both), key_cols, "left_anti")
            )
            dele = dele.join(F.broadcast(both), key_cols, "left_semi").select(
                F.lit("update_pre").alias("_change"), *cols
            ).unionByName(
                dele.join(F.broadcast(both), key_cols, "left_anti")
            )
        return ins.unionByName(dele)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._table_dir(name), ignore_errors=True)

    def vacuum(self, name: str, keep_last: int = 2) -> list[int]:
        """Delete all but the newest ``keep_last`` snapshots' data dirs
        (the commit log keeps every record — history stays auditable,
        only superseded data files are reclaimed). Append snapshots
        reference their parents' files, so everything REACHABLE from a
        kept head survives — a vacuum can never tear a live chain.
        Returns the snapshot ids removed. Equivalent of Iceberg's
        expire_snapshots."""
        self._writable(name)
        entries = self.log(name)
        if len(entries) <= keep_last:
            return []
        live = self._live_snapshots(name, entries[-keep_last:])
        removed = []
        for e in entries[:-keep_last]:
            snap = e["snapshot"]
            if snap in live:
                continue
            path = self._snap_dir(name, snap)
            if os.path.exists(path):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(snap)
        return removed
