"""Spans for the traced run, recorded from the benchmark's side only.

The program is not instrumented: spans are taken around calls into each
module's public functions. ``TracingCatalog`` is a ``LocalTableCatalog``
subclass handed to ``run_pipeline`` through its ``catalog`` argument, so
every ``overwrite``/``merge``/``read``/``log`` the pipeline makes is seen.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from threat_intelligence_knowledge_graph_spark.sources.tableio import LocalTableCatalog


class Tracer:
    """In-memory span recorder: each span has name, start, end, parent
    span id and the run id of the operation it belongs to."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its children cover. Spans are
        recorded from one thread, so children nest and never overlap."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child_s.get(s["id"], 0.0) for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


class TracingCatalog(LocalTableCatalog):
    """A catalog that spans ``overwrite``, ``merge``, ``read`` and ``log``.

    Write spans also record the snapshot directory they committed, so the
    bytes, files and rows written can be measured after the operation
    without adding to its time."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def log(self, name):
        with self.tracer.span("tableio.log", table=name):
            return super().log(name)

    def read(self, spark, name, *args, **kwargs):
        with self.tracer.span("tableio.read", table=name):
            return super().read(spark, name, *args, **kwargs)

    def _head(self, name: str) -> list[dict]:
        return LocalTableCatalog.log(self, name)

    def overwrite(self, df, name, run_id="", stage=""):
        with self.tracer.span("tableio.overwrite", table=name) as rec:
            super().overwrite(df, name, run_id, stage)
        rec["snap_dir"] = self._snap_dir(name, self._head(name)[-1]["snapshot"])

    def merge(self, spark, df, name, keys, run_id="", stage=""):
        with self.tracer.span("tableio.merge", table=name) as rec:
            super().merge(spark, df, name, keys, run_id, stage)
        rec["snap_dir"] = self._snap_dir(name, self._head(name)[-1]["snapshot"])


def parquet_stats(dirs: list[str]) -> dict:
    """Bytes, parquet files and rows (from the footers) under ``dirs``."""
    out = {"bytes": 0, "files": 0, "rows": 0}
    for d in dirs:
        for dp, _dn, files in os.walk(d):
            for f in files:
                p = os.path.join(dp, f)
                out["bytes"] += os.path.getsize(p)
                if f.endswith(".parquet"):
                    out["files"] += 1
                    out["rows"] += pq.ParquetFile(p).metadata.num_rows
    return out


def annotate_writes(tracer: Tracer) -> None:
    """Fill bytes/files/rows into the write spans not yet annotated."""
    for s in tracer.spans:
        if "snap_dir" in s and "rows" not in s:
            s.update(parquet_stats([s["snap_dir"]]))


PHASE_PROPERTY = "perfbench.phase"


def spark_counts(event_log_dir: str, app_id: str, phase: str) -> dict:
    """Sum task metrics of the jobs submitted with local property
    ``PHASE_PROPERTY == phase`` in the app's Spark event log."""
    path = os.path.join(event_log_dir, app_id)
    stages: set[int] = set()
    out = {
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "jvm_gc_s": 0.0,
        "spill_bytes": 0,
    }
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get(PHASE_PROPERTY) == phase:
                    stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                out["tasks"] += 1
                out["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return out
