"""Model-based test of ``LocalTableCatalog`` with one writer.

A hypothesis state machine runs ``overwrite``, ``merge``, ``append``,
``compact``, ``vacuum``, time travel, ``rows``, ``diff`` and ``committed``
on tiny edge DataFrames, against an in-memory model that keeps every
snapshot's full state, its append parent and whether its data files were
reclaimed. A crash rule raises between a snapshot's data write and its log
commit. The ``triples`` view is checked against the projection of the
model's base head after every step.
"""

from __future__ import annotations

import shutil
import tempfile
from collections import Counter

import pytest
from hypothesis import HealthCheck, Phase, settings, strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)

from threat_intelligence_knowledge_graph_spark.sources.tableio import LocalTableCatalog

EDGES = "src_label string, src_id string, rel_type string, dst_label string, dst_id string"
KEYS = ["src_id", "rel_type", "dst_id"]
RUN_IDS = ("r0", "r1", "r2")
STAGES = ("s0", "s1")

edge_rows = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.sampled_from(["s1", "s2", "s3"]),
        st.sampled_from(["R", "S"]),
        st.sampled_from(["A", "B"]),
        st.sampled_from(["d1", "d2"]),
    ),
    max_size=4,
)
run_ids = st.sampled_from(RUN_IDS)
stages = st.sampled_from(STAGES)


class Crash(Exception):
    """Raised in place of the log commit."""


def _key(row: tuple) -> tuple:
    """(src_id, rel_type, dst_id): the merge keys, and the view's row."""
    return row[1], row[2], row[4]


def _first_per_key(rows: list[tuple], head: dict | None = None) -> list[tuple]:
    """``rows`` with every row of a key already seen (in ``head`` or
    earlier in ``rows``) replaced by that key's row, so a table holds
    exact duplicates but never two different rows of one key: then
    ``merge``, which keeps one row per key, is deterministic."""
    seen = dict(head or {})
    return [seen.setdefault(_key(r), r) for r in rows]


def _has_edges(machine) -> bool:
    # A named function, not a lambda: hypothesis describes a lambda by
    # reading its source line from disk.
    return bool(machine.edges.entries)


class ModelTable:
    """Each committed snapshot of one table: its full state as a multiset,
    its operation, append parent, run id and stage; plus the snapshots
    whose data files vacuum reclaimed."""

    def __init__(self):
        self.entries: list[dict] = []
        self.reclaimed: set[int] = set()

    @property
    def head(self) -> Counter:
        return self.entries[-1]["state"] if self.entries else Counter()

    def head_by_key(self) -> dict:
        return {_key(r): r for r in self.head}

    def commit(self, state: Counter, operation: str, run_id="", stage="", parent=None):
        self.entries.append({
            "snapshot": len(self.entries), "state": state, "operation": operation,
            "parent": parent, "run_id": run_id, "stage": stage,
        })

    def chain(self, snap: int) -> list[int]:
        out = []
        while snap is not None:
            out.append(snap)
            e = self.entries[snap]
            snap = e["parent"] if e["operation"] == "append" else None
        return out

    def readable(self, snap: int) -> bool:
        return not self.reclaimed.intersection(self.chain(snap))

    def vacuum(self, keep_last: int) -> list[int]:
        if len(self.entries) <= keep_last:
            return []
        live = {s for e in self.entries[-keep_last:] for s in self.chain(e["snapshot"])}
        removed = [
            e["snapshot"] for e in self.entries[:-keep_last]
            if e["snapshot"] not in live and e["snapshot"] not in self.reclaimed
        ]
        self.reclaimed.update(removed)
        return removed


class CatalogMachine(RuleBasedStateMachine):
    spark = None
    tmp_root = None

    def __init__(self):
        super().__init__()
        self.root = tempfile.mkdtemp(dir=self.tmp_root)
        self.catalog = LocalTableCatalog(self.root)
        self.edges = ModelTable()
        self.canonical = ModelTable()

    def teardown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def _df(self, rows):
        return self.spark.createDataFrame(rows, EDGES)

    def _rows(self, name: str, **kw) -> Counter:
        return Counter(tuple(r) for r in self.catalog.read(self.spark, name, **kw).collect())

    # -- writes ---------------------------------------------------------------
    def _overwrite(self, rows, run_id, stage):
        rows = _first_per_key(rows)
        self.catalog.overwrite(self._df(rows), "edges", run_id, stage)
        return lambda: self.edges.commit(Counter(rows), "overwrite", run_id, stage)

    def _merge(self, rows, run_id, stage):
        batch = {}
        for r in rows:
            batch.setdefault(_key(r), r)
        self.catalog.merge(
            self.spark, self._df(list(batch.values())), "edges", KEYS, run_id, stage
        )
        merged = {**self.edges.head_by_key(), **batch}
        return lambda: self.edges.commit(Counter(merged.values()), "merge", run_id, stage)

    def _append(self, rows, run_id, stage):
        rows = _first_per_key(rows, self.edges.head_by_key())
        parent = len(self.edges.entries) - 1 if self.edges.entries else None
        self.catalog.append(self._df(rows), "edges", run_id, stage)
        return lambda: self.edges.commit(
            self.edges.head + Counter(rows), "append", run_id, stage, parent
        )

    WRITES = {"overwrite": _overwrite, "merge": _merge, "append": _append}

    @rule(rows=edge_rows, run_id=run_ids, stage=stages)
    def overwrite(self, rows, run_id, stage):
        self._overwrite(rows, run_id, stage)()

    @rule(rows=edge_rows, run_id=run_ids, stage=stages)
    def merge(self, rows, run_id, stage):
        self._merge(rows, run_id, stage)()

    @rule(rows=edge_rows, run_id=run_ids, stage=stages)
    def append(self, rows, run_id, stage):
        self._append(rows, run_id, stage)()

    @rule(op=st.sampled_from(sorted(WRITES)), rows=edge_rows, run_id=run_ids, stage=stages)
    def crash_before_commit(self, op, rows, run_id, stage):
        """The snapshot's data is written, then the writer dies before its
        log commit: the table keeps its pre-crash state, and the orphan
        directory is never read (the invariants check the next state)."""

        def crash(*_args, **_kwargs):
            raise Crash

        self.catalog._append_log = crash
        try:
            with pytest.raises(Crash):
                self.WRITES[op](self, rows, run_id, stage)
        finally:
            del self.catalog._append_log

    @precondition(_has_edges)
    @rule()
    def compact(self):
        self.catalog.compact(self.spark, "edges", target_file_bytes=1 << 30)
        self.edges.commit(Counter(self.edges.head), "compact", stage="compact")

    @rule(keep_last=st.integers(1, 3))
    def vacuum(self, keep_last):
        assert self.catalog.vacuum("edges", keep_last) == self.edges.vacuum(keep_last)
        # A vacuum never breaks a live append chain: every kept head
        # still reads its full state.
        for e in self.edges.entries[-keep_last:]:
            assert self.edges.readable(e["snapshot"])
            assert self._rows("edges", as_of_snapshot=e["snapshot"]) == e["state"]

    @rule(rows=edge_rows, same_run=st.booleans())
    def canonicalize(self, rows, same_run):
        """Commit an ``edges_canonical`` head, derived from the current
        edges head (same run id; a compaction keeps that head) or not."""
        edges = [e for e in self.edges.entries if e["operation"] != "compact"]
        run_id = edges[-1]["run_id"] if same_run and edges else "rc"
        rows = _first_per_key(rows)
        self.catalog.overwrite(self._df(rows), "edges_canonical", run_id, "canonicalize")
        self.canonical.commit(Counter(rows), "overwrite", run_id, "canonicalize")

    @rule(op=st.sampled_from(["overwrite", "merge", "append", "compact", "vacuum"]))
    def view_refuses_writes(self, op):
        df = self.spark.createDataFrame([("s", "P", "o")], "subj string, pred string, obj string")
        calls = {
            "overwrite": lambda: self.catalog.overwrite(df, "triples"),
            "merge": lambda: self.catalog.merge(self.spark, df, "triples", ["subj", "pred", "obj"]),
            "append": lambda: self.catalog.append(df, "triples"),
            "compact": lambda: self.catalog.compact(self.spark, "triples"),
            "vacuum": lambda: self.catalog.vacuum("triples"),
        }
        with pytest.raises(ValueError):
            calls[op]()

    # -- reads ----------------------------------------------------------------
    @precondition(_has_edges)
    @rule(data=st.data())
    def time_travel(self, data):
        n = len(self.edges.entries)
        snap = data.draw(st.integers(-1, n + 1))
        if snap < 0 or not self.edges.readable(min(snap, n - 1)):
            with pytest.raises(FileNotFoundError):
                self.catalog.read(self.spark, "edges", as_of_snapshot=snap)
        else:
            want = self.edges.entries[min(snap, n - 1)]["state"]
            assert self._rows("edges", as_of_snapshot=snap) == want

    @precondition(_has_edges)
    @rule(data=st.data())
    def diff(self, data):
        n = len(self.edges.entries)
        old = data.draw(st.integers(0, n - 1))
        new = data.draw(st.integers(0, n - 1))
        if not (self.edges.readable(old) and self.edges.readable(new)):
            with pytest.raises(FileNotFoundError):
                self.catalog.diff(self.spark, "edges", old, new)
            return
        before, after = self.edges.entries[old]["state"], self.edges.entries[new]["state"]
        want = Counter({("insert", r): c for r, c in (after - before).items()})
        want.update({("delete", r): c for r, c in (before - after).items()})
        got = Counter(
            (r[0], tuple(r[1:])) for r in self.catalog.diff(self.spark, "edges", old, new).collect()
        )
        assert got == want

    # -- invariants -----------------------------------------------------------
    @invariant()
    def head_equals_model(self):
        if not self.edges.entries:
            assert not self.catalog.exists("edges")
            with pytest.raises(FileNotFoundError):
                self.catalog.rows("edges")
            return
        assert self._rows("edges") == self.edges.head
        assert self.catalog.rows("edges") == sum(self.edges.head.values())

    @invariant()
    def committed_equals_model(self):
        done = {(e["run_id"], e["stage"]) for e in self.edges.entries}
        for run_id in RUN_IDS:
            for stage in STAGES:
                assert self.catalog.committed("edges", run_id, stage) == ((run_id, stage) in done)
                assert not self.catalog.committed("triples", run_id, stage)

    @invariant()
    def time_travel_bounded_by_vacuum(self):
        """A read past the vacuum horizon raises before any Spark work;
        ``time_travel`` checks the content of snapshots inside it."""
        for e in self.edges.entries:
            if not self.edges.readable(e["snapshot"]):
                with pytest.raises(FileNotFoundError, match="vacuum"):
                    self.catalog.read(self.spark, "edges", as_of_snapshot=e["snapshot"])

    @invariant()
    def triples_view_is_the_base_projection(self):
        canonical = self.canonical.entries
        edges = [e for e in self.edges.entries if e["operation"] != "compact"]
        derived = canonical and edges and canonical[-1]["run_id"] == edges[-1]["run_id"]
        base = self.canonical if derived else self.edges
        assert self.catalog.log("triples") == []
        assert self.catalog.exists("triples") == bool(base.entries)
        if not base.entries:
            return
        want = Counter()
        for r, c in base.head.items():
            want[_key(r)] += c
        assert self._rows("triples") == want
        assert self.catalog.rows("triples") == sum(want.values())


def test_catalog_matches_model(spark, tmp_path):
    CatalogMachine.spark = spark
    CatalogMachine.tmp_root = str(tmp_path)
    run_state_machine_as_test(
        CatalogMachine,
        settings=settings(
            max_examples=10,
            stateful_step_count=12,
            deadline=None,
            derandomize=True,
            # No shrinking: a failing run is at most 12 steps, readable as
            # it is, and shrinking at Spark speed takes many minutes.
            phases=[Phase.explicit, Phase.reuse, Phase.generate],
            suppress_health_check=list(HealthCheck),
        ),
    )
