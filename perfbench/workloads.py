"""The workloads: batch_build and graph_query.

Each is a closed loop with one client: the next operation starts only
after the previous one returned and its output was checked. An operation
is one ``run_pipeline`` call (batch_build) or one query with its result
collected (graph_query). Only the operation itself is timed; checks run
between operations.

``setup`` builds everything a run needs from the seed (inputs, reference
answers, the warehouse graph_query reads); ``warm_up`` then runs the
loop's code paths once, untimed. ``loop`` runs rounds until
``window_done`` and returns one record per operation. A round is one
build (batch_build) or one whole deck of the query mix (graph_query).
With a ``Tracer``, rounds alternate untraced and traced; a traced round's
operations are spanned and its catalog is a ``TracingCatalog``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from corpus import (
    CYPHER_COMMUNICATES_WITH,
    CYPHER_RESOLVES_TO,
    DECK_SIZE,
    TWO_HOP_PREDS,
    collect_tables,
    diff_tables,
    dir_bytes,
    normalize,
    oracle_state,
    query_plan,
    reference_answers,
    write_corpus,
)
from tracing import PHASE_PROPERTY, Tracer, TracingCatalog, annotate_writes

from threat_intelligence_knowledge_graph_spark.plans import graph_queries as gq
from threat_intelligence_knowledge_graph_spark.plans import pipeline
from threat_intelligence_knowledge_graph_spark.plans.cypher_lite import cypher_query
from threat_intelligence_knowledge_graph_spark.sources.tableio import LocalTableCatalog

# Sizes per workload; SMOKE shrinks them for the benchmark's own test.
FULL = {"convs": 1000, "decks": 200}
SMOKE = {"convs": 60, "decks": 4}

GRAPH_TABLES = ("nodes", "edges", "triples")
WARM_UP_DECKS = 1
MIN_ROUNDS = 2


def window_done(ops: list[dict], rounds: int, seconds: float, paired: bool) -> bool:
    """The measuring window is ``seconds`` of operation time (checks
    between operations do not count) and at least ``MIN_ROUNDS`` rounds,
    so a run's round count depends only on how fast the operations are;
    ``paired`` windows end on a whole block of ``traced_round``."""
    return (
        rounds >= MIN_ROUNDS
        and sum(o["lat"] for o in ops) >= seconds
        and not (paired and rounds % 4)
    )


def traced_round(r: int) -> bool:
    """Rounds run untraced, traced, traced, untraced, block after block:
    drift that is linear over a block falls on both halves alike."""
    return r % 4 in (1, 2)


def round_latencies(ops: list[dict]) -> list[float]:
    """Mean operation latency of each round, in round order. Every round
    of a workload holds the same operation kinds, so rounds compare."""
    by_round: dict[int, list[float]] = {}
    for o in ops:
        by_round.setdefault(o["round"], []).append(o["lat"])
    return [statistics.fmean(v) for _r, v in sorted(by_round.items())]


def head_bytes(catalog: LocalTableCatalog) -> int:
    """Bytes a reader of the graph scans: the head snapshots of the
    nodes, edges and triples tables."""
    return sum(
        dir_bytes(d)
        for t in GRAPH_TABLES
        for d in catalog._chain_dirs(t, LocalTableCatalog.log(catalog, t))
    )


def _report_failure(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


class Workload:
    name = ""

    def __init__(self, sizes: dict, cores: int):
        self.sizes = sizes
        self.cores = cores

    def loop(self, spark, seconds: float, tracer: Tracer | None = None) -> list[dict]:
        """Run rounds until the window is done; one record per operation.

        With ``tracer``, rounds alternate untraced and traced
        (``traced_round``) and the window ends on a whole block, so drift
        over the run (JIT, caches, a busy host) falls on both halves
        alike and their difference is the tracing overhead. The first
        round after warm-up still runs slow, and would fall on the
        untraced half alone, so a traced run does it unrecorded."""
        ops: list[dict] = []
        rounds = 0
        first = 0
        if tracer is not None:
            self.round(spark, 0, None)
            first = 1
        while not window_done(ops, rounds, seconds, tracer is not None):
            traced = tracer is not None and traced_round(rounds)
            r = first + rounds
            for o in self.round(spark, r, tracer if traced else None):
                ops.append({**o, "round": r, "traced": traced})
            rounds += 1
        return ops

    def catalog(self, root: str, tracer: Tracer | None) -> LocalTableCatalog:
        return TracingCatalog(root, tracer) if tracer else LocalTableCatalog(root)

    def timed(self, spark, tracer: Tracer | None, op_id: str, fn, **attrs):
        """Run ``fn()`` as one operation: (seconds, result, error)."""
        sc = spark.sparkContext
        if tracer:
            tracer.run_id = op_id
            sc.setLocalProperty(PHASE_PROPERTY, "traced")
        cm = tracer.span("op", workload=self.name, **attrs) if tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with cm:
                out = fn()
            return time.perf_counter() - t0, out, None
        except Exception as e:  # an operation that raises counts as failed
            _report_failure(f"{self.name} operation {op_id}")
            return time.perf_counter() - t0, None, e
        finally:
            if tracer:
                sc.setLocalProperty(PHASE_PROPERTY, None)


class BatchBuild(Workload):
    """A fresh warehouse and one full fused ``run_pipeline`` per operation."""

    name = "batch_build"

    def setup(self, spark, work: str, seed: int) -> None:
        n = self.sizes["convs"]
        self.work = work
        self.corpus_path = os.path.join(work, "corpus")
        self.corpus = write_corpus(self.corpus_path, list(range(n)), seed, self.cores)
        self.ref = oracle_state(self.corpus["docs"])
        self.docs = self.corpus["docs"]
        self.last_wh = None

    def warm_up(self, spark) -> None:
        """One untimed build, so Python workers, codegen and the JIT are
        warm before the first timed build."""
        pipeline.run_pipeline(
            spark, spark.read.parquet(self.corpus_path),
            LocalTableCatalog(os.path.join(self.work, "warm-wh")), run_id="warm", fused=True,
        )

    def round(self, spark, r: int, tracer: Tracer | None) -> list[dict]:
        """One build into a fresh warehouse, checked against the oracle."""
        op_id = f"{'traced' if tracer else 'run'}-build-{r}"
        wh = os.path.join(self.work, op_id)
        cat = self.catalog(wh, tracer)
        df = spark.read.parquet(self.corpus_path)
        run = (
            tracer.wrap("pipeline.run_pipeline", pipeline.run_pipeline)
            if tracer
            else pipeline.run_pipeline
        )
        lat, _res, err = self.timed(
            spark, tracer, op_id,
            lambda: run(spark, df, cat, run_id=op_id, fused=True),
        )
        ok = err is None and self._matches(spark, wh)
        op = {
            "id": op_id, "lat": lat, "ok": ok, "error": err is not None, "checked": err is None,
            "turns": self.corpus["turns"], "input_bytes": self.corpus["bytes"],
            "write_bytes": dir_bytes(wh),
        }
        if tracer:  # before the warehouse it measures is deleted
            annotate_writes(tracer)
        if self.last_wh:
            shutil.rmtree(self.last_wh, ignore_errors=True)
        self.last_wh, self.last_run = wh, op_id
        self.head_ratio = head_bytes(LocalTableCatalog(wh)) / self.corpus["bytes"]
        return [op]

    def _matches(self, spark, wh: str) -> bool:
        try:
            return not diff_tables(collect_tables(spark, LocalTableCatalog(wh)), self.ref)
        except Exception:
            _report_failure("batch_build check")
            return False

    def resume(self, spark, tracer: Tracer) -> bool:
        """Re-run the last committed build under its run id: every stage
        is skipped, so nothing may be committed."""
        cat = self.catalog(self.last_wh, tracer)
        before = {t: len(LocalTableCatalog.log(cat, t)) for t in GRAPH_TABLES}
        with tracer.span("pipeline.resume"):
            pipeline.run_pipeline(
                spark, spark.read.parquet(self.corpus_path), cat,
                run_id=self.last_run, fused=True,
            )
        return before == {t: len(LocalTableCatalog.log(cat, t)) for t in GRAPH_TABLES}


class GraphQuery(Workload):
    """A warehouse built in setup, then a seeded query mix; reads only."""

    name = "graph_query"

    def setup(self, spark, work: str, seed: int) -> None:
        n = self.sizes["convs"]
        self.corpus = write_corpus(os.path.join(work, "corpus"), list(range(n)), seed, self.cores)
        self.ref = oracle_state(self.corpus["docs"])
        self.docs = self.corpus["docs"]
        self.wh = os.path.join(work, "wh")
        cat = LocalTableCatalog(self.wh)
        pipeline.run_pipeline(
            spark, spark.read.parquet(os.path.join(work, "corpus")), cat,
            run_id="setup", fused=True, collect_counts=False,
        )
        gq.register_graph_views(spark, cat)
        self.plan = query_plan(self.ref, seed, self.sizes["decks"])
        self.answers = reference_answers(self.ref, self.plan)
        self.head_ratio = head_bytes(cat) / self.corpus["bytes"]

    def warm_up(self, spark) -> None:
        """The plan's last decks, untimed, so no query kind is timed cold."""
        for r in range(WARM_UP_DECKS):
            self.round(spark, self.sizes["decks"] - 1 - r, None)

    def execute(self, spark, spec: tuple, tracer: Tracer | None) -> list:
        kind, arg = spec
        if kind.startswith("cypher_"):
            fn, fn_span = cypher_query, "cypher_lite.cypher_query"
            text = (
                CYPHER_RESOLVES_TO.format(id=arg)
                if kind == "cypher_resolves_to"
                else CYPHER_COMMUNICATES_WITH
            )
            args = (text,)
        else:
            fn, fn_span = getattr(gq, kind), f"graph_queries.{kind}"
            args = {"neighbors": (arg,), "two_hop": TWO_HOP_PREDS}.get(kind, ())
        if tracer:
            with tracer.span(fn_span):
                df = fn(spark, *args)
            with tracer.span("query.collect"):
                return df.collect()
        return fn(spark, *args).collect()

    def round(self, spark, r: int, tracer: Tracer | None) -> list[dict]:
        """One whole deck of the plan: every query kind, in its shares."""
        base = r % self.sizes["decks"] * DECK_SIZE
        ops: list[dict] = []
        for i, spec in enumerate(self.plan[base : base + DECK_SIZE]):
            op_id = f"{'traced' if tracer else 'run'}-q{r}.{i}"
            lat, rows, err = self.timed(
                spark, tracer, op_id,
                lambda: self.execute(spark, spec, tracer), kind=spec[0],
            )
            ok = err is None and normalize(spec[0], rows) == self.answers[spec]
            ops.append({"id": op_id, "lat": lat, "ok": ok,
                        "error": err is not None, "checked": err is None, "kind": spec[0]})
        return ops

    def resume(self, spark, tracer: Tracer) -> None:
        """Nothing to resume: the workload commits nothing."""


WORKLOADS = {w.name: w for w in (BatchBuild, GraphQuery)}
