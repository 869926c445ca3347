"""End-to-end KG construction pipeline with checkpoint/resume + metrics.

Stage graph (SURVEY.md §3.1 "Spark lifecycle"):

  transcripts ──C extract (fused kernel)──> extraction
       extraction ──E commit_graph──> nodes / edges
       extraction ──> metrics rows (run_id, stage, partition_id)

``triples`` is not written: the catalog serves it as a view, the
``(subj, pred, obj)`` projection of the edges head (``edges_canonical``
when the run canonicalized, see ``sources/tableio``).

Each stage commits a snapshot via the TableIO seam; a resumed run skips
any stage already committed for its ``run_id`` (idempotent — re-running a
finished run rewrites nothing and the triple set is unchanged, the
run-twice test). Lineage is per-partition row counts in the ``metrics``
table, satisfying the north_star's "per-partition lineage and metrics
rows". Every Spark job a stage submits carries the job description
``<run_id>:<stage>`` (for example ``r1:extract`` or
``r1:assemble/edges``), so Spark's status store and event log attribute
each job to its stage.

``commit_graph`` is the one write path into the graph tables: batch and
incremental runs call it through ``run_pipeline``, and every streaming
micro-batch calls it from ``streaming/stream_extract``.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.canonicalize import apply_canonicalization, build_alias_dictionary
from ..operators.extraction import extract_graph_records_fused
from ..operators.triples import build_edges, build_nodes
from ..sources.tableio import LocalTableCatalog

GRAPH_KEYS = {
    "nodes": ["node_label", "node_id"],
    "edges": ["src_id", "rel_type", "dst_id"],
}


@dataclass
class PipelineResult:
    run_id: str
    tables: dict[str, str] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)


@contextmanager
def _stage(spark: SparkSession, run_id: str, stage: str):
    """Describe the Spark jobs submitted inside as ``<run_id>:<stage>``,
    then restore the caller's description (job groups and other local
    properties are left alone)."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"{run_id}:{stage}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def _partition_metrics(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """Per-partition row counts — the lineage record for this stage.

    ``df`` is the stage's committed snapshot as read back, so
    ``partition_id`` is a split of that snapshot's file scan, not a task
    of the stage that wrote it: Spark packs small files into one split,
    so a build whose extraction ran 8 tasks can leave 4 rows here. The
    rows describe the committed data, which every later stage and a
    resumed run read, and they sum to the snapshot's row count. The
    writing stage's own tasks are in Spark's event log."""
    return (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .count()
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("partition_id").cast("int"),
            F.lit("rows").alias("metric"),
            F.col("count").cast("long").alias("value"),
        )
    )


def commit_graph(
    spark: SparkSession,
    catalog: LocalTableCatalog,
    extraction: DataFrame,
    run_id: str,
    stage: str,
    canonicalize: bool = False,
) -> None:
    """MERGE one extraction into ``nodes`` and ``edges``.

    Order: nodes first; then this extraction's edges, semi-joined
    against the HEAD ``nodes`` (MATCH-before-MERGE, so an endpoint
    committed by an earlier run also counts). The ``triples`` view
    follows the committed edges head, so nothing else is written.

    Resume rule: each table is skipped when it already holds a commit
    under ``(run_id, stage)`` and its rows are then not even planned, so
    replaying a committed extraction commits nothing and submits no Spark
    job, and a crash between two tables resumes at the first missing one.

    ``canonicalize=True`` enables stage D's alias layer (MinHash/LSH +
    connected components over node surface forms) and commits
    ``edges_canonical``, which the ``triples`` view then reads. OFF by
    default: the NER path's ids are already exact-canonical and the
    parity gate requires the exact triple set (SURVEY.md §7 step 6). The
    dictionary is committed as the ``canonical_map`` table.
    """

    def merge(table: str, build) -> None:
        # ``build`` runs only for a table this commit has not written, so
        # a resume reads and plans nothing.
        if not catalog.committed(table, run_id, stage):
            with _stage(spark, run_id, f"{stage}/{table}"):
                catalog.merge(
                    spark, build(), table, keys=GRAPH_KEYS[table],
                    run_id=run_id, stage=stage,
                )

    merge("nodes", lambda: build_nodes(extraction))
    merge("edges", lambda: build_edges(extraction, catalog.read(spark, "nodes")))

    # --- Stage D (optional): alias canonicalization -------------------------
    # The rewrite is committed as its own `edges_canonical` table (which
    # the `triples` view then reads) rather than silently diverging from
    # the raw `edges` table: the raw edges/nodes tables keep surface-form
    # ids for provenance, `edges_canonical`/`triples` carry resolved ids,
    # and graph queries choose explicitly which layer they read.
    if canonicalize:
        with _stage(spark, run_id, "canonicalize"):
            if not catalog.committed("canonical_map", run_id, "canonicalize"):
                # Conservative threshold: ids are already exact-canonical,
                # so only near-identical surface forms (punctuation/
                # underscore variants) may merge — 0.75 would falsely merge
                # distinct domains that differ by one char (evil-1 vs evil-2).
                alias = build_alias_dictionary(
                    catalog.read(spark, "nodes"), jaccard_threshold=0.9
                )
                catalog.overwrite(alias, "canonical_map", run_id, "canonicalize")
            if not catalog.committed("edges_canonical", run_id, "canonicalize"):
                # edges_canonical is DERIVED (current edges × current alias
                # map), so it is recomputed and overwritten whole — a MERGE
                # would keep rows rewritten under superseded alias mappings
                # forever when the dictionary changes across runs.
                catalog.overwrite(
                    apply_canonicalization(
                        catalog.read(spark, "edges"), catalog.read(spark, "canonical_map")
                    ),
                    "edges_canonical",
                    run_id,
                    "canonicalize",
                )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: LocalTableCatalog,
    run_id: str,
    collect_counts: bool = True,
    fused: bool = True,
    canonicalize: bool = False,
    input_pregrouped: bool = False,
) -> PipelineResult:
    """Execute (or resume) the full pipeline for ``run_id``.

    Extraction is the fused kernel: reassembly and extraction run as one
    shuffle + one Arrow pass (``extract_graph_records_fused``). The
    ``extraction`` table it checkpoints is pre-deduped per partition and
    carries no edge ``context``, so it holds one ``conv_id`` per key, not
    every reporting conversation. ``fused`` must be ``True``; it stays only
    for callers that still pass it.

    ``input_pregrouped=True`` declares that each input partition already
    holds whole conversations — the layout an Iceberg
    ``bucket(conv_id)``-clustered table scan provides — so the fused
    kernel skips the conv_id exchange entirely (correctness tested in
    test_bucketing.py; measured faster at both core levels with the
    round-3 kernel, see BENCH.md).

    ``canonicalize`` is passed to ``commit_graph``.
    """
    if not fused:
        raise ValueError(
            "the declarative extraction path (reassembly into a documents "
            "table, then per-document extraction) is removed; the fused "
            "kernel is the only extraction path, so fused must be True"
        )
    result = PipelineResult(run_id=run_id)

    # --- Stage C: extraction (checkpointed once, split by kind after) ------
    # The stage counts as committed only when its LAST write landed — the
    # metrics merge, not the data snapshot — else a crash between the two
    # would skip the lineage rows forever on resume (both writes are
    # idempotent to redo).
    if not (
        catalog.committed("extraction", run_id, "extract")
        and catalog.committed("metrics", run_id, "extract-metrics")
    ):
        with _stage(spark, run_id, "extract"):
            extraction = extract_graph_records_fused(
                transcripts, input_pregrouped=input_pregrouped
            )
            catalog.overwrite(extraction, "extraction", run_id, "extract")
            catalog.merge(
                spark,
                _partition_metrics(catalog.read(spark, "extraction"), run_id, "extract"),
                "metrics",
                keys=["run_id", "stage", "partition_id", "metric"],
                run_id=run_id,
                stage="extract-metrics",
            )

    # --- Stage E: graph tables (MERGE upserts — incremental-run ready) -----
    commit_graph(
        spark, catalog, catalog.read(spark, "extraction"), run_id, "assemble",
        canonicalize=canonicalize,
    )

    for t in ("extraction", "nodes", "edges", "triples", "metrics"):
        result.tables[t] = t
        if collect_counts:
            result.counts[t] = catalog.rows(t)
    return result


def run_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: LocalTableCatalog,
    run_id: str,
) -> PipelineResult:
    """Daily-increment mode: process only conversations not yet in the
    warehouse, then MERGE into the graph tables.

    Seen-conversation lineage comes from the committed ``conv_seen``
    table (conv_id set — tiny relative to the corpus); new transcripts
    anti-join it, so a feed that replays old conversations costs one
    broadcast-able anti-join instead of a full re-extraction. When each
    input holds whole conversations, MERGE sinks keep the result identical
    to a from-scratch run over the union (asserted by tests). A
    conversation that continues into a later input is not: the anti-join
    drops every later turn of a conversation already seen, so the
    increment loses its triples (ROADMAP item 1). Re-running a committed
    ``run_id`` commits nothing and submits no Spark job.
    """
    if catalog.exists("conv_seen"):
        seen = catalog.read(spark, "conv_seen")
        todo = transcripts.join(seen, "conv_id", "left_anti")
    else:
        todo = transcripts
    result = run_pipeline(spark, todo, catalog, run_id=run_id, collect_counts=False)
    if not catalog.committed("conv_seen", run_id, "conv-seen"):
        with _stage(spark, run_id, "conv-seen"):
            catalog.merge(
                spark,
                todo.select("conv_id").distinct(),
                "conv_seen",
                keys=["conv_id"],
                run_id=run_id,
                stage="conv-seen",
            )
    for t in ("nodes", "edges", "triples"):
        result.counts[t] = catalog.rows(t)
    return result


def audit_graph_tables(
    spark: SparkSession, catalog: LocalTableCatalog, run_id: str = ""
) -> DataFrame:
    """Post-run invariants over the committed graph tables — the MERGE
    keys must actually be unique and endpoints non-null, or resume/
    upsert semantics are silently broken. One scan+agg per table
    (``operators/quality_checks``); returns (table, check, violations,
    passed) and, when ``run_id`` is given, merges the results into the
    ``metrics`` table as stage='audit' rows (partition_id −1, value =
    violations) so audits live next to the lineage they guard. The
    ``triples`` checks run over the view, so they audit its base. A
    ``run_id`` whose audit rows are already committed gets the results
    back but commits nothing."""
    from ..operators.quality_checks import not_null, run_checks

    suites = {
        "nodes": [
            not_null("node_id"),
            not_null("node_label"),
            (
                "unique(node_label,node_id)",
                F.count(F.lit(1))
                - F.count_distinct(F.struct("node_label", "node_id")),
            ),
        ],
        "edges": [
            not_null("src_id"),
            not_null("rel_type"),
            not_null("dst_id"),
            (
                "unique(src_id,rel_type,dst_id)",
                F.count(F.lit(1))
                - F.count_distinct(F.struct("src_id", "rel_type", "dst_id")),
            ),
        ],
        "triples": [
            not_null("subj"),
            not_null("pred"),
            not_null("obj"),
            (
                "unique(subj,pred,obj)",
                F.count(F.lit(1))
                - F.count_distinct(F.struct("subj", "pred", "obj")),
            ),
        ],
    }
    results = None
    for table, checks in suites.items():
        if not catalog.exists(table):
            continue
        r = run_checks(catalog.read(spark, table), checks).select(
            F.lit(table).alias("table"), "check", "violations", "passed"
        )
        results = r if results is None else results.union(r)
    if results is None:
        raise FileNotFoundError("no graph tables committed to audit")
    if catalog.exists("triples") and catalog.exists("nodes"):
        # Domain/range conformance (round-5): the kernel can only emit
        # rule-conformant triples, so ANY non-ok status in a committed
        # warehouse means upstream corruption or tampering — the same
        # class of invariant as the MERGE-key checks above.
        from ..operators.triples import validate_triple_schema

        audited = validate_triple_schema(
            catalog.read(spark, "triples"),
            catalog.read(spark, "nodes").select("node_label", "node_id"),
        )
        conf = audited.agg(
            F.coalesce(
                F.sum((F.col("status") != "ok").cast("long")), F.lit(0)
            ).alias("violations")
        ).select(
            F.lit("triples").alias("table"),
            F.lit("schema_conformance").alias("check"),
            F.col("violations"),
            (F.col("violations") == 0).alias("passed"),
        )
        results = results.union(conf)
    if run_id and not catalog.committed("metrics", run_id, "audit"):
        audit_rows = results.select(
            F.lit(run_id).alias("run_id"),
            F.lit("audit").alias("stage"),
            F.lit(-1).alias("partition_id"),
            F.concat(F.col("table"), F.lit(":"), F.col("check")).alias("metric"),
            F.col("violations").cast("long").alias("value"),
        )
        catalog.merge(
            spark,
            audit_rows,
            "metrics",
            keys=["run_id", "stage", "partition_id", "metric"],
            run_id=run_id,
            stage="audit",
        )
    return results


def summarize_metrics(spark: SparkSession, catalog: LocalTableCatalog) -> DataFrame:
    """Stats aggregation (reference main.py:100-108,326-342 → SURVEY.md §2
    op 31): totals per (run, stage) from the per-partition lineage rows."""
    return (
        catalog.read(spark, "metrics")
        .groupBy("run_id", "stage", "metric")
        .agg(
            F.sum("value").alias("total"),
            F.count("*").alias("n_partitions"),
            F.max("value").alias("max_partition"),
        )
    )
