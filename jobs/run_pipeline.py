"""spark-submit entry point: transcripts parquet → KG warehouse.

``--input`` may be any Spark-readable URI (s3a://, hdfs://, file paths).
``--warehouse`` must be a LOCAL filesystem path: ``LocalTableCatalog``
manages its snapshot log with os/json/shutil. Pointing the warehouse at an
object store requires swapping in a real Iceberg catalog at the TableIO
seam (see ``sources/tableio.py`` module docstring); the CLI validates the
scheme and fails fast rather than crashing mid-run.

Invocation::

    spark-submit --py-files tikg_pyfiles.zip jobs/run_pipeline.py \
        --input s3a://bucket/transcripts/ --warehouse /mnt/shared/kg-wh \
        --run-id 2026-08-16

Local::

    python jobs/run_pipeline.py --input /tmp/transcripts.parquet \
        --warehouse /tmp/kg-wh --run-id dev

Resume: re-running with the same --run-id skips committed stages and
commits nothing (the audit is recomputed and printed, not re-recorded);
only --compact and --vacuum-keep still write. Build the --py-files zip
from the repo root::

    zip -r tikg_pyfiles.zip threat_intelligence_knowledge_graph_spark -i '*.py'
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
    flagship_query,
    register_graph_views,
)
from threat_intelligence_knowledge_graph_spark.plans.pipeline import (
    audit_graph_tables,
    run_pipeline,
    summarize_metrics,
)
from threat_intelligence_knowledge_graph_spark.session import build_session
from threat_intelligence_knowledge_graph_spark.sources.tableio import LocalTableCatalog


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts path")
    ap.add_argument("--format", default="parquet", choices=("parquet", "json", "csv"),
                    help="input format; json/csv parse against the pinned "
                    "schema with bad-record quarantine")
    ap.add_argument("--warehouse", required=True, help="table catalog root")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--model", default="ner", help="extractor (only 'ner' is productionized)")
    ap.add_argument(
        "--pregrouped",
        action="store_true",
        help="input partitions already hold whole conversations (bucketed "
        "ingest layout) — skip the conv_id exchange",
    )
    ap.add_argument("--show-flagship", action="store_true")
    ap.add_argument("--compact", action="store_true",
                    help="rewrite graph tables to ~128 MB files after the run "
                    "(small-file maintenance for MERGE-accreted tables)")
    ap.add_argument("--vacuum-keep", type=int, default=0, metavar="N",
                    help="after the run, reclaim all but the newest N "
                    "snapshots per graph table (0 = keep everything)")
    args = ap.parse_args()

    if args.model != "ner":
        raise SystemExit("only the deterministic 'ner' extractor is productionized")
    if "://" in args.warehouse:
        # Reject file:// too: LocalTableCatalog's os/json side would treat
        # the URI as a literal relative path while Spark writers resolve
        # it, silently splitting the warehouse across two locations.
        raise SystemExit(
            "--warehouse must be a plain local filesystem path (no URI "
            "scheme): LocalTableCatalog keeps its snapshot log via "
            "os/json; plug an Iceberg catalog into the TableIO seam for "
            "object-store warehouses"
        )

    spark = build_session("tikg-pipeline")
    catalog = LocalTableCatalog(args.warehouse)
    from threat_intelligence_knowledge_graph_spark.sources.ingest import (
        read_transcripts,
    )

    try:
        transcripts, quarantined = read_transcripts(spark, args.input, fmt=args.format)
    except ValueError as e:  # a mistyped input file: one line, no traceback
        raise SystemExit(str(e)) from None
    # Quarantine-don't-drop: bad feed rows land in an auditable table.
    # Each new run overwrites it — a clean run must replace (empty out)
    # any stale quarantine from a previous run, or post-run audits would
    # blame the current feed for old rows — and stamps run_id on the rows
    # themselves so snapshots are attributable even when read outside the
    # catalog. Re-running a committed run_id commits nothing.
    if not catalog.committed("quarantine", args.run_id, "ingest"):
        catalog.overwrite(
            quarantined.withColumn("run_id", F.lit(args.run_id)),
            "quarantine", args.run_id, "ingest",
        )
    n_bad = catalog.rows("quarantine")
    if n_bad:
        print({"quarantined_rows": n_bad})
    result = run_pipeline(
        spark, transcripts, catalog, run_id=args.run_id,
        input_pregrouped=args.pregrouped,
    )
    print({"run_id": result.run_id, "counts": result.counts})
    audit = audit_graph_tables(spark, catalog, run_id=args.run_id)
    failed = [
        f"{r['table']}:{r['check']}={r['violations']}"
        for r in audit.collect()
        if not r["passed"]
    ]
    print({"audit": "PASS" if not failed else "FAIL", "failed": failed})
    maintenance_tables = ("nodes", "edges", "metrics", "extraction")
    if args.compact:
        compacted = {
            t: catalog.compact(spark, t, run_id=args.run_id)
            for t in maintenance_tables
            if catalog.exists(t)
        }
        print({"compacted_files": compacted})
    if args.vacuum_keep > 0:
        vacuumed = {
            t: catalog.vacuum(t, keep_last=args.vacuum_keep)
            for t in maintenance_tables
            if catalog.exists(t)
        }
        print({"vacuumed_snapshots": vacuumed})
    summarize_metrics(spark, catalog).show(50, truncate=False)
    if args.show_flagship:
        register_graph_views(spark, catalog)
        flagship_query(spark).show(50, truncate=False)
    spark.stop()
    if failed:
        # Exit nonzero so orchestrators gate on the invariants the audit
        # protects (broken MERGE keys = broken resume/upsert semantics).
        raise SystemExit(f"graph-table audit failed: {failed}")


if __name__ == "__main__":
    main()
