"""spark-submit entry point: ad-hoc queries over a built KG warehouse.

The reference's analysts query the store with raw Cypher through the
Neo4j browser (reference neo4j_store.py:175-208). This CLI is that
surface for the relational warehouse: point it at a ``--warehouse``
produced by ``jobs/run_pipeline.py`` and run either

- ``--cypher "MATCH (m:Malware)-[r]->(d:Domain) RETURN m, d.name"`` —
  the Cypher-lite subset (see ``plans/cypher_lite.py`` for the exact
  grammar — incl. bounded variable-length hops like
  ``(m:Malware)-[*1..3]->(x)``; out-of-subset queries exit with the
  syntax error, never a mistranslation), or
- ``--sql "SELECT * FROM triples WHERE pred = 'RESOLVES_TO' LIMIT 5"``
  — full Spark SQL over the registered ``nodes`` / ``edges`` /
  ``triples`` / ``metrics`` views, or
- ``--diff triples --from-snapshot 0 [--to-snapshot 2] [--keys subj,pred,obj]``
  — "what changed since snapshot N": the row-level changelog between
  two commits of a warehouse table (insert/delete, or
  update_pre/update_post when ``--keys`` is given) — the Iceberg
  changelog / Delta CDF analog over ``tableio`` snapshots. ``triples``
  is a view over the edges head, so ``--diff triples`` takes the
  snapshot ids of its base table (``edges``, or ``edges_canonical``
  when the last run canonicalized) and diffs their projections.

Invocation::

    python jobs/query_graph.py --warehouse /tmp/kg-wh \
        --cypher "MATCH (m:Malware)-[:COMMUNICATES_WITH]->(d:Domain) \
                  RETURN m, count(*) AS n ORDER BY n DESC LIMIT 10"

``--max-rows`` bounds what is printed (default 100); ``--output`` writes
the full result as parquet instead of printing (the 100 TB path — the
driver never collects the result set).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from threat_intelligence_knowledge_graph_spark.plans.cypher_lite import (
    CypherSyntaxError,
    cypher_query,
)
from threat_intelligence_knowledge_graph_spark.plans.graph_queries import (
    register_graph_views,
)
from threat_intelligence_knowledge_graph_spark.session import build_session
from threat_intelligence_knowledge_graph_spark.sources.tableio import (
    LocalTableCatalog,
)


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--warehouse", required=True)
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--cypher", help="Cypher-lite query (see plans/cypher_lite.py)")
    g.add_argument("--sql", help="Spark SQL over nodes/edges/triples/metrics views")
    g.add_argument(
        "--diff", metavar="TABLE",
        help="changelog of a warehouse table; the triples view diffs its base "
        "table (edges, or edges_canonical) by that table's snapshot ids",
    )
    ap.add_argument("--from-snapshot", type=int, default=None,
                    help="diff: older snapshot id (required with --diff)")
    ap.add_argument("--to-snapshot", type=int, default=None,
                    help="diff: newer snapshot id (default: current head)")
    ap.add_argument("--keys", default=None,
                    help="diff: comma-separated key columns to classify updates")
    ap.add_argument("--max-rows", type=int, default=100)
    ap.add_argument("--output", help="write result parquet here instead of printing")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    own_session = spark is None
    if own_session:
        spark = build_session("tikg-query", master=args.master)
    try:
        catalog = LocalTableCatalog(args.warehouse)
        register_graph_views(spark, catalog)
        try:
            if args.diff:
                if args.from_snapshot is None:
                    raise SystemExit("--diff requires --from-snapshot")
                df = catalog.diff(
                    spark,
                    args.diff,
                    args.from_snapshot,
                    args.to_snapshot,
                    key_cols=args.keys.split(",") if args.keys else None,
                )
            else:
                df = (
                    cypher_query(spark, args.cypher)
                    if args.cypher
                    else spark.sql(args.sql)
                )
        except CypherSyntaxError as e:
            raise SystemExit(f"cypher-lite: {e}")
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(f"wrote {args.output}")
        else:
            df.show(args.max_rows, truncate=False)
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
