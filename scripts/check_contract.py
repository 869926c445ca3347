"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compares row count, column names, and an
order-insensitive multiset of stringified rows. Usage::

    python scripts/check_contract.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from threat_intelligence_knowledge_graph_spark.session import build_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _type_kind(t: str) -> str:
    """Canonical type class so e.g. DuckDB HUGEINT (decimal128) vs Spark
    bigint is flagged — the driver's value hash is type-sensitive, and
    this replica must be too (pivot_order_status regression, round 1)."""
    t = t.lower()
    # Containers FIRST (ADVICE r2): spark 'array<string>' / duckdb
    # 'varchar[]' must classify as a list of their element kind, not fall
    # through to the scalar substring branches — otherwise a scalar vs
    # array-of-same-kind mismatch would pass the type gate.
    if t.startswith(("array", "list")) or t.endswith("[]"):
        inner = t
        if t.endswith("[]"):
            inner = t[:-2]
        elif "<" in t:
            inner = t[t.index("<") + 1 : t.rindex(">")]
        elif "(" in t:
            inner = t[t.index("(") + 1 : t.rindex(")")]
        return f"list<{_type_kind(inner)}>" if inner != t else "list"
    if "decimal" in t or "hugeint" in t:
        return "decimal"
    if any(k in t for k in ("tinyint", "smallint", "int", "long", "short", "byte")):
        return "int"
    if any(k in t for k in ("float", "double", "real")):
        return "float"
    if "bool" in t:
        return "bool"
    if any(k in t for k in ("string", "varchar", "char", "text")):
        return "str"
    if "timestamp" in t or "date" in t:
        return "ts"
    return t


def norm_cell(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )


def main(sf_dir: str, only: set[str] | None = None) -> int:
    spark = build_session("contract-check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    if only:
        queries = {k: v for k, v in queries.items() if k in only}
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t) for t in rel.types]  # real types (BIGINT vs HUGEINT)
            drows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"columns {sorted(scols)} vs {sorted(dcols)}"))
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(dcols)}")
            continue
        stypes = {f.name: _type_kind(f.dataType.simpleString()) for f in sdf.schema.fields}
        type_mismatch = [
            (c, stypes[c], _type_kind(dt))
            for c, dt in zip(dcols, dtypes)
            if stypes[c] != _type_kind(dt)
        ]
        if type_mismatch:
            failures.append((name, f"type kinds {type_mismatch}"))
            print(f"FAIL {name}: type kinds (col, spark, duckdb) = {type_mismatch}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rowcount {len(srows)} vs {len(drows)}"))
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            continue
        sm = rows_to_multiset(scols, [tuple(r) for r in srows])
        dm = rows_to_multiset(dcols, drows)
        if sm != dm:
            diff_s = list((sm - dm).items())[:3]
            diff_d = list((dm - sm).items())[:3]
            failures.append((name, f"values spark-only={diff_s} duck-only={diff_d}"))
            print(f"FAIL {name}: spark-only={diff_s} duck-only={diff_d}")
        else:
            print(f"PASS {name} ({len(srows)} rows)")

    print(f"\n{len(queries) - len(failures)}/{len(queries)} ok")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # Optional 2nd arg: comma-separated entry names to check (default all).
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    raise SystemExit(main(sf, only))
