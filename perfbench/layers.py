"""Per-layer metrics of the traced run, computed from its spans.

Layers are named after the package's modules. Times are medians over the
traced operations of the per-operation sum; counts are per operation. A
layer the workload does not exercise reads 0 (graph_query commits
nothing, batch_build runs no queries).
"""

from __future__ import annotations

import statistics
import time

from threat_intelligence_knowledge_graph_spark.kernel.extract import (
    extract_document,
    finalize_edges,
    finalize_nodes,
)
from threat_intelligence_knowledge_graph_spark.rules.iocs import fang_text, find_iocs_doc

KERNEL_SAMPLE_DOCS = 200
KERNEL_PASSES = 3
QUERY_FUNCTIONS = (
    "neighbors",
    "two_hop",
    "fast_flux_domains",
    "cve_hotlist",
    "flagship_query",
    "degrees",
)
MERGED_TABLES = ("nodes", "edges", "triples", "metrics")

PER_LAYER_UNITS = {
    "kernel.extract_document.us_per_kb": "us/KB",
    "kernel.extract_document.docs_per_s": "docs/s",
    "rules.find_iocs_doc.us_per_kb": "us/KB",
    "rules.fang_text.us_per_kb": "us/KB",
    "extraction.stage_s": "s",
    "extraction.rows_out": "count",
    "extraction.overhead_ratio": "ratio",
    **{f"tableio.merge.{t}_s": "s" for t in MERGED_TABLES},
    "tableio.overwrite_s": "s",
    "tableio.bytes_written": "bytes",
    "tableio.files_written": "count",
    "tableio.log_reads": "count",
    "tableio.log_read_s": "s",
    "tableio.snapshots": "count",
    "pipeline.run_s": "s",
    "pipeline.counts_s": "s",
    "pipeline.resume_s": "s",
    **{f"graph_queries.{f}.ms_p50": "ms" for f in QUERY_FUNCTIONS},
    "cypher_lite.translate_ms": "ms",
    "cypher_lite.execute_ms_p50": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.spill_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
}


def kernel_bench(tracer, docs: list[tuple[str, str]]) -> None:
    """Single-thread direct calls over a fixed sample of the workload's
    documents (the first ``KERNEL_SAMPLE_DOCS`` in conv order), one span
    per function per pass."""
    texts = [t for _c, t in docs[:KERNEL_SAMPLE_DOCS]]
    kb = sum(len(t.encode()) for t in texts) / 1024
    fanged = [fang_text(t) for t in texts]
    for _ in range(KERNEL_PASSES):
        with tracer.span("kernel.extract_document", docs=len(texts), kb=kb):
            for t in texts:
                extract_document(t)
        with tracer.span("rules.fang_text", docs=len(texts), kb=kb):
            for t in texts:
                fang_text(t)
        with tracer.span("rules.find_iocs_doc", docs=len(texts), kb=kb):
            for f in fanged:
                find_iocs_doc(f)


def kernel_seconds(docs: list[tuple[str, str]]) -> float:
    """Single-thread seconds of the fused kernel's per-document work
    (extract + finalize) over ``docs``."""
    t0 = time.perf_counter()
    for _c, text in docs:
        graph = extract_document(text)
        finalize_nodes(graph)
        finalize_edges(graph)
    return time.perf_counter() - t0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def _descendants(spans: list[dict]) -> dict[int, list[dict]]:
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["name"] != "op":
            continue
        acc, stack = [], [s["id"]]
        while stack:
            for c in children.get(stack.pop(), []):
                acc.append(c)
                stack.append(c["id"])
        out[s["id"]] = acc
    return out


def layer_metrics(
    tracer,
    cores: int,
    kernel_s: float,
    spark: dict,
    overhead_ratio: float,
) -> dict[str, float]:
    spans = tracer.spans
    ops = [s for s in spans if s["name"] == "op"]
    desc = _descendants(spans)
    m: dict[str, float] = {}

    def per_op(pred, value=_dur):
        """Median, over the ops with a matching descendant span, of the
        sum of ``value`` over those spans."""
        vals = []
        for op in ops:
            hits = [value(s) for s in desc[op["id"]] if pred(s)]
            if hits:
                vals.append(sum(hits))
        return _median(vals)

    def each(pred) -> list[dict]:
        return [s for s in spans if pred(s)]

    for name in ("kernel.extract_document", "rules.fang_text", "rules.find_iocs_doc"):
        passes = each(lambda s, n=name: s["name"] == n)
        m[f"{name}.us_per_kb"] = _median(_dur(s) * 1e6 / s["kb"] for s in passes)
    m["kernel.extract_document.docs_per_s"] = _median(
        s["docs"] / _dur(s) for s in each(lambda s: s["name"] == "kernel.extract_document")
    )

    def is_extraction(s):
        return s["name"] == "tableio.overwrite" and s["table"] == "extraction"

    m["extraction.stage_s"] = per_op(is_extraction)
    m["extraction.rows_out"] = per_op(is_extraction, value=lambda s: s["rows"])
    # kernel_s: single-thread kernel seconds over one operation's documents
    m["extraction.overhead_ratio"] = (
        m["extraction.stage_s"] * cores / kernel_s if kernel_s else 0.0
    )

    for t in MERGED_TABLES:
        m[f"tableio.merge.{t}_s"] = per_op(
            lambda s, t=t: s["name"] == "tableio.merge" and s["table"] == t
        )
    m["tableio.overwrite_s"] = per_op(lambda s: s["name"] == "tableio.overwrite")

    def is_write(s):
        return s["name"] in ("tableio.overwrite", "tableio.merge")

    m["tableio.bytes_written"] = per_op(is_write, value=lambda s: s["bytes"])
    m["tableio.files_written"] = per_op(is_write, value=lambda s: s["files"])
    m["tableio.log_reads"] = per_op(lambda s: s["name"] == "tableio.log", value=lambda s: 1)
    m["tableio.log_read_s"] = per_op(lambda s: s["name"] == "tableio.log")
    m["tableio.snapshots"] = per_op(is_write, value=lambda s: 1)

    m["pipeline.run_s"] = per_op(lambda s: s["name"] == "pipeline.run_pipeline")
    counts = []
    for op in ops:
        outer = [s for s in desc[op["id"]] if s["parent"] == op["id"] and s["name"].startswith("pipeline.")]
        writes = [s for s in desc[op["id"]] if is_write(s)]
        if outer and writes:
            counts.append(outer[0]["end"] - max(s["end"] for s in writes))
    m["pipeline.counts_s"] = _median(counts)
    m["pipeline.resume_s"] = _median(_dur(s) for s in each(lambda s: s["name"] == "pipeline.resume"))

    for f in QUERY_FUNCTIONS:
        m[f"graph_queries.{f}.ms_p50"] = 1e3 * _median(
            _dur(op) for op in ops if op.get("kind") == f
        )
    m["cypher_lite.translate_ms"] = 1e3 * _median(
        _dur(s) for s in each(lambda s: s["name"] == "cypher_lite.cypher_query")
    )
    m["cypher_lite.execute_ms_p50"] = 1e3 * per_op(
        lambda s: s["name"] == "query.collect"
        and spans[s["parent"]]["kind"].startswith("cypher_")
    )

    n_ops = max(1, len(ops))
    for k, v in spark.items():
        m[f"spark.{k}"] = v / n_ops
    m["trace.overhead_ratio"] = overhead_ratio
    assert set(m) == set(PER_LAYER_UNITS), set(m) ^ set(PER_LAYER_UNITS)
    return m


def prediction_checks(tracer, workload: str) -> dict:
    """The breakdown's stated predictions, checked per operation."""
    spans = tracer.spans
    ops = [s for s in spans if s["name"] == "op"]
    desc = _descendants(spans)
    extraction = [
        s for s in spans if s["name"] == "tableio.overwrite" and s.get("table") == "extraction"
    ]
    out: dict = {"extraction_spans": len(extraction)}
    if workload == "batch_build":
        largest = 0
        for op in ops:
            timed = [s for s in desc[op["id"]] if s["name"].startswith("tableio.") and s["name"] != "tableio.log"]
            top = max(timed, key=_dur, default=None)
            largest += bool(top) and top["name"] == "tableio.overwrite" and top["table"] == "extraction"
        out["extraction_largest_span_ops"] = f"{largest}/{len(ops)}"
        out["extraction_largest_span"] = largest == len(ops)
    else:
        out["no_extraction_spans"] = not extraction
    return out
