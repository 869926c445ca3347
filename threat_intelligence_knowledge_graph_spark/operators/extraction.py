"""Stage C — Arrow-batched extraction kernel (``mapInPandas``).

One pass over reassembled documents emits a tagged union of stored-form
node and edge records (EXTRACTION_SCHEMA). The per-document work is the
shared deterministic kernel (``kernel/extract.py``) — zero cross-document
state, so the operator is a narrow map over however the documents are
partitioned; no shuffle is introduced here.

Why one pass, not two: the regex sweep dominates extraction cost; emitting
nodes and edges together halves kernel executions. The pipeline
checkpoints this output once and splits by ``kind`` downstream (two cheap
filtered scans of columnar parquet beat re-running regexes).

Scale posture (SURVEY.md §4): Arrow batch size is bounded in session.py so
giant reassembled conversations can't blow executor memory; per-row Python
is confined to document granularity (one kernel call per *conversation*,
not per turn/mention) per the input_hint mandate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernel.extract import extract_document, finalize_edges, finalize_nodes
from ..schemas import EXTRACTION_SCHEMA
from .reassembly import TURN_SEPARATOR

_COLS = [f.name for f in EXTRACTION_SCHEMA.fields]


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows: list[tuple] = []
    for conv_id, text in zip(pdf["conv_id"].values, pdf["doc_text"].values):
        graph = extract_document(text)
        for label, node_id, props in finalize_nodes(graph):
            rows.append(
                (conv_id, "node", label, node_id, props,
                 None, None, None, None, None, None)
            )
        for src_l, src_id, rel, dst_l, dst_id, ctx in finalize_edges(graph):
            rows.append(
                (conv_id, "edge", None, None, None,
                 src_l, src_id, rel, dst_l, dst_id, ctx)
            )
    return pd.DataFrame(rows, columns=_COLS)


def extract_graph_records(
    documents: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """(conv_id, doc_text, …) → EXTRACTION_SCHEMA records.

    The kernel costs ~2ms/KB of document — orders of magnitude more than
    the bytes suggest — so AQE's size-based partition coalescing (tuned
    for shuffle-byte balance) would serialize this stage onto a few cores.
    We repartition explicitly to full parallelism before the kernel; the
    extra shuffle of the (small) document bytes is cheap insurance. At
    cluster scale, set ``num_partitions`` to ~2-3× total cores so
    stragglers (hot conversations) rebalance.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _extract_batch(pdf)

    n = num_partitions or documents.sparkSession.sparkContext.defaultParallelism * 2
    return (
        documents.select("conv_id", "doc_text")
        .repartition(n, "conv_id")
        .mapInPandas(kernel, schema=EXTRACTION_SCHEMA)
    )


def extract_graph_records_fused(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    input_pregrouped: bool = False,
) -> DataFrame:
    """Fused reassembly+extraction: turns → extraction records in ONE
    shuffle and ONE Arrow pass.

    The declarative path (``reassemble`` → ``extract_graph_records``) pays
    a JVM ``collect_list``/``array_sort``/``array_join`` aggregation plus a
    second shuffle and Arrow round-trip of the concatenated documents —
    measured at ~1.5× the kernel cost itself. Here turns are hash-
    partitioned by ``conv_id`` once; each Python task accumulates its
    partition, groups by conv, sorts the (small) per-conv turn lists in
    numpy, joins, and extracts. Output is bit-identical to the declarative
    path (asserted by tests).

    Memory: a task holds one partition of raw turns (~input_bytes /
    num_partitions) — size ``num_partitions`` so that fits the executor
    (default 2× parallelism; at cluster scale use input_bytes / 128 MB).

    ``input_pregrouped=True`` skips the conv_id repartition — the ONE
    exchange in this plan — and maps directly over the input partitions.
    Only valid when every conversation's turns are co-located within a
    single input partition: an Iceberg ``bucket(conv_id)`` table, a
    clustered/bucketed write, or any ingest that emits whole
    conversations per file read at one-file-per-partition granularity
    (tests assert equality with the default path on such input). A
    conversation split across partitions would silently reassemble as
    two documents — enable this only when the ingest layout guarantees
    co-location.
    """
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        full = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        # Sort once per partition: conv_id then turn_idx. Groups are then
        # contiguous runs; boundaries come from one numpy comparison —
        # pandas groupby iteration would build a sub-DataFrame per
        # conversation (~20× the cost of the sort itself, measured).
        full = full.sort_values(["conv_id", "turn_idx"], kind="stable")
        # Partition-local pre-aggregation (map-side combine in Python):
        # hot entities (common CVEs/domains) recur across conversations, so
        # deduping here shrinks the Arrow transfer and the downstream
        # distinct shuffle. Node props merge last-writer (convs arrive in
        # conv_id order → "last" = max conv_id, matching build_nodes).
        node_acc: dict[tuple[str, str], tuple[str, dict]] = {}
        edge_acc: dict[tuple[str, str, str], tuple] = {}
        conv_arr = full["conv_id"].values
        text_arr = full["text"].values
        if len(conv_arr):
            import numpy as np

            change = np.flatnonzero(conv_arr[1:] != conv_arr[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(conv_arr)]))
        else:
            starts = ends = ()
        for s, e in zip(starts, ends):
            conv_id = conv_arr[s]
            text = TURN_SEPARATOR.join(text_arr[s:e])
            graph = extract_document(text)
            for label, node_id, props in finalize_nodes(graph):
                key = (label, node_id)
                if key in node_acc:
                    node_acc[key][1].update(props)
                    node_acc[key] = (conv_id, node_acc[key][1])
                else:
                    node_acc[key] = (conv_id, props)
            for src_l, src_id, rel, dst_l, dst_id, _ctx in finalize_edges(graph):
                key = (src_id, rel, dst_id)
                if key not in edge_acc:
                    edge_acc[key] = (conv_id, src_l, src_id, rel, dst_l, dst_id)
        # Columnar construction (dict-of-lists → one DataFrame) — cheaper
        # than a list of 11-wide tuples at millions of output rows.
        n_nodes, n_edges = len(node_acc), len(edge_acc)
        if n_nodes + n_edges == 0:
            # A partition of record-less docs must yield NOTHING: empty
            # python lists become float64 pandas columns, which Arrow
            # cannot convert to the MapType properties field.
            return
        none_nodes = [None] * n_nodes
        none_edges = [None] * n_edges
        out = {
            "conv_id": [c for c, _p in node_acc.values()]
            + [e[0] for e in edge_acc.values()],
            "kind": ["node"] * n_nodes + ["edge"] * n_edges,
            "node_label": [k[0] for k in node_acc] + none_edges,
            "node_id": [k[1] for k in node_acc] + none_edges,
            "properties": [p for _c, p in node_acc.values()] + none_edges,
            "src_label": none_nodes + [e[1] for e in edge_acc.values()],
            "src_id": none_nodes + [e[2] for e in edge_acc.values()],
            "rel_type": none_nodes + [e[3] for e in edge_acc.values()],
            "dst_label": none_nodes + [e[4] for e in edge_acc.values()],
            "dst_id": none_nodes + [e[5] for e in edge_acc.values()],
            "context": none_nodes + none_edges,
        }
        yield pd.DataFrame(out, columns=_COLS)

    n = num_partitions or transcripts.sparkSession.sparkContext.defaultParallelism * 2
    # NULL turn text pinned to '' (same contract as reassemble()).
    selected = transcripts.select(
        "conv_id", "turn_idx", F.coalesce("text", F.lit("")).alias("text")
    )
    if not input_pregrouped:
        selected = selected.repartition(n, "conv_id")
    return selected.mapInPandas(kernel, schema=EXTRACTION_SCHEMA)
