"""Structured Streaming ingestion of transcript turns.

The reference is batch-only (SURVEY.md §2: no streaming operators); this
module is OUR scale addition: continuous transcript ingestion with the
same extraction semantics and idempotent MERGE sinks.

Design: ``readStream`` over a transcripts directory → ``foreachBatch`` →
fused extraction kernel per micro-batch → ``plans.pipeline.commit_graph``,
the same MERGE path batch runs use, into the snapshot-table catalog (the
Iceberg seam). Each micro-batch commits under the query id plus its
``batch_id``, and ``commit_graph`` skips a table that already holds that
commit, so a batch replayed after a failure commits nothing — the
idempotent ``foreachBatch`` write pattern (Armbrust et al., *Delta
Lake*, VLDB 2020).

Assumption (documented): a conversation's turns arrive within one
micro-batch (file-shipping granularity = whole conversations).
``stream_extract`` does not handle feeds where turns trickle in across
batches: it extracts each micro-batch on its own, so a conversation split
across two batches is extracted as two documents (ROADMAP item 1).
``stateful_reassembly`` below buffers turns per conv_id with
``applyInPandasWithState`` and emits a document only after an idle
timeout, but ``stream_extract`` does not use it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extraction import extract_graph_records_fused
from ..operators.reassembly import TURN_SEPARATOR
from ..plans.pipeline import commit_graph
from ..schemas import TRANSCRIPTS_SCHEMA
from ..sources.tableio import LocalTableCatalog


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    catalog: LocalTableCatalog,
    run_id: str = "stream",
    available_now: bool = True,
    max_files_per_trigger: int | None = 8,
):
    """Stream transcripts from ``input_dir`` into nodes and edges (the
    ``triples`` view follows the edges head).

    Returns the started StreamingQuery; with ``available_now`` the query
    drains existing files and stops (test/backfill mode), otherwise it
    runs continuously.

    ``max_files_per_trigger`` picks the latency/throughput point: small
    micro-batches bound per-row latency but pay the MERGE + checkpoint
    commit cost per batch (the dominant cost — each commit rewrites the
    merged tables); ``None`` removes the cap so ``availableNow`` drains
    the backlog in the fewest batches — the high-throughput/backfill
    profile.
    """
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The query id survives restarts from the same checkpoint, so a
        # micro-batch replayed after a crash carries the commit id it had
        # the first time and commits nothing; a new query (fresh
        # checkpoint) into the same warehouse gets a new id and commits.
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        if query_id is None:
            raise RuntimeError("foreachBatch ran without a streaming query id")
        # Persist: nodes and edges both read the extraction output.
        extraction = extract_graph_records_fused(batch_df).persist()
        try:
            commit_graph(
                spark, catalog, extraction, run_id, f"{query_id}-batch-{batch_id}"
            )
        finally:
            extraction.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_reassembly(
    stream: DataFrame,
    idle_timeout_ms: int = 30_000,
) -> DataFrame:
    """Cross-batch conversation reassembly with ``applyInPandasWithState``.

    For feeds where a conversation's turns trickle in across micro-batches:
    turns buffer in per-conv_id group state; when no new turns arrive for
    ``idle_timeout_ms`` (processing time), the conversation is considered
    complete and its document row is emitted — the custom stateful
    operator slot from the north_star ("applyInPandasWithState for custom
    stateful operators").

    Output: (conv_id, doc_text, n_turns). Exactly-once downstream via the
    same MERGE sinks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    import json

    out_schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("doc_text", StringType()),
            StructField("n_turns", IntegerType()),
        ]
    )
    # State: accumulated (turn_idx, text) pairs, JSON-encoded — a joined-
    # string encoding would corrupt on texts containing the join char.
    state_schema = StructType(
        [
            StructField("turn_idxs", StringType()),  # json list of ints
            StructField("texts", StringType()),      # json list of strings
        ]
    )

    def fn(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            idxs_json, texts_json = state.get
            idxs = json.loads(idxs_json)
            texts = json.loads(texts_json)
            ordered = [t for _, t in sorted(zip(idxs, texts))]
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "doc_text": [TURN_SEPARATOR.join(ordered)],
                    "n_turns": [len(ordered)],
                }
            )
            return
        new_idxs: list[int] = []
        new_texts: list[str] = []
        for pdf in pdfs:
            new_idxs.extend(int(i) for i in pdf["turn_idx"])
            # NULL text pinned to '' (same contract as reassemble()).
            new_texts.extend("" if t is None else str(t) for t in pdf["text"])
        if state.exists:
            idxs_json, texts_json = state.get
            new_idxs = json.loads(idxs_json) + new_idxs
            new_texts = json.loads(texts_json) + new_texts
        state.update((json.dumps(new_idxs), json.dumps(new_texts)))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({"conv_id": [], "doc_text": [], "n_turns": []})

    return (
        stream.groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def windowed_mention_counts(
    spark: SparkSession,
    input_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming windowed aggregation demo: CVE mentions per event-time
    window with late-data watermarking — the watermark + tumbling-window
    operator pair over the transcript stream (pure expressions, no UDF)."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
    )
    return (
        stream.withWatermark("ts", watermark)
        .select(
            "ts",
            F.explode(
                F.regexp_extract_all("text", F.lit(r"CVE-\d{4}-\d{4,7}"), 0)
            ).alias("cve"),
        )
        .groupBy(F.window("ts", window).alias("w"), "cve")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("cve"),
            F.col("n_mentions"),
        )
    )
