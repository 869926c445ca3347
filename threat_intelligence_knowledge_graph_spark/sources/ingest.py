"""Schema-enforced transcript ingest with bad-record quarantine.

Transcripts arrive as parquet in the happy path (Iceberg scan), but
real feeds deliver JSONL and CSV exports. This module reads any of the
three against the pinned ``TRANSCRIPTS_SCHEMA`` (BASELINE input_hint)
and splits the input into (valid, quarantined):

- **valid** — rows parsed cleanly AND carrying the non-null key fields
  (``conv_id``, ``turn_idx``) the pipeline groups on; column types are
  exactly the contract schema.
- **quarantined** — unparseable lines (PERMISSIVE corrupt-record
  capture) and parseable rows missing key fields, each tagged with a
  ``_reason``. Quarantine-don't-drop is the operational contract: a bad
  feed day is visible in a table, not silently vanished rows.

Scale notes: parsing is the scan itself (JSON/CSV datasources with an
explicit schema — no sampling/inference pass over 100 TB), and the
valid/quarantine split is two filters over the same uncached scan:
each action that reads a side parses the files again, and nothing pins
the parsed corpus in storage memory. ``jobs/run_pipeline.py`` commits
the quarantine side once and reads the valid side once through the
extraction it checkpoints.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from ..schemas import TRANSCRIPTS_SCHEMA

_CORRUPT = "_corrupt_record"
# Key fields the pipeline's reassembly groups/sorts on — a null here is
# not recoverable downstream.
_KEY_FIELDS = ("conv_id", "turn_idx")


def _spark_reads_as(t: pa.DataType, spark_type) -> bool:
    """Whether Spark's parquet reader reads a column that pyarrow types
    as ``t`` into ``spark_type`` (one of ``TRANSCRIPTS_SCHEMA``'s types).
    Every Arrow string or binary flavour, dictionary-encoded or not, is
    stored as BINARY; a signed integer of up to 32 bits or an unsigned
    one of up to 16 as INT32; second and millisecond timestamps as
    millis. Spark rejects int64, uint32 and nanosecond timestamps."""
    if pa.types.is_dictionary(t):
        t = t.value_type
    if isinstance(spark_type, TimestampType):
        return pa.types.is_timestamp(t) and t.unit in ("s", "ms", "us")
    if isinstance(spark_type, StringType):
        return any(
            is_type(t)
            for is_type in (
                pa.types.is_string,
                pa.types.is_large_string,
                pa.types.is_string_view,
                pa.types.is_binary,
                pa.types.is_large_binary,
                pa.types.is_binary_view,
            )
        )
    return pa.types.is_integer(t) and t.bit_width <= (
        32 if pa.types.is_signed_integer(t) else 16
    )


def _check_parquet_types(path: str) -> None:
    """Raise a one-line ``ValueError`` naming every column of a local
    parquet input whose type Spark cannot read as ``TRANSCRIPTS_SCHEMA``'s
    (pandas writes ``turn_idx`` as int64 and ``ts`` as nanoseconds; Spark
    would fail mid-job with a long Java stack trace). It reads only the
    footer schema, with INT96 timestamps (Spark's legacy encoding) taken
    as microseconds. A path that is not a local file or directory (an
    object-store URI, a glob) is left to Spark's own read."""
    if not os.path.exists(path):
        return
    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
    )
    found = ds.dataset(path, format=fmt).schema
    wrong = []
    for f in TRANSCRIPTS_SCHEMA.fields:
        if f.name not in found.names:
            continue
        t = found.field(f.name).type
        if not _spark_reads_as(t, f.dataType):
            wrong.append(f"{f.name} is {t}, expected {f.dataType.simpleString()}")
    if wrong:
        raise ValueError(
            f"transcripts file {path} does not match TRANSCRIPTS_SCHEMA: "
            + "; ".join(wrong)
        )


def read_transcripts(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(valid, quarantined)``.

    ``valid`` has exactly ``TRANSCRIPTS_SCHEMA``; ``quarantined`` has
    the raw parse columns plus ``_reason`` ('corrupt' | 'null_key').
    For parquet the file format enforces types natively, so only the
    null-key split applies; a local file's column types are checked
    against the schema first (``_check_parquet_types``).
    """
    if fmt == "parquet":
        _check_parquet_types(path)
        raw = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)
        corrupt = F.lit(False)
    elif fmt in ("json", "csv"):
        schema = StructType(
            list(TRANSCRIPTS_SCHEMA.fields)
            + [StructField(_CORRUPT, StringType())]
        )
        reader = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", _CORRUPT)
        )
        if fmt == "csv":
            # enforceSchema=false makes Spark CHECK header names against
            # the pinned schema instead of applying it positionally — a
            # feed with reordered columns fails loudly rather than
            # silently misassigning same-typed fields.
            reader = reader.option("header", "true").option(
                "enforceSchema", "false"
            )
        raw = getattr(reader, fmt)(path)
        # NB: SPARK-21610 only forbids queries whose referenced columns
        # are SOLELY the corrupt-record column; both outputs here filter
        # on the key fields too, so no materialization is needed — and
        # caching here would pin the whole parsed corpus in storage
        # memory for the session's lifetime (each action re-parses the
        # files instead, which is the cheaper trade for one-shot reads;
        # callers doing repeated passes should cache or write-and-read).
        corrupt = F.col(_CORRUPT).isNotNull()
    else:
        raise ValueError(f"unsupported format: {fmt}")

    null_key = F.lit(False)
    for k in _KEY_FIELDS:
        null_key = null_key | F.col(k).isNull()

    valid = raw.filter(~corrupt & ~null_key).select(
        *[F.col(f.name).cast(f.dataType) for f in TRANSCRIPTS_SCHEMA.fields]
    )
    reason = (
        F.when(corrupt, F.lit("corrupt"))
        .when(null_key, F.lit("null_key"))
    )
    quarantined = raw.withColumn("_reason", reason).filter(
        F.col("_reason").isNotNull()
    )
    return valid, quarantined
