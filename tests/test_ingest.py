"""Schema-enforced ingest: valid/quarantine split across formats."""

from __future__ import annotations

import json

from threat_intelligence_knowledge_graph_spark.schemas import TRANSCRIPTS_SCHEMA
from threat_intelligence_knowledge_graph_spark.sources.ingest import (
    read_transcripts,
)

GOOD = [
    {"conv_id": "c1", "turn_idx": 0, "role": "user",
     "text": "hello", "tool": None, "ts": "2026-01-01T00:00:00.000Z"},
    {"conv_id": "c1", "turn_idx": 1, "role": "assistant",
     "text": "hi", "tool": "search", "ts": "2026-01-01T00:00:01.000Z"},
    {"conv_id": "c2", "turn_idx": 0, "role": "user",
     "text": "evil.example.net resolves to 10.0.0.1",
     "tool": None, "ts": "2026-01-01T00:01:00.000Z"},
]


class TestJsonlIngest:
    def _write(self, tmp_path, lines):
        p = tmp_path / "in.jsonl"
        p.write_text("\n".join(lines) + "\n")
        return str(p)

    def test_clean_file_round_trips_with_contract_schema(self, spark, tmp_path):
        path = self._write(tmp_path, [json.dumps(r) for r in GOOD])
        valid, quarantined = read_transcripts(spark, path, fmt="json")
        assert valid.schema == TRANSCRIPTS_SCHEMA
        assert valid.count() == 3 and quarantined.count() == 0
        got = {(r.conv_id, r.turn_idx, r.text) for r in valid.collect()}
        assert ("c2", 0, "evil.example.net resolves to 10.0.0.1") in got
        assert {r.ts is not None for r in valid.collect()} == {True}

    def test_corrupt_and_null_key_rows_quarantined_not_dropped(
        self, spark, tmp_path
    ):
        lines = [json.dumps(r) for r in GOOD]
        lines.insert(1, '{"conv_id": "broken", "turn_idx": ')  # torn line
        lines.append(json.dumps({"conv_id": None, "turn_idx": 5,
                                 "role": "user", "text": "orphan",
                                 "tool": None, "ts": None}))
        lines.append(json.dumps({"conv_id": "c3", "turn_idx": None,
                                 "role": "user", "text": "no idx",
                                 "tool": None, "ts": None}))
        path = self._write(tmp_path, lines)
        valid, quarantined = read_transcripts(spark, path, fmt="json")
        assert valid.count() == 3
        reasons = sorted(r._reason for r in quarantined.collect())
        assert reasons == ["corrupt", "null_key", "null_key"]
        # The torn line's raw text is preserved for forensics.
        corrupt_rows = [
            r for r in quarantined.collect() if r._reason == "corrupt"
        ]
        assert '"turn_idx": ' in corrupt_rows[0]._corrupt_record

    def test_type_coercion_failure_is_corrupt_not_silent(self, spark, tmp_path):
        # turn_idx as a non-numeric string cannot coerce to int.
        bad = dict(GOOD[0], turn_idx="zero")
        path = self._write(tmp_path, [json.dumps(bad), json.dumps(GOOD[1])])
        valid, quarantined = read_transcripts(spark, path, fmt="json")
        assert valid.count() == 1
        assert [r._reason for r in quarantined.collect()] == ["corrupt"]


class TestCsvIngest:
    def test_csv_with_header_and_bad_rows(self, spark, tmp_path):
        p = tmp_path / "in.csv"
        p.write_text(
            "conv_id,turn_idx,role,text,tool,ts\n"
            "c1,0,user,hello,,2026-01-01T00:00:00.000Z\n"
            "c1,notanint,user,bad type,,\n"
            ",2,user,missing conv,,\n"
            "c2,1,assistant,fine,search,2026-01-01T00:00:02.000Z\n"
        )
        valid, quarantined = read_transcripts(spark, str(p), fmt="csv")
        assert valid.schema == TRANSCRIPTS_SCHEMA
        assert {(r.conv_id, r.turn_idx) for r in valid.collect()} == {
            ("c1", 0),
            ("c2", 1),
        }
        assert sorted(r._reason for r in quarantined.collect()) == [
            "corrupt",
            "null_key",
        ]


class TestParquetIngest:
    def test_parquet_null_key_split(self, spark, tmp_path):
        df = spark.createDataFrame(
            [("c1", 0, "user", "a", None, None),
             (None, 1, "user", "b", None, None)],
            schema=TRANSCRIPTS_SCHEMA,
        )
        path = str(tmp_path / "t.parquet")
        df.write.parquet(path)
        valid, quarantined = read_transcripts(spark, path, fmt="parquet")
        assert valid.count() == 1
        assert [r._reason for r in quarantined.collect()] == ["null_key"]

    def test_unknown_format_raises(self, spark, tmp_path):
        import pytest

        with pytest.raises(ValueError):
            read_transcripts(spark, str(tmp_path), fmt="avro")

    def test_pandas_typed_parquet_fails_with_one_line(self, spark, tmp_path):
        """pandas writes turn_idx as int64 and ts in nanoseconds; the read
        must name both columns in one line instead of failing mid-job."""
        import pandas as pd
        import pytest

        from threat_intelligence_knowledge_graph_spark.datagen import transcripts_rows

        path = str(tmp_path / "pandas.parquet")
        pd.DataFrame(transcripts_rows(5)).to_parquet(path)
        with pytest.raises(ValueError) as exc:
            read_transcripts(spark, path, fmt="parquet")
        msg = str(exc.value)
        assert "\n" not in msg
        assert "turn_idx is int64, expected int" in msg
        assert "ts is timestamp[ns], expected timestamp" in msg

    def test_arrow_typed_parquet_that_spark_reads_is_accepted(self, spark, tmp_path):
        """Large and dictionary strings are stored as UTF8 BINARY and int16
        as INT32, so Spark reads them as the schema's types; the type check
        must let such a file through."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from threat_intelligence_knowledge_graph_spark.datagen import transcripts_rows

        pdf = pd.DataFrame(transcripts_rows(5))
        arrow_schema = pa.schema([
            ("conv_id", pa.large_string()),
            ("turn_idx", pa.int16()),
            ("role", pa.dictionary(pa.int8(), pa.string())),
            ("text", pa.large_string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
        ])
        path = str(tmp_path / "arrow.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False),
            path,
        )
        valid, quarantined = read_transcripts(spark, path, fmt="parquet")
        assert valid.count() == len(pdf)
        assert quarantined.count() == 0
        assert sorted(r.turn_idx for r in valid.collect()) == sorted(pdf.turn_idx)
