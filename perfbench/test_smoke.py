"""Smoke test of the benchmark itself, at tiny sizes (``--smoke``).

    python3 -m pytest perfbench/test_smoke.py -q

For every workload, untraced and traced: the last stdout line carries
exactly the metrics BENCHMARK.json names for the mode, each with its
unit, and every operation's output was checked against its reference and
passed. Also: without the package next to it, the benchmark exits non-zero
and prints no result.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


EXERCISED = {
    "batch_build": [
        "kernel.extract_document.us_per_kb",
        "rules.find_iocs_doc.us_per_kb",
        "extraction.stage_s",
        "extraction.rows_out",
        "extraction.overhead_ratio",
        "tableio.merge.nodes_s",
        "tableio.overwrite_s",
        "tableio.bytes_written",
        "tableio.files_written",
        "tableio.log_reads",
        "pipeline.run_s",
        "pipeline.counts_s",
        "pipeline.resume_s",
        "spark.tasks",
    ],
    "graph_query": [
        "kernel.extract_document.us_per_kb",
        "graph_queries.neighbors.ms_p50",
        "cypher_lite.translate_ms",
        "cypher_lite.execute_ms_p50",
        "spark.tasks",
    ],
}


def run_bench(cwd, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_prints_every_metric_and_checks_outputs(workload, trace):
    p = run_bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    *_, info_line, result_line = p.stdout.strip().splitlines()
    result, info = json.loads(result_line), json.loads(info_line)

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())

    if trace:
        # every layer the workload runs reads non-zero
        ran = EXERCISED[workload]
        assert all(result["metrics"][k]["value"] > 0 for k in ran), {
            k: result["metrics"][k]["value"] for k in ran
        }

    if trace:
        # untraced and traced rounds alternate in whole blocks of four
        assert len(info["round_ms"]["untraced"]) == len(info["round_ms"]["traced"]) >= 2

    figures = info["workload_metrics"]
    assert figures["ops_checked"]["value"] == figures["ops"]["value"] >= 1
    if trace and workload == "graph_query":
        assert info["checks"]["no_extraction_spans"] is True
    elif trace:
        assert info["checks"]["resume_commits_nothing"] is True


def test_refuses_to_run_without_the_package():
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = run_bench(bare, "batch_build", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
