"""Dangling-import guard: every package module imports, and every job's
CLI parses ``--help``. A job that imports a removed module would
otherwise only fail at spark-submit time. Also pins the input boundary
of the graph query pack: its queries read only the registered KG views."""

import importlib
import inspect
import pkgutil
import subprocess
import sys
from pathlib import Path

import pytest

import threat_intelligence_knowledge_graph_spark as pkg

REPO = Path(__file__).resolve().parents[1]
JOBS = sorted((REPO / "jobs").glob("*.py"))


def _modules():
    return sorted(
        m.name
        for m in pkgutil.walk_packages(pkg.__path__, prefix=pkg.__name__ + ".")
    )


def test_package_has_modules():
    assert len(_modules()) > 10
    assert JOBS


@pytest.mark.parametrize("name", _modules())
def test_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("job", JOBS, ids=lambda p: p.name)
def test_job_help_exits_zero(job, tmp_path):
    r = subprocess.run(
        [sys.executable, str(job), "--help"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert "usage:" in r.stdout


# Parameter types a graph query may take besides ``spark``.
_SCALARS = {
    "bool", "int", "float", "float | None", "str", "str | None",
    "list[str]", "list[str] | None",
}
# infrastructure_by_block joins a (cidr, label) reference table onto the
# KG's IPv4 nodes. That table is enrichment input, not an event log; it
# stays until the enrich query's own keep-or-cut decision.
_REFERENCE_INPUTS = {("infrastructure_by_block", "blocks")}


def test_graph_queries_take_only_scalars():
    """Every public query in plans/graph_queries takes ``spark`` plus
    scalar parameters, so it reads only the views that
    register_graph_views registers, never a caller's DataFrame."""
    from threat_intelligence_knowledge_graph_spark.plans import graph_queries as gq

    bad = []
    for name, fn in inspect.getmembers(gq, inspect.isfunction):
        if fn.__module__ != gq.__name__ or name.startswith("_"):
            continue
        if name == "register_graph_views":  # registers the views; not a query
            continue
        params = list(inspect.signature(fn).parameters.values())
        assert params[0].name == "spark", name
        bad += [
            (name, p.name, p.annotation)
            for p in params[1:]
            if p.annotation not in _SCALARS
            and (name, p.name) not in _REFERENCE_INPUTS
        ]
    assert not bad, bad
