"""Dangling-import guard: every package module imports, and every job's
CLI parses ``--help``. A job that imports a removed module would
otherwise only fail at spark-submit time."""

import importlib
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
