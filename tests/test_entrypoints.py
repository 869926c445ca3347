"""Dangling-import guard: every package module imports, and every job's
CLI parses ``--help``. A job that imports a removed module would
otherwise only fail at spark-submit time. Also pins the input boundary
of the graph query pack (its queries read only the registered KG views),
README's list of modules no entry point reaches, that Spark's Python
workers import the package from any working directory, and that the
contract (`__spark_entry__.py`) and the plan guards still resolve."""

import ast
import importlib
import inspect
import os
import pkgutil
import re
import subprocess
import sys
import textwrap
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


def test_python_workers_import_package_from_any_directory(tmp_path):
    """A driver run from another directory, without PYTHONPATH or
    --py-files, still runs Python tasks that import the package:
    build_session puts the package's root on the workers' PYTHONPATH."""
    probe = tmp_path / "probe.py"
    probe.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from threat_intelligence_knowledge_graph_spark.session import build_session

        spark = build_session("worker-import-probe", master="local[1]")
        name = "threat_intelligence_knowledge_graph_spark"
        print(spark.sparkContext.parallelize([name], 1)
              .map(lambda n: __import__(n).__name__).collect())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.pop("SPARK_DRIVER_MEMORY", None)  # Spark's 1g default is plenty
    r = subprocess.run(
        [sys.executable, str(probe)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "['threat_intelligence_knowledge_graph_spark']" in r.stdout


def _module_file(name):
    path = REPO.joinpath(*name.split("."))
    return path / "__init__.py" if path.is_dir() else path.with_suffix(".py")


def _imported_modules(path, module, modules):
    """Package modules that ``path`` imports, lazy imports included;
    ``module`` is its dotted name (None outside the package), used to
    resolve relative imports."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module
            if node.level:
                parts = module.split(".")
                if path.name != "__init__.py":
                    parts = parts[:-1]
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names & modules


def _readme_unreached():
    readme = (REPO / "README.md").read_text()
    table = readme.split("Modules no entry point reaches", 1)[1].split("\n\n")[1]
    return {
        m.group(1)
        for m in re.finditer(r"^\| `([\w/]+)` \|", table, re.MULTILINE)
    }


def test_readme_lists_the_modules_no_entry_point_reaches():
    """The entry points README "Scope" names (jobs/*.py,
    streaming/stream_extract.py, oracle/ and perfbench/*.py) and their
    static import closure: the package modules outside it are exactly
    the README table's rows. A change that orphans a module, or that
    leaves a stale row, fails here."""
    modules = {pkg.__name__} | set(_modules())
    todo = [
        m
        for f in sorted((REPO / "jobs").glob("*.py"))
        + sorted((REPO / "perfbench").glob("*.py"))
        for m in _imported_modules(f, None, modules)
    ]
    todo += [f"{pkg.__name__}.streaming.stream_extract"]
    todo += [m for m in modules if m.split(".")[:2] == [pkg.__name__, "oracle"]]
    reached = set()
    while todo:
        m = todo.pop()
        if m in reached:
            continue
        reached.add(m)
        if "." in m:  # importing a module runs its parent packages first
            todo.append(m.rpartition(".")[0])
        todo += _imported_modules(_module_file(m), m, modules)
    unreached = {
        m.removeprefix(pkg.__name__ + ".").replace(".", "/")
        for m in modules - reached
        if _module_file(m).name != "__init__.py"
    }
    assert unreached == _readme_unreached()


def _defined_names(path):
    """Names bound at the top level of a module file."""
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def test_contract_and_plan_guards_resolve():
    """The contract (__spark_entry__.py) and the plan guards
    (scripts/plan_audit.py) still resolve after a cut: every entry has an
    oracle, every ``em.<name>`` the guards call exists, and every name
    they import from the package is defined where they import it from."""
    sys.path.insert(0, str(REPO))
    try:
        import __spark_entry__ as em
    finally:
        sys.path.remove(str(REPO))
    assert em.queries().keys() == em.oracle_sql().keys()

    audit = ast.parse((REPO / "scripts" / "plan_audit.py").read_text())
    missing = sorted(
        n.attr
        for n in ast.walk(audit)
        if isinstance(n, ast.Attribute)
        and isinstance(n.value, ast.Name)
        and n.value.id == "em"
        and not hasattr(em, n.attr)
    )
    assert not missing, missing

    unresolved = []
    for f in (REPO / "__spark_entry__.py", REPO / "scripts" / "plan_audit.py"):
        for node in ast.walk(ast.parse(f.read_text())):
            if not (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").split(".")[0] == pkg.__name__
            ):
                continue
            path = _module_file(node.module)
            if not path.exists():
                unresolved.append((f.name, node.module))
                continue
            defined = _defined_names(path)
            unresolved += [
                (f.name, f"{node.module}.{a.name}")
                for a in node.names
                if a.name not in defined
                and not _module_file(f"{node.module}.{a.name}").exists()
            ]
    assert not unresolved, unresolved
