"""Guard: every package module is reachable from an entry point.

A module no entry point imports is code that no job, query, benchmark
or tool can run; only its own tests keep it alive. This test walks the
``import`` / ``from ... import`` statements (including those inside
functions) with ``ast``, starting from the entry points:
``__spark_entry__.py``, ``jobs/run_extract.py``, ``perfbench/*.py``,
``tools/*.py`` and ``bench.py``. A second walk from the job and the
benchmark alone (the extraction core) checks that the core imports no
module of the query catalog, and a third, from the job alone, that it
does not import ``corpus``. None needs Spark.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "nolock_social_ocr_services_spark"
ROOTS = ("__spark_entry__.py", "jobs/run_extract.py", "perfbench/*.py", "tools/*.py", "bench.py")


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file, for every .py under the package."""
    out = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported(path: str, module: str | None = None) -> set[str]:
    """Dotted names a file imports: each module named, and each
    ``from X import y`` as both X and X.y (y may be a submodule).
    ``module`` is the file's dotted name, needed for relative imports."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                here = module.split(".")
                if not path.endswith("__init__.py"):
                    here.pop()
                here = here[: len(here) - (node.level - 1)]
                base = ".".join(here + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reachable(modules: dict[str, str], roots: tuple[str, ...] = ROOTS) -> set[str]:
    todo = []
    for pattern in roots:
        for path in sorted(glob.glob(os.path.join(REPO, pattern))):
            todo.extend(_imported(path))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        parts = name.split(".")
        # importing a.b.c runs a/__init__ and a/b/__init__ too
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules and prefix not in seen:
                seen.add(prefix)
                todo.extend(_imported(modules[prefix], prefix))
    return seen


def test_every_package_module_is_reachable_from_an_entry_point():
    modules = _package_modules()
    unreachable = set(modules) - _reachable(modules)
    assert not unreachable, (
        f"package modules no entry point imports: {sorted(unreachable)}"
    )


# The extraction core is what the checkpointed job and the benchmark
# import; the query catalog (SQL-style queries, the function library,
# streaming variants, plan inspection and the non-extraction operators)
# builds on the core, never the other way round.
CORE_ROOTS = ("jobs/run_extract.py", "perfbench/*.py")
CATALOG = ("queries", "functions", "streaming", "plans",
           "operators.temporal", "operators.grouped", "operators.layout")


def test_extraction_core_imports_no_catalog_module():
    modules = _package_modules()
    core = _reachable(modules, CORE_ROOTS)
    catalog = {
        m for m in core
        if any(m == f"{PKG}.{c}" or m.startswith(f"{PKG}.{c}.") for c in CATALOG)
    }
    assert not catalog, f"the extraction core imports catalog modules: {sorted(catalog)}"


def test_checkpoint_job_does_not_import_the_corpus_synthesizer():
    """The job reads any documents table; the synthesizer and the oracle
    SQL dialects in ``corpus`` belong to the tests and the benchmark."""
    job = _reachable(_package_modules(), ("jobs/run_extract.py",))
    assert f"{PKG}.corpus" not in job
