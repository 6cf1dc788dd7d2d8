"""The query registry and the package's import graph stay whole: every
query has its oracle and its ``q_`` function, every ``q_`` function is
registered, every package module is reachable from code that runs
outside the tests, and only the listed modules are reached from the query
registry alone. No Spark action; these are static checks.
"""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

import __spark_entry__ as entrymod

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ocr_project_spark"


def test_queries_and_oracles_hold_the_same_keys():
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_every_query_is_its_q_function():
    for name, fn in entrymod.queries().items():
        assert fn is getattr(entrymod, f"q_{name}", None), name


def test_registry_fits_the_recorded_window():
    assert len(entrymod.queries()) <= 50


def test_every_q_function_is_registered():
    defined = {
        name[2:]
        for name, fn in inspect.getmembers(entrymod, inspect.isfunction)
        if name.startswith("q_") and fn.__module__ == entrymod.__name__
    }
    assert defined <= set(entrymod.queries()), defined - set(entrymod.queries())


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_modules(path: Path, known: set[str]) -> set[str]:
    """Package modules an ``import`` anywhere in ``path`` loads, parents
    included (importing ``a.b.c`` runs ``a`` and ``a.b`` too)."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & known


def test_every_package_module_is_reached_outside_tests():
    """A module that only tests import is a family no job, CLI, benchmark
    or query runs: it goes whole, with its tests, or it is wired in."""
    modules = {_module_name(p): p for p in (ROOT / PACKAGE).rglob("*.py")}
    roots = [
        ROOT / "__spark_entry__.py",
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
    ]
    known = set(modules)
    reached: set[str] = set()
    todo = set().union(*(_imported_modules(p, known) for p in roots))
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= _imported_modules(modules[name], known) - reached
    assert known - reached == set()


def _reached(roots: list[Path], modules: dict[str, Path]) -> set[str]:
    """Package modules that ``roots`` import, directly or through each
    other."""
    known = set(modules)
    reached: set[str] = set()
    todo = set().union(*(_imported_modules(p, known) for p in roots))
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= _imported_modules(modules[name], known) - reached
    return reached


# Package modules that only __spark_entry__'s queries reach, each with the
# reason it stays.
QUERY_ONLY_MODULES = {
    # the paper's comparison mode (P9): both backends on one document set
    "ocr_project_spark.operators.compare",
}


def test_no_new_module_is_reached_only_from_the_query_registry():
    """A module that no job, CLI or benchmark imports runs only as a
    registry query; a new one is a new family outside the engine, so it
    must be listed above with its reason (or wired into a job)."""
    modules = {_module_name(p): p for p in (ROOT / PACKAGE).rglob("*.py")}
    engine = _reached(
        [
            *(ROOT / "perfbench").rglob("*.py"),
            *(ROOT / "scripts").rglob("*.py"),
            *(ROOT / PACKAGE / "jobs").rglob("*.py"),
        ],
        modules,
    )
    entry_only = _reached([ROOT / "__spark_entry__.py"], modules) - engine
    assert entry_only == QUERY_ONLY_MODULES
