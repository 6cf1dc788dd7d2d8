"""The query registry and the package's import graph stay whole: every
query has its oracle and its ``q_`` function, every ``q_`` function is
registered, every package module is reachable from code that runs
outside the tests, and only the listed modules and functions are reached
from the query registry alone. No Spark action; these are static checks.
"""

from __future__ import annotations

import ast
import inspect
import re
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


# Public package functions and classes that no engine file but their own
# references, while __spark_entry__ does: each with the reason it stays.
QUERY_ONLY_FUNCTIONS = {
    "components.near_dup_clusters": "runs the `dedup_minhash_components` query's cluster labels",
    "datagen.page_slices": "called in its own module by `build_html`",
    "datagen.url_for": "called in its own module by `_synthesize_batch`",
    "datagen.warc_ts_for": "called in its own module by `_synthesize_batch`",
    "dedup.dedup_test_corpus": "builds the `dedup_minhash` query's planted-dup corpus",
    "operators.compare.compare_backends": "paper parity (P9, comparison mode)",
    "operators.lineage.backend_listing": "paper parity (R6, backend listing)",
    "operators.resume.crawl_delta": "ROADMAP item 2 candidate",
    "operators.skew.host_stats": "paper parity (salted host-key aggregation)",
    "operators.skew.salted_host_counts": "paper parity (salted host-key aggregation)",
    "sources.warc.pages_from_warc": "ROADMAP item 2 candidate",
    "sources.warc.synthesize_warc_segment": "ROADMAP item 2 candidate",
    "textops.contamination_check": "ROADMAP item 2 candidate",
    "textops.corpus_percentiles": "ROADMAP item 2 candidate",
    "textops.corpus_stats": "ROADMAP item 2 candidate",
    "textops.gopher_gate": "ROADMAP item 2 candidate",
    "textops.quality_scores": "called in its own module by `quality_gate`",
    "textops.repetition_signals": "ROADMAP item 2 candidate",
    "textops.token_counts": "ROADMAP item 2 candidate",
}


def test_query_only_functions_are_listed():
    """The function-level twin of the module check above: a public
    top-level ``def``/``class`` of the package that no other engine file
    (package, perfbench, scripts) names, but ``__spark_entry__`` does,
    runs only as a registry query. A new one must be listed above with
    its reason; a retired one must leave the list."""
    engine = [
        *(ROOT / PACKAGE).rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
    ]
    text = {p: p.read_text() for p in engine}
    entry = (ROOT / "__spark_entry__.py").read_text()
    flagged = set()
    for path in (ROOT / PACKAGE).rglob("*.py"):
        for node in ast.parse(text[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_"):
                continue
            word = re.compile(rf"\b{node.name}\b")
            if not word.search(entry):
                continue
            if any(word.search(t) for p, t in text.items() if p != path):
                continue
            module = _module_name(path).removeprefix(f"{PACKAGE}.")
            flagged.add(f"{module}.{node.name}")
    assert flagged == set(QUERY_ONLY_FUNCTIONS)


# Every ``--flag`` of a job, with who sets it: perfbench, a deployment
# input or output, paper parity, or a candidate for removal.
JOB_FLAGS = {
    ("extract", "--pages"): "deployment input; perfbench",
    ("extract", "--results"): "deployment output; perfbench",
    ("extract", "--lineage"): "deployment output; perfbench",
    ("extract", "--num-partitions"): "perfbench; resume placement depends on it",
    ("extract", "--synthesize-sf-dir"): "ROADMAP item 8 candidate: fixture mode only",
    ("extract", "--wet"): "ROADMAP item 8 candidate: set only by one test",
    ("extract", "--circuit-breaker"): "paper parity (R3 health state)",
    ("dedup", "--documents"): "deployment input; perfbench",
    ("dedup", "--keep"): "deployment output; perfbench",
    ("dedup", "--kept-corpus"): "deployment output; perfbench",
    ("dedup", "--max-bucket"): "ROADMAP item 8 candidate: a default-on cap",
    ("curate", "--documents"): "deployment input; perfbench",
    ("curate", "--out"): "deployment output; perfbench",
    ("curate", "--drop-repeated-lines"): "perfbench",
    ("curate", "--c4-clean"): "perfbench",
    ("curate", "--redact-pii"): "perfbench",
    ("curate", "--decontaminate-against"): "perfbench; the eval-set input",
    ("curate", "--quality-gate"): "perfbench",
    ("curate", "--lm-gate"): "perfbench",
}
JOB_FLAG_CALLERS = (
    "perfbench",
    "deployment input",
    "deployment output",
    "paper parity",
    "ROADMAP item 8 candidate",
)


def test_job_flags_are_listed():
    """Every ``add_argument("--…")`` in ``jobs/*.py`` is listed above, and
    each entry names who sets it. A new flag must name its caller; a
    removed one must leave the list."""
    found = set()
    for path in (ROOT / PACKAGE / "jobs").glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "add_argument"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and str(node.args[0].value).startswith("--")
            ):
                found.add((path.stem, node.args[0].value))
    assert found == set(JOB_FLAGS)
    for key, caller in JOB_FLAGS.items():
        assert caller.startswith(JOB_FLAG_CALLERS), key
