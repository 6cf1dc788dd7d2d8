"""perfbench's library contract: the benchmark wraps pipeline functions by
patching module globals (``perfbench/run.py`` ``trace_points``) and calls
``run_job`` and ``make_extract_fn`` with fixed keywords. A rename or
deletion in the library must fail here, not silently drop spans from a
traced run or crash the benchmark. No Spark action is needed."""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

PERFBENCH = str(Path(__file__).resolve().parents[1] / "perfbench")


def test_perfbench_trace_points_and_call_keywords_exist():
    sys.path.insert(0, PERFBENCH)
    try:
        import run
    finally:
        sys.path.remove(PERFBENCH)

    points = run.trace_points()
    assert points
    for module, attr, span in points:
        assert callable(getattr(module, attr, None)), (module.__name__, attr, span)

    from ocr_project_spark import pipeline
    from ocr_project_spark.operators.extract import make_extract_fn

    params = inspect.signature(pipeline.run_job).parameters
    assert {"lineage_path", "num_partitions"} <= params.keys()
    assert callable(make_extract_fn())


def _perfbench_library_imports():
    """(module, name) of every ``from ocr_project_spark… import name`` in
    perfbench's files; most sit inside the functions that use them, so a
    missing name would only raise in the middle of a run."""
    import ast

    found = set()
    for path in Path(PERFBENCH).glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "ocr_project_spark"
            ):
                found.update((node.module, a.name) for a in node.names)
    return found


def test_perfbench_library_imports_resolve():
    """Every library name perfbench imports exists. ``run_job`` no longer
    calls ``skew.salted_repartition``; the ``skew.*`` probe
    (``probes.pipeline_layers``) still does, with (pages, num_partitions)."""
    import importlib.util

    imports = _perfbench_library_imports()
    assert ("ocr_project_spark.operators.skew", "salted_repartition") in imports
    for module, name in sorted(imports):
        mod = importlib.import_module(module)
        # or a submodule: from package import module
        assert hasattr(mod, name) or (
            hasattr(mod, "__path__")
            and importlib.util.find_spec(f"{module}.{name}") is not None
        ), (module, name)

    from ocr_project_spark.operators.skew import salted_repartition

    inspect.signature(salted_repartition).bind(None, 8)


def test_perfbench_kernel_probe_targets_exist():
    """The traced run's ``kernels.*`` probes (``perfbench/probes.py``) patch
    ``kernels.registry.extract_html_pages`` and wrap two registry arms by
    backend name; a kernel rename must fail here."""
    from ocr_project_spark.contract import BACKEND_HTML, BACKEND_LAYOUT
    from ocr_project_spark.kernels import html_extract, registry

    assert registry.extract_html_pages is html_extract.extract_html_pages
    assert {BACKEND_HTML, BACKEND_LAYOUT} <= registry.BACKEND_REGISTRY.keys()
    assert all(callable(registry.BACKEND_REGISTRY[b]) for b in (BACKEND_HTML, BACKEND_LAYOUT))


def _batch():
    """Ten pages of both backends, cut like the probe's batches so that the
    index does not start at 0."""
    import pandas as pd

    from ocr_project_spark.datagen import backend_for, build_payload

    rows = [
        {
            "url": f"https://example.org/{d}",
            "html": build_payload(d, f"Paragraph {d}.\n\nSecond paragraph.", "en"),
            "backend": backend_for(d),
            "doc_id": d,
        }
        for d in range(1, 11)
    ]
    return pd.DataFrame(rows).iloc[3:9]


def test_extract_fn_reads_probe_batches_by_position():
    """``probes.extraction_layers`` feeds ``iloc`` slices and reads the
    output as pandas."""
    from ocr_project_spark.operators.extract import make_extract_fn

    batch = _batch()
    out = list(make_extract_fn()(iter([batch])))
    assert len(out) == 1
    frame = out[0]
    assert {"backend", "file_type", "success", "raw_output"} <= set(frame.columns)
    assert frame["url"].tolist() == batch["url"].tolist()
    assert frame["backend"].tolist() == batch["backend"].tolist()
    assert frame["success"].all()


def test_extract_fn_runs_patched_arm_and_parser(monkeypatch):
    """The probe wraps ``BACKEND_REGISTRY`` entries and the registry's
    ``extract_html_pages`` global before it builds the extract function;
    the wrapped callables must be the ones that run."""
    from ocr_project_spark.contract import BACKEND_HTML, BACKEND_LAYOUT
    from ocr_project_spark.kernels import registry
    from ocr_project_spark.operators.extract import make_extract_fn

    calls = {"parse": 0, BACKEND_HTML: 0, BACKEND_LAYOUT: 0}

    def counting(key, fn):
        def wrapped(*args, **kwargs):
            calls[key] += 1
            return fn(*args, **kwargs)

        return wrapped

    reg = registry.BACKEND_REGISTRY
    monkeypatch.setattr(
        registry, "extract_html_pages", counting("parse", registry.extract_html_pages)
    )
    for backend in (BACKEND_HTML, BACKEND_LAYOUT):
        monkeypatch.setitem(reg, backend, counting(backend, reg[backend]))
    batch = _batch()
    list(make_extract_fn()(iter([batch])))
    n_html = int((batch["backend"] == BACKEND_HTML).sum())
    assert 0 < n_html < len(batch)
    assert calls == {
        "parse": n_html,
        BACKEND_HTML: n_html,
        BACKEND_LAYOUT: len(batch) - n_html,
    }
