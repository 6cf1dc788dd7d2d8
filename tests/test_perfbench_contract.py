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


def test_perfbench_kernel_probe_targets_exist():
    """The traced run's ``kernels.*`` probes (``perfbench/probes.py``) patch
    ``kernels.registry.extract_html_pages`` and wrap two registry arms by
    backend name; a kernel rename must fail here."""
    from ocr_project_spark.contract import BACKEND_HTML, BACKEND_LAYOUT
    from ocr_project_spark.kernels import html_extract, registry

    assert registry.extract_html_pages is html_extract.extract_html_pages
    assert {BACKEND_HTML, BACKEND_LAYOUT} <= registry.BACKEND_REGISTRY.keys()
    assert all(callable(registry.BACKEND_REGISTRY[b]) for b in (BACKEND_HTML, BACKEND_LAYOUT))
