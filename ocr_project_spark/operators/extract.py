"""Batch extraction operator: validate → dispatch → extract, one Arrow pass.

This is the Spark-native collapse of the reference's three process boundaries
(orchestrator HTTP hop, backend Flask hop, vLLM engine — SURVEY §3.1): a
single ``mapInPandas`` over Arrow record batches. Dispatch (R2) is row-local
(no shuffle); validation rejects (R1) become error rows instead of HTTP 400s
(reference: orchestrator/server.py:127-135); the health gate (R3) becomes
per-document fault isolation plus an optional model-loaded short-circuit.

Zero per-row Python at the DataFrame level: the per-document loop runs inside
the Arrow batch on the executor, exactly where the reference's per-request
loop ran inside its GPU service; inside the batch it is column-wise at both
ends (``make_extract_fn``).
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ocr_project_spark.contract import (
    CORE_RESULT_SCHEMA,
    ERR_INVALID_BACKEND_FMT,
    ERR_INVALID_MODE_FMT,
    ERR_MISSING_DOCUMENT,
    FILE_TYPE_IMAGE,
    RESULT_SCHEMA,
    VALID_BACKENDS,
)
from ocr_project_spark.functions.markers import render_boxes_svg
from ocr_project_spark.kernels.registry import (
    BACKEND_REGISTRY,
    DocResult,
    VALID_MODES,
    locate_target,
    model_not_loaded_result,
    resolve_mode,
)


def _reject(backend: str, err: str) -> DocResult:
    return DocResult(
        backend=backend,
        file_type="",
        success=False,
        markdown="",
        text="",
        raw_output="",
        error=err,
    )


_COLUMNS = [f.name for f in CORE_RESULT_SCHEMA.fields]


def make_extract_fn(model_loaded: dict | None = None):
    """Build the mapInPandas callable; ``model_loaded`` maps backend name →
    bool and defaults to all-loaded (the reference's steady state).

    Each input column is read once per batch with ``tolist`` (the batch's
    index is never used: callers may pass ``iloc`` slices), and the output
    frame is built from one list per result column. ``spans`` stay the
    arms' ``(ref, x1, y1, x2, y2)`` tuples, which Arrow's struct conversion
    takes as they are. Arms are looked up in ``BACKEND_REGISTRY`` per row,
    so a replaced entry is the one that runs.
    """
    gate = model_loaded or {}

    def _extract_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)

            def column(name: str) -> list:
                return pdf[name].tolist() if name in pdf.columns else [None] * n

            # A null doc_id or page number arrives as NaN (Arrow → pandas
            # turns an integer column with nulls into float64); NaN != NaN.
            doc_ids = (
                [None if d != d else int(d) for d in pdf["doc_id"].tolist()]
                if "doc_id" in pdf.columns
                else [-1] * n
            )
            results: list[DocResult] = []
            elapsed: list[float] = []
            for backend, payload, raw_sel, mode, prompt in zip(
                *map(column, ("backend", "html", "pages", "mode", "prompt"))
            ):
                sel = None
                if raw_sel is not None:
                    # null entries are dropped; none left selects all
                    sel = [int(p) for p in raw_sel if p == p] or None
                # explicit mode column wins; else a per-request prompt maps
                # to a mode (reference: free-form prompt on the DeepSeek arm)
                locate_ref = None
                if prompt is not None:
                    if not mode:
                        mode = resolve_mode(prompt)
                    locate_ref = locate_target(prompt)
                t0 = time.perf_counter()
                if backend not in BACKEND_REGISTRY:
                    res = _reject(
                        backend if backend is not None else "",
                        ERR_INVALID_BACKEND_FMT.format(
                            backend=backend, valid=", ".join(VALID_BACKENDS)
                        ),
                    )
                elif mode and mode not in VALID_MODES:
                    # R1 analog: a typo'd mode must surface, not silently
                    # behave as grounding (mirrors the unknown-backend path)
                    res = _reject(
                        backend,
                        ERR_INVALID_MODE_FMT.format(
                            mode=mode, valid=", ".join(VALID_MODES)
                        ),
                    )
                elif payload is None or len(payload) == 0:
                    res = _reject(backend, ERR_MISSING_DOCUMENT)
                elif not gate.get(backend, True):
                    res = model_not_loaded_result(backend)
                elif mode:
                    res = BACKEND_REGISTRY[backend](
                        bytes(payload), sel, mode, locate_ref
                    )
                else:
                    res = BACKEND_REGISTRY[backend](bytes(payload), sel)
                elapsed.append(time.perf_counter() - t0)
                results.append(res)
            texts = [r.text for r in results]
            yield pd.DataFrame(
                {
                    "url": column("url"),
                    "doc_id": doc_ids,
                    "backend": [r.backend for r in results],
                    "file_type": [r.file_type for r in results],
                    "success": [r.success for r in results],
                    "markdown": [r.markdown for r in results],
                    "text": texts,
                    "raw_output": [r.raw_output for r in results],
                    "spans": [r.spans for r in results],
                    # deterministic analog of the reference's boxes_image —
                    # rendered only on the single-page image path, exactly
                    # like the reference (deepseek_ocr_backend.py:176 image
                    # path vs 234 pdf path = ""; default "" at
                    # api_contract.py:215), as codec-free SVG
                    "boxes_image": [
                        render_boxes_svg(r.spans)
                        if r.spans and r.file_type == FILE_TYPE_IMAGE
                        else ""
                        for r in results
                    ],
                    "page_count": [r.page_count for r in results],
                    "processed_pages": [r.processed_pages for r in results],
                    "n_bytes": [len(t.encode("utf-8")) for t in texts],
                    "processing_time": elapsed,
                    "error": [r.error for r in results],
                },
                columns=_COLUMNS,
            )

    return _extract_batches


def extract_documents(
    pages_df: DataFrame, model_loaded: dict | None = None
) -> DataFrame:
    """pages(url, html, backend[, doc_id, pages]) → unified result DataFrame.

    Narrow transformation: dispatch and extraction are row-local, so the
    input partitioning is preserved — no shuffle is introduced between the
    scan and the result sink at any scale.
    """
    from pyspark.sql import functions as F

    cols = ["url", "html", "backend"]
    for opt in ("doc_id", "pages", "mode", "prompt"):
        if opt in pages_df.columns:
            cols.append(opt)
    core = pages_df.select(*cols).mapInPandas(
        make_extract_fn(model_loaded), schema=CORE_RESULT_SCHEMA
    )
    # JVM-derived parity columns (contract.JVM_DERIVED_FIELDS): file_name =
    # url basename (reference api_contract.py:92-95), source_markdown =
    # markdown (constructor default, api_contract.py:214). Pure Catalyst
    # projection — no extra bytes cross the Arrow boundary.
    derived = {
        "file_name": F.when(
            F.length("url") > 0, F.element_at(F.split("url", "/"), -1)
        ).otherwise(F.lit("")),
        "source_markdown": F.col("markdown"),
    }
    return core.select(
        *[
            derived[f.name].alias(f.name) if f.name in derived else f.name
            for f in RESULT_SCHEMA.fields
        ]
    )
