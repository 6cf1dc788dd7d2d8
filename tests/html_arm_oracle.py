"""Test oracle for the html arm: ``process_html_arm`` as it was when it
built its ``spans`` and image-path ``markdown`` only by parsing the marker
string it had just written (``markers.parse_spans``/``extract_markdown``,
P2/P3), kept verbatim but for its name.

The arm now builds both from the kept blocks whenever no kept block holds a
marker token; ``tests/test_html_arm_differential.py`` holds the two equal.
The parser, the page selection and the marker format come from the package,
so the oracle checks the post-processing, not a second copy of those.
"""

from __future__ import annotations

import json

from ocr_project_spark.contract import BACKEND_HTML, FILE_TYPE_IMAGE, FILE_TYPE_PDF
from ocr_project_spark.functions.markers import (
    assemble_pages,
    extract_markdown,
    make_span_marker,
    parse_spans,
    select_pages_exact,
)
from ocr_project_spark.kernels.html_extract import extract_html_pages
from ocr_project_spark.kernels.registry import (
    MODE_FREE,
    MODE_GROUNDING,
    MODE_LOCATE,
    DocResult,
    _error,
    synthetic_box,
)


def oracle_process_html_arm(
    payload: bytes,
    selected_pages: list[int] | None = None,
    mode: str = MODE_GROUNDING,
    locate_ref: str | None = None,
) -> DocResult:
    """DeepSeek-OCR-analog lifecycle (reference: deepseek_ocr_backend.py).

    Single-page documents follow the image path: markdown is the P2
    projection of the raw marker string (deepseek_ocr_backend.py:171-177).
    Multi-page documents follow the pdf path: *exact-set* page selection
    (296-302), per-page raw content joined with byte-exact page separators
    (351-377) — note the reference's pdf markdown keeps the raw markers.

    ``locate`` mode (the 'rec' prompt template, process/config.py:36):
    markers are emitted only for blocks whose text equals ``locate_ref`` —
    the deterministic analog of the model answering a locate prompt with
    det markers for the requested span; ``text`` is the located content.
    """
    file_type = FILE_TYPE_IMAGE
    try:
        pages = extract_html_pages(payload)
        total = len(pages)
        file_type = FILE_TYPE_PDF if total > 1 else FILE_TYPE_IMAGE
        kept = select_pages_exact(selected_pages, total)
        kept_set = set(kept)
        page_raws: list[tuple[int, str]] = []
        texts: list[str] = []
        # selection and reporting are POSITIONAL (document order), exactly
        # like the reference's PDF page indices — a real crawl page's
        # data-page label is arbitrary (non-contiguous, non-1-based) and
        # must not silently empty the kept set
        for pos, (page_no, blocks) in enumerate(pages, start=1):
            del page_no  # label: display/ordering handled upstream
            if pos not in kept_set:
                continue
            if mode == MODE_FREE:
                markers = "\n".join(blocks)
            elif mode == MODE_LOCATE:
                matches = [
                    (i, t) for i, t in enumerate(blocks) if t == locate_ref
                ]
                markers = "\n".join(
                    make_span_marker(t, synthetic_box(i)) for i, t in matches
                )
                page_raws.append((pos, markers))
                texts.extend(t for _, t in matches)
                continue
            else:
                markers = "\n".join(
                    make_span_marker(t, synthetic_box(i))
                    for i, t in enumerate(blocks)
                )
            page_raws.append((pos, markers))
            texts.extend(blocks)
        if file_type == FILE_TYPE_IMAGE:
            raw_output = page_raws[0][1] if page_raws else ""
            markdown = extract_markdown(raw_output)
            processed = [1]
            spans_src = raw_output
        else:
            markdown, processed = assemble_pages(page_raws)
            raw_output = json.dumps(
                {
                    "pages": [
                        {"page": p, "raw_output": raw} for p, raw in page_raws
                    ],
                    # len(processed), NOT the document page count: the
                    # reference emits exactly this (deepseek_ocr_backend.py
                    # :374 'total_pages': len(pages_to_process))
                    "total_pages": len(processed),
                    "processed_pages": processed,
                }
            )
            spans_src = "\n".join(raw for _, raw in page_raws)
        return DocResult(
            backend=BACKEND_HTML,
            file_type=file_type,
            success=True,
            markdown=markdown,
            text=" ".join(texts),
            raw_output=raw_output,
            spans=parse_spans(spans_src),
            page_count=total,
            processed_pages=processed,
        )
    except Exception as e:  # noqa: BLE001 — per-doc fault isolation (R3 analog)
        return _error(BACKEND_HTML, file_type, str(e))
