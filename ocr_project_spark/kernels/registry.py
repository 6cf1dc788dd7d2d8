"""Backend registry and per-document processing arms (SURVEY §2.2 R2/R6).

The reference's backend registry is a static map name → HTTP service
(reference: orchestrator/config.py:11-28); ours is a plain dict name →
deterministic extraction callable resolved inside the pandas UDF — no
network, same dispatch semantics (exact name match, no fallback,
reference: orchestrator/server.py:152-166 / PLAN.md:209-213).

Each arm reproduces the observable per-document lifecycle of the matching
reference backend class (ocr_image / ocr_pdf): page selection semantics,
raw-output wire shape, markdown assembly, and error-string shapes.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from ocr_project_spark.contract import (
    BACKEND_HTML,
    BACKEND_LAYOUT,
    ERR_IMAGE_FMT,
    ERR_MODEL_NOT_LOADED,
    ERR_PDF_FMT,
    FILE_TYPE_IMAGE,
    FILE_TYPE_PDF,
)
from ocr_project_spark.functions.markers import (
    assemble_pages,
    extract_markdown,
    join_markdown,
    make_span_marker,
    parse_spans,
    select_pages_exact,
    select_pages_range,
)
from ocr_project_spark.kernels.html_extract import extract_html_pages
from ocr_project_spark.kernels.layout_extract import extract_pagedoc_pages


@dataclass
class DocResult:
    """One unified-response row (reference: api_contract.py:182-217)."""

    backend: str
    file_type: str
    success: bool
    markdown: str
    text: str
    raw_output: str
    spans: list = field(default_factory=list)
    page_count: int = 0
    processed_pages: list = field(default_factory=list)
    error: str | None = None


def synthetic_box(block_idx: int) -> tuple[int, int, int, int]:
    """Deterministic 0-999-grid box for a content block: one vertical band
    per block (the span-boundary invariant needs stable, reproducible
    coordinates; the reference's model emits grid coords in the same range).
    """
    y1 = min(40 + block_idx * 60, 930)
    return (40, y1, 959, min(y1 + 50, 980))


def _error(backend: str, file_type: str, err: str) -> DocResult:
    fmt = ERR_PDF_FMT if file_type == FILE_TYPE_PDF else ERR_IMAGE_FMT
    return DocResult(
        backend=backend,
        file_type=file_type,
        success=False,
        markdown=fmt.format(err=err),
        text="",
        raw_output="",
        error=err,
    )


# M3 — extraction modes (reference: process/config.py:27-37 prompt
# templates). ``grounding`` (the active PROMPT, '<|grounding|>Convert the
# document to markdown.') emits the marker surface format; ``free`` ('Free
# OCR.') emits plain text with no span markers — the same P2 projection is
# applied regardless (deepseek_ocr_backend.py:471-497), so free-mode
# markdown faithfully degrades to the empty-result sentinel.
MODE_GROUNDING = "grounding"
MODE_FREE = "free"
MODE_LOCATE = "locate"  # config.py:36 'rec' prompt: locate a text span
VALID_MODES = (MODE_GROUNDING, MODE_FREE, MODE_LOCATE)

# Per-request prompt passthrough (reference: the request schema carries a
# free-form prompt string handed to the DeepSeek arm; the known templates
# live in process/config.py:27-37). Mode resolution mirrors what the model
# observably does with a prompt: det markers appear only when the prompt
# carries the '<|grounding|>' token, the 'rec' template locates a span, and
# ANY other explicit prompt ('Free OCR.', 'Parse the figure.', 'Describe
# this image in detail.', …) yields ungrounded plain output → free mode.
# A missing prompt falls back to the documented default template
# (config.py:27 active PROMPT = grounding). The '<image>\n' prefix is the
# vision-token placeholder, not instruction text — prompts are matched
# with and without it.
PROMPT_IMAGE_TOKEN = "<image>\n"
PROMPT_GROUNDING_MARKER = "<|grounding|>"  # config.py:27,30-31
# config.py:36 'rec' template: Locate <|ref|>xxxx<|/ref|> in the image.
_LOCATE_PATTERN = re.compile(
    r"^Locate <\|ref\|>(.*)<\|/ref\|> in the image\.$", re.DOTALL
)


def resolve_mode(prompt: str | None) -> str:
    """Map a per-request prompt string onto an extraction mode."""
    if not prompt:
        return MODE_GROUNDING  # no prompt → documented default template
    p = prompt.removeprefix(PROMPT_IMAGE_TOKEN)
    if _LOCATE_PATTERN.match(p):
        return MODE_LOCATE
    if PROMPT_GROUNDING_MARKER in p:
        return MODE_GROUNDING
    return MODE_FREE  # explicit non-grounding prompt → ungrounded output


def locate_target(prompt: str | None) -> str | None:
    """The ref text of a 'rec' locate prompt, or None."""
    if not prompt:
        return None
    m = _LOCATE_PATTERN.match(prompt.removeprefix(PROMPT_IMAGE_TOKEN))
    return m.group(1) if m else None


def process_html_arm(
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

    ``spans`` and the image-path ``markdown`` are defined as P3/P2 of the
    marker string; they are built from the marked blocks directly, and the
    string is parsed only when a kept block holds a marker token.
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
        refs: list[tuple[str, tuple[int, int, int, int]]] = []  # marked blocks
        # selection and reporting are POSITIONAL (document order), exactly
        # like the reference's PDF page indices — a real crawl page's
        # data-page label is arbitrary (non-contiguous, non-1-based) and
        # must not silently empty the kept set
        for pos, (page_no, blocks) in enumerate(pages, start=1):
            del page_no  # label: display/ordering handled upstream
            if pos not in kept_set:
                continue
            if mode == MODE_FREE:
                page_raws.append((pos, "\n".join(blocks)))
                texts.extend(blocks)
                continue
            # locate marks only the blocks equal to the requested ref
            marked = [
                (t, synthetic_box(i))
                for i, t in enumerate(blocks)
                if mode != MODE_LOCATE or t == locate_ref
            ]
            page_raws.append(
                (pos, "\n".join(make_span_marker(t, box) for t, box in marked))
            )
            texts.extend(t for t, _ in marked)
            refs.extend(marked)
        text = " ".join(texts)
        # P2/P3 of the marker string read back exactly the blocks it was
        # built from unless a kept block itself holds "<|" (a token the
        # regexes could match inside it), so only then is the string parsed
        # (tests/test_html_arm_differential.py holds the two equal)
        parse = "<|" in text
        if file_type == FILE_TYPE_IMAGE:
            raw_output = page_raws[0][1] if page_raws else ""
            if parse or not raw_output:
                markdown = extract_markdown(raw_output)
            else:
                markdown = join_markdown(  # P2 drops refs starting "image"
                    t for t, _ in refs if not t.startswith("image")
                )
            processed = [1]
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
        if parse:
            spans = parse_spans("\n".join(raw for _, raw in page_raws))
        else:
            spans = [(t or "text", *box) for t, box in refs]
        return DocResult(
            backend=BACKEND_HTML,
            file_type=file_type,
            success=True,
            markdown=markdown,
            text=text,
            raw_output=raw_output,
            spans=spans,
            page_count=total,
            processed_pages=processed,
        )
    except Exception as e:  # noqa: BLE001 — per-doc fault isolation (R3 analog)
        return _error(BACKEND_HTML, file_type, str(e))


def process_layout_arm(
    payload: bytes,
    selected_pages: list[int] | None = None,
    mode: str = MODE_GROUNDING,
    locate_ref: str | None = None,
) -> DocResult:
    """MinerU-analog lifecycle (reference: mineru_backend.py).

    Page selection keeps the *contiguous range* min..max (282-295, a
    deliberate semantic divergence from the html arm, SURVEY §2.2 R4);
    markdown is the union_make-style blank-line join of reading-ordered
    blocks (331-333); no spans (the reference's mineru boxes stub returns "",
    mineru_backend.py:356-373). ``mode``/``locate_ref`` are accepted and
    ignored — the reference's MinerU arm takes no prompt
    (mineru_backend.py:25 fixed).
    """
    del mode, locate_ref
    file_type = FILE_TYPE_IMAGE
    try:
        pages = extract_pagedoc_pages(payload)
        total = len(pages)
        file_type = FILE_TYPE_PDF if total > 1 else FILE_TYPE_IMAGE
        kept = select_pages_range(selected_pages, total)
        kept_set = set(kept)
        # positional selection, like the html arm: PAGEDOC page labels are
        # trusted fixtures today, but the contract is document order
        texts = [
            t
            for pos, (page_no, blocks) in enumerate(pages, start=1)
            if pos in kept_set
            for t in blocks
        ]
        markdown = "\n\n".join(texts)
        raw_output = json.dumps(
            {
                "middle_json": {
                    "pdf_info": [
                        {"page": pos, "n_blocks": len(b)}
                        for pos, (p, b) in enumerate(pages, start=1)
                        if pos in kept_set
                    ]
                },
                "metadata": {
                    "language": "ch",
                    "ocr_enabled": True,
                    "formula_enabled": True,
                    "table_enabled": True,
                },
            }
        )
        return DocResult(
            backend=BACKEND_LAYOUT,
            file_type=file_type,
            success=True,
            markdown=markdown,
            text=" ".join(texts),
            raw_output=raw_output,
            spans=[],
            page_count=total,
            processed_pages=kept,
        )
    except Exception as e:  # noqa: BLE001
        return _error(BACKEND_LAYOUT, file_type, str(e))


def model_not_loaded_result(backend: str) -> DocResult:
    """R3 health-gate analog: the reference's model-not-loaded short-circuit
    (deepseek_ocr_backend.py:156-163; mineru_backend.py:116-123)."""
    return DocResult(
        backend=backend,
        file_type=FILE_TYPE_IMAGE,
        success=False,
        markdown=ERR_MODEL_NOT_LOADED,
        text="",
        raw_output="",
        error=ERR_MODEL_NOT_LOADED,
    )


# R2/R6 — the registry: backend name → per-document arm.
BACKEND_REGISTRY = {
    BACKEND_HTML: process_html_arm,
    BACKEND_LAYOUT: process_layout_arm,
}
