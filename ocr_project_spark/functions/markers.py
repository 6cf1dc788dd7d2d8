"""Pure post-processing kernels (reference §2.5 operators P1-P6, M8, D2/D3).

Every function here is a deterministic pure function over plain Python
values; the Spark layer applies them inside Arrow-vectorized pandas UDFs.
Byte-identity-critical behavior is replicated from the reference (file:line
cited per function) — the regexes, join separators, whitespace collapse and
sentinels must match to the byte.
"""

from __future__ import annotations

import re
from typing import Iterable, Sequence

from ocr_project_spark.contract import (
    DET_CLOSE,
    ERR_NO_VALID_PAGES,
    DET_OPEN,
    EMPTY_MARKDOWN_SENTINEL,
    END_OF_TEXT_SENTINEL,
    GRID_MAX,
    PAGE_SEPARATOR_FMT,
    REF_CLOSE,
    REF_OPEN,
)

# P2 — markdown extraction regex (reference: deepseek_ocr_backend.py:487;
# negative lookahead drops image refs).
_MD_PATTERN = re.compile(r"<\|ref\|>(?!image)(.*?)<\|/ref\|>", re.DOTALL)
# P3 — span parse regex (reference: deepseek_ocr_backend.py:521).
_SPAN_PATTERN = re.compile(r"(<\|ref\|>(.*?)<\|/ref\|><\|det\|>(.*?)<\|/det\|>)", re.DOTALL)
# P2 — blank-run collapse (reference: deepseek_ocr_backend.py:494).
_BLANK_RUN = re.compile(r"\n\s*\n")


def strip_end_of_text(content: str) -> str:
    """P1 — remove the ``<|endoftext|>`` sentinel.

    reference: deepseek_ocr_backend.py:358-360 (conditional replace).
    """
    if END_OF_TEXT_SENTINEL in content:
        return content.replace(END_OF_TEXT_SENTINEL, "")
    return content


def extract_markdown(raw_output: str) -> str:
    """P2 — project marker text to markdown.

    reference: deepseek_ocr_backend.py:471-497. Keeps text between ref
    markers (excluding refs starting with "image"), strips each match, joins
    with a blank line, collapses blank runs, and falls back to the exact
    empty-result sentinel. An empty raw output returns "" (not the sentinel).
    """
    if not raw_output:
        return ""
    return join_markdown(_MD_PATTERN.findall(raw_output))


def join_markdown(refs: Iterable[str]) -> str:
    """P2 after the regex: strip each non-blank ref text, join with a blank
    line, collapse blank runs, fall back to the empty-result sentinel."""
    markdown_text = "\n\n".join(m.strip() for m in refs if m.strip())
    markdown_text = _BLANK_RUN.sub("\n\n", markdown_text).strip()
    return markdown_text if markdown_text else EMPTY_MARKDOWN_SENTINEL


def parse_spans(raw_output: str) -> list[tuple[str, int, int, int, int]]:
    """P3 — extract ``(ref_text, x1, y1, x2, y2)`` span tuples.

    reference: deepseek_ocr_backend.py:517-543. The det payload must be
    wrapped in ``[[...]]`` and contain exactly four ints; malformed spans are
    skipped, an empty ref label becomes ``'text'``.
    """
    spans: list[tuple[str, int, int, int, int]] = []
    if not raw_output:
        return spans
    for _full, ref_text, det_text in _SPAN_PATTERN.findall(raw_output):
        if not (det_text.startswith("[[") and det_text.endswith("]]")):
            continue
        try:
            coords = [int(x.strip()) for x in det_text[2:-2].split(",")]
        except ValueError:
            continue
        if len(coords) != 4:
            continue
        spans.append((ref_text if ref_text else "text", *coords))
    return spans


def denormalize_box(
    box: Sequence[int], width: int, height: int
) -> tuple[int, int, int, int]:
    """P4 — map the 0-999 grid onto pixel coordinates.

    reference: deepseek_ocr_backend.py:568-572 (``int(x/999 * dim)``).
    """
    x1, y1, x2, y2 = box
    return (
        int(x1 / GRID_MAX * width),
        int(y1 / GRID_MAX * height),
        int(x2 / GRID_MAX * width),
        int(y2 / GRID_MAX * height),
    )


def make_span_marker(ref_text: str, box: Sequence[int]) -> str:
    """Render one block as the reference's raw marker surface format.

    reference: shared/api_contract.py:113-117 (DEEPSEEK_RAW_FORMAT).
    """
    x1, y1, x2, y2 = box
    return (
        f"{REF_OPEN}{ref_text}{REF_CLOSE}"
        f"{DET_OPEN}[[{x1}, {y1}, {x2}, {y2}]]{DET_CLOSE}"
    )


def page_separator(page_num_1idx: int) -> str:
    """P6 — the byte-exact page separator (deepseek_ocr_backend.py:363)."""
    return PAGE_SEPARATOR_FMT.format(n=page_num_1idx)


def assemble_pages(
    page_contents: Iterable[tuple[int, str]],
) -> tuple[str, list[int]]:
    """P6 — ordered multi-page assembly.

    reference: deepseek_ocr_backend.py:351-377. Each page's content is
    stripped of ``<|endoftext|>``, suffixed with ``\\n<--- Page {n} --->\\n``
    (1-indexed), and pages are joined with ``"\\n"`` in ascending page order.
    Returns (markdown_content, processed_pages_1idx).
    """
    ordered = sorted(page_contents, key=lambda pc: pc[0])
    parts = []
    processed = []
    for page_1idx, content in ordered:
        content = strip_end_of_text(content)
        parts.append(content + page_separator(page_1idx))
        processed.append(page_1idx)
    return "\n".join(parts), processed


def select_pages_exact(selected: Sequence[int] | None, total: int) -> list[int]:
    """R4 (html arm) — DeepSeek page-selection semantics: keep the *exact set*
    of valid 1-indexed pages, preserving request order.

    reference: deepseek_ocr_backend.py:296-304. ``None`` selects all pages;
    an empty intersection raises ValueError with the reference's message.
    """
    if selected is None:
        return list(range(1, total + 1))
    kept = [p for p in selected if 1 <= p <= total]
    if not kept:
        raise ValueError(ERR_NO_VALID_PAGES)
    return kept


def select_pages_range(selected: Sequence[int] | None, total: int) -> list[int]:
    """R4 (layout arm) — MinerU page-selection semantics: keep the *contiguous
    range* min(selected)..max(selected) (1-indexed, clamped to the document).

    reference: mineru_backend.py:282-295 (start=min-1, end=max-1 handed to a
    pypdfium2 range slice). An out-of-range start raises (the reference's
    pypdfium2 call would fail → error path).
    """
    if not selected:
        # the reference treats an EMPTY list like None ('if selected_pages
        # and len(...) > 0' — mineru_backend.py:286): all pages
        return list(range(1, total + 1))
    start = min(selected)
    end = max(selected)
    kept = list(range(max(start, 1), min(end, total) + 1))
    if not kept:
        # entirely out of range on EITHER side (start > total, or every
        # page ≤ 0): the reference's pypdfium2 slice fails → error path,
        # never an empty-but-successful document
        raise ValueError(ERR_NO_VALID_PAGES)
    return kept


def ngram_window_banned(
    tokens: Sequence[int] | Sequence[str],
    ngram_size: int = 3,
    window_size: int = 100,
    whitelist: set | None = None,
) -> set:
    """M8 — no-repeat n-gram window: tokens that would complete an n-gram
    already seen within the trailing window.

    reference: process/ngram_norepeat.py:18-40. Given the current token
    sequence, returns the set of next tokens banned because appending them
    would repeat an ``ngram_size``-gram whose prefix matches the trailing
    ``ngram_size - 1`` tokens, searched within the last ``window_size``
    tokens, minus the whitelist.
    """
    whitelist = whitelist or set()
    if len(tokens) < ngram_size:
        return set()
    current_prefix = tuple(tokens[-(ngram_size - 1):])
    search_start = max(0, len(tokens) - window_size)
    search_end = len(tokens) - ngram_size + 1
    banned = set()
    for i in range(search_start, search_end):
        ngram = tuple(tokens[i : i + ngram_size])
        if ngram[:-1] == current_prefix:
            banned.add(ngram[-1])
    return banned - whitelist


def suppress_repeats(
    tokens: Sequence[str],
    ngram_size: int = 3,
    window_size: int = 100,
) -> list[str]:
    """M8 applied greedily to an already-produced token stream: drop any token
    that the no-repeat processor would have banned at its position. This is
    the batch analog of attaching the logits processor during decode
    (reference: deepseek_ocr_backend.py:344,442)."""
    out: list[str] = []
    for tok in tokens:
        if tok in ngram_window_banned(out, ngram_size, window_size):
            continue
        out.append(tok)
    return out


def count_tiles(
    orig_width: int,
    orig_height: int,
    min_num: int = 2,
    max_num: int = 6,
    image_size: int = 640,
) -> tuple[int, int]:
    """D2 — deterministic tile-grid selection (the reference's dynamic tiling
    ratio search), kept because it sizes per-document work (SURVEY §2.4 M2:
    the observable role is the ``cost`` column used for skew control).

    reference: process/image_process.py:21-64; constants process/config.py:8-12.
    Returns the (w, h) tile grid chosen for an image of the given size.
    """
    aspect_ratio = orig_width / orig_height
    candidates = sorted(
        {
            (i, j)
            for n in range(min_num, max_num + 1)
            for i in range(1, n + 1)
            for j in range(1, n + 1)
            if min_num <= i * j <= max_num
        },
        key=lambda r: r[0] * r[1],
    )
    area = orig_width * orig_height
    best = (1, 1)
    best_diff = float("inf")
    for ratio in candidates:
        diff = abs(aspect_ratio - ratio[0] / ratio[1])
        if diff < best_diff:
            best_diff = diff
            best = ratio
        elif diff == best_diff and area > 0.5 * image_size * image_size * ratio[0] * ratio[1]:
            best = ratio
    return best


def render_boxes_svg(
    spans: Sequence[tuple[str, int, int, int, int]],
    width: int = 1000,
    height: int = 1000,
) -> str:
    """P5 — deterministic debug rendering of span boxes.

    The reference draws rectangles + labels onto the source image with
    *random* colors and returns base64 PNG (deepseek_ocr_backend.py:499-614;
    colors 575-576 — non-deterministic by construction, excluded from
    identity checks per SURVEY §7.3). This batch analog renders an SVG
    string instead: colors derive from the span index (stable), coordinates
    are denormalized from the 0-999 grid with the reference's exact
    int-truncation math (P4), and no image codec is needed. Debug sink only.
    """
    palette = ["#e6194b", "#3cb44b", "#4363d8", "#f58231", "#911eb4", "#46f0f0"]
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{height}" viewBox="0 0 {width} {height}">'
    ]
    for i, (ref_text, *box) in enumerate(spans):
        x1, y1, x2, y2 = denormalize_box(box, width, height)
        color = palette[i % len(palette)]
        # truncate BEFORE escaping: slicing the escaped form could split an
        # entity ('&amp;' → '&am') and emit malformed SVG
        label = (
            ref_text[:40]
            .replace("&", "&amp;")
            .replace("<", "&lt;")
            .replace(">", "&gt;")
        )
        parts.append(
            f'<rect x="{x1}" y="{y1}" width="{x2 - x1}" height="{y2 - y1}" '
            f'fill="{color}" fill-opacity="0.15" stroke="{color}" '
            f'stroke-width="2"/>'
            f'<text x="{x1}" y="{max(y1 - 4, 10)}" font-size="12" '
            f'fill="{color}">{label}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


# M2 — token-interleave cost constants (reference: process/image_process.py
# :383-390 with IMAGE_SIZE=640, BASE_SIZE=1024, patch 16, downsample 4 from
# process/config.py:8-12 and image_process.py:146-170):
# num_queries = ceil((640/16)/4) = 10, num_queries_base = ceil((1024/16)/4) = 16
NUM_QUERIES_TILE = 10
NUM_QUERIES_BASE = 16


def vision_token_cost(width: int, height: int, image_size: int = 640) -> int:
    """M2 — the exact per-image vision-token count of the reference's token
    interleave (image_process.py:391-401): the global view contributes
    ``(nq_base + 1) · nq_base + 1`` tokens, and a tiled image adds
    ``(nq·n_tiles_w + 1) · (nq·n_tiles_h)``. This is the per-document cost
    model a 100 TB scheduler weighs work by (SURVEY §2.4 M2): token cost —
    not byte count — is what bounded the reference's GPU batches
    (max_num_batched_tokens, deepseek_ocr_backend.py:113)."""
    nw, nh = tiling_plan(width, height, image_size)
    tokens = (NUM_QUERIES_BASE + 1) * NUM_QUERIES_BASE + 1
    if nw > 1 or nh > 1:
        tokens += (NUM_QUERIES_TILE * nw + 1) * (NUM_QUERIES_TILE * nh)
    return tokens


def tiling_plan(width: int, height: int, image_size: int = 640) -> tuple[int, int]:
    """D2/D3 — tile grid with the small-image bypass: images that fit within a
    single tile skip tiling entirely (crop ratio (1, 1)).

    reference: process/image_process.py:345-355.
    """
    if width <= image_size and height <= image_size:
        return (1, 1)
    return count_tiles(width, height, image_size=image_size)
