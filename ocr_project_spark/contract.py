"""Unified result contract and shared constants.

PySpark-native re-expression of the reference's unified response contract
(reference: shared/api_contract.py:47-109, constructor 182-217). One row of the
result DataFrame corresponds to one unified-response dict of the reference;
nested span structs replace the inline ``<|ref|>/<|det|>`` markers while a
``raw_output`` string column preserves the exact wire format for byte-identity
checks.

All string literals that carry the byte-identity invariant (error shapes,
page separators, empty-result sentinel) are centralized here and must not be
edited without updating the golden tests.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Backend registry (reference: orchestrator/config.py:11-28) -------------
# The reference routes each request to one of two GPU services; we keep the
# names and dispatch semantics but back them with deterministic CPU kernels.
BACKEND_HTML = "deepseek-ocr"  # html/markdown arm (DeepSeek-OCR analog)
BACKEND_LAYOUT = "mineru"  # layout-analysis arm (MinerU analog)
VALID_BACKENDS = (BACKEND_HTML, BACKEND_LAYOUT)

# --- File types (reference: shared/api_contract.py FILE_TYPE enum) ----------
FILE_TYPE_IMAGE = "image"  # single-page path  (reference ocr_image)
FILE_TYPE_PDF = "pdf"  # multi-page path   (reference ocr_pdf)

# --- Byte-identity-critical literals ----------------------------------------
# reference: backends/deepseek-ocr/deepseek_ocr_backend.py:363
PAGE_SEPARATOR_FMT = "\n<--- Page {n} --->\n"
# reference: deepseek_ocr_backend.py:497
EMPTY_MARKDOWN_SENTINEL = "No text extracted from OCR output"
# reference: deepseek_ocr_backend.py:358-360
END_OF_TEXT_SENTINEL = "<|endoftext|>"
# reference error shapes (deepseek_ocr_backend.py:156-163, 195-202, 215-222,
# 249-260; mineru_backend.py:116-123, 154-165, 168-185, 216-229)
ERR_MODEL_NOT_LOADED = "Model not loaded"
ERR_IMAGE_FMT = "OCR processing failed: {err}"
ERR_PDF_FMT = "PDF processing failed: {err}"
# reference: deepseek_ocr_backend.py:304 (raised when the 1-indexed page
# selection intersects no valid page)
ERR_NO_VALID_PAGES = "No valid pages selected for processing"
# orchestrator reject message for an unknown backend
# (reference: orchestrator/server.py:134-135)
ERR_INVALID_BACKEND_FMT = "Invalid backend: {backend}. Valid backends: {valid}"
ERR_MISSING_DOCUMENT = "No document payload provided"
# engine-level validation of the explicit `mode` column (R1 analog; the
# reference has no mode field — its free-form `prompt` maps onto modes, see
# kernels/registry.py resolve_mode — so a typo'd mode must surface as an
# error row, not silently coerce to grounding)
ERR_INVALID_MODE_FMT = "Invalid mode: {mode}. Valid modes: {valid}"

# --- Span marker surface format (reference: shared/api_contract.py:113-117) -
REF_OPEN = "<|ref|>"
REF_CLOSE = "<|/ref|>"
DET_OPEN = "<|det|>"
DET_CLOSE = "<|/det|>"
# Coordinates are expressed on the reference's 0-999 normalized grid
# (reference: deepseek_ocr_backend.py:568-572).
GRID_MAX = 999

# --- Input schema (BASELINE.json input_hint) --------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

SPAN_STRUCT = T.StructType(
    [
        T.StructField("ref", T.StringType()),
        T.StructField("x1", T.IntegerType()),
        T.StructField("y1", T.IntegerType()),
        T.StructField("x2", T.IntegerType()),
        T.StructField("y2", T.IntegerType()),
    ]
)

# --- Result schema (reference: UNIFIED_RESPONSE_SCHEMA, api_contract.py:47-109)
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        # file_name: the reference's `file_name`/`image_name` field
        # (api_contract.py:92-95, default "" at 216); the batch analog is the
        # url basename — the name the crawled document was fetched as.
        T.StructField("file_name", T.StringType()),
        T.StructField("backend", T.StringType()),
        T.StructField("file_type", T.StringType()),
        T.StructField("success", T.BooleanType()),
        # markdown: the reference's `markdown` field, byte-exact semantics
        T.StructField("markdown", T.StringType()),
        # source_markdown: reference api_contract.py:75-77, constructor
        # default `source_markdown or markdown` (214) — no kernel here
        # rewrites image refs, so the default path (== markdown) is the
        # contract, for success and error rows alike.
        T.StructField("source_markdown", T.StringType()),
        # text: plain extracted main-content text — the per-url byte-identity
        # invariant target (north rule): equals the ground-truth `text`.
        T.StructField("text", T.StringType()),
        # raw_output: reference wire format (marker string for the html arm,
        # JSON for the layout arm) preserved for byte-identity checks
        T.StructField("raw_output", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
        # boxes_image: reference api_contract.py:78-81 (base64 PNG with
        # *random* box colors, default "" at 215). The deterministic batch
        # analog is an SVG render of the spans (functions/markers.py
        # render_boxes_svg), emitted only on the single-page image path
        # exactly like the reference (deepseek_ocr_backend.py:176 vs 234 —
        # the pdf path returns ""); "" likewise for the layout arm, free
        # mode, and error rows.
        T.StructField("boxes_image", T.StringType()),
        T.StructField("page_count", T.IntegerType()),
        T.StructField("processed_pages", T.ArrayType(T.IntegerType())),
        T.StructField("n_bytes", T.LongType()),
        # processing_time: per-document kernel wall seconds (reference P8,
        # api_contract.py:75-78). Non-deterministic by nature — excluded
        # from every identity check and oracle query; lineage aggregates it.
        T.StructField("processing_time", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)

# UDF-internal result schema: RESULT_SCHEMA minus the two JVM-derived parity
# columns. ``file_name`` is a pure function of ``url`` and
# ``source_markdown`` equals ``markdown`` (the reference constructor
# default), so both are added as a Catalyst projection AFTER the Arrow pass
# — the duplicated strings never cross the Python→JVM boundary (measurable
# throughput cost on the extraction hot path).
JVM_DERIVED_FIELDS = ("file_name", "source_markdown")
CORE_RESULT_SCHEMA = T.StructType(
    [f for f in RESULT_SCHEMA.fields if f.name not in JVM_DERIVED_FIELDS]
)

# --- Lineage schema (north rule: per-partition lineage rows) ----------------
# ``cpu_seconds`` sums the per-doc ``processing_time`` of a bucket, which is
# a ``time.perf_counter()`` delta: wall seconds spent in the kernel, not CPU
# seconds. The name is part of the stored schema and is kept as is.
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType()),
        T.StructField("backend", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_success", T.LongType()),
        T.StructField("n_failed", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("cpu_seconds", T.DoubleType()),
    ]
)
