"""Deterministic synthesis of the Common-Crawl-style ``pages`` table.

The pipeline's input contract (BASELINE.json ``input_hint``) is a table
``pages(url, warc_ts, html, text, lang)``. No external data is allowed, so we
derive the pages deterministically from the driver-provided ``documents``
parquet (``doc_id, text, lang, source, n_chars``): the ground-truth ``text``
is wrapped in synthetic boilerplate (nav/header/footer link farms, the
FIXTURES.md §1 recipe) and the extraction pipeline must recover it
byte-identically — mirroring the reference's own test strategy of
self-synthesized inputs (reference: deployment/test_image_endpoints.sh:30-50
draws its test image at runtime).

Everything is a pure function of ``doc_id`` + ``text`` so the DuckDB oracle
can re-derive any property with plain SQL arithmetic:

- ``n_paras``    = ceil(n_words / 8)             (8-word paragraph chunks)
- ``n_pages``    = min(1 + doc_id % 3, n_paras)
- ``backend``    = 'deepseek-ocr' if doc_id % 2 == 0 else 'mineru'
- ``malformed``  = doc_id % 97 == 13             (truncated payload → error row)
- ``file_type``  = 'pdf' if n_pages > 1 else 'image'
- hot host       = doc_id % 10 < 3  → one shared host (30% of all urls —
                   the host-level skew the salted repartitioning defuses)
- outlinks       = html-arm pages carry 3 absolute cross-host links to
                   host_for(doc_id + 7·i), i ∈ {1,2,3} (the WAT sink's
                   outlink fixture; the links sit in boilerplate so
                   extraction identity is unaffected)
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd

from ocr_project_spark.contract import BACKEND_HTML, BACKEND_LAYOUT

PARA_WORDS = 8
MALFORMED_MOD = 97
MALFORMED_REM = 13
HOT_HOST = "popular.example.com"
CRAWL_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
PAGEDOC_MAGIC = "PAGEDOC1\n"
PAGE_HEIGHT = 2000

# Lang-marker vocabularies injected into boilerplate; disjoint across
# languages and from the body vocabulary so language-ID is decidable.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["homepage", "about", "privacy", "terms", "sitemap"],
    "de": ["startseite", "impressum", "kontakt", "datenschutz", "hilfe"],
    "fr": ["accueil", "confidentialite", "mentions", "recherche", "aide"],
    "es": ["inicio", "acerca", "contacto", "privacidad", "buscar"],
    "zh": ["首页", "关于我们", "联系我们", "隐私政策", "搜索"],
}


def split_paragraphs(text: str) -> list[str]:
    """Chunk the space-separated ground-truth text into 8-word paragraphs."""
    words = text.split(" ")
    return [
        " ".join(words[i : i + PARA_WORDS]) for i in range(0, len(words), PARA_WORDS)
    ]


def n_pages_for(doc_id: int, n_paras: int) -> int:
    return min(1 + doc_id % 3, max(n_paras, 1))


def backend_for(doc_id: int) -> str:
    return BACKEND_HTML if doc_id % 2 == 0 else BACKEND_LAYOUT


def is_malformed(doc_id: int) -> bool:
    return doc_id % MALFORMED_MOD == MALFORMED_REM


def host_for(doc_id: int) -> str:
    if doc_id % 10 < 3:
        return HOT_HOST
    return f"site-{doc_id % 40}.example.org"


def url_for(doc_id: int, source: str, file_type_pdf: bool) -> str:
    ext = "pdf" if file_type_pdf else "html"
    return f"https://{host_for(doc_id)}/{source}/doc{doc_id}.{ext}"


def warc_ts_for(doc_id: int) -> datetime:
    return CRAWL_EPOCH + timedelta(seconds=doc_id)


def page_slices(n_paras: int, n_pages: int) -> list[tuple[int, int]]:
    """Contiguous paragraph ranges per page; every page gets ≥1 paragraph."""
    return [
        (p * n_paras // n_pages, (p + 1) * n_paras // n_pages)
        for p in range(n_pages)
    ]


def _nav_html(lang: str) -> str:
    markers = LANG_MARKERS[lang]
    links = "".join(f'<a href="/{m}">{m}</a> ' for m in markers)
    return f'<nav class="menu">{links}</nav>'


def _footer_html(lang: str) -> str:
    markers = LANG_MARKERS[lang]
    return f"<footer>{' '.join(markers)} © example</footer>"


def build_html(doc_id: int, text: str, lang: str) -> str:
    """html-arm payload: boilerplate-wrapped page divs around the paragraphs."""
    paras = split_paragraphs(text)
    n_pages = n_pages_for(doc_id, len(paras))
    page_divs = []
    for p, (lo, hi) in enumerate(page_slices(len(paras), n_pages), start=1):
        body = "".join(f"<p>{para}</p>" for para in paras[lo:hi])
        page_divs.append(f'<div class="page" data-page="{p}">{body}</div>')
    aside = "".join(
        f'<a href="/l{i}">{LANG_MARKERS[lang][i % len(LANG_MARKERS[lang])]}</a>'
        for i in range(6)
    )
    # Absolute cross-host outlinks (the WAT sink's outlink fixture):
    # target doc ids are doc_id + 7·i, so src and dst urls are both pure
    # doc_id arithmetic and the DuckDB oracle rebuilds every link without
    # parsing HTML. They live in the <aside> (boilerplate), so
    # extraction byte-identity is untouched.
    aside += "".join(
        f'<a href="https://{host_for(doc_id + 7 * i)}/ref/doc{doc_id + 7 * i}.html">ref</a>'
        for i in (1, 2, 3)
    )
    return (
        f'<!DOCTYPE html><html lang="{lang}"><head><title>doc {doc_id}</title></head>'
        f"<body>{_nav_html(lang)}<header><h1>doc {doc_id}</h1></header>"
        f"{''.join(page_divs)}"
        f'<aside class="related">{aside}</aside>{_footer_html(lang)}</body></html>'
    )


def build_pagedoc(doc_id: int, text: str, lang: str) -> str:
    """layout-arm payload: a PDF-stand-in layout tree (PAGEDOC format).

    Blocks carry pixel-ish coordinates that encode true reading order; the
    stored order is deterministically rotated so the kernel must actually
    perform the reading-order sort (y-band, then x — SURVEY §2.4 M6/M9).
    Docs with ``doc_id % 5 == 0`` use a two-column layout. Header/footer
    blocks carry the language markers and must be dropped as boilerplate.
    """
    paras = split_paragraphs(text)
    n_pages = n_pages_for(doc_id, len(paras))
    two_col = doc_id % 5 == 0
    pages = []
    for p, (lo, hi) in enumerate(page_slices(len(paras), n_pages), start=1):
        blocks = []
        for i, para in enumerate(paras[lo:hi]):
            if two_col:
                row, col = divmod(i, 2)
                x, y = 60 + col * 420, 100 + row * 80
            else:
                x, y = 60, 100 + i * 80
            blocks.append(
                {"x": x, "y": y, "w": 400, "h": 60, "type": "text", "text": para}
            )
        markers = " ".join(LANG_MARKERS[lang])
        blocks.append({"x": 60, "y": 10, "w": 880, "h": 30, "type": "header", "text": markers})
        blocks.append(
            {"x": 60, "y": PAGE_HEIGHT - 40, "w": 880, "h": 30, "type": "footer", "text": markers}
        )
        rot = doc_id % max(len(blocks), 1)
        blocks = blocks[rot:] + blocks[:rot]
        pages.append({"page": p, "height": PAGE_HEIGHT, "blocks": blocks})
    return PAGEDOC_MAGIC + json.dumps(
        {"doc_id": doc_id, "pages": pages}, ensure_ascii=False
    )


def build_payload(doc_id: int, text: str, lang: str) -> bytes:
    backend = backend_for(doc_id)
    if backend == BACKEND_HTML:
        payload = build_html(doc_id, text, lang)
    else:
        payload = build_pagedoc(doc_id, text, lang)
    if is_malformed(doc_id):
        payload = payload[:20]  # truncated document → parse error → error row
    return payload.encode("utf-8")


def _synthesize_batch(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in pdf_iter:
        rows = []
        for doc_id, text, lang, source in zip(
            pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
        ):
            doc_id = int(doc_id)
            paras = split_paragraphs(text)
            n_pages = n_pages_for(doc_id, len(paras))
            rows.append(
                {
                    "url": url_for(doc_id, source, n_pages > 1),
                    "warc_ts": warc_ts_for(doc_id),
                    "html": build_payload(doc_id, text, lang),
                    "text": text,
                    "lang": lang,
                    "doc_id": doc_id,
                    "backend": backend_for(doc_id),
                }
            )
        yield pd.DataFrame(
            rows,
            columns=["url", "warc_ts", "html", "text", "lang", "doc_id", "backend"],
        )


PAGES_GEN_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "doc_id long, backend string"
)


def synthesize_pages(spark, sf_dir: str, num_partitions: int | None = None):
    """Distributed pages-table synthesis: documents parquet → pages DataFrame.

    Runs as ``mapInPandas`` so generation scales with the input (no driver
    collect); the ``doc_id``/``backend`` columns ride along for the DuckDB
    differential oracle and dispatch tests.

    ``num_partitions`` spreads the small source parquet before the
    generation pass (one file would otherwise synthesize on a single
    task)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select("doc_id", "text", "lang", "source")
    if num_partitions:
        base = base.repartition(num_partitions)
    return base.mapInPandas(_synthesize_batch, schema=PAGES_GEN_SCHEMA)
