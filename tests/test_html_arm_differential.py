"""Differential tests: the html arm, which builds ``spans`` and the
image-path ``markdown`` from its kept blocks, against the arm that parsed
them back out of its marker string (``tests/html_arm_oracle.py``). Every
``DocResult`` field must be equal, in every mode and page selection, on
every html-arm payload of the sf0.1 corpus and on documents whose block
texts carry marker tokens, raw and entity-escaped.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings, strategies as st

from ocr_project_spark.kernels.html_extract import extract_html_pages
from ocr_project_spark.kernels.registry import (
    MODE_FREE,
    MODE_GROUNDING,
    MODE_LOCATE,
    process_html_arm,
)
from tests.html_arm_oracle import oracle_process_html_arm
from tests.test_html_differential import SF01_DOCUMENTS

# pieces of block text: marker tokens whole and cut, the P2 image prefix,
# whitespace-only text and blank runs
_FRAGMENTS = [
    "word", "two words", "image", "image of a cat", " ", "\t", "\n \n",
    "<|ref|>", "<|/ref|>", "<|det|>[[1, 2, 3, 4]]<|/det|>",
    "<|det|>[[5]]<|/det|>", "<|endoftext|>", "<|", "|>", "<", "|", "[[", "]]",
]
_SELECTIONS = [None, [1], [2], [2, 1], [1, 1], [3, 2, 2], [0, 9], [9]]


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


# each fragment written raw ("<|" is text to the tokenizer) or escaped
_BLOCK = st.lists(
    st.tuples(st.sampled_from(_FRAGMENTS), st.booleans()), max_size=6
).map(lambda parts: "".join(_escape(f) if esc else f for f, esc in parts))
_PAGES = st.lists(st.lists(_BLOCK, min_size=1, max_size=4), min_size=1, max_size=3)


def _html(pages: list[list[str]]) -> bytes:
    return "".join(
        f'<div data-page="{n}">' + "".join(f"<p>{b}</p>" for b in blocks) + "</div>"
        for n, blocks in enumerate(pages, start=1)
    ).encode("utf-8")


def _first_block(payload: bytes) -> str | None:
    try:
        return extract_html_pages(payload)[0][1][0]
    except ValueError:
        return None


def _assert_equal(payload, sel, mode, locate_ref):
    args = (payload, sel, mode, locate_ref)
    assert process_html_arm(*args) == oracle_process_html_arm(*args), args


@settings(max_examples=500, deadline=None)
@given(
    pages=_PAGES,
    sel=st.one_of(st.sampled_from(_SELECTIONS), st.lists(st.integers(-1, 4), max_size=4)),
    mode=st.sampled_from([MODE_GROUNDING, MODE_FREE, MODE_LOCATE]),
    hit=st.booleans(),
)
def test_arm_matches_marker_parse_on_marker_soup(pages, sel, mode, hit):
    payload = _html(pages)
    locate_ref = (_first_block(payload) if hit else "no such block") if mode == MODE_LOCATE else None
    _assert_equal(payload, sel, mode, locate_ref)


def test_arm_matches_marker_parse_on_named_cases():
    blocks = [
        "a<|/ref|>b",  # P3 reads one ref "a<|/ref|>b", P2 reads "a"
        "&lt;|ref|&gt;x&lt;|/ref|&gt;&lt;|det|&gt;[[1, 2, 3, 4]]&lt;|/det|&gt;",
        "image caption",
        "<|endoftext|> end",
        "x\n \n\ny",
    ]
    for block in blocks:
        for pages in ([[block]], [[block, "plain"], ["next page"]]):
            payload = _html(pages)
            for sel in _SELECTIONS:
                for mode in (MODE_GROUNDING, MODE_FREE):
                    _assert_equal(payload, sel, mode, None)
                for ref in (_first_block(payload), "plain", "missing"):
                    _assert_equal(payload, sel, MODE_LOCATE, ref)
    # the marker parse really does read these blocks differently
    res = process_html_arm(_html([[blocks[0]]]))
    assert res.spans == [("a<|/ref|>b", 40, 40, 959, 90)] and res.markdown == "a"


@pytest.mark.skipif(not os.path.exists(SF01_DOCUMENTS), reason="sf0.1 corpus not present")
def test_arm_matches_marker_parse_on_sf01_corpus():
    import pyarrow.parquet as pq

    from ocr_project_spark.contract import BACKEND_HTML, FILE_TYPE_PDF
    from ocr_project_spark.datagen import backend_for, build_payload

    docs = pq.read_table(SF01_DOCUMENTS, columns=["doc_id", "text", "lang"]).to_pydict()
    n_html = n_pdf = 0
    for doc_id, text, lang in zip(docs["doc_id"], docs["text"], docs["lang"]):
        if backend_for(doc_id) != BACKEND_HTML:
            continue
        payload = build_payload(doc_id, text, lang)
        sel = _SELECTIONS[doc_id % len(_SELECTIONS)]
        for mode in (MODE_GROUNDING, MODE_FREE):
            _assert_equal(payload, None, mode, None)
            _assert_equal(payload, sel, mode, None)
        _assert_equal(payload, sel, MODE_LOCATE, _first_block(payload))
        _assert_equal(payload, None, MODE_LOCATE, "no such block")
        n_html += 1
        n_pdf += process_html_arm(payload).file_type == FILE_TYPE_PDF
    assert n_html > 1000 and n_pdf > 100
