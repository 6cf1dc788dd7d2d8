"""Differential tests: the html-arm kernel's single-pass tokenizer against
the stdlib ``html.parser`` walk it replaced (``tests/html_oracle.py``).
Equal pages, or an equal exception type and message, on hostile token
soup and on every html-arm payload of the sf0.1 corpus.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings, strategies as st

from ocr_project_spark.kernels.html_extract import extract_html_pages
from ocr_project_spark.kernels.registry import process_html_arm
from tests.conftest import SF_DIR
from tests.html_oracle import oracle_html_pages, outcome

# the sf0.1 corpus next to the suite's sf0.001 one
SF01_DOCUMENTS = os.path.join(os.path.dirname(SF_DIR), "sf0.1", "documents.parquet")

# tokens the corpus is made of, and the plain-tag fast path's edges
_PLAIN = [
    "<p>", "</p>", "<h2>", "</h2>", "<li>", "</li>", "<pre>", "</pre>",
    "<div>", "</div>", '<div class="page" data-page="2">', '<div data-page="7">',
    '<a href="/x">', "</a>", "<nav>", "</nav>", "<footer>", "</footer>",
    "<aside>", "</aside>", "<span>", "</span>", "<br/>", "<br />", "<p/>",
    "<div/>", "</p >", "</div/>", '</p class="x">', "<script>", "</script>",
    "</SCRIPT >", "<style>", "</ style>", "<script/>", "<html>", "<body>",
]
# everything the fast path must hand to the stdlib's own regexes/methods
_HOSTILE = [
    '<p"x">', "<p =x>", "<a/b>", '<p a=="b">', "</>", "</ p>", "</p foo>",
    "<!>", "<![foo]>", "<![if x]>", "<![endif]>", "<![CDATA[x]]>", "<?pi ?>",
    "<!doctype", "<!DOCTYPE html>", "<!-- c -->", "<!--", "<!x y>", "<3",
    "< p>", "<p class=a>", "<p class='a'>", "<p hidden>", '<p a="<&>">',
    "<P>", "</P>", '<DIV DATA-PAGE="4">', "<A HREF='x'>", "</A>",
    '<div\nclass="a"\ndata-page="5">', '<div data-page="3" data-page="x">',
    '<div data-page="1" data-page>', "<div data-page=6>",
    '<div data-page="&#50;">', '<div data-page="²">',
    '<div data-page="٣">', '<div data-page="">', "<p\x0b>", "<p x>",
    "<p/x>", "<p a/>", "</script\n>", "<style/>", "<",
    # an unterminated quoted value: data up to the next > (or <)
    '<p a="b>', "<p\ta='<>", '<p/a=">', '<div data-page="2>',
    # a NUL ends the tag name and makes the tag raw data, not unescaped
    "<p\x00>", "<b&amp;\x00>", "<i a=1\x00>",
]
_TEXT = [
    "hello", "world", " ", "\n", "x y", "&amp;", "&amp", "&lt;", "&#65;",
    "&#x42", "&notin", "&bogus;", "&", "&#", ";", ">", "été",
]
# constructs left open at the end of the document
_TAILS = ["", "<!-- open", "<script>var x", '<p class="a', "<p", "<", "</p", "<!doctype html"]

_TOKEN = st.one_of(
    st.sampled_from(_PLAIN), st.sampled_from(_HOSTILE), st.sampled_from(_TEXT)
)
_SOUP = st.tuples(st.lists(_TOKEN, max_size=40), st.sampled_from(_TAILS)).map(
    lambda t: "".join(t[0]) + t[1]
)


@settings(max_examples=600, deadline=None)
@given(doc=_SOUP)
def test_kernel_matches_stdlib_parser_on_token_soup(doc):
    payload = doc.encode("utf-8")
    assert outcome(extract_html_pages, payload) == outcome(oracle_html_pages, payload)


def test_kernel_matches_stdlib_parser_on_named_edge_cases():
    docs = [
        "<![foo]><p>x</p>",  # AssertionError from the stdlib's marked-section scan
        "<p>a</p><script>never closed <p>b</p>",
        "<p>a<!-- never closed <p>b</p>",
        '<p"x">start tag p"x" &amp; text</p>',
        "<p>junk <b&amp;\x00> tag</p>",
        "<p>x<y</p>",
        "<p>a &amp b</p><p",
        "<p>x</p><div data-page=\"99999\"><p>y</p></div><",
        "",
    ]
    for doc in docs:
        payload = doc.encode("utf-8")
        assert outcome(extract_html_pages, payload) == outcome(oracle_html_pages, payload), doc
    assert outcome(extract_html_pages, b"\xff") == outcome(oracle_html_pages, b"\xff")
    assert outcome(extract_html_pages, docs[0].encode())[:2] == ("raise", AssertionError)
    # a junk start tag's source is kept as raw data: "&amp;" is not unescaped
    assert extract_html_pages(docs[4].encode()) == [(1, ["junk <b&amp;\x00> tag"])]


@pytest.mark.skipif(not os.path.exists(SF01_DOCUMENTS), reason="sf0.1 corpus not present")
def test_kernel_matches_stdlib_parser_on_sf01_corpus():
    import pyarrow.parquet as pq

    from ocr_project_spark.contract import BACKEND_HTML
    from ocr_project_spark.datagen import backend_for, build_payload

    docs = pq.read_table(SF01_DOCUMENTS, columns=["doc_id", "text", "lang"]).to_pydict()
    n_html = 0
    for doc_id, text, lang in zip(docs["doc_id"], docs["text"], docs["lang"]):
        if backend_for(doc_id) != BACKEND_HTML:
            continue
        payload = build_payload(doc_id, text, lang)
        assert outcome(extract_html_pages, payload) == outcome(oracle_html_pages, payload), doc_id
        n_html += 1
    assert n_html > 1000


def test_unicode_digit_page_value_is_ignored():
    """``str.isdigit`` accepts superscript digits that ``int`` rejects; a
    ``data-page`` of "²" must be ignored like "x", not fail the document,
    while an Arabic-Indic "٣" still selects page 3."""
    res = process_html_arm('<div data-page="²"><p>hello</p></div>'.encode())
    assert res.success and res.error is None
    assert res.text == "hello"
    assert extract_html_pages('<div data-page="²"><p>hello</p></div>'.encode()) == [(1, ["hello"])]
    assert extract_html_pages('<div data-page="٣"><p>hi</p></div>'.encode()) == [(3, ["hi"])]
