"""Property-based tests (hypothesis) for the pure kernels: the round-trip
invariant — payload synthesis followed by extraction recovers the ground
truth byte-identically — must hold for arbitrary word sequences and doc ids,
not just the driver corpus.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from ocr_project_spark.datagen import build_html, build_pagedoc
from ocr_project_spark.functions.markers import (
    assemble_pages,
    extract_markdown,
    make_span_marker,
    parse_spans,
)
from ocr_project_spark.kernels.html_extract import extract_html_pages
from ocr_project_spark.kernels.layout_extract import extract_pagedoc_pages

# word alphabet mirrors realistic tokens: letters, digits, a few symbols
# that are inert in both HTML text nodes and JSON strings
WORDS = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789.,;:!?()-'\"",
    min_size=1,
    max_size=12,
)
TEXTS = st.lists(WORDS, min_size=1, max_size=120).map(" ".join)
DOC_IDS = st.integers(min_value=0, max_value=10_000_000)
LANGS = st.sampled_from(["en", "de", "fr", "es", "zh"])


@settings(max_examples=200, deadline=None)
@given(doc_id=DOC_IDS, text=TEXTS, lang=LANGS)
def test_html_roundtrip_property(doc_id, text, lang):
    pages = extract_html_pages(build_html(doc_id, text, lang).encode("utf-8"))
    recovered = " ".join(t for _, blocks in pages for t in blocks)
    assert recovered == text


@settings(max_examples=200, deadline=None)
@given(doc_id=DOC_IDS, text=TEXTS, lang=LANGS)
def test_pagedoc_roundtrip_property(doc_id, text, lang):
    pages = extract_pagedoc_pages(build_pagedoc(doc_id, text, lang).encode("utf-8"))
    recovered = " ".join(t for _, blocks in pages for t in blocks)
    assert recovered == text


@settings(max_examples=200, deadline=None)
@given(
    ref=st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789 .,-",
        min_size=1,
        max_size=40,
    ).filter(lambda s: s.strip() and not s.startswith("image")),
    box=st.tuples(*[st.integers(min_value=0, max_value=999)] * 4),
)
def test_span_marker_roundtrip_property(ref, box):
    marker = make_span_marker(ref, box)
    assert parse_spans(marker) == [(ref, *box)]
    assert extract_markdown(marker) == ref.strip()


@settings(max_examples=150, deadline=None)
@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=400),
        min_size=1,
        max_size=6,
    ),
    with_requests=st.booleans(),
    compression=st.sampled_from([None, "record", "file"]),
)
def test_warc_roundtrip_property(payloads, with_requests, compression):
    """WARC framing survives arbitrary payload bytes — including embedded
    CRLFCRLF sequences and gzip magic — because records are
    Content-Length-framed, in all three compression layouts."""
    from datetime import datetime, timezone

    from ocr_project_spark.sources.warc import (
        parse_warc_records_with_stats,
        synthesize_warc_segment,
    )

    ts = datetime(2025, 5, 1, tzinfo=timezone.utc)
    docs = [
        (f"https://h{i}.example.org/p{i}", ts, payload)
        for i, payload in enumerate(payloads)
    ]
    seg = synthesize_warc_segment(
        docs, include_request_records=with_requests, compression=compression
    )
    records = parse_warc_records_with_stats(seg)[0]
    assert [(u, p) for u, _, p in records] == [(u, p) for u, _, p in docs]


@settings(max_examples=100, deadline=None)
@given(
    contents=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),
            st.text(
                alphabet="abcdefghijklmnopqrstuvwxyz \n",
                min_size=0,
                max_size=30,
            ),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
def test_assemble_pages_property(contents, ):
    md, processed = assemble_pages(contents)
    assert processed == sorted(p for p, _ in contents)
    # every page separator present, in ascending order
    positions = [md.find(f"\n<--- Page {p} --->\n") for p in processed]
    assert all(p >= 0 for p in positions)
    assert positions == sorted(positions)


# ---------------------------------------------------------------------------
# adversarial HTML fuzz (round-5 verdict item 6): the byte-identity core's
# paging bug (commit de853e0) lived undetected since round 1 because the
# synthetic corpus is too regular. Documents here are generated as NODE
# TREES with ground truth attached, rendered through hostile-but-well-formed
# HTML surface forms — mixed-case tags and attribute names, single/double/
# unquoted attribute values, entity storms, comments, raw script/style
# CDATA bodies, STRAY close tags, omitted end tags, deep nesting — and the
# kernel's output is compared against a slow recursive reference interpreter
# of the documented block rules (boilerplate subtrees drop, block tags open/
# implicitly close blocks, link-density < 0.5 keeps, div pushes/pops the
# page stack, data-page digits switch pages). The interpreter walks the
# generated tree directly, so the comparison also proves html.parser's
# tokenization (entity decode, case folding, attribute quoting, CDATA) maps
# 1:1 onto the node semantics the kernel assumes.
# ---------------------------------------------------------------------------

_ENTITY_PIECES = st.sampled_from(
    [
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#65;", "A"),
        ("&#x6a;", "j"),
        ("&nbsp;", "\xa0"),
        ("&auml;", "\xe4"),
        ("&amp;amp;", "&amp;"),  # double-escape: decodes to a literal entity
    ]
)
_SAFE_PIECES = st.text(
    alphabet="abcdefgh xyz.,!?()'-0123456789", min_size=1, max_size=10
).map(lambda s: (s, s))
_FUZZ_TEXT = st.lists(
    st.one_of(_SAFE_PIECES, _ENTITY_PIECES), min_size=1, max_size=6
).map(
    lambda ps: ("text", "".join(r for r, _ in ps), "".join(d for _, d in ps))
)
_FUZZ_COMMENT = st.text(alphabet="abc def", max_size=12).map(
    lambda s: ("comment", s)
)
_FUZZ_STRAY_END = st.sampled_from(
    ["div", "p", "nav", "a", "h2", "li", "footer", "span"]
).map(lambda t: ("stray_end", t))

_FUZZ_TAGS = [
    "p", "h1", "h2", "h3", "li", "pre", "blockquote",  # block tags
    "div", "div", "div",  # weighted: page-stack pushes are the hot path
    "nav", "header", "footer", "aside", "script", "style",  # boilerplate
    "a", "span", "b", "section",  # inline / unknown-to-the-kernel tags
]
_ATTR_STYLE = st.sampled_from(["double", "single", "bare"])
_PAGE_VALUES = st.one_of(
    st.integers(min_value=0, max_value=12).map(str),  # valid: digits
    st.sampled_from(["x", "2x", "", " 3", "-1", "²"]),  # invalid: ignored
)
_FUZZ_ATTRS = st.lists(
    st.one_of(
        st.tuples(
            st.just("data-page"), _PAGE_VALUES, _ATTR_STYLE, st.booleans()
        ),
        st.tuples(
            st.just("class"),
            st.text(alphabet="abcxyz", min_size=1, max_size=6),
            _ATTR_STYLE,
            st.booleans(),
        ),
    ),
    max_size=2,
    unique_by=lambda a: a[0],
)


def _mk_fuzz_elem(tag, kids, attrs, omit_end, upper):
    if tag in ("script", "style"):
        # CDATA content mode: entities are NOT decoded and an omitted end
        # tag would swallow the rest of the document as raw data — keep the
        # body a plain safe text node and always close
        kids = [("text", "var x y z", "var x y z")]
        omit_end = False
    if tag not in ("div", "a"):
        attrs = [a for a in attrs if a[0] != "data-page"] if tag != "div" else attrs
    return ("elem", tag, attrs, kids, omit_end, upper)


_FUZZ_NODE = st.recursive(
    st.one_of(_FUZZ_TEXT, _FUZZ_COMMENT, _FUZZ_STRAY_END),
    lambda children: st.builds(
        _mk_fuzz_elem,
        st.sampled_from(_FUZZ_TAGS),
        st.lists(children, max_size=5),
        _FUZZ_ATTRS,
        st.booleans(),
        st.booleans(),
    ),
    max_leaves=30,
)
_FUZZ_DOC = st.lists(_FUZZ_NODE, min_size=1, max_size=8)


def _render_fuzz(node, out):
    kind = node[0]
    if kind == "text":
        out.append(node[1])
    elif kind == "comment":
        out.append(f"<!--{node[1]}-->")
    elif kind == "stray_end":
        out.append(f"</{node[1]}>")
    else:
        _, tag, attrs, kids, omit_end, upper = node
        t = tag.upper() if upper else tag
        parts = [f"<{t}"]
        for name, value, style, upcase in attrs:
            nm = name.upper() if upcase else name
            if style == "bare" and value and value.isalnum():
                parts.append(f" {nm}={value}")
            elif style == "single":
                parts.append(f" {nm}='{value}'")
            else:
                parts.append(f' {nm}="{value}"')
        parts.append(">")
        out.append("".join(parts))
        for k in kids:
            _render_fuzz(k, out)
        if not omit_end:
            out.append(f"</{t}>")


class _RefExtractor:
    """Slow reference interpreter of the documented block rules, driven by
    the generated node tree (NOT by html.parser) — recursion + explicit
    state instead of the kernel's flat event stream."""

    def __init__(self):
        self.boiler = 0
        self.anchor = 0
        self.page = 1
        self.page_stack = []
        self.cur = None
        self.blocks = []

    def finish(self):
        blk, self.cur = self.cur, None
        if blk is None:
            return
        text = "".join(blk["parts"])
        density = blk["anchor"] / len(text) if text else 1.0
        if text.strip() and density < 0.5:
            self.blocks.append((blk["page"], text))

    def start(self, tag, attrs):
        from ocr_project_spark.kernels.html_extract import (
            BLOCK_TAGS,
            BOILERPLATE_TAGS,
        )

        if tag in BOILERPLATE_TAGS:
            self.finish()
            self.boiler += 1
        if tag == "a":
            self.anchor += 1
        if tag == "div":
            self.page_stack.append(self.page)
            value = dict(attrs).get("data-page")
            if value is not None and value.isdecimal():
                self.page = int(value)
        if tag in BLOCK_TAGS and self.boiler == 0:
            self.finish()
            self.cur = {"page": self.page, "parts": [], "anchor": 0}

    def end(self, tag):
        from ocr_project_spark.kernels.html_extract import (
            BLOCK_TAGS,
            BOILERPLATE_TAGS,
        )

        if tag in BOILERPLATE_TAGS and self.boiler > 0:
            self.boiler -= 1
        if tag == "a" and self.anchor > 0:
            self.anchor -= 1
        if tag == "div" and self.page_stack:
            self.page = self.page_stack.pop()
        if tag in BLOCK_TAGS:
            self.finish()

    def walk(self, node):
        kind = node[0]
        if kind == "text":
            if self.cur is not None and self.boiler == 0:
                self.cur["parts"].append(node[2])
                if self.anchor > 0:
                    self.cur["anchor"] += len(node[2])
        elif kind == "comment":
            pass
        elif kind == "stray_end":
            self.end(node[1])
        else:
            _, tag, attrs, kids, omit_end, _ = node
            self.start(tag, [(n, v) for n, v, _s, _u in attrs])
            for k in kids:
                self.walk(k)
            if not omit_end:
                self.end(tag)


def _expected_pages(doc):
    ref = _RefExtractor()
    for node in doc:
        ref.walk(node)
    ref.finish()
    pages = {}
    for page, text in ref.blocks:
        pages.setdefault(page, []).append(text)
    return sorted(pages.items())


@settings(max_examples=250, deadline=None)
@given(doc=_FUZZ_DOC)
def test_html_fuzz_matches_reference_rules(doc):
    import pytest

    out = []
    for node in doc:
        _render_fuzz(node, out)
    payload = "".join(out).encode("utf-8")
    expected = _expected_pages(doc)
    if expected:
        assert extract_html_pages(payload) == expected
    else:
        with pytest.raises(ValueError, match="no text blocks"):
            extract_html_pages(payload)


def test_html_fuzz_deep_nesting_and_stray_closes():
    """Explicit hostile shape: 300-deep alternating div[data-page] nesting
    with blocks at several depths, then a storm of stray close tags — the
    page attribution must survive arbitrary depth and a drained stack."""
    doc = []
    node_children = doc
    for depth in range(300):
        attrs = (
            [("data-page", str(depth % 7 + 1), "double", False)]
            if depth % 3 == 0
            else []
        )
        kids = []
        node_children.append(("elem", "div", attrs, kids, False, depth % 2 == 0))
        if depth % 50 == 0:
            kids.append(("elem", "p", [], [("text", f"d{depth}", f"d{depth}")], depth % 100 == 0, False))
        node_children = kids
    doc.extend([("stray_end", "div")] * 400 + [("stray_end", "p")] * 5)
    doc.append(("elem", "p", [], [("text", "tail", "tail")], False, False))
    out = []
    for node in doc:
        _render_fuzz(node, out)
    assert extract_html_pages("".join(out).encode("utf-8")) == _expected_pages(doc)


# flat UNBALANCED event streams: arbitrary interleavings of unmatched div
# opens (with and without data-page), stray closes, boilerplate opens/
# closes, anchors, and block text — the natural habitat of page-stack
# asymmetry bugs (the round-4 de853e0 class), which the tree generator
# above only rarely reaches because its opens and closes mostly pair up.
# The distribution is deliberately weighted toward the four stack-relevant
# events (div opens, div closes, blocks): a mutation check showed a uniform
# event mix needs far more than 300 examples to sample the minimal
# dp-open → plain-open → close → block witness of the de853e0 bug class.
def _raw_to_event(sel, page, text, omit):
    if sel < 25:
        return ("open_div", page)
    if sel < 45:
        return ("open_div_plain",)
    if sel < 65:
        return ("close", "div")
    if sel < 85:
        return ("block", ("p", "h2", "li")[sel % 3], text, omit)
    if sel < 90:
        return ("close", ("p", "nav", "a", "h2")[sel % 4])
    if sel < 94:
        return ("open_boiler", "nav" if sel % 2 else "footer")
    if sel < 97:
        return ("open_a",)
    return ("close", "nav")


_FLAT_EVENT = st.builds(
    _raw_to_event,
    st.integers(min_value=0, max_value=99),
    st.integers(min_value=0, max_value=6),
    st.text(alphabet="abc xyz", min_size=1, max_size=8),
    st.booleans(),
)


def _flat_to_nodes(events):
    nodes = []
    for ev in events:
        if ev[0] == "open_div":
            nodes.append(
                ("elem", "div",
                 [("data-page", str(ev[1]), "double", False)], [], True, False)
            )
        elif ev[0] == "open_div_plain":
            nodes.append(("elem", "div", [], [], True, False))
        elif ev[0] == "close":
            nodes.append(("stray_end", ev[1]))
        elif ev[0] == "open_boiler":
            nodes.append(("elem", ev[1], [], [], True, False))
        elif ev[0] == "open_a":
            nodes.append(("elem", "a", [], [], True, False))
        else:
            _, tag, text, omit = ev
            nodes.append(
                ("elem", tag, [], [("text", text, text)], omit, False)
            )
    return nodes


@settings(max_examples=300, deadline=None)
@given(events=st.lists(_FLAT_EVENT, min_size=4, max_size=30))
def test_html_fuzz_unbalanced_stream_matches_reference_rules(events):
    import pytest

    doc = _flat_to_nodes(events)
    out = []
    for node in doc:
        _render_fuzz(node, out)
    payload = "".join(out).encode("utf-8")
    expected = _expected_pages(doc)
    if expected:
        assert extract_html_pages(payload) == expected
    else:
        with pytest.raises(ValueError, match="no text blocks"):
            extract_html_pages(payload)
