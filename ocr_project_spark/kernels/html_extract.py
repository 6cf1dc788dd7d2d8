"""html-arm extraction kernel (DeepSeek-OCR analog, SURVEY §7.0).

Replaces the reference's vision-LLM OCR (reference:
backends/deepseek-ocr/deepseek_ocr_backend.py:413-457, replaced per SURVEY
§2.4 M7) with deterministic CPU extraction: a single-pass tokenizer with
boilerpipe/readability-style heuristics applied inline — semantic
boilerplate containers (nav/header/footer/aside/script/style) are dropped,
as is any text block whose link density (anchor-text chars / total chars)
exceeds a threshold. Content blocks are attributed to their enclosing page
container (``div[data-page]``), preserving document order.

The tokenizer has the event semantics of stdlib
``HTMLParser(convert_charrefs=True)`` fed the whole document once and then
closed, without its per-event method dispatch and line counting: one regex
search jumps from ``<`` to ``<`` and matches the plain tags the corpus is
made of; every other construct goes to html.parser's own regexes and
scanning methods. Text is only sliced and unescaped while a block is open. The stdlib parser is kept in the tests as the oracle
(``tests/html_oracle.py``); a differential test holds the two equal.

The kernel is a pure function ``bytes -> list[(page_1idx, [block_text])]``;
the Spark layer runs it inside Arrow-batched ``mapInPandas`` (no per-row
Python at the DataFrame level).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import (
    HTMLParser,
    attrfind_tolerant,
    endtagfind,
    locatestarttagend_tolerant,
    starttagopen,
    tagfind_tolerant,
)

BOILERPLATE_TAGS = {"nav", "header", "footer", "aside", "script", "style"}
BLOCK_TAGS = {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "blockquote"}
LINK_DENSITY_MAX = 0.5

# The next "<" and, when it opens a plain tag, the tag's parts: an ASCII
# name, only name="value" attributes with no <>& in a value (so nothing to
# unescape), then an optional "/" before the ">". html.parser reads such a
# start or end tag the same way; every other "<" takes ``_markup``.
_NEXT_TAG = re.compile(
    r'<(?:(/?)([a-zA-Z][a-zA-Z0-9]*)'
    r'((?:[ \t\n\r\f]+[a-zA-Z_:][-a-zA-Z0-9_:.]*="[^"<>&]*")*)'
    r'[ \t\n\r\f]*(/?)>)?'
)
_PLAIN_ATTR = re.compile(r'([a-zA-Z_:][-a-zA-Z0-9_:.]*)="([^"]*)"')
# the end of a script/style body, as HTMLParser.set_cdata_mode builds it
_CDATA_END = {
    tag: re.compile(r"</\s*%s\s*>" % tag, re.I)
    for tag in HTMLParser.CDATA_CONTENT_ELEMENTS
}


def _start_tag(text: str, i: int):
    """html.parser's ``parse_starttag`` at ``text[i] == '<'`` + letter:
    ``(end, tag, attrs, self_closing)``; ``tag`` is None when the tag is
    junk (its source becomes raw data); ``end`` is -1 when incomplete."""
    m = locatestarttagend_tolerant.match(text, i)
    j = m.end()
    nxt = text[j : j + 1]
    if nxt == ">":
        end = j + 1
    elif nxt == "/":
        end = j + 2 if text.startswith("/>", j) else -1
    elif nxt == "" or nxt in "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ":
        end = -1
    else:
        end = j if j > i else i + 1
    if end < 0:
        return -1, None, None, False
    m = tagfind_tolerant.match(text, i + 1)
    k = m.end()
    tag = m.group(1).lower()
    attrs = []
    while k < end:
        m = attrfind_tolerant.match(text, k)
        if not m:
            break
        name, rest, value = m.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value:
            value = unescape(value)
        attrs.append((name.lower(), value))
        k = m.end()
    rest = text[k:end].strip()
    if rest not in (">", "/>"):
        return end, None, None, False
    return end, tag, attrs, rest.endswith("/>")


def _end_tag(text: str, i: int):
    """html.parser's ``parse_endtag`` at ``text[i:i+2] == '</'`` outside a
    script/style body: ``(end, tag)``; ``tag`` is None for ``</>`` and
    bogus comments; ``end`` is -1 when incomplete."""
    gt = text.find(">", i + 1)
    if gt < 0:
        return -1, None
    m = endtagfind.match(text, i)
    if m:
        return gt + 1, m.group(1).lower()
    m = tagfind_tolerant.match(text, i + 2)
    if m:
        return text.find(">", m.end()) + 1, m.group(1).lower()
    if text.startswith("</>", i):
        return i + 3, None
    gt = text.find(">", i + 2)
    return (gt + 1 if gt >= 0 else -1), None


def _markup(text: str, i: int):
    """html.parser's reading of the markup at ``text[i] == '<'`` that
    ``_NEXT_TAG`` leaves to it: ``(next, start, end, data_page, data)`` —
    where scanning resumes, the start and end tag events (or None), the
    start tag's ``data-page`` value, and a data run (or None)."""
    start = end = page = data = None
    if starttagopen.match(text, i):
        k, tag, attrs, self_closing = _start_tag(text, i)
        if tag is not None:
            start = tag
            if self_closing:
                end = tag
            page = dict(attrs).get("data-page")
        elif k >= 0:
            data = text[i:k]  # a junk tag is data, not unescaped
    elif text.startswith("</", i):
        k, end = _end_tag(text, i)
    elif text.startswith("<!", i) or text.startswith("<?", i):
        # comments, doctype, marked sections and PIs: the stdlib's own scans
        scanner = HTMLParser()
        scanner.rawdata = text
        k = scanner.parse_html_declaration(i) if text[i + 1] == "!" else scanner.parse_pi(i)
    else:
        return i + 1, None, None, None, "<"
    if k < 0:  # incomplete at EOF: data up to the next > (or <)
        k = text.find(">", i + 1)
        if k < 0:
            k = text.find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        data = unescape(text[i:k])
    return k, start, end, page, data


def extract_html_pages(payload: bytes) -> list[tuple[int, list[str]]]:
    """Parse an HTML payload into ordered (page, [block_text]) groups.

    Raises ValueError with a deterministic message when no content block
    survives the boilerplate heuristics (truncated/malformed documents) — the
    error path the reference reaches when its backend yields nothing
    (reference: mineru_backend.py:351 "No inference results from Mineru").
    """
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError:
        raise ValueError("document payload is not valid utf-8")

    blocks: list[tuple[int, list[str], int]] = []
    boiler_depth = anchor_depth = 0
    current_page = 1
    page_stack: list[int] = []
    # the open block: its page, text runs and anchor-text length. A block
    # only opens outside boilerplate and entering boilerplate closes it, so
    # ``parts is not None`` implies ``boiler_depth == 0``.
    parts: list[str] | None = None
    block_page = anchor_chars = 0

    next_tag = _NEXT_TAG.search
    i = 0
    while True:
        m = next_tag(text, i)
        if parts is not None:
            run = text[i : m.start()] if m else text[i:]
            if "&" in run:
                run = unescape(run)
            parts.append(run)
            if anchor_depth:
                anchor_chars += len(run)
        if not m:
            break

        slash, tag, attr_src, self_closing = m.groups()
        if tag:
            k = m.end()
            tag = tag.lower()
            start = None if slash else tag
            end = tag if slash or self_closing else None
            page = None
            if attr_src and start == "div":
                for name, value in _PLAIN_ATTR.findall(attr_src):
                    if name.lower() == "data-page":
                        page = value
        else:
            k, start, end, page, data = _markup(text, m.start())
            if data is not None and parts is not None:
                parts.append(data)
                if anchor_depth:
                    anchor_chars += len(data)

        # the block rules; the four tag sets are disjoint
        if start is not None:
            if start == "a":
                anchor_depth += 1
            elif start in BLOCK_TAGS:
                if boiler_depth == 0:
                    # browsers close an open paragraph when a new block
                    # begins — real-world HTML routinely omits </p>/</li>
                    if parts is not None:
                        blocks.append((block_page, parts, anchor_chars))
                    parts, block_page, anchor_chars = [], current_page, 0
            elif start == "div":
                # EVERY div pushes (a no-op restore for plain divs): each
                # </div> pops, so pushing only for page containers would let
                # a nested plain div's close prematurely restore the OUTER
                # page and mis-attribute the rest of the container
                page_stack.append(current_page)
                if page is not None and page.isdecimal():
                    current_page = int(page)
            elif start in BOILERPLATE_TAGS:
                # an unclosed block before boilerplate chrome ends implicitly
                if parts is not None:
                    blocks.append((block_page, parts, anchor_chars))
                    parts = None
                boiler_depth += 1
                if end is None and start in _CDATA_END:
                    # a script/style body is raw text up to its end tag and
                    # never kept; unclosed, it swallows the rest
                    m = _CDATA_END[start].search(text, k)
                    if m is None:
                        break
                    k = m.end()
                    end = start
        if end is not None:
            if end == "a":
                if anchor_depth > 0:
                    anchor_depth -= 1
            elif end in BLOCK_TAGS:
                if parts is not None:
                    blocks.append((block_page, parts, anchor_chars))
                    parts = None
            elif end == "div":
                if page_stack:
                    current_page = page_stack.pop()
            elif end in BOILERPLATE_TAGS:
                if boiler_depth > 0:
                    boiler_depth -= 1
        i = k
    if parts is not None:  # a block left open at document end
        blocks.append((block_page, parts, anchor_chars))

    pages: dict[int, list[str]] = {}
    for page, runs, anchored in blocks:
        block = "".join(runs)
        if block.strip() and anchored / len(block) < LINK_DENSITY_MAX:
            pages.setdefault(page, []).append(block)
    if not pages:
        raise ValueError("no text blocks detected in document")
    return sorted(pages.items())
