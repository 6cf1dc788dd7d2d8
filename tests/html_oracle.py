"""Test oracle for the html-arm kernel: the stdlib ``html.parser`` DOM walk
the kernel replaced, kept verbatim except for one rule fix (a ``data-page``
value selects a page only when ``str.isdecimal()``, as in the kernel).

``HTMLParser(convert_charrefs=True)`` fed the whole document once and then
closed is the tokenizer semantics the kernel must reproduce byte for byte;
the block rules come from the kernel module so that the oracle checks the
tokenizer, not a second copy of the rules.
"""

from __future__ import annotations

from html.parser import HTMLParser

from ocr_project_spark.kernels.html_extract import (
    BLOCK_TAGS,
    BOILERPLATE_TAGS,
    LINK_DENSITY_MAX,
)


class _Block:
    __slots__ = ("page", "text_parts", "anchor_chars")

    def __init__(self, page: int):
        self.page = page
        self.text_parts: list[str] = []
        self.anchor_chars = 0

    @property
    def text(self) -> str:
        return "".join(self.text_parts)

    @property
    def link_density(self) -> float:
        total = len(self.text)
        return self.anchor_chars / total if total else 1.0


class _ContentParser(HTMLParser):
    """Single-pass DOM walk collecting candidate text blocks per page."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.boiler_depth = 0
        self.anchor_depth = 0
        self.current_page = 1
        self.page_stack: list[int] = []
        self.block: _Block | None = None
        self.blocks: list[_Block] = []

    def _finish_block(self):
        blk = self.block
        self.block = None
        if blk is not None and blk.text.strip() and blk.link_density < LINK_DENSITY_MAX:
            self.blocks.append(blk)

    def handle_starttag(self, tag, attrs):
        if tag in BOILERPLATE_TAGS:
            self._finish_block()
            self.boiler_depth += 1
        if tag == "a":
            self.anchor_depth += 1
        if tag == "div":
            self.page_stack.append(self.current_page)
            attr_map = dict(attrs)
            page = attr_map.get("data-page")
            if page is not None and page.isdecimal():
                self.current_page = int(page)
        if tag in BLOCK_TAGS and self.boiler_depth == 0:
            self._finish_block()
            self.block = _Block(self.current_page)

    def handle_endtag(self, tag):
        if tag in BOILERPLATE_TAGS and self.boiler_depth > 0:
            self.boiler_depth -= 1
        if tag == "a" and self.anchor_depth > 0:
            self.anchor_depth -= 1
        if tag == "div" and self.page_stack:
            self.current_page = self.page_stack.pop()
        if tag in BLOCK_TAGS:
            self._finish_block()

    def close(self):
        super().close()
        self._finish_block()

    def handle_data(self, data):
        if self.block is not None and self.boiler_depth == 0:
            self.block.text_parts.append(data)
            if self.anchor_depth > 0:
                self.block.anchor_chars += len(data)


def oracle_html_pages(payload: bytes) -> list[tuple[int, list[str]]]:
    """What ``extract_html_pages`` returns (or raises) for ``payload``."""
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError:
        raise ValueError("document payload is not valid utf-8")
    parser = _ContentParser()
    parser.feed(text)
    parser.close()
    if not parser.blocks:
        raise ValueError("no text blocks detected in document")
    pages: dict[int, list[str]] = {}
    for blk in parser.blocks:
        pages.setdefault(blk.page, []).append(blk.text)
    return sorted(pages.items())


def outcome(fn, payload: bytes):
    """``("ok", pages)`` or ``("raise", type, message)`` — what a caller of
    ``fn`` observes, so two kernels can be compared with one ``==``."""
    try:
        return ("ok", fn(payload))
    except Exception as exc:  # noqa: BLE001 - the exception IS the result
        return ("raise", type(exc), str(exc))
