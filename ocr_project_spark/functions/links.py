"""Outlink extraction over raw html payloads (the WAT sink's link harvest).

:func:`extract_outlinks` turns the raw ``pages(url, html)`` table into one
row per absolute ``<a href>`` as ONE JVM regexp projection
(``regexp_extract_all`` + ``explode``; no Python, no Arrow pass — at
100 TB the href scan rides the same columnar read as every other
projection and whole-stage codegen fuses it with the scan).
``sources/warc.wat_from_pages`` rolls these rows up into per-url link
lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# absolute http(s) hrefs only: relative links stay on-host and the crawl
# frontier keys on absolute targets. Case-insensitive — real HTML carries
# <A HREF= and HTTPS:// spellings — and attribute-order-agnostic: real
# crawl anchors spell <a class=x href=…>, single-quoted, and unquoted
# hrefs, so href may sit after other attributes ([^>]*?) but
# must be whitespace-delimited ((?:…\s)? — `data-href=` is NOT an href).
# One pattern per quote style so the value only stops at its MATCHING
# quote kind (plus whitespace/`>` — raw spaces inside a quoted href keep
# the valid URL prefix, and a missing close quote cannot swallow markup):
# a double-quoted URL containing a single quote (common — /O'Neil paths)
# harvests whole instead of truncating at the foreign quote. The three
# are mutually exclusive on the character after `=`, so concatenating
# their extractions never double-counts an anchor. Known coverage limits
# (documented, not harvested): hrefs on tags other than <a>, URLs
# containing a literal quote of the wrapping kind, markup hidden in
# comments/scripts, and href-shaped text inside ANOTHER attribute's
# quoted value (the [^>]*? skip has no quote state — a regex harvest has
# no parser state, the standard trade for a scan-fused projection).
_HREF_PATTERNS = (
    r"(?i)<a\s(?:[^>]*?\s)?href\s*=\s*\"(https?://[^\"\s>]+)",
    r"(?i)<a\s(?:[^>]*?\s)?href\s*=\s*'(https?://[^'\s>]+)",
    r"(?i)<a\s(?:[^>]*?\s)?href\s*=\s*(https?://[^\"'\s>]+)",
)


def extract_outlinks(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """pages(url, html:binary) → one row per absolute ``<a href>``:
    (src_url, src_host, dst_url, dst_host). Pure JVM projection — the
    href regex, explode, and host parse all run inside whole-stage
    codegen on the pruned (url, html) scan.

    Crash-proof over real crawl bytes (this session runs ANSI mode):
    the payload reaches the regex via ``CAST(binary AS STRING)`` — which,
    unlike ``decode(…, 'utf-8')``, never throws on malformed byte
    sequences (invalid bytes flow through and ASCII markup still matches)
    — and hosts parse via ``try_parse_url``, so an RFC-invalid harvested
    href (spaces etc. — common in real HTML) yields a NULL host on ITS
    row instead of killing the job; callers that key on hosts must drop
    or count those rows themselves."""
    text = F.col(html_col).cast("string")
    hrefs = F.concat(
        *[
            F.regexp_extract_all(text, F.lit(p), F.lit(1))
            for p in _HREF_PATTERNS
        ]
    )
    return (
        pages.select(
            F.col(url_col).alias("src_url"), F.explode(hrefs).alias("dst_url")
        )
        .select(
            "src_url",
            F.lower(F.expr("try_parse_url(src_url, 'HOST')")).alias("src_host"),
            "dst_url",
            F.lower(F.expr("try_parse_url(dst_url, 'HOST')")).alias("dst_host"),
        )
    )

