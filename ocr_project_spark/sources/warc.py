"""WARC segment source: Common-Crawl's native wire format → pages rows.

Real crawl corpora arrive as WARC files (ISO 28500): concatenated records,
each a `WARC/1.0` header block + HTTP response + payload, separated by
`\\r\\n\\r\\n`. Common Crawl ships them gzipped — one gzip *member per
record* (`.warc.gz`), which a plain whole-file gunzip also handles because
concatenated members decompress to the concatenated records. This source
accepts raw, per-record-gzip, and whole-file-gzip segments and turns a
DataFrame of segment bytes — e.g.
`spark.read.format("binaryFile").load("s3://…/segments/*.warc.gz")` — into
the engine's pages schema (url, warc_ts, html), all parsing Arrow-batched on
executors (one segment = one row in, N documents out: the same 1→N explode
shape as doc→pages).

Only `response` records with an HTTP 200 status code are emitted; request /
metadata / warcinfo records and non-200 responses are skipped, matching how
extraction corpora are distilled from crawl segments. Parsing is pure
bytes-level (no external warc lib in this container — none is needed: the
framing is line-oriented and self-describing via Content-Length). A record
with a malformed Content-Length does not silently drop the rest of the
segment: the parser resyncs to the next ``\\r\\nWARC/`` boundary and counts
the skip (observable via :func:`parse_warc_records_with_stats`).

`synthesize_warc_segment` builds deterministic segments for tests — the
reference's own self-synthesized-fixture pattern (SURVEY §5).
"""

from __future__ import annotations

import json
import zlib
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

CRLF = b"\r\n"
RECORD_SEP = b"\r\n\r\n"
GZIP_MAGIC = b"\x1f\x8b"

PAGES_FROM_WARC_SCHEMA = "url string, warc_ts timestamp, html binary"


def gunzip_members_with_stats(data: bytes) -> tuple[bytes, int]:
    """Decompress a run of concatenated gzip members (the `.warc.gz` layout:
    one member per record; a whole-file gzip is the single-member case) into
    (decompressed bytes, n_bad_members).

    A corrupt mid-file member does not silently truncate the rest of the
    segment: the walk resyncs to the next gzip magic and counts the loss —
    the same resync-and-count posture the WARC framing walk applies to a
    malformed Content-Length. A truncated *final* member keeps whatever
    decompressed (counted as bad only if nothing usable came out of it).

    Note on memory: the whole segment decompresses in one executor task, so
    the implied memory floor is the *uncompressed* segment size (~1 GB for
    standard Common Crawl segments, ×~3-4 over the wire size) — size
    ``spark.sql.files.maxPartitionBytes`` / executor memory accordingly.
    """
    out = []
    n_bad = 0
    mv = memoryview(data)  # zero-copy chunk feeds: `data = d.unused_data`
    # per member would copy the whole remainder — quadratic over a 40k-
    # member Common Crawl segment
    pos, n = 0, len(data)
    feed = 1 << 20
    while pos < n and data.startswith(GZIP_MAGIC, pos):
        d = zlib.decompressobj(wbits=31)  # gzip container
        member_start = pos
        out_mark = len(out)  # chunks appended so far belong to GOOD members
        produced = 0
        bad = False
        while pos < n and not d.eof:
            try:
                chunk = d.decompress(mv[pos : pos + feed])
            except zlib.error:
                bad = True
                break
            produced += len(chunk)
            out.append(chunk)
            pos = min(pos + feed, n)
        if bad:
            # corrupt member: DROP its partial plaintext (a member larger
            # than one feed chunk may already have appended output — leaking
            # it would hand a truncated record whose Content-Length swallows
            # the next good member's bytes), then resync to the next gzip
            # magic past this header
            del out[out_mark:]
            n_bad += 1
            nxt = data.find(GZIP_MAGIC, member_start + len(GZIP_MAGIC))
            if nxt < 0:
                break
            pos = nxt
            continue
        if not d.eof:  # truncated final member: keep what decompressed
            if not produced:
                n_bad += 1
            break
        # return the tail of the LAST fed chunk (≤ feed bytes, bounded copy)
        pos -= len(d.unused_data)
    return b"".join(out), n_bad


def _parse_headers(block: bytes) -> dict[bytes, bytes]:
    headers: dict[bytes, bytes] = {}
    for line in block.split(CRLF)[1:]:  # first line is the version/status line
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower()] = v.strip()
    return headers


def parse_warc_records_with_stats(
    data: bytes,
    record_types: tuple[bytes, ...] = (b"response",),
) -> tuple[list[tuple[str, datetime | None, bytes]], int]:
    """Parse one WARC segment into ([(url, warc_ts, payload_bytes)], n_skipped).

    Accepts raw or gzipped (per-record-member or whole-file) segments. Walks
    records via Content-Length (robust against payloads containing blank
    lines). A record with a malformed/missing Content-Length is skipped by
    resyncing to the next ``\\r\\nWARC/`` boundary — later records survive —
    and counted in ``n_skipped``; a truncated tail stops the walk. Corrupt
    gzip members likewise resync to the next member and count into
    ``n_skipped`` (one count per failed decompress attempt).
    """
    n_skipped = 0
    if data.startswith(GZIP_MAGIC):
        data, n_skipped = gunzip_members_with_stats(data)
    out: list[tuple[str, datetime | None, bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        # offset-form startswith: a `data[pos:]` slice would copy the whole
        # remaining segment every iteration (quadratic on a 1 GB segment)
        if not data.startswith(b"WARC/", pos):
            break
        header_end = data.find(RECORD_SEP, pos)
        if header_end < 0:
            break
        headers = _parse_headers(data[pos:header_end])
        try:
            content_length = int(headers.get(b"content-length", b""))
        except ValueError:
            content_length = -1  # missing/non-numeric → malformed path
        if content_length < 0:
            # malformed framing (including a NEGATIVE declared length,
            # which int() happily parses): resync to the next record
            # boundary instead of silently dropping everything after it
            n_skipped += 1
            nxt = data.find(CRLF + b"WARC/", header_end)
            if nxt < 0:
                break
            pos = nxt + len(CRLF)
            continue
        body_start = header_end + len(RECORD_SEP)
        if body_start + content_length > n:
            # truncated tail: the declared payload extends past the
            # segment — COUNT the loss and stop, never emit partial bytes
            # as a well-formed document
            n_skipped += 1
            break
        body = data[body_start : body_start + content_length]
        pos = body_start + content_length
        # records are separated by two CRLFs
        while data[pos : pos + 2] == CRLF:
            pos += 2
        rtype = headers.get(b"warc-type")
        if rtype not in record_types:
            continue
        if rtype == b"response":
            # body = HTTP response: status line + headers + CRLFCRLF + payload
            http_end = body.find(RECORD_SEP)
            if http_end < 0:
                continue
            # status code is the second token of the status line — substring
            # matching would accept e.g. 'HTTP/1.1 404 see 200 page'
            status_parts = body[: body.find(CRLF)].split(b" ")
            if len(status_parts) < 2 or status_parts[1] != b"200":
                continue
            payload = body[http_end + len(RECORD_SEP) :]
        else:
            # conversion (WET) / resource records carry the payload directly,
            # no HTTP envelope
            payload = body
        url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
        ts = None
        raw_ts = headers.get(b"warc-date")
        if raw_ts:
            try:
                ts = datetime.strptime(
                    raw_ts.decode("ascii"), "%Y-%m-%dT%H:%M:%SZ"
                ).replace(tzinfo=timezone.utc)
            except ValueError:
                ts = None
        if url:
            out.append((url, ts, payload))
    return out, n_skipped


def pages_from_warc(
    segments: DataFrame,
    content_col: str = "content",
    record_types: tuple[str, ...] = ("response",),
) -> DataFrame:
    """DataFrame of raw WARC segment bytes → pages(url, warc_ts, html).

    Input shape matches `spark.read.format("binaryFile")` (a `content`
    binary column); one Arrow pass per batch of segments, 1→N explode.
    ``record_types=("conversion",)`` reads WET (extracted-text) segments —
    the payload is then the utf-8 text bytes.
    """
    accept = tuple(t.encode() for t in record_types)

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for data in pdf[content_col]:
                for url, ts, payload in parse_warc_records_with_stats(
                    bytes(data), record_types=accept
                )[0]:
                    rows.append({"url": url, "warc_ts": ts, "html": payload})
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html"])

    return segments.select(content_col).mapInPandas(
        _batches, schema=PAGES_FROM_WARC_SCHEMA
    )


WET_EPOCH_TS = "2024-01-01T00:00:00Z"  # fixed conversion timestamp: WET
# output must be a pure function of the extracted text, never of run time


def build_wet_segment(records: list[tuple[str, str]]) -> bytes:
    """(url, extracted_text) pairs → a WET segment (WARC *conversion*
    records — Common Crawl's extracted-text distribution format): the sink
    a web-extraction pipeline ships alongside parquet so downstream WET
    consumers can switch without re-extraction. Deterministic: fixed
    conversion timestamp, byte-exact Content-Length framing, so the
    segment round-trips through :func:`parse_warc_records_with_stats`
    (``record_types=(b"conversion",)``) byte-identically."""
    parts = []
    for url, text in records:
        payload = text.encode("utf-8")
        parts.append(
            b"WARC/1.0\r\n"
            b"WARC-Type: conversion\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {WET_EPOCH_TS}\r\n".encode()
            + b"Content-Type: text/plain\r\n"
            + f"Content-Length: {len(payload)}".encode()
            + RECORD_SEP
            + payload
            + RECORD_SEP
        )
    return b"".join(parts)


def wet_from_results(
    results: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Extraction results → WET segments, one segment per Arrow batch
    (N→1, the inverse of the 1→N segment explode): (segment binary,
    n_records). Which rows share a segment depends on partitioning — the
    RECORD SET parsed back is partitioning-invariant and oracle-checked
    (driver query ``warc_sinks``); segment boundaries, like any
    distributed file-cut, are not a semantic surface."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            seg = build_wet_segment(
                list(zip(pdf[url_col], pdf[text_col]))
            )
            yield pd.DataFrame(
                [{"segment": seg, "n_records": len(pdf)}],
                columns=["segment", "n_records"],
            )

    return results.select(url_col, text_col).mapInPandas(
        _batches, schema="segment binary, n_records long"
    )


def build_wat_segment(records: list[tuple[str, list[str]]]) -> bytes:
    """(url, sorted outlink urls) pairs → a WAT-analog segment (WARC
    *metadata* records with a canonical-JSON payload — the link-metadata
    distribution Common Crawl ships as WAT files next to WET). Payload
    shape: ``{"links": [{"path": "A@/href", "url": …}, …], "url": …}``
    with sorted keys and sorted link lists, so the segment is a pure
    function of each page's link SET (never of partitioning or scan
    order) and round-trips through :func:`parse_warc_records_with_stats`
    (``record_types=(b"metadata",)``) byte-identically."""
    parts = []
    for url, links in records:
        payload = json.dumps(
            {"links": [{"path": "A@/href", "url": u} for u in links], "url": url},
            sort_keys=True,
            separators=(",", ":"),
        ).encode("utf-8")
        parts.append(
            b"WARC/1.0\r\n"
            b"WARC-Type: metadata\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {WET_EPOCH_TS}\r\n".encode()
            + b"Content-Type: application/json\r\n"
            + f"Content-Length: {len(payload)}".encode()
            + RECORD_SEP
            + payload
            + RECORD_SEP
        )
    return b"".join(parts)


def wat_from_pages(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """pages(url, html) → WAT-analog segments, one per Arrow batch:
    (segment binary, n_records). EVERY distinct url gets exactly one
    metadata record — zero-outlink pages carry an empty links list (the
    left join below). Multi-capture inputs (the same url fetched more
    than once) collapse to one record whose links are the union across
    captures; reduce with ``latest_capture`` first when per-capture
    fidelity matters. The outlink harvest is the JVM projection of
    functions/links.py; the only exchanges are the per-url link rollup
    (partial-aggregable collect_list — bounded by a page's own link
    count, never corpus-sized) and the url distinct."""
    from ocr_project_spark.functions.links import extract_outlinks

    per_url = (
        extract_outlinks(pages, url_col=url_col, html_col=html_col)
        .groupBy(F.col("src_url").alias("url"))
        .agg(F.sort_array(F.collect_set("dst_url")).alias("links"))
    )
    with_links = (
        pages.select(F.col(url_col).alias("url"))
        .distinct()
        .join(per_url, "url", "left")
        .withColumn(
            "links",
            F.coalesce("links", F.array().cast("array<string>")),
        )
    )

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            seg = build_wat_segment(
                [(u, list(ls)) for u, ls in zip(pdf["url"], pdf["links"])]
            )
            yield pd.DataFrame(
                [{"segment": seg, "n_records": len(pdf)}],
                columns=["segment", "n_records"],
            )

    return with_links.mapInPandas(_batches, schema="segment binary, n_records long")


def synthesize_warc_segment(
    docs: list[tuple[str, datetime, bytes]],
    include_request_records: bool = True,
    compression: str | None = None,
) -> bytes:
    """Deterministic WARC segment from (url, ts, payload) triples — the test
    fixture generator (a response record per doc, optionally interleaved
    with request records that a correct parser must skip).

    ``compression``: ``None`` (raw concatenated records), ``"record"``
    (one gzip member per record — Common Crawl's actual `.warc.gz` layout),
    or ``"file"`` (whole segment as a single gzip member). mtime is pinned
    to 0 so synthesized fixtures are byte-deterministic.
    """
    import gzip

    parts = []
    for url, ts, payload in docs:
        ts_s = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        if include_request_records:
            req_body = b"GET / HTTP/1.1\r\nHost: x\r\n\r\n"
            parts.append(
                b"WARC/1.0\r\n"
                b"WARC-Type: request\r\n"
                + f"WARC-Target-URI: {url}\r\n".encode()
                + f"WARC-Date: {ts_s}\r\n".encode()
                + f"Content-Length: {len(req_body)}".encode()
                + RECORD_SEP
                + req_body
                + RECORD_SEP
            )
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + f"Content-Length: {len(payload)}\r\n".encode()
            + CRLF
            + payload
        )
        parts.append(
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {ts_s}\r\n".encode()
            + f"Content-Length: {len(http)}".encode()
            + RECORD_SEP
            + http
            + RECORD_SEP
        )
    if compression == "record":
        return b"".join(gzip.compress(p, mtime=0) for p in parts)
    if compression == "file":
        return gzip.compress(b"".join(parts), mtime=0)
    return b"".join(parts)
