"""WARC source tests: record framing, filtering, explode shape, and the full
WARC → extraction byte-identity path.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from ocr_project_spark.datagen import build_html
from ocr_project_spark.operators.extract import extract_documents
from ocr_project_spark.sources.warc import (
    pages_from_warc,
    parse_warc_records_with_stats,
    synthesize_warc_segment,
)

TS = datetime(2025, 3, 1, 12, 0, 0, tzinfo=timezone.utc)


def _docs(n=5):
    return [
        (
            f"https://site-{i}.example.org/w{i}.html",
            TS,
            build_html(i * 2, f"alpha{i} beta{i} gamma{i} delta{i}", "en").encode(),
        )
        for i in range(n)
    ]


def test_parse_records_skips_requests_and_non200():
    docs = _docs(3)
    seg = synthesize_warc_segment(docs)  # interleaves request records
    # append a 404 response record that must be skipped
    seg += synthesize_warc_segment(
        [("https://site-x.example.org/gone.html", TS, b"not found")],
        include_request_records=False,
    ).replace(b"HTTP/1.1 200 OK", b"HTTP/1.1 404 NF")
    records = parse_warc_records_with_stats(seg)[0]
    assert [u for u, _, _ in records] == [u for u, _, _ in docs]
    for (u, ts, payload), (eu, ets, epayload) in zip(records, docs):
        assert ts == ets
        assert payload == epayload


def test_parse_records_payload_with_blank_lines():
    payload = b"<html><body><p>a</p>\r\n\r\n<p>b</p></body></html>"
    seg = synthesize_warc_segment(
        [("https://s.example.org/x.html", TS, payload)],
        include_request_records=False,
    )
    records = parse_warc_records_with_stats(seg)[0]
    assert len(records) == 1
    assert records[0][2] == payload  # Content-Length framing, not split


def test_parse_records_truncated_tail():
    seg = synthesize_warc_segment(_docs(2), include_request_records=False)
    records = parse_warc_records_with_stats(seg + b"WARC/1.0\r\ngarbage")[0]
    assert len(records) == 2


def test_pages_from_warc_explode(spark):
    docs = _docs(6)
    seg_a = synthesize_warc_segment(docs[:4])
    seg_b = synthesize_warc_segment(docs[4:])
    segments = spark.createDataFrame(
        [(bytearray(seg_a),), (bytearray(seg_b),)], "content binary"
    )
    pages = pages_from_warc(segments)
    rows = {r["url"]: r for r in pages.collect()}
    assert len(rows) == 6
    for url, ts, payload in docs:
        assert bytes(rows[url]["html"]) == payload
        assert rows[url]["warc_ts"] is not None


def test_warc_to_extraction_byte_identity(spark):
    """Full path: WARC segment → pages → dispatch → extraction recovers the
    injected ground-truth text byte-identically."""
    truth = {
        f"https://site-{i}.example.org/w{i}.html": " ".join(
            f"tok{i}w{j}" for j in range(24)
        )
        for i in range(4)
    }
    docs = [
        (url, TS, build_html(0, text, "en").encode())
        for url, text in truth.items()
    ]
    seg = synthesize_warc_segment(docs)
    segments = spark.createDataFrame([(bytearray(seg),)], "content binary")
    pages = pages_from_warc(segments).withColumn(
        "backend", F.lit("deepseek-ocr")
    )
    out = {r["url"]: r for r in extract_documents(pages).collect()}
    assert len(out) == 4
    for url, text in truth.items():
        assert out[url]["success"]
        assert out[url]["text"] == text


def test_parse_records_gzip_per_record_and_whole_file():
    docs = _docs(4)
    raw = synthesize_warc_segment(docs)
    rec_gz = synthesize_warc_segment(docs, compression="record")
    file_gz = synthesize_warc_segment(docs, compression="file")
    assert rec_gz != raw and file_gz != raw
    expected = parse_warc_records_with_stats(raw)[0]
    assert parse_warc_records_with_stats(rec_gz)[0] == expected
    assert parse_warc_records_with_stats(file_gz)[0] == expected
    assert [u for u, _, _ in expected] == [u for u, _, _ in docs]


def test_parse_records_gzip_trailing_garbage():
    seg = synthesize_warc_segment(_docs(2), compression="record")
    records = parse_warc_records_with_stats(seg + b"\x00garbage-not-gzip")[0]
    assert len(records) == 2


def test_status_code_is_second_token_not_substring():
    seg = synthesize_warc_segment(
        [("https://s.example.org/x.html", TS, b"payload")],
        include_request_records=False,
    ).replace(b"HTTP/1.1 200 OK", b"HTTP/1.1 404 see 200 page")
    assert parse_warc_records_with_stats(seg)[0] == []


def test_malformed_content_length_resyncs_to_next_record():
    from ocr_project_spark.sources.warc import parse_warc_records_with_stats

    good = _docs(2)
    bad = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad.example.org/\r\n"
        b"Content-Length: not-a-number\r\n\r\n"
        b"HTTP/1.1 200 OK\r\n\r\njunk\r\n\r\n"
    )
    seg = (
        synthesize_warc_segment(good[:1], include_request_records=False)
        + bad
        + synthesize_warc_segment(good[1:], include_request_records=False)
    )
    records, n_skipped = parse_warc_records_with_stats(seg)
    assert [u for u, _, _ in records] == [u for u, _, _ in good]
    assert n_skipped == 1


def test_corrupt_gzip_member_resyncs_and_counts():
    """A corrupt mid-file gzip member must not truncate the rest of the
    segment: the walk resyncs to the next member and counts the loss in
    n_skipped (same posture as the Content-Length resync)."""
    import gzip

    from ocr_project_spark.sources.warc import parse_warc_records_with_stats

    docs = _docs(3)
    members = [
        gzip.compress(
            synthesize_warc_segment([d], include_request_records=False),
            mtime=0,
        )
        for d in docs
    ]
    # corrupt the middle member's deflate stream (keep the 10-byte header so
    # the walk enters the member and fails inside it)
    bad = bytearray(members[1])
    for i in range(12, min(40, len(bad))):
        bad[i] ^= 0xFF
    seg = members[0] + bytes(bad) + members[2]
    records, n_skipped = parse_warc_records_with_stats(seg)
    urls = [u for u, _, _ in records]
    assert docs[0][0] in urls and docs[2][0] in urls
    assert n_skipped >= 1


def test_corrupt_large_member_leaks_no_partial_plaintext():
    """A corrupt gzip member whose COMPRESSED size exceeds the 1 MiB feed
    chunk decompresses several chunks before the failure — those partial
    bytes must be dropped, not returned: a leaked truncated WARC record's
    Content-Length would swallow the next good member's records."""
    import gzip
    import random

    from ocr_project_spark.sources.warc import (
        gunzip_members_with_stats,
        parse_warc_records_with_stats,
    )
    from datetime import datetime, timezone

    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    # incompressible payload → compressed member ≈ payload size (> 2 feeds)
    rng = random.Random(7)
    big_payload = bytes(rng.randrange(256) for _ in range(3 * (1 << 20)))
    big_record = synthesize_warc_segment(
        [("https://big.example.org/a", ts, big_payload)],
        include_request_records=False,
    )
    big_member = bytearray(gzip.compress(big_record, mtime=0))
    assert len(big_member) > 2 * (1 << 20), "member must span multiple feeds"
    # corrupt near the END so the first feed chunks decompress fine
    for i in range(len(big_member) - 64, len(big_member) - 16):
        big_member[i] ^= 0xFF
    good = synthesize_warc_segment(
        [("https://ok.example.org/b", ts, b"<p>fine</p>")],
        include_request_records=False,
    )
    good_member = gzip.compress(good, mtime=0)
    seg = bytes(big_member) + good_member

    out, n_bad = gunzip_members_with_stats(seg)
    assert n_bad >= 1
    assert big_record[:100] not in out, "partial plaintext of the corrupt member leaked"
    assert good in out, "the good member after the corrupt one must survive"

    records, n_skipped = parse_warc_records_with_stats(seg)
    assert [u for u, _, _ in records] == ["https://ok.example.org/b"]
    assert n_skipped >= 1


def test_wet_segment_roundtrip():
    from ocr_project_spark.sources.warc import (
        build_wet_segment,
        parse_warc_records_with_stats,
    )

    recs = [
        ("https://a.example.org/x.html", "hello world"),
        ("https://b.example.org/y.html", "text with\r\nWARC/ inside"),
        ("https://c.example.org/z.html", ""),
    ]
    seg = build_wet_segment(recs)
    # response-mode parse must skip conversion records entirely
    assert parse_warc_records_with_stats(seg)[0] == []
    back, skipped = parse_warc_records_with_stats(seg, record_types=(b"conversion",))
    assert skipped == 0
    assert [(u, p.decode()) for u, _, p in back] == recs


def test_wet_sink_spark_roundtrip(spark):
    """extraction results → WET segments → parse back: the (url, text) set
    survives byte-identically regardless of batch boundaries."""
    from ocr_project_spark.sources.warc import pages_from_warc, wet_from_results

    rows = [(f"https://h{i}.example.org/d{i}", f"text number {i} alpha beta") for i in range(97)]
    res = spark.createDataFrame(rows, "url string, text string").repartition(7)
    segs = wet_from_results(res)
    assert segs.agg({"n_records": "sum"}).collect()[0][0] == 97
    back = pages_from_warc(segs, content_col="segment", record_types=("conversion",))
    got = {(r["url"], bytes(r["html"]).decode()) for r in back.collect()}
    assert got == set(rows)


def test_wat_segment_roundtrip():
    """WAT-analog metadata records: canonical JSON payload, byte-exact
    framing, payload a pure function of the (url, link set)."""
    import json

    from ocr_project_spark.sources.warc import (
        build_wat_segment,
        parse_warc_records_with_stats,
    )

    recs = [
        ("https://a.example.org/x.html", ["https://b.org/1", "https://c.org/2"]),
        ("https://b.example.org/y.html", []),
    ]
    seg = build_wat_segment(recs)
    # response-mode parse must skip metadata records entirely
    assert parse_warc_records_with_stats(seg)[0] == []
    back, skipped = parse_warc_records_with_stats(seg, record_types=(b"metadata",))
    assert skipped == 0
    assert len(back) == 2
    for (url, links), (got_url, _, payload) in zip(recs, back):
        meta = json.loads(payload)
        assert got_url == url and meta["url"] == url
        assert [l["url"] for l in meta["links"]] == links
        assert all(l["path"] == "A@/href" for l in meta["links"])
    # canonical serialization: same record set → same bytes
    assert build_wat_segment(recs) == seg


def test_wat_sink_spark_roundtrip(spark):
    """pages → WAT segments → parse back: every page gets a metadata
    record (zero-outlink pages included), links survive exactly, and the
    record set is partitioning-invariant."""
    import json

    from ocr_project_spark.sources.warc import pages_from_warc, wat_from_pages

    rows = [
        (
            f"https://h{i}.example.org/d{i}",
            bytearray(
                (
                    f'<p>body</p><a href="https://t{i}.org/a">x</a>'
                    f'<a href="https://t{(i * 3) % 11}.org/b">y</a>'
                    if i % 4
                    else "<p>no links here</p>"
                ).encode()
            ),
        )
        for i in range(23)
    ]
    pages = spark.createDataFrame(rows, "url string, html binary").repartition(5)
    segs = wat_from_pages(pages)
    assert segs.agg({"n_records": "sum"}).collect()[0][0] == 23
    back = pages_from_warc(segs, content_col="segment", record_types=("metadata",))
    got = {
        r["url"]: json.loads(bytes(r["html"]).decode()) for r in back.collect()
    }
    assert len(got) == 23
    for i in range(23):
        url = f"https://h{i}.example.org/d{i}"
        links = [l["url"] for l in got[url]["links"]]
        if i % 4:
            assert links == sorted(
                {f"https://t{i}.org/a", f"https://t{(i * 3) % 11}.org/b"}
            )
        else:
            assert links == []


def test_negative_content_length_resyncs_and_counts():
    """int() parses b'-5' happily — a negative declared length must take
    the malformed-framing resync path, not walk pos backwards."""
    from ocr_project_spark.sources.warc import (
        parse_warc_records_with_stats,
        synthesize_warc_segment,
    )
    from datetime import datetime, timezone

    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    good = synthesize_warc_segment(
        [("https://ok.org/a", ts, b"<p>fine</p>")], include_request_records=False
    )
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad.org/x\r\n"
        b"Content-Length: -5\r\n\r\n"
    )
    records, skipped = parse_warc_records_with_stats(bad + good)
    assert skipped == 1
    assert [u for u, _, _ in records] == ["https://ok.org/a"]


def test_truncated_final_record_counts_not_emits():
    """A record whose declared payload extends past the segment is counted
    in n_skipped and NOT emitted as a silently-truncated document."""
    from ocr_project_spark.sources.warc import (
        parse_warc_records_with_stats,
        synthesize_warc_segment,
    )
    from datetime import datetime, timezone

    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    seg = synthesize_warc_segment(
        [("https://ok.org/a", ts, b"<p>fine</p>")], include_request_records=False
    )
    truncated = seg[: len(seg) - 8]  # cut into the payload bytes
    records, skipped = parse_warc_records_with_stats(truncated)
    assert records == [] and skipped == 1


def test_gzip_member_walk_is_linear_not_quadratic():
    """5000 per-record gzip members must parse in well under a second —
    the old walk copied the remaining segment per member (O(n^2))."""
    import gzip as _gzip
    import io
    import time

    from ocr_project_spark.sources.warc import gunzip_members_with_stats

    member_payload = b"x" * 200
    buf = io.BytesIO()
    one = io.BytesIO()
    with _gzip.GzipFile(fileobj=one, mode="wb", mtime=0) as g:
        g.write(member_payload)
    member = one.getvalue()
    for _ in range(5000):
        buf.write(member)
    data = buf.getvalue()
    t0 = time.monotonic()
    out, n_bad = gunzip_members_with_stats(data)
    dt = time.monotonic() - t0
    assert n_bad == 0 and len(out) == 5000 * len(member_payload)
    assert dt < 2.0, f"member walk took {dt:.2f}s — quadratic copies are back"
