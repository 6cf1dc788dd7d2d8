"""Outlink harvest: the href regex over raw html payloads.

The datagen contract plants 3 absolute cross-host links per well-formed
html-arm page (targets doc_id + 7·i — datagen.build_html), so the expected
link set is pure arithmetic; the `warc_sinks` oracle in __spark_entry__.py
replays the same arithmetic in SQL through the WAT sink. Here we pin what
the oracle can't see: the href regex behavior on adversarial payloads,
host parsing, and the pruned JVM-only scan.
"""

from __future__ import annotations

import pytest

from ocr_project_spark.datagen import host_for, is_malformed
from ocr_project_spark.functions.links import extract_outlinks


@pytest.fixture(scope="module")
def links(pages):
    return extract_outlinks(pages).cache()


def test_outlinks_match_datagen_arithmetic(links, documents):
    """Every well-formed html-arm doc emits exactly its 3 planted targets;
    layout-arm and malformed docs emit none."""
    got = {
        (r["src_url"], r["dst_url"])
        for r in links.collect()
    }
    doc_ids = [r["doc_id"] for r in documents.select("doc_id").collect()]
    expected = {
        doc_id: {
            f"https://{host_for(doc_id + 7 * i)}/ref/doc{doc_id + 7 * i}.html"
            for i in (1, 2, 3)
        }
        for doc_id in doc_ids
        if doc_id % 2 == 0 and not is_malformed(doc_id)
    }
    assert len(got) == sum(len(v) for v in expected.values())
    by_src: dict[str, set] = {}
    for src, dst in got:
        by_src.setdefault(src, set()).add(dst)
    for src, dsts in by_src.items():
        doc_id = int(src.rsplit("doc", 1)[1].split(".")[0])
        assert dsts == expected[doc_id]
        assert src.startswith(f"https://{host_for(doc_id)}/")


def test_outlink_hosts_lowercased_and_relative_links_ignored(spark):
    html = (
        '<body><a href="/rel">x</a><a href="HTTPS://MiXeD.Example.COM/p">y</a>'
        '<a href="http://plain.org/q?a=1">z</a></body>'
    ).encode()
    out = extract_outlinks(
        spark.createDataFrame([("https://src.org/a", html)], "url string, html binary")
    ).collect()
    assert {(r["dst_host"], r["dst_url"]) for r in out} == {
        ("mixed.example.com", "HTTPS://MiXeD.Example.COM/p"),
        ("plain.org", "http://plain.org/q?a=1"),
    }
    assert all(r["src_host"] == "src.org" for r in out)


def test_outlink_harvest_covers_real_crawl_anchor_spellings(spark):
    """Real crawl anchors put href after other attributes, single-quote or
    skip the quotes entirely, and mix case — all must harvest; `data-href`
    must NOT (href needs its own whitespace boundary), and an unquoted URL
    stops at whitespace/`>`."""
    html = (
        '<a class="btn" rel=nofollow href="https://attrs.org/a">x</a>'
        "<a href='https://single.org/b'>y</a>"
        "<a href=https://unquoted.org/c>z</a>"
        "<a href = https://spaced.org/d id=k>w</a>"
        '<A HREF="HTTP://UPPER.ORG/E">v</A>'
        '<a data-href="https://fake.org/not-a-link">u</a>'
        "<p>no anchor https://bare.org/text url</p>"
    ).encode()
    out = extract_outlinks(
        spark.createDataFrame([("https://src.org/a", html)], "url string, html binary")
    ).collect()
    assert {r["dst_url"] for r in out} == {
        "https://attrs.org/a",
        "https://single.org/b",
        "https://unquoted.org/c",
        "https://spaced.org/d",
        "HTTP://UPPER.ORG/E",
    }
    assert {r["dst_host"] for r in out} == {
        "attrs.org", "single.org", "unquoted.org", "spaced.org", "upper.org"
    }


def test_link_graph_plan_no_cartesian_and_pruned_scan(spark, pages):
    """The href harvest is a JVM projection over a 2-column scan; nothing
    in the family plans a cartesian product."""
    from tests.test_plans import n_nodes, plan_of

    plan = plan_of(extract_outlinks(pages.select("url", "html")))
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "MapInPandas" not in plan.split("Generate")[0].split("Scan")[0]


def test_outlink_scan_prunes_to_url_and_html(spark, tmp_path_factory):
    """On a parquet-backed pages table the href harvest reads ONLY
    (url, html) — the 100 TB cost is one columnar scan of those columns."""
    from ocr_project_spark.datagen import synthesize_pages
    from tests.test_plans import plan_of

    path = str(tmp_path_factory.mktemp("links") / "pages")
    synthesize_pages(spark, "/root/testdata/sf0.001").write.parquet(path)
    plan = plan_of(extract_outlinks(spark.read.parquet(path)))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "url" in read_schema and "html" in read_schema
    for col in ("warc_ts", "text", "lang", "backend"):
        assert col not in read_schema
    # the harvest itself is JVM-only: no Python/Arrow stage anywhere
    assert "MapInPandas" not in plan and "Exchange" not in plan


def test_malformed_href_and_invalid_utf8_do_not_kill_the_job(spark):
    """ANSI-mode crash-proofing: a non-UTF-8 payload byte and an
    RFC-invalid harvested href must degrade per-row (NULL host), never
    fail the job."""
    html = bytearray(
        b'\xff\xfe<a href="https://ok.org/a">x</a>'
        b'<a href="https://spacey.org/foo bar">y</a>'
        b'<a href="https://bad.org:not-a-port/x">z</a>'
    )
    pages = spark.createDataFrame(
        [("https://src.org/p", html)], "url string, html binary"
    )
    out = extract_outlinks(pages).collect()
    assert {(r["dst_url"], r["dst_host"]) for r in out} == {
        ("https://ok.org/a", "ok.org"),
        # RFC-invalid raw space: harvest truncates at whitespace, keeping
        # the valid prefix (host survives)
        ("https://spacey.org/foo", "spacey.org"),
        # unparseable authority → NULL host, row kept, job alive
        ("https://bad.org:not-a-port/x", None),
    }


def test_wat_sink_collapses_multi_capture_urls(spark):
    """Duplicate urls (multi-capture input) yield ONE metadata record per
    distinct url with the link union across captures."""
    import json

    from ocr_project_spark.sources.warc import pages_from_warc, wat_from_pages

    rows = [
        ("https://h.org/d", bytearray(b'<a href="https://x.org/1">a</a>')),
        ("https://h.org/d", bytearray(b'<a href="https://x.org/2">b</a>')),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    segs = wat_from_pages(pages)
    assert segs.agg({"n_records": "sum"}).collect()[0][0] == 1
    back = pages_from_warc(segs, content_col="segment", record_types=("metadata",))
    recs = back.collect()
    assert len(recs) == 1
    meta = json.loads(bytes(recs[0]["html"]).decode())
    assert [l["url"] for l in meta["links"]] == [
        "https://x.org/1",
        "https://x.org/2",
    ]


def test_outlink_url_with_foreign_quote_harvests_whole(spark):
    """A double-quoted URL containing a single quote (O'Neil paths) — and
    the mirror case — must harvest up to the MATCHING delimiter, not
    truncate at the first foreign quote (round-5 review finding: the
    single shared charclass emitted plausible-but-wrong truncated edges)."""
    html = (
        "<body>"
        '<a href="https://x.org/O\'Neil/page">a</a>'
        "<a href='https://y.org/say_\"hi\"_path'>b</a>"
        "<a href=https://bare.org/plain>c</a>"
        "</body>"
    ).encode()
    out = extract_outlinks(
        spark.createDataFrame(
            [("https://src.org/a", html)], "url string, html binary"
        )
    ).collect()
    assert {r["dst_url"] for r in out} == {
        "https://x.org/O'Neil/page",
        'https://y.org/say_"hi"_path',
        "https://bare.org/plain",
    }
    # three patterns, zero double-counting
    assert len(out) == 3
