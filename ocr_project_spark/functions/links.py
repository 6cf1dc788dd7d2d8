"""Outlink extraction and host-graph analytics (web-corpus curation).

Web curation pipelines (Common Crawl's host-level ranks, RefinedWeb's
URL-level filtering) weight documents by where they sit in the host link
graph: a page on a well-linked host is worth more than one on a link-farm
island. This module turns the raw ``pages(url, html)`` table into that
graph and its standard statistics with pure DataFrame plans:

- :func:`extract_outlinks` — absolute ``<a href>`` harvest as ONE JVM
  regexp projection (``regexp_extract_all`` + ``explode``; no Python, no
  Arrow pass — at 100 TB the href scan rides the same columnar read as
  every other projection and whole-stage codegen fuses it with the scan).
- :func:`host_graph` — (src_host, dst_host, n_links) weighted edge list:
  a single partial-aggregable groupBy, the only shuffle of the family.
- :func:`host_degrees` — per-host fan-out/fan-in (distinct-host degree
  and raw link counts) from two partial aggs over the edge list.
- :func:`host_pagerank` — weighted PageRank by power iteration: each
  round is one hash join (edges ⋈ ranks on src_host) plus one
  partial-aggregable groupBy(dst_host). Rank rows are one scalar per
  HOST (≪ edges); dangling mass is one driver scalar per round, bounded
  by construction like the components checksum (components.py).

Scale shape: edges shuffle once at build time and are reused every
iteration from a localCheckpoint; per-round traffic is the rank table
(one double per host). Hot dst hosts in the contribution groupBy are
AQE-skew-split territory; the groupBy is partial-aggregable so the
map side absorbs most of a hub's fan-in before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# absolute http(s) hrefs only: relative links stay on-host and the crawl
# frontier / host graph both key on absolute targets. Case-insensitive —
# real HTML carries <A HREF= and HTTPS:// spellings — and attribute-order-
# agnostic: real crawl anchors spell <a class=x href=…>, single-quoted,
# and unquoted hrefs, so href may sit after other attributes ([^>]*?) but
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
    row instead of killing the job. :func:`host_graph` drops null-host
    rows; callers that want the loss observable can count them first."""
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


def host_graph(links: DataFrame) -> DataFrame:
    """Outlink rows → weighted host-level edge list
    (src_host, dst_host, n_links). One partial-aggregable groupBy; self
    edges (host linking to itself) are kept — they are real crawl signal
    and both degree and PageRank definitions below handle them. Rows
    whose host failed to parse (NULL from try_parse_url) are dropped
    here: a hostless endpoint has no place in a host graph."""
    return (
        links.where(
            F.col("src_host").isNotNull() & F.col("dst_host").isNotNull()
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def host_degrees(graph: DataFrame) -> DataFrame:
    """Per-host graph statistics from the weighted edge list: distinct-host
    out/in degree and total out/in link counts. Hosts missing from one
    side (pure sources / pure sinks) get zeros via the full outer join."""
    out_side = graph.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.sum("n_links").alias("n_outlinks"),
    )
    in_side = graph.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).alias("in_degree"),
        F.sum("n_links").alias("n_inlinks"),
    )
    return (
        out_side.join(in_side, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("n_outlinks", F.lit(0)).alias("n_outlinks"),
            F.coalesce("n_inlinks", F.lit(0)).alias("n_inlinks"),
        )
    )


def host_pagerank(
    graph: DataFrame, n_iter: int = 3, damping: float = 0.85
) -> DataFrame:
    """Weighted PageRank over the host graph by ``n_iter`` power
    iterations → (host, pagerank).

    Definition (the standard random-surfer form, link weights as
    transition probabilities)::

        rank'(v) = (1-d)/N + d * ( Σ_{u→v} rank(u) · w(u,v)/W(u)
                                   + dangling/N )

    where ``W(u)`` is u's total outlink weight and ``dangling`` is the
    rank mass sitting on hosts with no outlinks (redistributed
    uniformly, so Σ rank = 1 is invariant every round).

    Plan per iteration: edges ⋈ ranks (hash join on src_host) → one
    partial-aggregable groupBy(dst_host) → left join back onto the node
    set for hosts with no inlinks. The edge list (with the w/W ratio
    precomputed) is localCheckpointed once and reused; ranks — one
    double per host — are checkpointed per round so iteration k+1 reads
    a materialized k, not a k-deep lineage. The dangling mass is ONE
    driver scalar per round (bounded by construction)."""
    out_w = graph.groupBy("src_host").agg(F.sum("n_links").alias("w_total"))
    edges = (
        graph.join(out_w, "src_host")
        .select(
            "src_host",
            "dst_host",
            (F.col("n_links").cast("double") / F.col("w_total")).alias("ratio"),
        )
        .localCheckpoint()
    )
    # node set from the CHECKPOINTED edges — the caller's (possibly
    # expensive, uncached) graph lineage is computed exactly once, at the
    # edges checkpoint above
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        edges.unpersist()
        return nodes.withColumn("pagerank", F.lit(0.0))
    # derive the non-dangling set from the CHECKPOINTED edges, not from
    # the caller's graph lineage — otherwise every per-iteration dangling
    # collect would recompute the whole upstream scan/harvest/groupBy
    sources = edges.select(F.col("src_host").alias("host")).distinct()
    ranks = nodes.withColumn("pagerank", F.lit(1.0 / n)).localCheckpoint()
    base = (1.0 - damping) / n
    try:
        for _ in range(n_iter):
            dangling = (
                ranks.join(sources, "host", "left_anti")
                .agg(F.coalesce(F.sum("pagerank"), F.lit(0.0)))
                .collect()[0][0]
            )
            contribs = (
                edges.join(ranks, edges["src_host"] == ranks["host"])
                .groupBy("dst_host")
                .agg(F.sum(F.col("pagerank") * F.col("ratio")).alias("contrib"))
            )
            new_ranks = (
                nodes.join(contribs, nodes["host"] == contribs["dst_host"], "left")
                .select(
                    "host",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (
                            F.coalesce("contrib", F.lit(0.0))
                            + F.lit(dangling / n)
                        )
                    ).alias("pagerank"),
                )
                .localCheckpoint()
            )
            ranks.unpersist()
            ranks = new_ranks
    finally:
        # the returned ranks are checkpointed (lineage already truncated),
        # so the build-time node/edge blocks can be released — repeated
        # calls in one session must not accrue cached blocks
        nodes.unpersist()
        edges.unpersist()
    return ranks
