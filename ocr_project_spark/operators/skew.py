"""Url-hash bucketing with salted host-key aggregation (north rule; SURVEY §4.1).

At 10^12 documents, host-level skew is the dominant hazard: one hot domain
can hold millions of pages. Two distinct mechanisms defuse it:

1. **Row placement** (`url_hash_rebalance`): rows go into url-hash buckets
   by ``xxhash64(url)`` — urls are unique, so placement is uniform by
   construction and a hot host's pages spread across *all* buckets (this
   is the salting effect the north rule's "bucketed by url-hash with salted
   repartitioning" asks for at the extraction stage: no executor ever owns a
   whole domain). Bucket placement is a pure function of (url,
   num_buckets), so re-runs place every url identically — required for
   resume determinism. The exchange is a rebalance, so AQE packs adjacent
   small buckets into one task and splits an oversized one: the bucket
   count is an upper bound on tasks, and an append runs as many tasks as
   its bytes need. With AQE off every bucket is its own partition.
   `salted_repartition` is the same placement as a fixed-N exchange.
   An earlier design bucketed by ``xxhash64(host)``; with far fewer distinct
   hosts than partitions that *creates* stragglers (measured 4× slowdown at
   local[32] on the synthetic corpus) — keys must outnumber partitions.

2. **Host-keyed aggregation** (`salted_host_agg` / `salted_host_counts`):
   when a downstream stage genuinely groups by host (per-host stats), a
   plain ``groupBy(host)`` sends every hot-host row to one reducer. The
   classic fix: a deterministic per-url salt for hot hosts → partial
   ``groupBy(host, salt)`` → final ``groupBy(host)``. The second stage
   shuffles one row per (host, salt) — bounded by ``salt_buckets``,
   independent of the hot host's row count. (Catalyst's
   partial aggregation already bounds *count-like* aggs; explicit salting is
   the general pattern that also covers collect/median-style aggs and is
   kept as the documented scale path.)

AQE (``spark.sql.adaptive.enabled`` + skewJoin) stays on as the runtime
backstop for join skew.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_HOT_THRESHOLD = 0.01  # a host holding >1% of all rows is "hot"
DEFAULT_SALT_BUCKETS = 16


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    # try_parse_url: an RFC-invalid crawl url (WARC-Target-URI is untrusted)
    # gets a NULL host group instead of failing the job under ANSI mode
    return df.withColumn(
        "host", F.expr(f"try_parse_url({url_col}, 'HOST')")
    )


def hot_hosts(
    df: DataFrame, url_col: str = "url", threshold: float = DEFAULT_HOT_THRESHOLD
) -> DataFrame:
    """Hosts whose row share exceeds ``threshold`` — a small aggregate meant
    to be collected/broadcast (bounded by the number of distinct hot domains,
    which is tiny by construction of the threshold).

    One pass over the input, fully lazy: the denominator is a re-aggregation
    of the per-host counts (one row per host, never the raw rows) cross-joined
    back as a broadcast 1-row total, so both sides share the same shuffle
    (Catalyst ReusedExchange) instead of the old separate eager ``count()``
    action scanning the input a second time."""
    counts = (
        with_host(df, url_col)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    total = counts.agg(F.sum("__n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("__n") > F.col("__total") * threshold)
        .select("host")
    )


def salted_repartition(
    df: DataFrame, num_partitions: int, url_col: str = "url"
) -> DataFrame:
    """Deterministic uniform repartition on the url hash (shuffle-once).

    ``xxhash64(url)`` has ~row-count distinct values, so partitions balance
    to the multinomial limit regardless of host skew, and every url lands on
    the same partition across re-runs (resume determinism)."""
    return df.repartition(num_partitions, F.xxhash64(F.col(url_col)))


def url_hash_rebalance(
    df: DataFrame, num_buckets: int, url_col: str = "url"
) -> DataFrame:
    """Rebalance into ``num_buckets`` deterministic url-hash buckets.

    The same bucket placement as :func:`salted_repartition`, but through a
    ``REBALANCE_PARTITIONS_BY_COL`` exchange, which AQE may coalesce or
    split: tasks ≤ buckets, sized by bytes. The hint takes column names,
    not expressions, hence the helper column; it is dropped before any
    consumer sees the rows."""
    return (
        df.withColumn("__bucket", F.xxhash64(F.col(url_col)))
        .hint("rebalance", num_buckets, "__bucket")
        .drop("__bucket")
    )


def host_salt(
    url_col: str = "url",
    hot_col: str = "__is_hot",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> Column:
    """Deterministic per-url salt: spreads hot-host rows over
    ``salt_buckets`` partial-aggregation keys, keeps cold hosts on salt 0."""
    return F.when(
        F.col(hot_col), F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
    ).otherwise(F.lit(0))


def salted_host_agg(
    df: DataFrame,
    partial_aggs: Sequence[Column],
    final_aggs: Callable[[], Sequence[Column]],
    url_col: str = "url",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Two-stage host aggregation with hot-host salting.

    ``partial_aggs`` aggregate within (host, salt); ``final_aggs()`` combine
    the ≤ ``salt_buckets`` partials per host. ``hot`` is the broadcastable
    hot-host set from :func:`hot_hosts` (computed inline when omitted)."""
    if hot is None:
        hot = hot_hosts(df, url_col)
    marked = with_host(df, url_col).join(
        F.broadcast(hot.withColumn("__hot", F.lit(True))), "host", "left"
    )
    salted = marked.withColumn("__is_hot", F.col("__hot").isNotNull()).withColumn(
        "__salt", host_salt(url_col, "__is_hot", salt_buckets)
    )
    partial = salted.groupBy("host", "__salt").agg(*partial_aggs)
    return partial.groupBy("host").agg(*final_aggs())


def host_stats(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Per-host crawl stats (url count + first/last capture time) via the
    salted two-stage aggregation — the politeness/recrawl-budget input a
    crawl pipeline derives per domain. Min/max/count all decompose into
    partial + final, so the hot-host reducer key stays bounded."""
    return salted_host_agg(
        df.select(url_col, ts_col),
        partial_aggs=[
            F.count(F.lit(1)).alias("__n"),
            F.min(ts_col).alias("__first"),
            F.max(ts_col).alias("__last"),
        ],
        final_aggs=lambda: [
            F.sum("__n").alias("n_urls"),
            F.min("__first").alias("first_ts"),
            F.max("__last").alias("last_ts"),
        ],
        url_col=url_col,
        salt_buckets=salt_buckets,
        hot=hot,
    )


def salted_host_counts(
    df: DataFrame,
    url_col: str = "url",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Per-host url counts via the salted two-stage aggregation."""
    return salted_host_agg(
        df,
        partial_aggs=[F.count(F.lit(1)).alias("__partial")],
        final_aggs=lambda: [F.sum("__partial").alias("n_urls")],
        url_col=url_col,
        salt_buckets=salt_buckets,
        hot=hot,
    )
