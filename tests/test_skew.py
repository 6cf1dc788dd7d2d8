"""Skew-defusal tests (north rule: url-hash bucketing + salted host aggs).

The datagen plants a hot host holding 30% of all urls; url-hash placement
must spread it across partitions deterministically, and the salted two-stage
host aggregation must produce exact counts with bounded reducer keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_project_spark.datagen import HOT_HOST
from ocr_project_spark.operators.skew import (
    hot_hosts,
    salted_host_counts,
    salted_repartition,
    with_host,
)

N_PARTS = 8


def test_hot_host_detected(pages):
    hosts = [r["host"] for r in hot_hosts(pages).collect()]
    assert HOT_HOST in hosts


def test_salted_repartition_spreads_hot_host(pages):
    parts = salted_repartition(pages, N_PARTS)
    dist = (
        parts.withColumn("pid", F.spark_partition_id())
        .where(F.col("url").contains(HOT_HOST))
        .groupBy("pid")
        .count()
        .collect()
    )
    # the hot host (30% of rows) must spread over every partition — a
    # host-keyed placement would collapse it onto exactly one
    assert len(dist) == N_PARTS
    counts = [r["count"] for r in dist]
    assert max(counts) < 2 * sum(counts) / N_PARTS


def test_salted_repartition_bounds_max_partition(pages):
    parts = salted_repartition(pages, N_PARTS)
    sizes = [
        r["count"]
        for r in parts.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    ]
    total = sum(sizes)
    assert len(sizes) == N_PARTS
    # uniform url-hash placement: max partition within 1.5× the ideal share
    assert max(sizes) <= 1.5 * total / N_PARTS


def test_salted_repartition_deterministic(pages):
    def placement():
        return {
            r["url"]: r["pid"]
            for r in salted_repartition(pages, N_PARTS)
            .withColumn("pid", F.spark_partition_id())
            .select("url", "pid")
            .collect()
        }

    assert placement() == placement()


def test_salted_repartition_preserves_rows(pages):
    parts = salted_repartition(pages, N_PARTS)
    assert parts.count() == pages.count()
    assert set(parts.columns) == set(pages.columns)


def test_host_stats_exact(pages):
    """Salted min/max/count host stats equal the plain groupBy results."""
    from ocr_project_spark.operators.skew import host_stats

    expected = {
        r["host"]: (r["n"], r["f"], r["l"])
        for r in with_host(pages)
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("warc_ts").alias("f"),
            F.max("warc_ts").alias("l"),
        )
        .collect()
    }
    got = {
        r["host"]: (r["n_urls"], r["first_ts"], r["last_ts"])
        for r in host_stats(pages).collect()
    }
    assert got == expected


def test_salted_host_counts_exact(pages):
    """The salted two-stage aggregation returns exactly the plain groupBy
    counts (salting must never change results, only key distribution)."""
    expected = {
        r["host"]: r["n"]
        for r in with_host(pages)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r["host"]: r["n_urls"] for r in salted_host_counts(pages).collect()}
    assert got == expected
    assert got[HOT_HOST] > 0.25 * sum(expected.values())


def test_hot_hosts_is_lazy_one_pass(spark):
    """hot_hosts must not run an eager count() action at construction time
    (ADVICE r2): building the DataFrame launches zero Spark jobs, and the
    total rides the same aggregation as the per-host counts."""
    from ocr_project_spark.operators.skew import hot_hosts

    rows = [(f"https://h{i % 3}.example.org/p{i}",) for i in range(60)]
    df = spark.createDataFrame(rows, "url string")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup())
    hot = hot_hosts(df, threshold=0.2)
    assert len(tracker.getJobIdsForGroup()) == before  # no job yet
    assert {r["host"] for r in hot.collect()} == {
        "h0.example.org",
        "h1.example.org",
        "h2.example.org",
    }
    assert hot_hosts(df, threshold=0.5).collect() == []


def test_with_host_tolerates_invalid_urls(spark):
    """ANSI-mode crash-proofing: an RFC-invalid crawl url gets a NULL host
    group instead of killing host aggregation."""
    from ocr_project_spark.operators.skew import with_host

    df = spark.createDataFrame(
        [("https://ok.org/a",), ("https://bad host/with space",)], "url string"
    )
    rows = {r["url"]: r["host"] for r in with_host(df).collect()}
    assert rows["https://ok.org/a"] == "ok.org"
    assert rows["https://bad host/with space"] is None

