"""Checkpoint/resume via anti-join on completed work (north rule; SURVEY §4.2).

The production design is an Iceberg results table whose snapshot is the
checkpoint; completed urls are skipped with a ``left_anti`` join against the
already-written results (predicate/partition pruning reaches the scan through
Catalyst). This sandbox has no Iceberg runtime, so the same mechanics run
over parquet directories — the operator code is storage-agnostic: it only
needs "a DataFrame of completed urls".

Exactly-once: the anti-join filters *before* extraction, and the writer
appends per partition; a re-run after a crash recomputes only missing urls,
and the union of appends is deduplicated by construction (a url is processed
by exactly one run). Idempotence is covered by tests/test_resume.py.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

# Analysis errors that mean "no store yet": the path is missing, or it is a
# directory with no parquet file to infer a schema from.
_COLD_START_CONDITIONS = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet directory, or None if it does not exist / is empty.

    Probing by attempting the read (and catching the analysis error) instead
    of a driver-local ``os.path`` check keeps the resume/lineage machinery
    portable to HDFS/S3 paths, where the driver's local filesystem knows
    nothing about the store.

    Any other error propagates: a store whose files cannot be read is
    damaged, not absent, and treating it as a cold start would restart the
    run counter and re-extract every url.
    """
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _COLD_START_CONDITIONS:
            return None
        raise


def completed_urls(spark: SparkSession, results_path: str) -> DataFrame | None:
    """Read the url column of prior results, or None on a cold start.

    Column pruning matters at scale: only ``url`` is read from the results
    store (check ``ReadSchema`` in the explain output), never the payloads.
    """
    prior = read_parquet_if_exists(spark, results_path)
    return None if prior is None else prior.select("url")


def latest_capture(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
) -> DataFrame:
    """Recrawl dedup: keep only the newest capture per url.

    Real crawls contain the same url many times (one row per fetch,
    distinguished by ``warc_ts``); extraction wants exactly one. Window
    ``row_number`` over (url, ts desc) — the shuffle hash-partitions on url,
    the same key the pipeline already buckets by, so at scale this folds
    into the existing url-hash exchange. Two captures with equal
    second-granularity timestamps but different payloads tie-break on a
    content hash of the payload (md5 desc), so the winner is a pure function
    of the data, never of run-dependent row order — the resume-determinism
    invariant (a re-run must extract the same text per url).
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).desc()]
    if payload_col in pages.columns:
        order.append(F.md5(F.col(payload_col)).desc())
    w = Window.partitionBy(url_col).orderBy(*order)
    return (
        pages.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def crawl_delta(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    payload_col: str = "html",
) -> DataFrame:
    """CDX-style snapshot delta: (url, status) for every url in either
    snapshot, status ∈ {added, gone, changed, unchanged}.

    The incremental-crawl planning primitive: a recrawl only needs to
    re-extract `added` ∪ `changed`, and `gone` rows drive tombstoning.
    Precondition: one row per url per snapshot (run :func:`latest_capture`
    first on raw capture sets). Scale shape: payloads reduce to 16-byte
    md5 digests BEFORE the full-outer shuffle join on url — the natural
    pipeline key — so snapshot content never crosses the exchange."""
    # explicit presence markers: a url with a NULL payload must still count
    # as present (md5(NULL) is NULL, so digest nullability can't mark it)
    o = old.select(
        F.col(url_col).alias("url"),
        F.md5(F.col(payload_col)).alias("__old"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(url_col).alias("url"),
        F.md5(F.col(payload_col)).alias("__new"),
        F.lit(True).alias("__in_new"),
    )
    return o.join(n, "url", "full_outer").select(
        "url",
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "gone")
        .when(~F.col("__old").eqNullSafe(F.col("__new")), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


def resume_filter(pages: DataFrame, done: DataFrame | None) -> DataFrame:
    """Skip already-completed urls with a left anti-join.

    With AQE on, Spark converts the anti-join to a broadcast join at runtime
    when the done-side is small. At 100 TB the done set is large, and the
    sort-merge anti-join on the url key is the correct shape — both sides
    hash-partition on url and nothing else is shuffled.
    """
    if done is None:
        return pages
    return pages.join(done.select("url").distinct(), "url", "left_anti")
