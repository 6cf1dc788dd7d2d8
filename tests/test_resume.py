"""Resume/checkpoint idempotence (north rule; SURVEY §4.2, §5 item e).

Run → crash-after-half → rerun must converge to the same result set with no
duplicates, and the rerun must actually skip completed urls (anti-join).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_project_spark.operators.resume import completed_urls, resume_filter
from ocr_project_spark.pipeline import run_extraction, run_job


def test_latest_capture_keeps_newest(spark, pages):
    from ocr_project_spark.operators.resume import latest_capture

    recrawl = pages.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1000 SECONDS")
    )
    corpus = pages.unionByName(recrawl)
    kept = latest_capture(corpus)
    assert kept.count() == pages.count()
    # every kept row is the shifted (newer) capture
    newest = {r["url"]: r["warc_ts"] for r in recrawl.select("url", "warc_ts").collect()}
    got = {r["url"]: r["warc_ts"] for r in kept.select("url", "warc_ts").collect()}
    assert got == newest


def test_resume_filter_skips_done(spark, pages):
    done = pages.select("url").limit(100)
    todo = resume_filter(pages, done)
    assert todo.count() == pages.count() - 100
    assert todo.join(done, "url", "left_semi").count() == 0


def test_resume_filter_cold_start(pages):
    assert resume_filter(pages, None) is pages


def test_completed_urls_missing_dir(spark, tmp_path):
    assert completed_urls(spark, str(tmp_path / "nope")) is None


def test_crash_and_rerun_converges(spark, pages, tmp_path):
    results_path = str(tmp_path / "results")
    full = run_extraction(pages)

    # simulated crash: only half the urls were written in run #1
    partial = full.where(F.xxhash64("url") % 2 == 0)
    partial.write.mode("append").parquet(results_path)
    n_partial = spark.read.parquet(results_path).count()
    assert 0 < n_partial < pages.count()

    # run #2 resumes from the checkpoint
    run_job(spark, pages, results_path)
    final = spark.read.parquet(results_path)
    assert final.count() == pages.count()
    # exactly-once: no url appears twice
    assert final.groupBy("url").count().where(F.col("count") > 1).count() == 0
    # and the recovered rows are identical to a clean full run
    clean = {r["url"]: r["text"] for r in full.select("url", "text").collect()}
    resumed = {r["url"]: r["text"] for r in final.select("url", "text").collect()}
    assert resumed == clean


def test_run_job_crash_rerun_noop(spark, pages, tmp_path):
    """The run-level sequence on the results store: a run that covers half
    the urls (a crash), the full rerun, then a noop rerun — each a real
    run_job with lineage, so the run counter comes from lineage."""
    results_path = str(tmp_path / "results")
    lineage_path = str(tmp_path / "lineage")
    run_job(spark, pages.where(F.xxhash64("url") % 2 == 0), results_path, lineage_path)
    n_partial = spark.read.parquet(results_path).count()
    assert 0 < n_partial < pages.count()

    run_job(spark, pages, results_path, lineage_path)
    run_job(spark, pages, results_path, lineage_path)

    final = spark.read.parquet(results_path)
    assert final.count() == pages.count()
    assert final.groupBy("url").count().where(F.col("count") > 1).count() == 0
    assert {r[0] for r in final.select("run_id").distinct().collect()} == {0, 1}
    lineage = spark.read.parquet(lineage_path)
    assert lineage.select("run_id").distinct().count() == 2
    clean = run_extraction(pages).select("url", "text").collect()
    resumed = final.select("url", "text").collect()
    assert dict(resumed) == dict(clean)


def test_lineage_store_schema_is_lineage_schema_plus_run_id(spark, pages, tmp_path):
    """The lineage store holds exactly ``contract.LINEAGE_SCHEMA`` plus the
    run stamp: same field names, order and types."""
    from pyspark.sql import types as T

    from ocr_project_spark.contract import LINEAGE_SCHEMA

    lineage_path = str(tmp_path / "lineage")
    subset = pages.where(F.xxhash64("url") % 8 == 0)
    run_job(spark, subset, str(tmp_path / "results"), lineage_path)
    stored = spark.read.parquet(lineage_path).schema
    want = [(f.name, f.dataType) for f in LINEAGE_SCHEMA] + [("run_id", T.LongType())]
    assert [(f.name, f.dataType) for f in stored] == want


def test_results_store_dictionary_encodes_only_low_cardinality_columns(
    spark, pages, tmp_path
):
    """The results append keeps parquet dictionary encoding only on the
    low-cardinality columns; the near-unique payload columns are written
    plain. The store still reads back equal to a plain extraction."""
    import glob
    import os

    import pyarrow.parquet as pq

    results_path = str(tmp_path / "results")
    run_job(spark, pages, results_path)
    largest = max(glob.glob(f"{results_path}/*.parquet"), key=os.path.getsize)
    meta = pq.ParquetFile(largest).metadata.row_group(0)
    chunks = {
        meta.column(i).path_in_schema: meta.column(i) for i in range(meta.num_columns)
    }
    plain = (
        "url", "doc_id", "text", "markdown", "source_markdown", "raw_output",
        "boxes_image", "spans.list.element.ref",
    )
    for col in plain:
        assert not chunks[col].has_dictionary_page, col
    for col in ("backend", "file_type", "run_id"):
        assert chunks[col].has_dictionary_page, col

    stored = spark.read.parquet(results_path).drop("run_id", "processing_time")
    clean = run_extraction(pages).drop("processing_time")
    assert stored.count() == clean.count() == pages.count()
    assert stored.exceptAll(clean).count() == 0
    stored_text = dict(stored.select("url", "text").collect())
    assert stored_text == dict(clean.select("url", "text").collect())


def test_damaged_lineage_store_fails_the_run(spark, pages, tmp_path):
    """A store that exists but cannot be read is not a cold start: run_job
    must fail before appending results, not restart run_id at 0. A missing
    path and an empty directory stay cold starts."""
    from py4j.protocol import Py4JJavaError

    from ocr_project_spark.operators.resume import read_parquet_if_exists

    assert read_parquet_if_exists(spark, str(tmp_path / "missing")) is None
    (tmp_path / "empty").mkdir()
    assert read_parquet_if_exists(spark, str(tmp_path / "empty")) is None

    results_path = str(tmp_path / "results")
    run_job(spark, pages.where("doc_id < 100"), results_path, str(tmp_path / "empty"))
    first = spark.read.parquet(results_path)
    assert {r[0] for r in first.select("run_id").distinct().collect()} == {0}
    n_before = first.count()

    damaged = tmp_path / "damaged"
    damaged.mkdir()
    (damaged / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        run_job(spark, pages, results_path, str(damaged))
    assert spark.read.parquet(results_path).count() == n_before


def test_rerun_after_completion_is_noop(spark, pages, tmp_path):
    results_path = str(tmp_path / "results")
    run_job(spark, pages, results_path)
    n1 = spark.read.parquet(results_path).count()
    run_job(spark, pages, results_path)  # everything already done
    assert spark.read.parquet(results_path).count() == n1


def test_latest_capture_equal_ts_tiebreak_deterministic(spark):
    """Equal-timestamp captures with different payloads keep a
    data-determined winner (md5 desc), stable across runs and input order."""
    import hashlib
    from datetime import datetime

    from ocr_project_spark.operators.resume import latest_capture

    ts = datetime(2025, 1, 1, 12, 0, 0)
    payloads = [b"<html>capture-a</html>", b"<html>capture-b</html>"]
    expected = max(payloads, key=lambda p: hashlib.md5(p).hexdigest())
    rows = [("https://x.example.org/p", ts, p) for p in payloads]
    for ordering in (rows, rows[::-1]):
        df = spark.createDataFrame(
            ordering, "url string, warc_ts timestamp, html binary"
        ).repartition(4)
        out = latest_capture(df).collect()
        assert len(out) == 1
        assert bytes(out[0]["html"]) == expected


def test_crawl_delta_all_statuses(spark):
    from ocr_project_spark.operators.resume import crawl_delta

    old = spark.createDataFrame(
        [
            ("u/same", bytearray(b"alpha")),
            ("u/mod", bytearray(b"beta")),
            ("u/dead", bytearray(b"gamma")),
            ("u/null", None),
        ],
        "url string, html binary",
    )
    new = spark.createDataFrame(
        [
            ("u/same", bytearray(b"alpha")),
            ("u/mod", bytearray(b"beta2")),
            ("u/new", bytearray(b"delta")),
            ("u/null", None),
        ],
        "url string, html binary",
    )
    got = {r["url"]: r["status"] for r in crawl_delta(old, new).collect()}
    assert got == {
        "u/same": "unchanged",
        "u/mod": "changed",
        "u/dead": "gone",
        "u/new": "added",
        # NULL payloads count as present; NULL == NULL is unchanged
        "u/null": "unchanged",
    }


def test_crawl_delta_null_payload_transitions(spark):
    from ocr_project_spark.operators.resume import crawl_delta

    old = spark.createDataFrame(
        [("u/a", None), ("u/b", bytearray(b"x"))], "url string, html binary"
    )
    new = spark.createDataFrame(
        [("u/a", bytearray(b"x")), ("u/b", None)], "url string, html binary"
    )
    got = {r["url"]: r["status"] for r in crawl_delta(old, new).collect()}
    assert got == {"u/a": "changed", "u/b": "changed"}
