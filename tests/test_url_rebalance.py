"""The extraction's url-hash rebalance (operators/skew.url_hash_rebalance).

Rows go into ``num_buckets`` deterministic url-hash buckets; AQE then packs
small buckets into one task. With coalescing off every bucket is its own
partition, so placement can be checked bucket by bucket; with it on (the
session default) a small ``run_job`` append writes fewer files than it has
buckets.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from ocr_project_spark.datagen import HOT_HOST
from ocr_project_spark.operators.skew import url_hash_rebalance

from tests.test_plans import n_nodes, plan_of

N_BUCKETS = 8
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def test_url_hash_rebalance_buckets_without_coalescing(spark, pages):
    before = spark.conf.get(COALESCE)
    spark.conf.set(COALESCE, "false")
    try:

        def placement():
            return {
                r["url"]: r["pid"]
                for r in url_hash_rebalance(pages, N_BUCKETS)
                .select("url", F.spark_partition_id().alias("pid"))
                .collect()
            }

        first = placement()
        assert placement() == first  # deterministic url → bucket
    finally:
        spark.conf.set(COALESCE, before)

    assert sorted(first) == sorted(r["url"] for r in pages.select("url").collect())
    sizes = [0] * N_BUCKETS
    hot_buckets = set()
    for url, pid in first.items():
        sizes[pid] += 1
        if HOT_HOST in url:
            hot_buckets.add(pid)
    # the hot host (30% of rows) spreads over every bucket, and url-hash
    # placement keeps the largest bucket near the ideal share
    assert hot_buckets == set(range(N_BUCKETS))
    assert max(sizes) <= 1.5 * len(first) / N_BUCKETS


def test_run_job_packs_buckets_into_fewer_files(spark, pages, tmp_path, monkeypatch):
    """16 url-hash buckets of a 500-page append are packed by AQE into
    fewer tasks, so fewer than 16 results files; one row per url."""
    from ocr_project_spark import pipeline

    run_extraction, extracted = pipeline.run_extraction, []

    def recording(*args, **kwargs):
        extracted.append(run_extraction(*args, **kwargs))
        return extracted[-1]

    monkeypatch.setattr(pipeline, "run_extraction", recording)
    results_path = str(tmp_path / "results")
    pipeline.run_job(spark, pages, results_path, num_partitions=16)

    assert len(extracted) == 1
    plan = plan_of(extracted[0])
    assert n_nodes(plan, "Exchange") == 1
    exchange = [ln for ln in plan.splitlines() if "REBALANCE_PARTITIONS_BY_COL" in ln]
    assert len(exchange) == 1 and "hashpartitioning(__bucket" in exchange[0]
    assert "xxhash64(url" in plan and "AS __bucket" in plan

    files = list(Path(results_path).glob("*.parquet"))
    assert 0 < len(files) < 16
    out = spark.read.parquet(results_path)
    n_pages = pages.count()
    assert out.count() == n_pages
    assert out.select("url").distinct().count() == n_pages
