"""Shared fixtures: one local SparkSession per test session.

Mirrors the driver environment: local[$SPARK_GRAFT_CPUS] with the
scale-tuned defaults of ocr_project_spark.session (AQE on, Arrow batches,
UTC). sf0.001 (500 docs) keeps the suite fast; correctness at sf0.01 is the
driver's DuckDB differential gate via __spark_entry__.py.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs whose blocks the session holds (caches and
    checkpoints)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="session")
def spark():
    from ocr_project_spark.session import build_session

    spark = build_session(app_name="ocr-project-spark-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="session")
def pages(spark):
    from ocr_project_spark.datagen import synthesize_pages

    return synthesize_pages(spark, SF_DIR).cache()


@pytest.fixture(scope="session")
def results(pages):
    from ocr_project_spark.pipeline import run_extraction

    return run_extraction(pages).cache()
