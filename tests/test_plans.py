"""Plan-contract tests: the physical-plan properties PLANS.md documents,
asserted so a regression (lost pushdown, an extra shuffle, a dropped
broadcast) fails the suite instead of silently shipping.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    """Formatted physical plan of a DataFrame (what .explain prints)."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def n_nodes(plan: str, op: str) -> int:
    """Count physical operators by their detail headers ('(2) Exchange'),
    not raw substrings (each node appears twice in formatted output)."""
    return sum(
        1
        for ln in plan.splitlines()
        if ln.startswith("(") and ln.split(") ", 1)[-1].strip() == op
    )


@pytest.fixture(scope="module")
def results_path(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "results")
    from ocr_project_spark.pipeline import run_extraction

    run_extraction(pages).write.parquet(path)
    return path


def test_extraction_has_single_shuffle_and_pruned_scan(spark, tmp_path_factory):
    """SURVEY §3.1 / PLANS §3: scan pruned to the 4 extraction columns, ONE
    url-hash exchange, narrow MapInPandas, parity fields as a projection."""
    from ocr_project_spark.pipeline import run_extraction

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    from ocr_project_spark.datagen import synthesize_pages

    synthesize_pages(spark, "/root/testdata/sf0.001").write.parquet(path)
    plan = plan_of(run_extraction(spark.read.parquet(path), num_partitions=8))
    assert n_nodes(plan, "Exchange") == 1  # only the url-hash repartition
    assert "xxhash64(url" in plan
    # column pruning reached the scan: none of the pruned columns are read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ("url", "html", "doc_id", "backend"):
        assert col in read_schema
    for col in ("warc_ts", "text:", "lang"):
        assert col not in read_schema
    # round-2 parity fields are a JVM projection above the Python stage
    assert "MapInPandas" in plan and "Project" in plan


def test_resume_antijoin_reads_only_url(spark, pages, results_path):
    """PLANS §2: the done-side scan of the resume anti-join is pruned to the
    url column — the checkpoint payloads are never read."""
    from ocr_project_spark.operators.resume import completed_urls, resume_filter

    done = completed_urls(spark, results_path)
    plan = plan_of(resume_filter(pages, done))
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    done_side = [ln for ln in read_schemas if "url" in ln]
    assert done_side and all("markdown" not in ln for ln in read_schemas)
    assert "LeftAnti" in plan


def test_flagship_rollup_broadcasts_dim_and_partial_aggs(spark):
    """PLANS §4: dimension side broadcast (fact side never shuffles for the
    join), aggregation partial→final."""
    import __spark_entry__ as entry

    plan = plan_of(entry.q_flagship_rollup(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert n_nodes(plan, "HashAggregate") >= 2  # partial + final


def test_filter_pushdown_reaches_parquet(spark):
    """Catalyst pushes the predicate into the parquet scan. Uses a table no
    fixture caches: a cached relation resolves to InMemoryTableScan, which
    has no pushdown surface."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    plan = plan_of(
        orders.where(F.col("o_orderkey") < 100).select("o_orderkey", "o_custkey")
    )
    assert (
        "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)]"
        in plan
    )


def test_lineage_readback_prunes_to_current_run(spark, pages, tmp_path):
    """The per-run lineage pass reads ONLY the current run's rows: the
    run_id equality predicate reaches the parquet scan, so files written by
    prior runs are skipped on their row-group stats — lineage cost is
    proportional to the run, never the accumulated results table."""
    from ocr_project_spark.pipeline import run_job, this_run_results

    results_path = str(tmp_path / "results")
    lineage_path = str(tmp_path / "lineage")
    run_job(spark, pages.where("doc_id < 100"), results_path, lineage_path)
    run_job(spark, pages, results_path, lineage_path)
    rb = this_run_results(spark, results_path, 1)
    plan = plan_of(rb)
    assert "EqualTo(run_id,1)" in plan, plan
    # and the read-back rows really are just the second run's
    assert rb.count() == pages.count() - 100


def test_line_removal_no_cartesian_and_partial_aggs(spark, documents):
    """PLANS §8: line dedup's only wide ops are partial-agg groupBys and
    key joins — never a cartesian product; payloads never shuffle."""
    from ocr_project_spark.dedup import remove_repeated_lines

    plan = plan_of(remove_repeated_lines(documents))
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert "partial_count" in plan or "HashAggregate" in plan


def test_gram_lm_scores_bounded_exchanges(spark, documents):
    """quality_lm's inverted-df pipeline shuffles 16-byte gram rows only:
    groupBy(gram_hash) df build, the df join probe, and the per-doc rollup
    — never a cartesian product, and the text payloads never exchange."""
    from ocr_project_spark.textops import gram_lm_scores

    plan = plan_of(gram_lm_scores(documents))
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert n_nodes(plan, "Exchange") <= 4
    assert "partial_count" in plan or "HashAggregate" in plan


def test_curation_chain_plan_is_linear(spark, tmp_path):
    """jobs/curate.py with every stage on: the frame it writes reads the
    LM gate's checkpoint twice (gram hashing, the keep filter) and the
    input scan once (passthrough columns) — no stage re-reads its whole
    upstream chain, and the gram pass runs once."""
    from ocr_project_spark.jobs.curate import curation_chain, parse_args
    from ocr_project_spark.session import release_checkpoint
    from tests.conftest import SF_DIR

    ev = str(tmp_path / "eval")
    spark.createDataFrame([("unrelated eval passage",)], "text string").write.parquet(ev)
    args = parse_args(
        [
            "--documents", f"{SF_DIR}/documents.parquet",
            "--out", str(tmp_path / "unused"),
            "--drop-repeated-lines", "--c4-clean", "--redact-pii",
            "--decontaminate-against", ev, "--quality-gate", "--lm-gate",
        ]
    )
    held: list = []
    try:
        frame, observations = curation_chain(
            spark, spark.read.parquet(args.documents), args, held
        )
        plan = plan_of(frame)
    finally:
        for df in held:
            release_checkpoint(df)
    assert len(observations) == 4
    assert n_nodes(plan, "MapInPandas") <= 2
    scans = [
        ln for ln in plan.splitlines()
        if ln.startswith("(") and ln.split(") ", 1)[-1].startswith("Scan ")
    ]
    assert len(scans) <= 3, scans


def final_plan(df) -> str:
    """The final adaptive plan of a DataFrame whose action has run."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def subtrees(plan: str, op: str) -> list[str]:
    """Each node whose name holds ``op``, with everything under it, from a
    plan's tree string (children are indented deeper than their parent)."""
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    out = []
    for i, ln in enumerate(lines):
        if op in ln[depth(ln):].split(" ", 1)[0]:
            end = i + 1
            while end < len(lines) and depth(lines[end]) > depth(ln):
                end += 1
            out.append("\n".join(lines[i:end]))
    return out


@pytest.mark.parametrize("max_bucket", [None, 50])
def test_minhash_pairs_run_band_udf_once_and_shingle_only_candidates(
    spark, documents, tmp_path, max_bucket
):
    """PLANS §5: after an action, the final plan holds ONE fused MinHash
    pass, whose band exchange both sides of the bucket self-join read
    (ReusedExchange); the verify joins move raw (doc_id, text) rows and
    shingle above the joins, so no exchange fed by the corpus scan carries
    a shingle projection. Reads a copy no fixture caches: over a cached
    relation the two self-join sides never canonicalize alike."""
    from ocr_project_spark.dedup import minhash_near_dup_pairs

    documents.write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    df = minhash_near_dup_pairs(docs, max_bucket=max_bucket)
    df.collect()
    plan = final_plan(df)
    assert plan.count("MapInPandas") == 1, plan
    assert any(
        "band_hash" in ln for ln in plan.splitlines() if "ReusedExchange" in ln
    ), plan
    verify_side = [
        t for t in subtrees(plan, "Exchange")
        if "Scan" in t and "MapInPandas" not in t
    ]
    assert verify_side, plan
    for t in verify_side:
        assert "array_distinct(transform(sequence(" not in t, t
