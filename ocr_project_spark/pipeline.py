"""End-to-end extraction pipeline (SURVEY §3.1 "Spark rebuild" plan):

    read pages → validate/dispatch → anti-join resume → url-hash rebalance
    → mapInPandas extraction → results + lineage sinks

One logical plan; Catalyst handles staging. The only shuffles are the
(optional) url-hash rebalance and the resume anti-join — extraction itself
is narrow and the lineage aggregation is a partial-agg-friendly groupBy.
The results append runs in the same stage as the extraction, and its
parquet writer dictionary-encodes only the low-cardinality columns
(``DICTIONARY_COLUMNS``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_project_spark.operators.extract import extract_documents
from ocr_project_spark.operators.lineage import lineage_rows
from ocr_project_spark.operators.resume import (
    completed_urls,
    read_parquet_if_exists,
    resume_filter,
)
from ocr_project_spark.operators.skew import url_hash_rebalance

# Half-open circuit-breaker probe: while a backend's breaker is open, urls
# with crc32(url) % HALF_OPEN_PROBE_MOD == 0 (a deterministic ~1/16 sample,
# a pure function of the url — never rand()) still run its kernel each
# breaker-enabled pass, so recovery evidence can re-enter the lineage and
# close the breaker without an operator manually disabling it.
HALF_OPEN_PROBE_MOD = 16

# Rows per results file: bounds output file sizes so the results table stays
# scan-friendly at 100 TB (no multi-GB files from fat partitions, no planner
# pressure from tiny ones).
MAX_RECORDS_PER_FILE = 500_000

# Parquet dictionary encoding only on the low-cardinality result columns.
# The rest (url, text, markdown, raw_output, ...) are near-unique per row: a
# dictionary of them hashes every value for no saving, and at
# MAX_RECORDS_PER_FILE rows it outgrows its page and falls back to plain.
DICTIONARY_COLUMNS = ("backend", "file_type", "error", "run_id")
RESULTS_WRITE_OPTIONS = {
    "maxRecordsPerFile": MAX_RECORDS_PER_FILE,
    "parquet.enable.dictionary": "false",
    **{f"parquet.enable.dictionary#{c}": "true" for c in DICTIONARY_COLUMNS},
}


def run_extraction(
    pages: DataFrame,
    num_partitions: int | None = None,
    model_loaded: dict | None = None,
) -> DataFrame:
    """pages → unified results DataFrame (lazy; caller writes/aggregates).
    ``num_partitions`` first rebalances the pages into that many url-hash
    buckets (``operators/skew.url_hash_rebalance``): an upper bound on the
    extraction tasks, since AQE packs small buckets into one task. Without
    it the input partitioning is kept."""
    if num_partitions:
        pages = url_hash_rebalance(pages, num_partitions)
    return extract_documents(pages, model_loaded=model_loaded)


def this_run_results(
    spark: SparkSession, results_path: str, run_id: int
) -> DataFrame:
    """Read back ONLY one run's rows from the results table: the run_id
    equality predicate pushes into the parquet scan, and every file written
    by another run is skipped on its row-group statistics (min = max =
    that run's id) — so the per-run lineage pass costs I/O proportional to
    the RUN, not to the accumulated 100 TB results table
    (plan-asserted in tests/test_plans.py)."""
    return spark.read.parquet(results_path).where(F.col("run_id") == run_id)


def _next_run_id(lineage_prior: DataFrame | None) -> int:
    """Deterministic monotone run counter derived from the (tiny) lineage
    table — never wall-clock or random (resume determinism).

    The counter deliberately reads lineage, not the results table (that
    would re-scan accumulated output): if a run crashes AFTER its results
    append but BEFORE its lineage append, the rerun reuses the same
    run_id and its lineage pass aggregates the crashed run's rows along
    with its own — which is convergent, not double-counted, because the
    crashed run never wrote lineage for those rows and the resume
    anti-join prevents re-extracting them."""
    if lineage_prior is None or "run_id" not in lineage_prior.columns:
        return 0
    prev = lineage_prior.agg(F.max("run_id")).collect()[0][0]
    return 0 if prev is None else int(prev) + 1


def run_job(
    spark: SparkSession,
    pages: DataFrame,
    results_path: str,
    lineage_path: str | None = None,
    num_partitions: int | None = None,
    circuit_breaker: bool = False,
) -> None:
    """Resumable batch job: skip completed urls, extract, append results and
    lineage. Crash-and-rerun converges to the same result set (see
    tests/test_resume.py). ``num_partitions`` is the url-hash bucket count
    of the extraction (see ``run_extraction``); the append writes one
    results file per task that AQE packs from the buckets, so a small
    append writes few files. Results files hold at most
    ``MAX_RECORDS_PER_FILE`` rows and dictionary-encode only
    ``DICTIONARY_COLUMNS``.

    Lineage is INCREMENTAL: each run stamps its rows with a monotone
    ``run_id``, reads back only its own rows (parquet row-group stats skip
    every other run's files), and APPENDS its per-(partition, backend)
    lineage — the accumulated results table is never re-scanned, and
    ``health_rollup`` aggregates the appends (it already partial-aggs).

    ``circuit_breaker=True`` replays the accumulated lineage through the R3
    health state machine (operators/lineage.circuit_breaker_gate) and
    short-circuits a tripped backend's rows to the model-not-loaded shape
    instead of running its kernel — EXCEPT a deterministic
    ~1/``HALF_OPEN_PROBE_MOD`` url sample (the half-open probe), which still
    runs so the breaker can observe recovery and close itself: probe
    successes are real results (checkpointed + healthy lineage), probe
    failures are treated as infrastructure evidence — lineage only, never
    checkpointed, so the urls retry once the backend recovers."""
    lineage_prior = (
        read_parquet_if_exists(spark, lineage_path) if lineage_path else None
    )
    model_loaded = None
    if circuit_breaker and lineage_prior is not None:
        from ocr_project_spark.operators.lineage import circuit_breaker_gate

        model_loaded = circuit_breaker_gate(lineage_prior)
    run_id = _next_run_id(lineage_prior)
    todo = resume_filter(pages, completed_urls(spark, results_path))

    from ocr_project_spark.contract import ERR_MODEL_NOT_LOADED

    probe_results = None
    probe_fail_lineage = None
    tripped = [b for b, ok in (model_loaded or {}).items() if not ok]
    parts: list[DataFrame] = []
    if tripped:
        is_probe = F.col("backend").isin(tripped) & (
            F.crc32(F.col("url")) % HALF_OPEN_PROBE_MOD == 0
        )
        # the probe set is bounded (~todo/HALF_OPEN_PROBE_MOD of the tripped
        # backend only), so persisting it for the dual success/failure use is
        # cheap.
        # Probe FAILURES are deliberately infra evidence, never checkpointed
        # results: under an open breaker a failure cannot be attributed to
        # the document (the reference's down-backend errors mask document
        # status), so the url stays retryable until the breaker closes —
        # the trade-off is that a genuinely-malformed probe doc re-probes
        # each breaker-open run (~1/HALF_OPEN_PROBE_MOD) until recovery.
        probe_results = run_extraction(
            todo.where(is_probe), num_partitions=num_partitions
        ).persist()
        parts.append(probe_results.where(F.col("success")))
        probe_fail_lineage = lineage_rows(probe_results.where(~F.col("success")))
        todo = todo.where(~is_probe)

    rest = run_extraction(
        todo, num_partitions=num_partitions, model_loaded=model_loaded
    )
    # Model-not-loaded is an *infrastructure* condition (breaker open /
    # backend down), not a property of the document — checkpointing such a
    # row would permanently exclude the url from re-extraction because
    # completed_urls marks every written url done. Skipped rows are simply
    # not appended, so the next run with a healthy backend retries exactly
    # those urls and the result set converges (tests/test_pipeline.py
    # breaker recovery tests). Document-level failures (malformed payload,
    # invalid backend/mode) ARE results and stay checkpointed.
    rest = rest.where(
        F.col("error").isNull() | (F.col("error") != F.lit(ERR_MODEL_NOT_LOADED))
    )
    parts.append(rest)
    results = parts[0]
    for extra in parts[1:]:
        results = results.unionByName(extra)
    results = results.withColumn("run_id", F.lit(run_id).cast("long"))

    try:
        results.write.mode("append").options(**RESULTS_WRITE_OPTIONS).parquet(
            results_path
        )
        if lineage_path:
            lin = lineage_rows(this_run_results(spark, results_path, run_id))
            if probe_fail_lineage is not None:
                lin = lin.unionByName(probe_fail_lineage)
            lin.withColumn("run_id", F.lit(run_id).cast("long")).write.mode(
                "append"
            ).parquet(lineage_path)
    finally:
        if probe_results is not None:
            probe_results.unpersist()
