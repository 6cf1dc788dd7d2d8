"""Lineage emission and health rollup (SURVEY §2.2 R3/R5/R6).

The reference polls live ``/health`` endpoints and keeps consecutive-failure
counters (reference: orchestrator/server.py:60-109, 339-380); the batch
analog is a lineage table — one row per (url bucket, backend) with doc/byte
counts — and plain aggregations over it. Partial aggregation (map-side
combine) comes free from Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Health rollup thresholds: the reference marks a backend unhealthy after 3
# consecutive failures and healthy after 2 passes (orchestrator/config.py:38-42);
# the batch analog grades the failure *rate* of the completed run.
DEGRADED_RATE = 0.01
UNHEALTHY_RATE = 0.5

# R3 circuit-breaker state machine constants (orchestrator/config.py:40-41).
FAILURE_THRESHOLD = 3  # consecutive failures before marking unhealthy
SUCCESS_THRESHOLD = 2  # consecutive successes before marking healthy


# The range of lineage ``part_id``: url buckets per run and backend, each
# one breaker health check.
LINEAGE_BUCKETS = 16


def lineage_rows(results: DataFrame) -> DataFrame:
    """Per-(url bucket, backend) lineage: doc count, success/failure split,
    extracted byte count. ``part_id`` is ``pmod(xxhash64(url),
    LINEAGE_BUCKETS)``, so the same rows give the same lineage at any core
    count or read-back packing. The hash is not crc32, so the half-open
    probe sample (``crc32(url) % HALF_OPEN_PROBE_MOD`` in pipeline.run_job)
    spreads over many buckets instead of one.
    """
    return (
        results.withColumn(
            "part_id",
            F.pmod(F.xxhash64("url"), F.lit(LINEAGE_BUCKETS)).cast("int"),
        )
        .groupBy("part_id", "backend")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("success").cast("long")).alias("n_success"),
            F.sum((~F.col("success")).cast("long")).alias("n_failed"),
            F.sum("n_bytes").alias("n_bytes"),
            # P8 analog: per-doc kernel time summed per bucket. The rows'
            # processing_time is a time.perf_counter() delta, so despite its
            # name this column holds wall seconds, not CPU seconds (timing
            # lives in lineage, not in per-row identity checks).
            F.sum("processing_time").alias("cpu_seconds"),
        )
    )


def health_rollup(lineage: DataFrame) -> DataFrame:
    """R5 — per-backend status from lineage counts (the all/any rollup of
    orchestrator/server.py:361-365 re-expressed as a rate-graded agg)."""
    agg = lineage.groupBy("backend").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_success").alias("n_success"),
        F.sum("n_failed").alias("n_failed"),
        F.sum("n_bytes").alias("n_bytes"),
    )
    fail_rate = F.col("n_failed") / F.col("n_docs")
    return agg.withColumn(
        "status",
        F.when(fail_rate >= UNHEALTHY_RATE, F.lit("unhealthy"))
        .when(fail_rate > DEGRADED_RATE, F.lit("degraded"))
        .otherwise(F.lit("healthy")),
    )


def circuit_breaker_gate(lineage: DataFrame) -> dict[str, bool]:
    """R3 circuit-breaker analog: replay the reference's per-backend health
    state machine (orchestrator/server.py:85-109 consecutive-failure
    counters, thresholds orchestrator/config.py:38-42) over a prior run's
    lineage, url-bucket order standing in for poll order. A bucket with
    zero successes and ≥1 failure is a failed health check; a backend whose
    trailing run reaches ``FAILURE_THRESHOLD`` consecutive failed buckets
    trips open (skipped — its next-run rows short-circuit to the
    model-not-loaded shape) and closes again after ``SUCCESS_THRESHOLD``
    consecutive healthy buckets. With the incremental lineage table
    (one append per run, stamped with a monotone ``run_id``), the replay
    walks (run_id, part_id) order — so healthy half-open-probe buckets
    appended by a later breaker-enabled run close the breaker without any
    manual intervention.

    The replay runs IN Spark, not on the driver: the final breaker state is
    exactly "which decisive streak completed last" — a run of
    ``FAILURE_THRESHOLD`` consecutive failed checks opens the breaker, a run
    of ``SUCCESS_THRESHOLD`` consecutive healthy checks closes it, and
    between decisive events the state holds — so gaps-and-islands over the
    ordered check sequence (windowed per backend, executor-side) yields the
    verdict and the driver collects exactly one row per backend, regardless
    of how many runs of lineage history have accumulated.
    """
    from pyspark.sql.window import Window

    has_run = "run_id" in lineage.columns
    # (n_success, n_failed) tie-breakers: one run can append two rows with
    # the SAME (run_id, part_id) for a backend (result lineage + probe-fail
    # lineage bucket their own urls into the same part_id range), and a
    # nondeterministic tie order could flip which decisive streak completes
    # last — the gate verdict must be a pure function of the lineage rows
    # (resume determinism), so the order replays the old driver-side sort
    # tuple exactly: (run_id, part_id, n_success, n_failed).
    order_cols = (["run_id"] if has_run else []) + [
        "part_id",
        "n_success",
        "n_failed",
    ]
    checks = lineage.select(
        "backend",
        *order_cols,
        ((F.col("n_success") == 0) & (F.col("n_failed") > 0)).alias("failed"),
    )
    w_all = Window.partitionBy("backend").orderBy(*order_cols)
    w_outcome = Window.partitionBy("backend", "failed").orderBy(*order_cols)
    # Island id: consecutive same-outcome checks share (rn - rn_within_outcome).
    islands = checks.withColumn("rn", F.row_number().over(w_all)).withColumn(
        "island", F.col("rn") - F.row_number().over(w_outcome)
    )
    streaks = islands.groupBy("backend", "failed", "island").agg(
        F.min("rn").alias("start_rn"), F.count(F.lit(1)).alias("length")
    )
    threshold = F.when(F.col("failed"), F.lit(FAILURE_THRESHOLD)).otherwise(
        F.lit(SUCCESS_THRESHOLD)
    )
    # A streak fires its open/close event the moment it reaches threshold;
    # no opposite event can occur inside a streak, so the latest event_rn
    # across both kinds decides the final state.
    events = streaks.where(F.col("length") >= threshold).select(
        "backend", "failed", (F.col("start_rn") + threshold - 1).alias("event_rn")
    )
    last = events.groupBy("backend").agg(
        F.max(F.struct("event_rn", "failed")).alias("last_event")
    )
    verdicts = (
        lineage.select("backend")
        .distinct()
        .join(last, "backend", "left")
        .select(
            "backend",
            F.coalesce(~F.col("last_event.failed"), F.lit(True)).alias("gate"),
        )
    )
    return {r["backend"]: r["gate"] for r in verdicts.collect()}


def backend_listing(spark, lineage: DataFrame | None = None) -> DataFrame:
    """R6 — enumerate the backend registry, optionally joined with lineage
    aggregates (reference: orchestrator/server.py:383-415)."""
    from ocr_project_spark.kernels.registry import BACKEND_REGISTRY

    registry = spark.createDataFrame(
        [(name, fn.__doc__.splitlines()[0] if fn.__doc__ else "") for name, fn in BACKEND_REGISTRY.items()],
        "backend string, description string",
    )
    if lineage is None:
        return registry
    return registry.join(F.broadcast(health_rollup(lineage)), "backend", "left")
