"""End-to-end pipeline tests: the north-rule byte-identity invariant, error
rows, lineage, and health rollup over the synthesized sf0.001 pages table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_project_spark.datagen import MALFORMED_MOD, MALFORMED_REM
from ocr_project_spark.operators.lineage import health_rollup, lineage_rows


def test_byte_identity_per_url(results, documents):
    """North rule: extracted text byte-identical per url for every
    well-formed document; malformed docs fail with error rows."""
    joined = results.join(
        documents.select("doc_id", F.col("text").alias("truth")), "doc_id"
    )
    agg = joined.agg(
        F.count("*").alias("n"),
        F.sum(F.col("success").cast("int")).alias("n_ok"),
        F.sum((F.col("success") & (F.col("text") == F.col("truth"))).cast("int")).alias(
            "n_identical"
        ),
    ).collect()[0]
    n_malformed = documents.where(
        F.col("doc_id") % MALFORMED_MOD == MALFORMED_REM
    ).count()
    assert agg["n"] == documents.count()
    assert agg["n_ok"] == agg["n"] - n_malformed
    assert agg["n_identical"] == agg["n_ok"]  # every success is byte-identical


def test_markdown_never_empty_on_success(results):
    bad = results.where(
        F.col("success") & ((F.col("markdown").isNull()) | (F.length("markdown") == 0))
    ).count()
    assert bad == 0


def test_error_rows_shape(results):
    errs = results.where(~F.col("success"))
    assert errs.where(F.col("error").isNull()).count() == 0
    assert errs.where(F.col("text") != "").count() == 0


def test_span_counts_match_paragraphs(results, documents):
    """html arm emits one span per extracted paragraph block."""
    n_paras = F.ceil(F.size(F.split(F.col("text"), " ")) / 8).cast("int")
    expected = documents.select("doc_id", n_paras.alias("n_paras"))
    got = results.where(F.col("success") & (F.col("backend") == "deepseek-ocr")).select(
        "doc_id", F.size("spans").alias("n_spans")
    )
    mismatches = got.join(expected, "doc_id").where(
        F.col("n_spans") != F.col("n_paras")
    )
    assert mismatches.count() == 0


def test_processed_pages_sorted_and_complete(results):
    bad = results.where(
        F.col("success")
        & (
            (F.size("processed_pages") != F.col("page_count"))
            | (F.col("processed_pages") != F.array_sort("processed_pages"))
        )
    ).count()
    assert bad == 0


def test_processing_time_recorded(results):
    """P8 analog: every extracted row carries positive kernel wall time,
    and lineage aggregates it per split."""
    assert results.where(F.col("processing_time") <= 0).count() == 0
    lin = lineage_rows(results)
    total_cpu = lin.agg(F.sum("cpu_seconds")).collect()[0][0]
    assert total_cpu > 0


def test_lineage_partition_counts(results):
    lin = lineage_rows(results)
    rolled = lin.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_success").alias("ok"),
        F.sum("n_failed").alias("fail"),
    ).collect()[0]
    totals = results.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("success").cast("long")).alias("ok"),
    ).collect()[0]
    assert rolled["docs"] == totals["docs"]
    assert rolled["ok"] == totals["ok"]
    assert rolled["fail"] == totals["docs"] - totals["ok"]


def test_health_rollup_statuses(results):
    status = {
        r["backend"]: r["status"]
        for r in health_rollup(lineage_rows(results)).collect()
    }
    # ~1% of docs are malformed → both backends sit at the degraded boundary
    assert set(status) == {"deepseek-ocr", "mineru"}
    assert all(s in {"healthy", "degraded"} for s in status.values())


def test_backend_listing(spark, results):
    """R6: registry enumeration joined with the lineage health rollup."""
    from ocr_project_spark.operators.lineage import backend_listing

    plain = {r["backend"] for r in backend_listing(spark).collect()}
    assert plain == {"deepseek-ocr", "mineru"}
    joined = {
        r["backend"]: r["status"]
        for r in backend_listing(spark, lineage_rows(results)).collect()
    }
    assert set(joined) == plain
    assert all(s is not None for s in joined.values())


def test_backend_split_matches_datagen(results):
    by_backend = {
        r["backend"]: r["n"]
        for r in results.groupBy("backend").agg(F.count("*").alias("n")).collect()
    }
    assert by_backend["deepseek-ocr"] + by_backend["mineru"] == results.count()
    # doc_id % 2 split → equal halves (500 docs: 250/250)
    assert abs(by_backend["deepseek-ocr"] - by_backend["mineru"]) <= 1


def test_circuit_breaker_state_machine(spark):
    """R3 breaker replay: 3 consecutive wholly-failed partitions trip the
    backend open; 2 consecutive healthy partitions close it again."""
    from ocr_project_spark.operators.lineage import circuit_breaker_gate

    def lineage(rows):
        return spark.createDataFrame(
            [(p, b, s + f, s, f, 0, 0.0) for p, b, s, f in rows],
            "part_id int, backend string, n_docs long, n_success long, "
            "n_failed long, n_bytes long, cpu_seconds double",
        )

    tripped = lineage(
        [(0, "mineru", 5, 0)]
        + [(p, "mineru", 0, 5) for p in (1, 2, 3)]
        + [(p, "deepseek-ocr", 5, 0) for p in range(4)]
    )
    assert circuit_breaker_gate(tripped) == {"mineru": False, "deepseek-ocr": True}

    recovered = lineage(
        [(p, "mineru", 0, 5) for p in (0, 1, 2)]
        + [(3, "mineru", 5, 0), (4, "mineru", 4, 1)]  # 2 healthy → closed
    )
    assert circuit_breaker_gate(recovered) == {"mineru": True}

    two_fails_only = lineage(
        [(0, "mineru", 5, 0), (1, "mineru", 0, 5), (2, "mineru", 0, 5)]
    )
    assert circuit_breaker_gate(two_fails_only) == {"mineru": True}


def test_circuit_breaker_collect_bounded_on_long_history(spark, monkeypatch):
    """VERDICT r4 item 4: the breaker replay must NOT ship the full lineage
    history to the driver. With 200 runs x 8 partitions x 2 backends of
    history, the only collect is one verdict row per backend — the replay
    itself runs as windowed gaps-and-islands in Spark."""
    from ocr_project_spark.operators.lineage import circuit_breaker_gate

    rows = []
    for run in range(200):
        for part in range(8):
            # mineru: poisoned for runs 0-99 (every check fails), healthy
            # after → last decisive event is a success streak → closed.
            ok = run >= 100
            rows.append((run, part, "mineru", 5 if ok else 0, 0 if ok else 5))
            # deepseek: healthy until the last 3 runs, then down → open.
            down = run >= 197
            rows.append(
                (run, part, "deepseek-ocr", 0 if down else 5, 5 if down else 0)
            )
    lineage = spark.createDataFrame(
        [(r, p, b, s + f, s, f, 0, 0.0) for r, p, b, s, f in rows],
        "run_id long, part_id int, backend string, n_docs long, "
        "n_success long, n_failed long, n_bytes long, cpu_seconds double",
    )

    # patch the CONCRETE DataFrame class (pyspark 4 routes pyspark.sql.
    # DataFrame.collect through a classic/connect subclass override)
    df_cls = type(lineage)
    collected_rows = []
    real_collect = df_cls.collect

    def counting_collect(self):
        out = real_collect(self)
        collected_rows.append(len(out))
        return out

    monkeypatch.setattr(df_cls, "collect", counting_collect)
    gate = circuit_breaker_gate(lineage)
    assert gate == {"mineru": True, "deepseek-ocr": False}
    # one collect, one row per backend — not 3200 history rows
    assert collected_rows == [2]

    # no decisive streak anywhere -> stays closed (initial state)
    monkeypatch.undo()
    alternating = spark.createDataFrame(
        [
            (0, p, "mineru", (p + 1) % 2 * 5, p % 2 * 5)
            for p in range(10)
        ],
        "run_id long, part_id int, backend string, n_success long, n_failed long",
    )
    assert circuit_breaker_gate(alternating) == {"mineru": True}


def test_circuit_breaker_short_circuits_poisoned_backend(spark, tmp_path):
    """A backend poisoned in run #1 (every payload malformed) is skipped in
    run #2: its docs short-circuit at the breaker and are NOT checkpointed
    (an infra skip is not a result), while the healthy backend keeps
    extracting. Run #3 with the backend recovered retries exactly the
    skipped urls — the result set converges to the full corpus with no
    duplicate urls (ADVICE r2: breaker skips must not poison resume)."""
    from ocr_project_spark.datagen import build_html, build_pagedoc
    from ocr_project_spark.pipeline import run_job

    def corpus(id_lo, id_hi, mineru_healthy):
        rows = []
        for i in range(id_lo, id_hi):
            if i % 2 == 0:
                payload = build_html(i, f"alpha{i} beta{i}", "en").encode()
                backend = "deepseek-ocr"
            elif mineru_healthy:
                payload = build_pagedoc(i, f"alpha{i} beta{i}", "en").encode()
                backend = "mineru"
            else:
                payload = b"PAGEDOC1\n{poisoned"  # always fails to parse
                backend = "mineru"
            rows.append((f"https://s.example.org/d{i}", payload, backend, i))
        return spark.createDataFrame(
            rows, "url string, html binary, backend string, doc_id long"
        ).repartition(4)

    results_path = str(tmp_path / "results")
    lineage_path = str(tmp_path / "lineage")
    run_job(spark, corpus(0, 40, False), results_path, lineage_path)

    run_job(
        spark,
        corpus(40, 80, False),
        results_path,
        lineage_path,
        circuit_breaker=True,
    )
    second = spark.read.parquet(results_path).where("doc_id >= 40")
    # breaker-skipped rows are absent, not written as model-not-loaded
    assert second.where("backend = 'mineru'").count() == 0
    ok = second.where("backend = 'deepseek-ocr'")
    assert ok.count() == 20 and ok.where("NOT success").count() == 0

    # run #3: mineru recovered — resume retries exactly the skipped urls
    run_job(spark, corpus(40, 80, True), results_path, lineage_path)
    final = spark.read.parquet(results_path).where("doc_id >= 40")
    assert final.count() == 40  # converged: every url exactly once
    assert final.select("url").distinct().count() == 40
    recovered = final.where("backend = 'mineru'")
    assert recovered.count() == 20
    assert recovered.where("NOT success").count() == 0


def _breaker_corpus(spark, id_lo, id_hi, mineru_healthy):
    from ocr_project_spark.datagen import build_html, build_pagedoc

    rows = []
    for i in range(id_lo, id_hi):
        if i % 2 == 0:
            payload = build_html(i, f"alpha{i} beta{i}", "en").encode()
            backend = "deepseek-ocr"
        elif mineru_healthy:
            payload = build_pagedoc(i, f"alpha{i} beta{i}", "en").encode()
            backend = "mineru"
        else:
            payload = b"PAGEDOC1\n{poisoned"
            backend = "mineru"
        rows.append((f"https://s.example.org/d{i}", payload, backend, i))
    return spark.createDataFrame(
        rows, "url string, html binary, backend string, doc_id long"
    ).repartition(4)


def _half_open_sequence(spark, root, monkeypatch):
    """Run the four-run breaker sequence below into fresh stores under
    ``root`` and return what each run left in the results store. The probe
    sample is widened to ~1/4 of the urls so this small corpus has one."""
    from ocr_project_spark import pipeline
    from ocr_project_spark.pipeline import run_job

    monkeypatch.setattr(pipeline, "HALF_OPEN_PROBE_MOD", 4)

    results_path = str(root / "results")
    lineage_path = str(root / "lineage")

    def segment():
        return spark.read.parquet(results_path).where("doc_id >= 40")

    # run 1: mineru poisoned → its lineage buckets all fail and trip the
    # breaker (these malformed docs ARE results: checkpointed failures)
    run_job(spark, _breaker_corpus(spark, 0, 40, False), results_path, lineage_path)

    # run 2 (breaker ON, backend still down, new crawl segment): the probe
    # subset runs and fails → infra evidence only — breaker stays open and
    # probe failures are NOT checkpointed (the urls stay retryable)
    run_job(
        spark,
        _breaker_corpus(spark, 40, 80, False),
        results_path,
        lineage_path,
        circuit_breaker=True,
    )
    out = {
        "run2_mineru": segment().where("backend = 'mineru'").count(),
        "run2_deepseek_ok": segment()
        .where("backend = 'deepseek-ocr' AND success")
        .count(),
    }

    # run 3 (breaker ON, backend healed, same urls recrawled healthy): the
    # probe subset extracts successfully → healthy lineage buckets append
    run_job(
        spark,
        _breaker_corpus(spark, 40, 80, True),
        results_path,
        lineage_path,
        circuit_breaker=True,
    )
    out["run3_mineru_ok"] = segment().where("backend = 'mineru' AND success").count()
    out["run3_mineru_failed"] = (
        segment().where("backend = 'mineru' AND NOT success").count()
    )

    # run 4 (breaker STILL on): the healthy probe buckets closed the
    # breaker → the full backlog extracts and the result set converges
    run_job(
        spark,
        _breaker_corpus(spark, 40, 80, True),
        results_path,
        lineage_path,
        circuit_breaker=True,
    )
    out["final_rows"] = segment().count()
    out["final_urls"] = segment().select("url").distinct().count()
    out["final_mineru_ok"] = (
        segment().where("backend = 'mineru' AND success").count()
    )
    return out


def test_half_open_probe_recovers_without_disabling_breaker(
    spark, tmp_path, monkeypatch
):
    """ADVICE r3: with the breaker enabled on EVERY run, a tripped backend
    must still recover by itself — the deterministic half-open url probe
    keeps running its kernel, probe failures feed the lineage (keeping the
    breaker open, never checkpointed), and once the backend heals the probe
    successes append healthy lineage buckets that close the breaker on
    the next pass. No run ever flips circuit_breaker off."""
    out = _half_open_sequence(spark, tmp_path, monkeypatch)
    assert out["run2_mineru"] == 0
    assert out["run2_deepseek_ok"] == 20
    # the probe sample, not the backlog
    assert 0 < out["run3_mineru_ok"] < 20, out
    assert out["run3_mineru_failed"] == 0
    assert out["final_rows"] == 40
    assert out["final_urls"] == 40
    assert out["final_mineru_ok"] == 20


def test_breaker_verdict_independent_of_readback_packing(
    spark, tmp_path, monkeypatch
):
    """The breaker replays lineage computed from each run's read-back scan.
    How that scan packs its files follows the core count (one partition
    with minPartitionNum 1, one per file with 32), and the verdict must
    not: the same sequence gives the same outcome, and recovers, under
    both packings."""
    key = "spark.sql.files.minPartitionNum"
    prior = spark.conf.get(key, None)
    outcomes = []
    try:
        for n in (1, 32):
            spark.conf.set(key, str(n))
            outcomes.append(
                _half_open_sequence(spark, tmp_path / f"min{n}", monkeypatch)
            )
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    assert outcomes[0] == outcomes[1], outcomes
    assert outcomes[0]["final_mineru_ok"] == 20


def test_cli_circuit_breaker_flag_reaches_run_job(spark, tmp_path):
    """``--circuit-breaker`` is the only way a job reaches the breaker: a
    poisoned run trips mineru, and the next poisoned run, submitted with
    the flag through jobs/extract.main, writes no mineru rows (short
    circuit; probe failures are never checkpointed) and every deepseek-ocr
    row. Without the flag the second run writes 20 mineru error rows."""
    from ocr_project_spark.jobs.extract import main as extract_main

    store = [
        "--results", str(tmp_path / "results"),
        "--lineage", str(tmp_path / "lineage"),
    ]
    for i, (lo, hi) in enumerate([(0, 40), (40, 80)]):
        path = str(tmp_path / f"pages{i}")
        _breaker_corpus(spark, lo, hi, False).write.parquet(path)
        extract_main(
            ["--pages", path, *store] + (["--circuit-breaker"] if i else []),
            spark=spark,
        )
    second = spark.read.parquet(str(tmp_path / "results")).where("doc_id >= 40")
    assert second.where("backend = 'mineru'").count() == 0
    assert second.where("backend = 'deepseek-ocr' AND success").count() == 20


def test_lineage_is_incremental_appends(spark, tmp_path):
    """Each run appends ONE run_id worth of lineage computed from its own
    rows (never a rescan/overwrite of the full results table), and the
    health rollup over the appended lineage equals the rollup over the
    whole results table."""
    from ocr_project_spark.pipeline import run_job

    results_path = str(tmp_path / "results")
    lineage_path = str(tmp_path / "lineage")
    run_job(spark, _breaker_corpus(spark, 0, 30, True), results_path, lineage_path)
    run_job(spark, _breaker_corpus(spark, 0, 60, True), results_path, lineage_path)

    lineage = spark.read.parquet(lineage_path)
    assert {r[0] for r in lineage.select("run_id").distinct().collect()} == {0, 1}
    # per-run doc counts: run 0 wrote 30, run 1 the 30 new urls only
    per_run = {
        r["run_id"]: r["n"]
        for r in lineage.groupBy("run_id").agg(F.sum("n_docs").alias("n")).collect()
    }
    assert per_run == {0: 30, 1: 30}
    # the rollup over appends equals the rollup over the results table
    rolled = {
        r["backend"]: (r["n_docs"], r["n_success"])
        for r in health_rollup(lineage).collect()
    }
    results = spark.read.parquet(results_path)
    truth = {
        r["backend"]: (r["n"], r["ok"])
        for r in results.groupBy("backend")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("success").cast("long")).alias("ok"),
        )
        .collect()
    }
    assert rolled == truth


def test_circuit_breaker_tie_order_deterministic(spark):
    """One run can append TWO lineage rows with the same (run_id, part_id)
    for a backend — result lineage + probe-failure lineage bucket their
    own urls into the same part_id range. The replay's check order at such a
    tie must be a pure function of the rows (resume determinism), never of
    execution order: ties break on (n_success, n_failed) ascending — the
    failed check (n_success 0) replays BEFORE the healthy one, matching
    the old driver-side sort. Here F,F,{F,S-tie} must order F,F,F,S: the
    3-failure streak completes, the lone success cannot close (threshold
    2), so the gate stays open — and stays open under any repartitioning."""
    from ocr_project_spark.operators.lineage import circuit_breaker_gate

    rows = [
        (0, 0, "mineru", 0, 5),
        (0, 1, "mineru", 0, 5),
        (0, 2, "mineru", 0, 5),  # the tie's failed side
        (0, 2, "mineru", 3, 2),  # same (run_id, part_id), healthy
    ]
    lineage = spark.createDataFrame(
        rows,
        "run_id long, part_id int, backend string, n_success long, n_failed long",
    )
    assert circuit_breaker_gate(lineage) == {"mineru": False}
    for n in (1, 7, 32):
        assert circuit_breaker_gate(lineage.repartition(n)) == {"mineru": False}
