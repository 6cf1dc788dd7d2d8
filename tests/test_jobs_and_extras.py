"""Tests for the spark-submit CLI, the deterministic SVG boxes renderer,
and html-kernel robustness on messier real-world markup.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import tests.conftest as c
from ocr_project_spark.functions.markers import render_boxes_svg
from ocr_project_spark.jobs.extract import main as extract_main
from ocr_project_spark.kernels.html_extract import extract_html_pages


def test_cli_end_to_end_and_resume(spark, tmp_path):
    res = str(tmp_path / "results")
    lin = str(tmp_path / "lineage")
    argv = [
        "--synthesize-sf-dir", c.SF_DIR,
        "--results", res,
        "--lineage", lin,
        "--num-partitions", "8",
    ]
    extract_main(argv, spark=spark)
    out = spark.read.parquet(res)
    n = out.count()
    assert n == 500
    assert out.select("url").distinct().count() == n
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("n_docs")).collect()[0][0] == n
    # second invocation resumes: everything done → no new rows
    extract_main(argv, spark=spark)
    assert spark.read.parquet(res).count() == n


def test_cli_requires_input_source(spark, tmp_path):
    with pytest.raises(SystemExit):
        extract_main(["--results", str(tmp_path / "r")], spark=spark)


def test_render_boxes_svg_deterministic():
    spans = [("Title", 40, 40, 959, 90), ("Body <b>", 40, 100, 959, 150)]
    svg1 = render_boxes_svg(spans, 800, 600)
    assert svg1 == render_boxes_svg(spans, 800, 600)
    assert svg1.startswith("<svg") and svg1.endswith("</svg>")
    assert svg1.count("<rect") == 2
    assert "&lt;b&gt;" in svg1  # label escaped
    # 0-999 grid denormalized with int truncation: 40/999*800 = 32
    assert 'x="32"' in svg1


def test_html_kernel_inline_markup():
    html = (
        b"<html><body><p>text with <b>bold</b> and <i>italic</i> and "
        b"<a href='/x'>a link</a> inside</p></body></html>"
    )
    pages = extract_html_pages(html)
    assert pages == [(1, ["text with bold and italic and a link inside"])]


def test_html_kernel_entities():
    html = b"<html><body><p>a &amp; b &lt;tag&gt; &#169; ok</p></body></html>"
    pages = extract_html_pages(html)
    assert pages == [(1, ["a & b <tag> \xa9 ok"])]


def test_html_kernel_unclosed_tags():
    html = b"<html><body><p>first para<p>second para</body></html>"
    pages = extract_html_pages(html)
    # html.parser sees no </p>; the second <p> opens a new block
    texts = pages[0][1]
    assert "second para" in " ".join(texts)


def test_dedup_cli_end_to_end(spark, tmp_path):
    """jobs/dedup.py: documents → minhash keep-list + kept corpus, with the
    planted duplicate structure removed (exact copies + near-dups collapse
    into one representative per cluster)."""
    from ocr_project_spark.dedup import dedup_test_corpus
    from ocr_project_spark.jobs.dedup import main

    docs = dedup_test_corpus(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).where("lang = 'de'")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    keep_path = str(tmp_path / "keep")
    kept_path = str(tmp_path / "kept")
    main(
        [
            "--documents", src,
            "--keep", keep_path,
            "--kept-corpus", kept_path,
            "--method", "minhash",
            "--num-hashes", "128",
            "--bands", "32",
        ],
        spark=spark,
    )
    keep = {r["doc_id"] for r in spark.read.parquet(keep_path).collect()}
    n_total = docs.count()
    # every exact copy (+100000) must be gone; its keeper is the base id
    assert not any(100000 <= d < 200000 for d in keep)
    assert len(keep) < n_total
    kept = spark.read.parquet(kept_path)
    assert kept.count() == len(keep)
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == keep


def test_dedup_cli_exact_method(spark, tmp_path):
    from ocr_project_spark.jobs.dedup import main

    rows = [(1, "x y z", "en"), (2, "x y z", "en"), (3, "q r s", "en")]
    src = str(tmp_path / "d")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "k")
    main(["--documents", src, "--keep", out, "--method", "exact"], spark=spark)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 3}


def test_dedup_cli_max_bucket_logs_drops(spark, tmp_path, capsys):
    from ocr_project_spark.jobs.dedup import main

    boiler = " ".join(f"b{i}" for i in range(30))
    rows = [(i, boiler, "en") for i in range(40)] + [(90, "u v w x y z q r s t", "en")]
    src = str(tmp_path / "d")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "k")
    main(
        ["--documents", src, "--keep", out, "--method", "minhash",
         "--max-bucket", "10"],
        spark=spark,
    )
    printed = capsys.readouterr().out
    assert "drops" in printed
    keep = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # capped LSH can't see the boiler class, so it survives as singletons —
    # the CLI's documented posture is: run --method exact first
    assert 90 in keep


def _chain_corpus():
    """50-word documents: 1 ~ 2 and 2 ~ 3 above the 0.8 threshold, 1 !~ 3
    (the chain components collapse), and 50 unrelated."""
    words = [f"tok{i}" for i in range(50)]

    def edit(k):  # replace the first k words
        return " ".join([f"zz{j}" for j in range(k)] + words[k:])

    return [
        (1, " ".join(words), "en"),
        (2, edit(3), "en"),
        (3, edit(6), "en"),
        (50, " ".join(f"far{i}" for i in range(50)), "en"),
    ]


@pytest.mark.parametrize(
    "rows, n_keep",
    [
        ([(i, " ".join(f"w{i}x{j}" for j in range(20)), "en") for i in range(8)], 8),
        (_chain_corpus(), 2),
    ],
    ids=["no-near-dups", "components-drop"],
)
def test_dedup_cli_counts_match_written_rows(spark, tmp_path, capsys, rows, n_keep):
    """The printed keep count is observed on the keep-list write: it equals
    the rows of the written keep list, and of the kept corpus."""
    from ocr_project_spark.jobs.dedup import main

    src, keep, kept = (str(tmp_path / d) for d in ("d", "k", "kc"))
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    main(["--documents", src, "--keep", keep, "--kept-corpus", kept], spark=spark)
    printed = capsys.readouterr().out
    n_written = spark.read.parquet(keep).count()
    assert n_written == n_keep
    assert f"dedup: kept {n_written} of {len(rows)} documents -> {keep}" in printed
    assert spark.read.parquet(kept).count() == n_written


def test_extract_cli_wet_output(spark, tmp_path):
    """--wet publishes the extracted text as parseable WET segments whose
    record set round-trips to the results."""
    from ocr_project_spark.jobs.extract import main as extract_main
    from ocr_project_spark.sources.warc import pages_from_warc

    res, lin, wet = (str(tmp_path / d) for d in ("r", "l", "w"))
    extract_main(
        ["--synthesize-sf-dir", "/root/testdata/sf0.001",
         "--results", res, "--lineage", lin, "--wet", wet],
        spark=spark,
    )
    segs = spark.read.parquet(wet)
    back = pages_from_warc(segs, content_col="segment", record_types=("conversion",))
    ok = spark.read.parquet(res).where("success")
    assert back.count() == ok.count() == 494
    joined = back.join(
        ok.select("url", ok.text.alias("truth")), "url"
    ).where("decode(html, 'UTF-8') = truth")
    assert joined.count() == 494


def test_curate_cli_full_chain(spark, tmp_path):
    """jobs/curate.py: line dedup → PII redaction → decontamination →
    quality gate in one run, with passthrough columns preserved and every
    stage's loss observable."""
    from ocr_project_spark.jobs.curate import main as curate_main

    src = str(tmp_path / "docs")
    ev = str(tmp_path / "eval")
    out = str(tmp_path / "curated")

    base = spark.read.parquet(f"{c.SF_DIR}/documents.parquet")
    # plant: a shared boilerplate line + an email on every doc
    planted = base.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Subscribe to our newsletter"),
            F.concat(F.col("text"), F.lit(" reach admin@example.com")),
        ).alias("text"),
        "lang",
    )
    planted.write.parquet(src)
    # eval set = 20-word prefix of every 13th doc
    base.where("doc_id % 13 = 5").select(
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 20)).alias("text")
    ).write.parquet(ev)

    curate_main(
        [
            "--documents", src,
            "--out", out,
            "--drop-repeated-lines",
            "--redact-pii",
            "--decontaminate-against", ev,
            "--quality-gate",
        ],
        spark=spark,
    )
    got = spark.read.parquet(out)
    n_eval = base.where("doc_id % 13 = 5").count()
    # every contaminated doc is gone; the quality gate then thins further,
    # so the CLI output must equal the composed library stages exactly
    from ocr_project_spark.dedup import remove_repeated_lines
    from ocr_project_spark.textops import decontaminate, quality_gate, redact_pii

    cleaned = redact_pii(remove_repeated_lines(planted))
    survivors = decontaminate(
        cleaned, spark.read.parquet(ev).select("text")
    )
    want_ids = {
        r["doc_id"]
        for r in survivors.join(
            quality_gate(survivors).select("doc_id"), "doc_id", "left_semi"
        ).collect()
    }
    got_ids = {r["doc_id"] for r in got.collect()}
    assert got_ids == want_ids
    assert len(got_ids) <= base.count() - n_eval  # contaminated all dropped
    assert not any(i % 13 == 5 for i in got_ids)
    assert set(got.columns) == {"doc_id", "text", "lang"}  # passthrough kept
    # boilerplate line gone, email redacted, everywhere
    assert got.where("text LIKE '%Subscribe to our newsletter%'").count() == 0
    assert got.where("text LIKE '%admin@example.com%'").count() == 0
    assert got.where("text LIKE '%<EMAIL>%'").count() == got.count()


def test_curate_chain_matches_composed_sql_replay(spark, tmp_path):
    """End-to-end differential for the curation CLI: run the real chain
    (line dedup -> C4 -> PII -> quality gate) through jobs/curate.main,
    then replay the ENTIRE composition as one DuckDB query over the same
    input parquet and require the final (doc_id, text) sets to match
    exactly. The per-stage oracles prove each stage alone; this proves
    the stages compose in the CLI's order (each stage sees the previous
    stage's rewritten text, not the original)."""
    import duckdb

    from ocr_project_spark.jobs.curate import main

    nav = "Home | News | Sports | Contact page."
    rows = []
    for i in range(30):
        lines = [
            nav,
            f"Document number {i} tells a unique and rather detailed "
            "story about streaming data pipelines today.",
            f"Another unique closing sentence number {i} rounds out "
            "the document with enough extra words to pass easily.",
            f"Yet another filler sentence number {i} exists to satisfy "
            "the minimum kept lines rule nicely.",
        ]
        cls = i % 5
        # per-doc-unique trigger lines: an identical line planted in every
        # cohort member would repeat across >= 2 docs and be REMOVED by
        # stage 1 (line dedup) before C4 ever saw it — which the first run
        # of this test demonstrated end-to-end
        if cls == 1:  # C4 lorem-ipsum page drop
            lines.append(
                f"Lorem ipsum dolor sit amet number {i}, consectetur."
            )
        elif cls == 2:  # survives; PII redacted
            lines.append(
                f"Contact admin{i}@example.com or 10.0.0.{i} or "
                "555-123-4567 for details immediately."
            )
        elif cls == 3:  # C4 blocked-word page drop
            lines.append(
                f"Win the casino jackpot number {i} tonight, my friends!"
            )
        elif cls == 4:  # passes C4 (3 short lines) but fails quality gate
            lines = [
                f"Doc {i} has five words.",
                f"Doc {i} shows five words.",
                f"Doc {i} holds five words.",
            ]
        rows.append((i, "\n".join(lines)))
    src = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(src)

    main(
        [
            "--documents",
            src,
            "--out",
            out,
            "--drop-repeated-lines",
            "--c4-clean",
            "--redact-pii",
            "--quality-gate",
        ],
        spark=spark,
    )
    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    }

    line_keep = (
        "x -> len(string_split(x, ' ')) >= 5 "
        "AND regexp_matches(x, '[.!?\"]$')"
    )
    want = duckdb.sql(
        rf"""
        WITH src AS (SELECT doc_id, text FROM read_parquet('{src}/*.parquet')),
        lines AS (
            SELECT doc_id, unnest(string_split(text, chr(10))) AS line
            FROM src
        ),
        rep AS (
            SELECT line FROM lines
            GROUP BY line HAVING count(DISTINCT doc_id) >= 2
        ),
        rl AS (SELECT coalesce(list(line), []) AS rls FROM rep),
        s1 AS (  -- remove_repeated_lines
            SELECT doc_id,
                   array_to_string(
                       list_filter(string_split(text, chr(10)),
                                   x -> NOT list_contains(rls, x)),
                       chr(10)) AS text
            FROM src, rl
        ),
        c4 AS (  -- c4_line_filter over the stage-1 text
            SELECT doc_id,
                   array_to_string(
                       list_filter(string_split(text, chr(10)), {line_keep}),
                       chr(10)) AS new_text,
                   (NOT contains(lower(text), 'lorem ipsum'))
                       AND (NOT contains(text, '{{'))
                       AND (NOT regexp_matches(lower(text),
                           '\b(porn|xxx|viagra|casino|jackpot|escort)\b'))
                       AND len(list_filter(string_split(text, chr(10)),
                               {line_keep})) >= 3 AS kept
            FROM s1
        ),
        s2 AS (SELECT doc_id, new_text AS text FROM c4 WHERE kept),
        s3 AS (  -- redact_pii, same sequential replace chain
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                               '<EMAIL>', 'g'),
                           '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b',
                           '<IP>', 'g'),
                       '\b\d{{3}}-\d{{3}}-\d{{4}}\b', '<PHONE>', 'g') AS text
            FROM s2
        ),
        s4 AS (
            SELECT doc_id, text,
                   len(string_split(text, ' ')) AS n_words,
                   CAST(floor(len(replace(text, ' ', '')) * 100
                              / len(string_split(text, ' '))) AS BIGINT)
                       AS awl
            FROM s3
        )
        SELECT doc_id, text FROM s4
        WHERE n_words >= 20 AND awl BETWEEN 200 AND 900
        """
    ).fetchall()
    want = {(r[0], r[1]) for r in want}

    assert got == want
    kept_classes = {d % 5 for d, _ in got}
    # lorem (1), blocked (3), and thin (4) cohorts are gone; the nav line
    # is gone from every survivor; PII never reaches the output
    assert kept_classes == {0, 2}
    for _, text in got:
        assert nav not in text
        assert "@example.com" not in text and "555-123-4567" not in text
    assert any("<EMAIL>" in t and "<IP>" in t and "<PHONE>" in t for _, t in got)


def test_curate_cli_c4_clean(spark, tmp_path):
    """jobs/curate.py --c4-clean: CLI output equals the composed library
    stage (kept docs only, text rebuilt from surviving lines, passthrough
    columns restored)."""
    from ocr_project_spark.jobs.curate import main as curate_main
    from ocr_project_spark.textops import c4_line_filter

    src = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    good = "this sentence certainly has enough words to survive."
    docs = spark.createDataFrame(
        [
            (1, "\n".join([good, "Nav | Bar", good, good]), "en"),
            (2, "\n".join([good, good]), "en"),  # only 2 kept -> dropped
            (3, "lorem ipsum " + good, "en"),  # flagged -> dropped
        ],
        "doc_id long, text string, lang string",
    )
    docs.write.parquet(src)
    curate_main(["--documents", src, "--out", out, "--c4-clean"], spark=spark)
    got = spark.read.parquet(out)
    assert {r["doc_id"] for r in got.collect()} == {1}
    want = {
        r["doc_id"]: r["text"]
        for r in c4_line_filter(docs).where("kept").collect()
    }
    assert {r["doc_id"]: r["text"] for r in got.collect()} == want
    assert set(got.columns) == {"doc_id", "text", "lang"}


def test_curate_cli_lm_gate(spark, tmp_path):
    """jobs/curate.py --lm-gate: corpus-unique-bigram gibberish docs are
    dropped, corpus-familiar prose survives."""
    from ocr_project_spark.jobs.curate import main as curate_main

    src = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    base = spark.read.parquet(f"{c.SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    gib = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("gib"), F.col("doc_id").cast("string"), F.lit(f"_{i}"))
            for i in range(12)
        ],
    )
    planted = base.where("doc_id % 5 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"), gib.alias("text")
    )
    base.unionByName(planted).write.parquet(src)

    curate_main(["--documents", src, "--out", out, "--lm-gate"], spark=spark)
    got_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got_ids == {r["doc_id"] for r in base.collect()}


def _gibberish_corpus(spark, path, n_docs=20):
    """Documents of three C4-clean lines whose word bigrams occur in no
    other document: the LM gate keeps none of them."""
    def line(i, k):
        return " ".join(f"gib{i}x{k}x{j}" for j in range(30)) + "."

    rows = [(i, "\n".join(line(i, k) for k in range(3)), "en") for i in range(n_docs)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        path
    )


def _every_stage(src, out, eval_path):
    return [
        "--documents", src,
        "--out", out,
        "--drop-repeated-lines",
        "--c4-clean",
        "--redact-pii",
        "--decontaminate-against", eval_path,
        "--quality-gate",
        "--lm-gate",
    ]


def test_curate_lm_gate_keeping_nothing_writes_empty_output(spark, tmp_path, capsys):
    """Every stage on, and the LM gate drops every document: the job writes
    an empty corpus and reports 0 for that stage instead of failing to
    read the stage's observed count (AQE prunes an empty subtree, and an
    observation inside a pruned subtree never reports)."""
    from ocr_project_spark.jobs.curate import main as curate_main

    src, ev, out = (str(tmp_path / d) for d in ("docs", "eval", "curated"))
    _gibberish_corpus(spark, src)
    spark.createDataFrame([("unrelated eval passage",)], "text string").write.parquet(ev)

    curate_main(_every_stage(src, out, ev), spark=spark)
    got = spark.read.parquet(out)
    assert got.count() == 0
    assert set(got.columns) == {"doc_id", "text", "lang"}
    printed = capsys.readouterr().out
    assert "curate: LM gate kept 0 documents" in printed
    assert "curate: C4 line filter kept 20 documents" in printed
    assert "curate: wrote 0 of 20 documents" in printed


def test_curate_releases_checkpoint_blocks(spark, tmp_path):
    """The chain materializes its frame before decontamination and before
    the LM gate; curate.main releases both checkpoints and restores the
    session's AQE rules when it returns, and also when a stage raises (an
    unreadable eval path, or an output path under a regular file that
    fails the final write)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from ocr_project_spark.jobs.curate import (
        AQE_RULES_KEY,
        curation_chain,
        main,
        parse_args,
    )
    from ocr_project_spark.session import release_checkpoint

    src, ev = str(tmp_path / "docs"), str(tmp_path / "eval")
    spark.read.parquet(f"{c.SF_DIR}/documents.parquet").write.parquet(src)
    spark.createDataFrame([("unrelated eval passage",)], "text string").write.parquet(ev)

    before = c.persistent_rdd_ids(spark)
    held: list = []
    try:
        curation_chain(spark, parse_args(_every_stage(src, "unused", ev)), held)
        assert len(held) == 2
        assert len(c.persistent_rdd_ids(spark) - before) == 2
    finally:
        for df in held:
            release_checkpoint(df)
    assert c.persistent_rdd_ids(spark) - before == set()

    main(_every_stage(src, str(tmp_path / "ok"), ev), spark=spark)
    assert c.persistent_rdd_ids(spark) - before == set()

    with pytest.raises(AnalysisException):
        main(_every_stage(src, str(tmp_path / "o1"), str(tmp_path / "no_eval")), spark=spark)
    assert c.persistent_rdd_ids(spark) - before == set()

    (tmp_path / "blocker").write_text("a file, not a directory")
    with pytest.raises(Py4JJavaError):
        main(_every_stage(src, str(tmp_path / "blocker" / "out"), ev), spark=spark)
    assert c.persistent_rdd_ids(spark) - before == set()
    # the AQE rule the job turns off is back on for the session
    assert spark.conf.get(AQE_RULES_KEY, None) is None
