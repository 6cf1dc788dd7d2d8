"""Per-layer probes for the traced run: direct calls into each layer's
public functions, each forced to completion (a ``noop`` sink or a small
collect) inside a span, so a layer's time is measured where its work
happens rather than where Spark plans it."""

from __future__ import annotations

import glob
import json
import os
from contextlib import contextmanager

import pyarrow.parquet as pq

from spans import Tracer, self_times, total_by_name

BATCH_ROWS = 2048  # the session's Arrow batch size


@contextmanager
def patched(obj, attr: str, value):
    """Temporarily replace ``obj.attr`` (a module global or a dict key)."""
    is_dict = isinstance(obj, dict)
    old = obj[attr] if is_dict else getattr(obj, attr)
    if is_dict:
        obj[attr] = value
    else:
        setattr(obj, attr, value)
    try:
        yield
    finally:
        if is_dict:
            obj[attr] = old
        else:
            setattr(obj, attr, old)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def read_sample(pages_path: str, n: int):
    """The first ``n`` rows of a pages parquet directory as pandas."""
    cols = ["url", "html", "backend", "doc_id"]
    files = sorted(glob.glob(os.path.join(pages_path, "*.parquet")))
    frames, have = [], 0
    for path in files:
        t = pq.read_table(path, columns=cols)
        frames.append(t.slice(0, n - have).to_pandas())
        have += min(len(t), n - have)
        if have >= n:
            break
    import pandas as pd

    return pd.concat(frames, ignore_index=True)


def extraction_layers(tracer: Tracer, spark, pages_path: str, n_rows: int, cpus: int) -> dict:
    """kernels.*, markers.*, operators.extract.* on a fixed payload sample."""
    from ocr_project_spark.contract import BACKEND_HTML, BACKEND_LAYOUT, FILE_TYPE_IMAGE
    from ocr_project_spark.functions import markers
    from ocr_project_spark.kernels import registry
    from ocr_project_spark.operators.extract import extract_documents, make_extract_fn

    sample = read_sample(pages_path, n_rows)
    batches = [sample.iloc[i : i + BATCH_ROWS] for i in range(0, len(sample), BATCH_ROWS)]
    reg = registry.BACKEND_REGISTRY
    outputs = []
    with patched(registry, "extract_html_pages", tracer.wrap("kernels.html.parse", registry.extract_html_pages)), \
         patched(reg, BACKEND_HTML, tracer.wrap("kernels.html", reg[BACKEND_HTML])), \
         patched(reg, BACKEND_LAYOUT, tracer.wrap("kernels.layout", reg[BACKEND_LAYOUT])):
        with tracer.span("operators.extract.fn") as fn_span:
            for out in make_extract_fn()(iter(batches)):
                outputs.append(out)
    spans = tracer.spans
    is_html = sample["backend"] == BACKEND_HTML
    n_html, n_layout = int(is_html.sum()), int((~is_html).sum())
    html_bytes = sum(len(p) for p in sample.loc[is_html, "html"])
    t_html = total_by_name(spans, "kernels.html")
    t_layout = total_by_name(spans, "kernels.layout")
    fn_s = fn_span.end - fn_span.start
    fn_self = self_times(spans)[fn_span.id]

    # markers: the post-processing calls the html arm makes, replayed on
    # its own outputs (image path: markdown + spans; pdf path: assembly)
    import pandas as pd

    res = pd.concat(outputs, ignore_index=True)
    res = res[(res["backend"] == BACKEND_HTML) & res["success"]]
    image_raws, pdf_pages = [], []
    for ft, raw in zip(res["file_type"], res["raw_output"]):
        if ft == FILE_TYPE_IMAGE:
            image_raws.append(raw)
        else:
            pdf_pages.append([(p["page"], p["raw_output"]) for p in json.loads(raw)["pages"]])
    with tracer.span("markers") as m_span:
        for raw in image_raws:
            markers.extract_markdown(raw)
            markers.render_boxes_svg(markers.parse_spans(raw))
        for pages in pdf_pages:
            markers.assemble_pages(pages)
            markers.parse_spans("\n".join(r for _, r in pages))
    n_marked = max(len(image_raws) + len(pdf_pages), 1)

    # Spark rate of the same operator over the whole table, noop sink
    n_table = spark.read.parquet(pages_path).count()
    with tracer.span("operators.extract.spark") as sp:
        _noop(extract_documents(spark.read.parquet(pages_path)))
    spark_rate = n_table / (sp.end - sp.start)
    bare_rate = len(sample) / fn_s
    return {
        "kernels.html.docs_per_s": n_html / t_html,
        "kernels.html.mb_per_s": html_bytes / 1e6 / t_html,
        "kernels.layout.docs_per_s": n_layout / t_layout,
        "kernels.html.parse_share": total_by_name(spans, "kernels.html.parse") / t_html,
        "markers.s_per_kdoc": (m_span.end - m_span.start) / n_marked * 1e3,
        "operators.extract.self_s_per_kdoc": fn_self / len(sample) * 1e3,
        "operators.extract.spark_vs_bare": spark_rate / (cpus * bare_rate),
    }


def pipeline_layers(
    tracer: Tracer, spark, pages_path: str, store: str, results_path: str,
    work: str, num_partitions: int,
) -> dict:
    """skew, resume, lineage and the results append. ``store`` is the
    results store the resume probe scans (absent on a cold start);
    ``results_path`` holds one finished run's results."""
    from pyspark.sql import functions as F

    from ocr_project_spark.operators.lineage import health_rollup, lineage_rows
    from ocr_project_spark.operators.resume import completed_urls, resume_filter
    from ocr_project_spark.operators.skew import salted_repartition
    from ocr_project_spark.pipeline import this_run_results

    pages = spark.read.parquet(pages_path)
    with tracer.span("skew.repartition") as sk:
        _noop(salted_repartition(pages, num_partitions))
    counts = [
        r[1]
        for r in salted_repartition(pages, num_partitions)
        .groupBy(F.spark_partition_id())
        .count()
        .collect()
    ]
    mean_rows = sum(counts) / num_partitions

    with tracer.span("resume.done_scan") as ds:
        done = completed_urls(spark, store)
        if done is not None:
            _noop(done)
    with tracer.span("resume.filter") as rf:
        todo_rows = resume_filter(pages, done).count()

    run_id = spark.read.parquet(results_path).agg(F.max("run_id")).collect()[0][0]
    lin_path = os.path.join(work, "probe_lineage")
    with tracer.span("lineage.rows") as lr:
        lineage_rows(this_run_results(spark, results_path, run_id)).write.mode(
            "overwrite"
        ).parquet(lin_path)
    with tracer.span("lineage.rollup") as lu:
        health_rollup(spark.read.parquet(lin_path)).collect()

    frame = spark.read.parquet(results_path).cache()
    frame.count()
    with tracer.span("pipeline.write") as pw:
        frame.write.mode("append").parquet(os.path.join(work, "probe_append"))
    frame.unpersist()
    return {
        "skew.repartition_s": sk.end - sk.start,
        "skew.max_over_mean_rows": max(counts) / mean_rows,
        "resume.done_scan_s": ds.end - ds.start,
        "resume.filter_s": rf.end - rf.start,
        "resume.todo_rows": todo_rows,
        "lineage.rows_s": lr.end - lr.start,
        "lineage.rollup_s": lu.end - lu.start,
        "pipeline.write_s": pw.end - pw.start,
    }


def corpus_layers(tracer: Tracer, spark, corpus_path: str, eval_path: str) -> dict:
    """dedup, components and every textops curation stage."""
    from ocr_project_spark.components import connected_components
    from ocr_project_spark.dedup import (
        hashed_shingles,
        minhash_candidate_pairs,
        minhash_near_dup_pairs,
        minhash_signatures,
        remove_repeated_lines,
    )
    from ocr_project_spark.textops import (
        c4_line_filter,
        decontaminate,
        gram_lm_scores,
        quality_gate,
        redact_pii,
    )

    docs = spark.read.parquet(corpus_path)
    eval_docs = spark.read.parquet(eval_path)
    out = {}
    with tracer.span("dedup.minhash_pairs") as mp:
        pairs = minhash_near_dup_pairs(docs).select("id_a", "id_b").collect()
    out["dedup.minhash_pairs_s"] = mp.end - mp.start
    n_cands = minhash_candidate_pairs(minhash_signatures(hashed_shingles(docs))).count()
    out["dedup.candidate_pairs"] = n_cands
    out["dedup.verified_pairs"] = len(pairs)
    out["dedup.verify_yield"] = len(pairs) / max(n_cands, 1)
    edges = spark.createDataFrame([tuple(p) for p in pairs], "id_a long, id_b long")
    with tracer.span("components.cc") as cc:
        connected_components(edges).count()
    out["components.cc_s"] = cc.end - cc.start
    stages = [
        ("dedup.lines_s", "dedup.lines", lambda: remove_repeated_lines(docs)),
        ("textops.c4_s", "textops.c4", lambda: c4_line_filter(docs)),
        ("textops.pii_s", "textops.pii", lambda: redact_pii(docs)),
        ("textops.decontaminate_s", "textops.decontaminate", lambda: decontaminate(docs, eval_docs)),
        ("textops.quality_gate_s", "textops.quality_gate", lambda: quality_gate(docs)),
        ("textops.lm_gate_s", "textops.lm_gate", lambda: gram_lm_scores(docs)),
    ]
    for metric, span_name, build in stages:
        with tracer.span(span_name) as s:
            _noop(build())
        out[metric] = s.end - s.start
    return out
