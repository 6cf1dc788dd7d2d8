"""spark-submit entrypoint for the corpus CURATION job: the ordered
cleaning pipeline a web-text training run applies after dedup —

    line dedup -> C4 line filter -> PII redaction
              -> benchmark decontamination -> quality gate -> LM gate

Each stage is optional (flag-gated) and the stage order is the one the
public pipelines use: structural cleanup first (repeated-line removal
changes the text the later stages see), then PII scrubbing, then drop
whole documents (contaminated, low-quality). Per-stage document counts
are printed so corpus loss is observable at every step.

Usage (cluster):
    spark-submit --py-files dist/ocr_project_spark.zip \\
        --driver-java-options -XX:TieredStopAtLevel=1 \\
        ocr_project_spark/jobs/curate.py \\
        --documents <parquet> --out <parquet> \\
        [--drop-repeated-lines] [--c4-clean] [--redact-pii] \\
        [--decontaminate-against <eval parquet> [--ngram 13]] \\
        [--quality-gate]

Under spark-submit the driver JVM is already running when build_session()
runs, so its C1-tier flag (see session.py) is passed on the command line.

Local smoke (no cluster):
    python -m ocr_project_spark.jobs.curate \\
        --documents /root/testdata/sf0.001/documents.parquet \\
        --out /tmp/curated --redact-pii --quality-gate

100 TB shape: every stage is one of the audited plans (PLANS.md sections
6/8) — line dedup shuffles line rows and position sets only, the C4 line
filter and PII are shuffle-free JVM projections, decontamination
broadcasts the eval grams, and the quality gate is a narrow filter;
nothing in the chain collects unbounded data to the driver.
"""

from __future__ import annotations

import argparse


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", required=True, help="documents parquet path")
    p.add_argument("--out", required=True, help="curated corpus output path")
    p.add_argument(
        "--drop-repeated-lines",
        action="store_true",
        help="remove lines occurring in >= --line-min-docs distinct docs",
    )
    p.add_argument("--line-min-docs", type=int, default=2)
    p.add_argument(
        "--c4-clean",
        action="store_true",
        help="C4 heuristic cleaning: keep >=5-word terminal-punctuation "
        "lines, drop lorem-ipsum/brace/thin documents",
    )
    p.add_argument(
        "--redact-pii",
        action="store_true",
        help="replace emails/IPv4/phones with typed placeholder tokens",
    )
    p.add_argument(
        "--decontaminate-against",
        help="parquet of benchmark/eval texts (column: text); documents "
        "sharing any word --ngram with it are dropped",
    )
    p.add_argument("--ngram", type=int, default=13)
    p.add_argument(
        "--quality-gate",
        action="store_true",
        help="keep only documents passing the length/word-shape gate",
    )
    p.add_argument(
        "--lm-gate",
        action="store_true",
        help="keep only documents whose word n-grams are corpus-familiar "
        "(corpus-frequency LM gate, the CCNet perplexity-filter analog)",
    )
    p.add_argument("--lm-ngram", type=int, default=2)
    p.add_argument("--master", default=None)
    return p.parse_args(argv)


def main(argv=None, spark=None) -> None:
    """CLI driver; ``spark`` can be injected for in-process tests (the
    session is then left running)."""
    args = parse_args(argv)
    from ocr_project_spark.session import build_session

    owns_session = spark is None
    if owns_session:
        spark = build_session(app_name="ocr-project-spark-curate", master=args.master)
    try:
        docs = spark.read.parquet(args.documents)
        extra_cols = [c for c in docs.columns if c not in ("doc_id", "text")]
        n0 = docs.count()
        print(f"curate: input {n0} documents")

        # per-stage counts ride the ONE final write action as observed
        # metrics — a .count() per stage would re-execute the whole
        # un-persisted upstream chain once per enabled stage
        from pyspark.sql import Observation, functions as F

        observations: list[tuple[str, Observation]] = []

        def _observe(df, label):
            obs = Observation(label)
            observations.append((label, obs))
            return df.observe(obs, F.count(F.lit(1)).alias("n"))

        def _restore(text_df):
            """Re-attach passthrough columns after a text-rewriting stage."""
            if not extra_cols:
                return text_df
            return text_df.join(docs.drop("text"), "doc_id")

        if args.drop_repeated_lines:
            from ocr_project_spark.dedup import remove_repeated_lines

            docs = _restore(
                remove_repeated_lines(docs, min_docs=args.line_min_docs).drop(
                    "n_removed_lines"
                )
            )
        if args.c4_clean:
            from ocr_project_spark.textops import c4_line_filter

            docs = _observe(
                _restore(
                    c4_line_filter(docs)
                    .where("kept")
                    .drop("kept", "blocked", "n_lines", "n_lines_kept")
                ),
                "C4 line filter",
            )
        if args.redact_pii:
            from ocr_project_spark.textops import redact_pii

            docs = _restore(
                redact_pii(docs).drop("n_emails", "n_ipv4", "n_phones")
            )
        if args.decontaminate_against:
            from ocr_project_spark.textops import decontaminate

            eval_docs = spark.read.parquet(args.decontaminate_against)
            docs = _observe(
                decontaminate(docs, eval_docs, n=args.ngram), "decontamination"
            )
        if args.quality_gate:
            from ocr_project_spark.textops import quality_gate

            docs = _observe(
                docs.join(
                    quality_gate(docs).select("doc_id"), "doc_id", "left_semi"
                ),
                "quality gate",
            )
        if args.lm_gate:
            from ocr_project_spark.textops import gram_lm_scores

            docs = _observe(
                docs.join(
                    gram_lm_scores(docs, n=args.lm_ngram)
                    .where("passes_lm")
                    .select("doc_id"),
                    "doc_id",
                    "left_semi",
                ),
                "LM gate",
            )

        docs.write.mode("overwrite").parquet(args.out)
        for label, obs in observations:
            print(f"curate: {label} kept {obs.get['n']} documents")
        n_out = spark.read.parquet(args.out).count()
        print(f"curate: wrote {n_out} of {n0} documents -> {args.out}")
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
