"""spark-submit entrypoint for the corpus CURATION job: the ordered
cleaning pipeline a web-text training run applies after dedup —

    line dedup -> C4 line filter -> PII redaction
              -> benchmark decontamination -> quality gate -> LM gate

Each stage is optional (flag-gated) and the stage order is the one the
public pipelines use: structural cleanup first (repeated-line removal
changes the text the later stages see), then PII scrubbing, then drop
whole documents (contaminated, low-quality). Per-stage document counts
are printed so corpus loss is observable at every step; they are
``Observation`` metrics on the job's actions, not extra counts.

The plan grows linearly with the number of stages. The chain carries one
``(doc_id, text)`` frame: C4, PII and the quality gate are projections
and filters on it, and the passthrough columns are attached once at the
end by a single join against the input scan. The two corpus-statistic
stages after line dedup read their input more than once
(decontamination hashes its grams, then filters it; the LM gate hashes
its grams, then keeps the passing ids), so the frame is materialized
with ``localCheckpoint()`` right before each of them:

    scan -> line dedup -> C4 -> PII                  => checkpoint 1
    checkpoint 1 -> decontamination -> quality gate  => checkpoint 2
    checkpoint 2 -> LM gate -> passthrough join      => write

Without them each such re-read would re-plan and re-run the whole
upstream chain — every stage's copies multiply, and the final write
planned a 1 331-node tree with 14 Python passes on a 600-document
corpus. Both checkpoints are released when the job ends, also when a
stage raises.

Usage (cluster):
    spark-submit --master <cluster> --py-files dist/ocr_project_spark.zip \\
        --driver-java-options -XX:TieredStopAtLevel=1 \\
        ocr_project_spark/jobs/curate.py \\
        --documents <parquet> --out <parquet> \\
        [--drop-repeated-lines] [--c4-clean] [--redact-pii] \\
        [--decontaminate-against <eval parquet>] \\
        [--quality-gate] [--lm-gate]

Under spark-submit the driver JVM is already running when build_session()
runs, so its C1-tier flag (see session.py) is passed on the command line.

Local smoke (no cluster):
    python -m ocr_project_spark.jobs.curate \\
        --documents /root/testdata/sf0.001/documents.parquet \\
        --out /tmp/curated --redact-pii --quality-gate

100 TB shape: every stage is one of the audited plans (PLANS.md sections
6/8) — line dedup shuffles line rows and position sets only, the C4 line
filter, PII and the quality gate are shuffle-free JVM expressions on one
frame, decontamination broadcasts the eval grams, and the LM gate
shuffles 16-byte gram rows; nothing in the chain collects unbounded data
to the driver. A local checkpoint lives in executor storage and is lost
with its executor; on a cluster with lossy executors, write the two
materialized frames to reliable storage instead.
"""

from __future__ import annotations

import argparse

# AQE swaps a join whose input stage came back empty for an empty
# relation, and an observation inside the dropped subtree never reports:
# a gate that keeps nothing would then fail the job at ``obs.get``. The
# rule only saves work on empty inputs, so the job's actions run without.
AQE_RULES_KEY = "spark.sql.adaptive.optimizer.excludedRules"
AQE_EMPTY_PRUNING = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", required=True, help="documents parquet path")
    p.add_argument("--out", required=True, help="curated corpus output path")
    p.add_argument(
        "--drop-repeated-lines",
        action="store_true",
        help="remove lines occurring in >= 2 distinct docs",
    )
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
        "sharing any word 13-gram with it are dropped",
    )
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
    return p.parse_args(argv)


def curation_chain(spark, src, args, held: list):
    """The curated frame to write from the input frame ``src``, with the
    stages ``args`` turns on, and the ``(label, Observation)`` pairs for
    the stages that drop documents.

    The row-local stages (C4, PII, quality gate) are projections and
    filters on one ``(doc_id, text)`` frame. Before each corpus-statistic
    stage after line dedup (decontamination, LM gate) the frame is
    materialized with ``localCheckpoint()``, which runs the stages so far
    and fills their observations; each such frame is appended to ``held``
    for the caller to release (``session.release_checkpoint``) once the
    output is written, or when a stage raises."""
    from pyspark.sql import Observation, functions as F

    from ocr_project_spark import textops

    docs = src.select("doc_id", "text")
    observations: list[tuple[str, Observation]] = []

    def _observe(df, label):
        obs = Observation(label)
        observations.append((label, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    def _materialize(df):
        df = df.localCheckpoint()
        held.append(df)
        return df

    if args.drop_repeated_lines:
        from ocr_project_spark.dedup import remove_repeated_lines

        docs = remove_repeated_lines(docs).drop("n_removed_lines")
    if args.c4_clean:
        docs = _observe(
            textops.c4_line_filter(docs).where("kept").select("doc_id", "text"),
            "C4 line filter",
        )
    if args.redact_pii:
        docs = textops.redact_pii(docs).select("doc_id", "text")
    if args.decontaminate_against:
        eval_docs = spark.read.parquet(args.decontaminate_against)
        docs = _observe(
            textops.decontaminate(_materialize(docs), eval_docs),
            "decontamination",
        )
    if args.quality_gate:
        docs = _observe(docs.where(textops.passes_quality_gate()), "quality gate")
    if args.lm_gate:
        docs = _materialize(docs)
        keep = (
            textops.gram_lm_scores(docs).where("passes_lm").select("doc_id")
        )
        docs = _observe(docs.join(keep, "doc_id", "left_semi"), "LM gate")
    if any(c not in ("doc_id", "text") for c in src.columns):
        # passthrough columns: one join against the input scan
        docs = docs.join(src.drop("text"), "doc_id")
    return docs, observations


def main(argv=None, spark=None) -> None:
    """CLI driver; ``spark`` can be injected for in-process tests (the
    session is then left running)."""
    args = parse_args(argv)
    from pyspark.sql import Observation, functions as F

    from ocr_project_spark.session import build_session, release_checkpoint

    owns_session = spark is None
    if owns_session:
        spark = build_session(app_name="ocr-project-spark-curate")
    held: list = []
    rules_prev = spark.conf.get(AQE_RULES_KEY, None)
    spark.conf.set(
        AQE_RULES_KEY, ",".join(r for r in (rules_prev, AQE_EMPTY_PRUNING) if r)
    )
    try:
        # one read: its schema inference is a Spark job of its own
        src = spark.read.parquet(args.documents)
        n0 = src.count()
        print(f"curate: input {n0} documents")
        # per-stage and output counts ride the checkpoints and the final
        # write as observed metrics, not one .count() action each
        docs, observations = curation_chain(spark, src, args, held)
        out_obs = Observation("out")
        docs.observe(out_obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(args.out)
        for label, obs in observations:
            print(f"curate: {label} kept {obs.get['n']} documents")
        print(f"curate: wrote {out_obs.get['n']} of {n0} documents -> {args.out}")
    finally:
        for df in held:
            release_checkpoint(df)
        if rules_prev is None:
            spark.conf.unset(AQE_RULES_KEY)
        else:
            spark.conf.set(AQE_RULES_KEY, rules_prev)
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
