"""spark-submit entrypoint for the extraction batch job.

Usage (cluster):
    spark-submit --master <cluster> --py-files dist/ocr_project_spark.zip \\
        --driver-java-options -XX:TieredStopAtLevel=1 \\
        ocr_project_spark/jobs/extract.py \\
        --pages <table-or-parquet-path> --results <out> --lineage <out> \\
        [--num-partitions N] [--synthesize-sf-dir DIR]

Under spark-submit the driver JVM is already running when build_session()
runs, so its C1-tier flag (see session.py) is passed on the command line.

The job is the SURVEY §3.1 plan: read pages → validate/dispatch → anti-join
against already-written results (resume) → url-hash rebalance →
Arrow-batch extraction → append results + append lineage. Re-running
after a crash extracts only missing urls (see operators/resume.py).

Local smoke (no cluster):
    python -m ocr_project_spark.jobs.extract \\
        --synthesize-sf-dir /root/testdata/sf0.001 \\
        --results /tmp/res --lineage /tmp/lin
"""

from __future__ import annotations

import argparse


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", help="input pages table path (parquet/iceberg)")
    p.add_argument(
        "--synthesize-sf-dir",
        help="synthesize the pages table from this testdata dir instead of "
        "reading --pages (deterministic fixture mode)",
    )
    p.add_argument("--results", required=True, help="results output path")
    p.add_argument("--lineage", help="lineage output path")
    p.add_argument(
        "--num-partitions",
        type=int,
        default=None,
        help="url-hash bucket count of the extraction; an upper bound on "
        "the extraction tasks, as AQE packs small buckets into one task "
        "(default: keep the input partitioning); with --synthesize-sf-dir "
        "also the synthesized table's partition count",
    )
    p.add_argument(
        "--wet",
        help="also publish the extracted text as WET segments (WARC "
        "conversion records, Common Crawl's extracted-text format) to "
        "this path — one parquet row per segment",
    )
    p.add_argument(
        "--circuit-breaker",
        action="store_true",
        help="replay the prior run's lineage through the R3 health state "
        "machine and short-circuit tripped backends to model-not-loaded "
        "rows (requires --lineage)",
    )
    return p.parse_args(argv)


def main(argv=None, spark=None) -> None:
    """CLI driver; ``spark`` can be injected for in-process tests (the
    session is then left running)."""
    args = parse_args(argv)
    from ocr_project_spark.pipeline import run_job
    from ocr_project_spark.session import build_session

    owns_session = spark is None
    if owns_session:
        spark = build_session(app_name="ocr-project-spark-extract")
    try:
        if args.synthesize_sf_dir:
            from ocr_project_spark.datagen import synthesize_pages

            pages = synthesize_pages(
                spark,
                args.synthesize_sf_dir,
                num_partitions=args.num_partitions,
            )
        elif args.pages:
            pages = spark.read.parquet(args.pages)
        else:
            raise SystemExit("one of --pages / --synthesize-sf-dir is required")
        run_job(
            spark,
            pages,
            args.results,
            lineage_path=args.lineage,
            num_partitions=args.num_partitions,
            circuit_breaker=args.circuit_breaker,
        )
        if args.wet:
            from ocr_project_spark.sources.warc import wet_from_results

            successes = (
                spark.read.parquet(args.results)
                .where("success")
                .select("url", "text")
            )
            wet_from_results(successes).write.mode("overwrite").parquet(args.wet)
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
