"""spark-submit entrypoint for the corpus dedup job (training-data side).

Usage (cluster):
    spark-submit --master <cluster> --py-files dist/ocr_project_spark.zip \\
        --driver-java-options -XX:TieredStopAtLevel=1 \\
        ocr_project_spark/jobs/dedup.py \\
        --documents <parquet> --keep <out> [--kept-corpus <out>] \\
        [--max-bucket N]

Under spark-submit the driver JVM is already running when build_session()
runs, so its C1-tier flag (see session.py) is passed on the command line.

Pipeline: read documents → MinHash-LSH near-dup pairs (threshold 0.8,
64 hashes, 16 bands) → connected components (large-star/small-star,
components.py) → min-id keep-list written as a one-column parquet;
``--kept-corpus`` additionally materializes the surviving documents via a
left-semi join (the corpus the training run actually reads).

Local smoke (no cluster):
    python -m ocr_project_spark.jobs.dedup \\
        --documents /root/testdata/sf0.001/documents.parquet \\
        --keep /tmp/keep
"""

from __future__ import annotations

import argparse


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", required=True, help="documents parquet path")
    p.add_argument("--keep", required=True, help="keep-list output path")
    p.add_argument(
        "--kept-corpus",
        help="also write the surviving documents (left-semi join on the "
        "keep-list) to this path",
    )
    p.add_argument(
        "--max-bucket",
        type=int,
        default=None,
        help="degenerate-LSH-bucket cap (see dedup.minhash_near_dup_pairs); "
        "dropped buckets are counted and logged",
    )
    return p.parse_args(argv)


def main(argv=None, spark=None) -> None:
    """CLI driver; ``spark`` can be injected for in-process tests (the
    session is then left running)."""
    args = parse_args(argv)
    from pyspark.sql import Observation, functions as F

    from ocr_project_spark.dedup import minhash_dedup_keep, minhash_oversized_buckets
    from ocr_project_spark.session import build_session

    owns_session = spark is None
    if owns_session:
        spark = build_session(app_name="ocr-project-spark-dedup")
    try:
        docs = spark.read.parquet(args.documents)
        if args.max_bucket is not None:
            # the inventory count recomputes the hash->band pass —
            # deliberate: the module's no-persist stance (caching per-doc
            # arrays at scale costs more than one extra codegen'd pass)
            # applies to observability too
            n_dropped = minhash_oversized_buckets(docs, args.max_bucket).count()
            print(f"dedup: max_bucket={args.max_bucket} drops {n_dropped} buckets")
        keep = minhash_dedup_keep(docs, max_bucket=args.max_bucket)
        kept_obs = Observation("keep")
        keep.observe(kept_obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(args.keep)
        print(f"dedup: kept {kept_obs.get['n']} of {docs.count()} documents -> {args.keep}")
        if args.kept_corpus:
            kept_ids = spark.read.schema("doc_id long").parquet(args.keep)
            docs.join(kept_ids, "doc_id", "left_semi").write.mode(
                "overwrite"
            ).parquet(args.kept_corpus)
            print(f"dedup: kept corpus -> {args.kept_corpus}")
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
