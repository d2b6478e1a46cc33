"""spark-submit entry point for the flagship validation job.

Usage (multi-executor cluster — the north-rule deployment shape):

    python tools/make_pyfiles.py   # builds dist/xmlschemavalidator_spark.zip
    spark-submit \\
        --py-files dist/xmlschemavalidator_spark.zip \\
        jobs/validate_job.py \\
        --input  /data/pages            # parquet/Iceberg path, input_hint schema
        --output /data/validation_out   # violations + manifest root
        --snapshot snap-2026-08-16      # lineage key for resume
        --partition-col part            # Iceberg-style partition column
        [--synthetic-rows N]            # no --input: generate N pages instead

The job is resumable: re-submitting with the same --snapshot skips
partitions already committed to <output>/manifest (see manifest.py).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--snapshot", required=True)
    p.add_argument("--partition-col", default="part")
    p.add_argument("--partition-buckets", type=int, default=256)
    p.add_argument("--synthetic-rows", type=int, default=1_000_000)
    p.add_argument("--key", default="url")
    args = p.parse_args(argv)

    spark = (
        SparkSession.builder.appName(f"validate-{args.snapshot}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )

    from xmlschemavalidator_spark.flagship import web_ruleset
    from xmlschemavalidator_spark.manifest import MetricsManifest, resumable_validate
    from xmlschemavalidator_spark.tables import with_bucket

    if args.input:
        df = spark.read.parquet(args.input)
    else:
        from xmlschemavalidator_spark.datagen import pages

        df = pages(spark, args.synthetic_rows)

    if args.partition_col not in df.columns:
        # derive an Iceberg-partition-like bucket column from the key hash
        df = with_bucket(df, args.key, args.partition_buckets, args.partition_col)

    manifest = MetricsManifest(f"{args.output}/manifest")
    committed = resumable_validate(
        df,
        web_ruleset(),
        key=args.key,
        partition_col=args.partition_col,
        snapshot=args.snapshot,
        manifest=manifest,
        violations_out=f"{args.output}/violations",
    )
    total = manifest.metrics(args.snapshot)
    print(
        json.dumps(
            {
                "snapshot": args.snapshot,
                "partitions_committed_this_run": len(committed),
                "partitions_total": len(total),
                "n_rows": sum(m.n_rows for m in total),
                "n_failed_docs": sum(m.n_failed_docs for m in total),
                "n_violations": sum(m.n_violations for m in total),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
