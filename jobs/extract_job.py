"""spark-submit entry point for the extraction pipeline.

    python -m go_trafilatura_spark.package_zip           # build dist zip
    spark-submit --py-files dist/go_trafilatura_spark.zip \
        jobs/extract_job.py --input /path/pages --output /path/out \
        [--partitions 256] [--resume] [--lang en] [--favor precision|recall]

The job reads the north-rule pages table, runs the Arrow extraction
kernel, and writes parquet. With --resume it uses the bucket-manifest
protocol (skip completed url-hash buckets on re-run). Observation
metrics (row/reject counts) print as one JSON line on completion.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--partitions", type=int, default=256)
    parser.add_argument("--resume", action="store_true")
    parser.add_argument("--lang", default=None, help="pre-parse lang filter")
    parser.add_argument("--favor", choices=("precision", "recall"), default=None)
    parser.add_argument("--min-extracted-size", type=int, default=None)
    args = parser.parse_args()
    if args.resume and args.lang:
        # the bucket-manifest path has no pre-parse language filter
        parser.error("--lang cannot be combined with --resume")

    from pyspark.sql import SparkSession, functions as F

    from go_trafilatura_spark.pipeline import (
        ARROW_BATCH_SIZE, extract_pages, extract_pages_resumable, read_pages,
        write_extracted,
    )

    spark = SparkSession.builder.appName("gts-extract").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_SIZE))

    options: dict = {}
    if args.favor == "precision":
        options["focus"] = 2
    elif args.favor == "recall":
        options["focus"] = 1
    if args.min_extracted_size is not None:
        options["config"] = {"min_extracted_size": args.min_extracted_size}

    if args.resume:
        out = extract_pages_resumable(
            spark, args.input, args.output, options, args.partitions
        )
        n = out.count()
        rejected = out.where(F.col("reject_reason").isNotNull()).count()
    else:
        pages = read_pages(spark, args.input)
        extracted = extract_pages(
            pages, options, num_partitions=args.partitions, lang_filter=args.lang
        )
        from pyspark.sql import Observation

        obs = Observation("extract_metrics")
        observed = extracted.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("reject_reason").isNotNull().cast("long")).alias("rejected"),
        )
        write_extracted(observed, args.output)
        n = obs.get["rows"]
        rejected = obs.get["rejected"]

    print(json.dumps({"rows": int(n), "rejected": int(rejected or 0),
                      "output": args.output}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
