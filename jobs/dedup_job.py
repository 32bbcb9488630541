"""spark-submit entry point for the corpus dedup / quality pipeline.

    python -m go_trafilatura_spark.package_zip           # build dist zip
    spark-submit --py-files dist/go_trafilatura_spark.zip \
        jobs/dedup_job.py --input /path/documents --output /path/out \
        [--stage exact|minhash|clusters|substring|quality] [--partitions 256] \
        [--k-shingle 3] [--k-substring 50] [--checkpoint-dir /path/ckpt]

Reads a documents table (doc_id, text, ...), runs the selected
corpus-level stage from textops, and writes parquet:

- exact:    md5-fingerprint duplicate flags (one uniform shuffle)
- minhash:  MinHash signatures (explode -> map-side partial min)
- clusters: LSH candidate pairs -> connected-component cluster ids
            (reliable checkpoint when --checkpoint-dir is given —
            executor-loss-safe lineage truncation at scale)
- substring: exact-substring duplicated-fraction filter (Lee et al.
            2022 k-token windows; --k-substring is the window size,
            default 50 — the paper's production setting, deliberately
            NOT the minhash --k-shingle of 3, which would flag every
            3-token span and reject most documents). Runs the
            hashed-shingle production path (xxhash64 shuffle keys).
- quality:  Gopher repetition signals + acceptance flags + unigram-LM
            scores joined per document (projection + one broadcast join)
- all:      the composed corpus pipeline (line_dedup → substring-dedup
            filter, hashed, k=--k-substring → gopher quality →
            per-host cap → stratified sample) as ONE lineage — the
            same pipeline.corpus_dedup_pipeline bench.py attests, with
            the same persist structure. --url-col auto uses the input's
            `url` column for the host cap when present and skips the
            cap otherwise; --max-per-host / --sample-fraction /
            --strata-col parameterize the tail stages.

Prints one JSON metrics line on completion.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--stage", default="exact",
                        choices=("exact", "minhash", "clusters", "substring",
                                 "quality", "all"))
    parser.add_argument("--partitions", type=int, default=256)
    parser.add_argument("--k-shingle", type=int, default=3,
                        help="minhash/clusters shingle size")
    parser.add_argument("--k-substring", type=int, default=50,
                        help="substring-dedup window size (Lee et al. 2022 "
                             "uses ~50 tokens)")
    parser.add_argument("--checkpoint-dir", default=None)
    parser.add_argument("--url-col", default="auto",
                        help="--stage all: column holding the document "
                             "url for the per-host cap; 'auto' uses "
                             "'url' when the input has one, 'none' "
                             "skips the host-cap stage")
    parser.add_argument("--max-per-host", type=int, default=50)
    parser.add_argument("--sample-fraction", type=float, default=0.5)
    parser.add_argument("--strata-col", default="lang")
    args = parser.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from go_trafilatura_spark import textops

    spark = SparkSession.builder.appName(f"gts-dedup-{args.stage}").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))

    # Each action runs under a description naming its job step, so the
    # event log's stages map to the steps (reading the input's schema,
    # the clusters stage's eager checkpoints and the fan-out probes run
    # while the stage is built).
    describe = spark.sparkContext.setJobDescription
    describe(f"dedup_job --stage {args.stage}: read the input and build the stage")
    docs = spark.read.parquet(args.input)

    if args.stage == "exact":
        out = textops.exact_dedup_flags(docs)
    elif args.stage == "minhash":
        out = textops.minhash_signatures(docs, k_shingle=args.k_shingle)
    elif args.stage == "clusters":
        checkpoint = "local"
        if args.checkpoint_dir:
            spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
            checkpoint = "reliable"
        out = textops.dedup_clusters(docs, k_shingle=args.k_shingle,
                                     checkpoint=checkpoint)
    elif args.stage == "substring":
        out = textops.substring_dedup_filter(docs, k=args.k_substring,
                                             hash_shingles=True)
    elif args.stage == "all":
        from go_trafilatura_spark.pipeline import corpus_dedup_pipeline

        url_col = args.url_col
        if url_col == "auto":
            url_col = "url" if "url" in docs.columns else None
        elif url_col == "none":
            url_col = None
        # The input here is a columnar table scan — NOT persisted
        # (persisting 100 TB of source text would be the bug); the
        # pipeline's internal reduction frames are persisted inside
        # corpus_dedup_pipeline, same structure the bench attests.
        out, handles = corpus_dedup_pipeline(
            docs, url_col=url_col, k_substring=args.k_substring,
            max_per_host=args.max_per_host,
            sample_fraction=args.sample_fraction,
            strata_col=args.strata_col)
    else:  # quality
        rep = textops.gopher_repetition(docs)
        qual = textops.gopher_quality_filter(docs).select(
            "doc_id", "keep")
        lm = textops.unigram_logprob(docs).select(
            "doc_id", "mean_neg_log2p")
        out = (rep.join(qual, "doc_id").join(lm, "doc_id", "left"))

    from pyspark.sql import Observation

    obs = Observation("dedup_metrics")
    observed = out.observe(obs, F.count(F.lit(1)).alias("rows"))
    describe(f"dedup_job --stage {args.stage}: run the stage and write its output")
    observed.write.mode("overwrite").parquet(args.output)
    metrics = {"stage": args.stage, "rows": int(obs.get["rows"]),
               "output": args.output}
    if args.stage == "all":
        for h in handles:
            h.unpersist()
        describe("dedup_job --stage all: count the input documents")
        metrics["docs_in"] = docs.count()
        metrics["docs_out"] = metrics["rows"]
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
