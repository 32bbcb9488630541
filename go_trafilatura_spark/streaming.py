"""Structured Streaming over incoming WARC/page shards.

The reference has no streaming runtime (SURVEY.md §2.14) — its batch
CLI polls sources. Here the same extraction kernel (the mapInArrow
``kernel.make_arrow_kernel``) runs unchanged under Structured Streaming:
new parquet files landing in a directory are one micro-batch each;
checkpointing gives exactly-once file-sink semantics, which subsumes the
north rule's resume-from-checkpoint requirement in streaming form (the
batch path uses the bucket manifest in pipeline.py).

Scale notes: maxFilesPerTrigger bounds micro-batch size so executor
memory stays flat; the kernel stage parallelism follows the source file
partitioning (no shuffle needed in-stream — extraction is row-local).

The stateful operators stay on ``applyInPandasWithState`` (the package's
only pandas): they expire state by processing-time timeout, and in Spark
4.1 ``transformWithState`` supports state TTL only on the session-wide
``RocksDBStateStoreProvider``; its PySpark client also needs protobuf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from .pipeline import HOST_REGEX, extract_pages

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def read_page_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of page shards (new parquet files under path)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(stream_df: DataFrame, options: dict | None = None) -> DataFrame:
    """Apply the extraction kernel to a streaming DataFrame: the batch
    extract_pages plan minus its repartition. mapInArrow is stateless
    row-local work, so it is fully streaming-compatible."""
    return extract_pages(stream_df, options, repartition=False)


def start_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    options: dict | None = None,
    max_files_per_trigger: int = 4,
):
    """readStream → kernel → parquet writeStream with checkpointing.
    Returns the StreamingQuery; call .processAllAvailable() in tests or
    .awaitTermination() in production."""
    stream = read_page_stream(spark, input_path, max_files_per_trigger)
    extracted = extract_stream(stream, options)
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )


def stateful_host_dedup_stream(
    stream_df: DataFrame,
    ttl_minutes: int = 60,
):
    """Custom stateful streaming operator (applyInPandasWithState): an
    online per-host exact-dedup filter. State = the set of content
    fingerprints seen per host (bounded by processing-time timeout).
    Emits only first-seen (host, fingerprint) rows — the streaming twin
    of the corpus-level dedup (SURVEY.md §2.9), with the same
    order-dependence the reference's shared LRU cache has, made explicit
    per host partition.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType([
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("fingerprint", StringType()),
        StructField("seen_before", LongType()),
    ])
    state_schema = StructType([StructField("fingerprints", StringType())])

    def dedup_fn(key, pdf_iter, state: GroupState):
        seen: set[str] = set()
        if state.exists:
            (blob,) = state.get
            seen = set(blob.split("\x1f")) if blob else set()
        import pandas as pd

        host = key[0]
        out = []
        for pdf in pdf_iter:
            for url, fp in zip(pdf["url"], pdf["fingerprint"]):
                dup = fp in seen
                if not dup:
                    seen.add(fp)
                out.append((host, url, fp, 1 if dup else 0))
        state.update(("\x1f".join(sorted(seen)),))
        state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        yield pd.DataFrame(out, columns=["host", "url", "fingerprint", "seen_before"])

    hosts = stream_df.select(
        F.regexp_extract("url", HOST_REGEX, 1).alias("host"),
        "url",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fingerprint"),
    )
    return hosts.groupBy("host").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stateful_lsh_candidates_stream(
    stream_df: DataFrame,
    k_shingle: int = 3,
    ttl_minutes: int = 60,
):
    """Streaming MinHash-LSH candidate generation — the streaming twin
    of textops.minhash_lsh_pairs. Per-row signatures are computed with
    JVM higher-order expressions (array_min over the hashed shingle
    array — no groupBy, so the projection is streaming-safe), banded
    2×2 exactly like the batch op, and each band key routes to one
    stateful bucket registry (applyInPandasWithState keyed on
    (band, key)). The first document to present a bucket key becomes
    its representative; every later document with the same key emits a
    candidate pair (rep_doc, doc_id) — the same pairs the batch
    equi-join produces, discovered online. State is one representative
    id per bucket, expired by processing-time TTL (the streaming
    analogue of the batch op's hot-band cap: a degenerate bucket emits
    one row per member, never |group|²)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .textops import MINHASH_PERMS, MINHASH_PRIME, _shingles_sql

    sig_exprs = []
    hashes = (f"transform({_shingles_sql(k_shingle)}, "
              f"s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"
              f" % {MINHASH_PRIME}L)")
    for i, (a, b) in enumerate(MINHASH_PERMS):
        sig_exprs.append(
            f"array_min(transform({hashes}, "
            f"h -> ({a}L * h + {b}L) % {MINHASH_PRIME}L)) AS sig{i}"
        )
    sigs = (
        stream_df.withColumn("tokens", F.split(F.trim("text"), r"\s+"))
        .selectExpr("doc_id", *sig_exprs)
        .where(F.col("sig0").isNotNull())  # sub-k docs have no shingles
    )
    # 2 bands × 2 rows — identical banding to the batch op
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.xxhash64(F.lit(0), "sig0", "sig1"),
                F.xxhash64(F.lit(1), "sig2", "sig3"),
            )
        ).alias("band", "bucket_key"),
    )

    out_schema = StructType([
        StructField("band", IntegerType()),
        StructField("bucket_key", LongType()),
        StructField("rep_doc", LongType()),
        StructField("doc_id", LongType()),
        StructField("is_rep", IntegerType()),
    ])
    state_schema = StructType([StructField("rep_doc", LongType())])

    def bucket_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        band, bucket_key = key
        rep = state.get[0] if state.exists else None
        out = []
        for pdf in pdf_iter:
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                if rep is None:
                    rep = doc_id
                    out.append((band, bucket_key, rep, doc_id, 1))
                else:
                    out.append((band, bucket_key, rep, doc_id, 0))
        state.update((rep,))
        state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        yield pd.DataFrame(
            out, columns=["band", "bucket_key", "rep_doc", "doc_id", "is_rep"])

    return banded.groupBy("band", "bucket_key").applyInPandasWithState(
        bucket_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
