"""DataFrame pipeline: scan → skew-safe salted repartition → Arrow
kernel → sink, plus the resumable per-partition lineage manifest.

This is the Spark lifecycle from SURVEY.md §3.4:

    spark.read.parquet(pages)                 -- Catalyst scan, col pruning
      .where(optional lang/size prefilter)    -- predicate pushdown
      .repartition(N, salted url hash)        -- explicit skew-safe shuffle
      .mapInArrow(extract_kernel, OUT)        -- Arrow batches → cascade
      .write.parquet(...)                     -- idempotent per-shard commit

Design for 100 TB / 1000 executors:
- Column pruning: we select exactly (url, warc_ts, html, lang) before the
  kernel; Catalyst pushes the projection into the parquet scan so `text`
  (the widest column after html) is never read.
- Skew: Common-Crawl rows cluster by host; a pure url hash is fine for
  CPU-uniform work, but giant-host skew at read time is defeated with
  xxhash64(url) ⊕ a per-row salt over SALT_BUCKETS. AQE coalesces small
  partitions after the exchange.
- Arrow batches are capped (maxRecordsPerBatch) because rows are fat.
- Resume: each task writes a manifest row (partition id, input split
  hash, row count). A re-run anti-joins the manifest to skip completed
  shards; the parquet commit protocol keeps retries idempotent.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from .kernel import OUTPUT_SCHEMA, TIMED_OUTPUT_SCHEMA, KernelOptions, make_arrow_kernel

SALT_BUCKETS = 64
ARROW_BATCH_SIZE = 512


def build_session(
    app_name: str = "go-trafilatura-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session tuned for the extraction workload (AQE on, Arrow on,
    small Arrow batches for fat HTML rows)."""
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_SIZE))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Scan the pages table (url, warc_ts, html, text, lang)."""
    return spark.read.parquet(path)


def salted_repartition(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Explicit shuffle on xxhash64(url). Urls are unique per row, so the
    hash is already uniform across partitions regardless of host skew —
    per-row keys need no extra salt (a derived "salt" that is a function
    of the url would distribute identically). Salting matters when the
    KEY is hot, i.e. host-level aggregations — see salted_host_agg."""
    n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return df.repartition(int(n), F.xxhash64(F.col("url")))


# Scheme-agnostic host extraction: any scheme (http, https, ftp, ...),
# optional userinfo, stop at port/path/query/fragment. The pattern is
# RE2-compatible and runs identically in Spark and DuckDB (the oracle
# uses the same literal) — a https-only pattern would map every http://
# url to host "", creating the exact giant skewed key the salted
# aggregation exists to defeat.
HOST_REGEX = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"


def salted_host_agg(pages: DataFrame) -> DataFrame:
    """Skew-safe per-host aggregation: the host key IS hot (Zipf hosts —
    one host can be 10% of a crawl), so aggregate in two stages:
    groupBy(host, salt) partial → groupBy(host) final. The salt is
    derived from the url (uniform within a host, deterministic on
    retries), so a giant host spreads over ``SALT_BUCKETS`` reducers in
    stage one and the final shuffle carries ≤ SALT_BUCKETS rows per
    host. This is the real skew story behind the north rule's
    "repartitioning by url-hash salted against skewed hosts"."""
    host = F.regexp_extract("url", HOST_REGEX, 1).alias("host")
    salt = F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS)).cast("int").alias("salt")
    partial = (
        pages.select(host, salt, F.length("html").cast("bigint").alias("html_len"))
        .groupBy("host", "salt")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("html_len").alias("total_bytes"),
        )
    )
    return partial.groupBy("host").agg(
        F.sum("n_pages").alias("n_pages"),
        F.sum("total_bytes").alias("total_bytes"),
    )


def host_cap(pages: DataFrame, max_per_host: int = 3,
             id_col: str | None = None) -> DataFrame:
    """Per-host document cap (the crawl-pipeline step limiting any one
    site's share of the corpus): keep the lexicographically-first
    ``max_per_host`` urls of every host.

    Skew-safe two-stage top-N — the naive single window
    ``row_number() over (partition by host order by url)`` serializes a
    Zipf-hot host into one task; instead stage one takes the per-group
    top-N within each (host, url-salt) partition, and the per-host
    stage-two combine sees ≤ SALT_BUCKETS·N rows regardless of host
    size. Exact: min-N of a union is the min-N of per-part min-Ns.

    Both stages are ``row_number`` windows, NOT collect_list+slice: a
    sort-based window never materializes the group in an aggregation
    buffer — the shuffle's external sort spills to disk and the running
    row counter is O(1) state — so executor memory stays bounded even
    when one (host, salt) group holds millions of urls (an earlier
    collect_list formulation built the whole group as one in-memory
    array before slicing, an OOM at Zipf-host scale; pinned by
    test_host_cap_hot_host_bounded_state).

    Output: (host, url) for the kept documents.

    ``id_col`` (optional) caps at DOCUMENT granularity: rows are ranked
    by (url, id) and the id is carried through, so several documents
    sharing one url each count toward the cap and the caller can
    semi-join on the id instead of the (possibly shared) url — the
    shared-url over-cap ADVICE r6 flagged in corpus_dedup_pipeline.
    Default (None) is the original url-granularity behavior."""
    from pyspark.sql import Window

    host = F.regexp_extract("url", HOST_REGEX, 1).alias("host")
    salt = F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS)).cast("int").alias("salt")
    order = ["url", id_col] if id_col else ["url"]
    keep_cols = ["host", "url"] + ([id_col] if id_col else [])
    w1 = Window.partitionBy("host", "salt").orderBy(*order)
    stage1 = (
        pages.select(host, salt, "url", *([id_col] if id_col else []))
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= max_per_host)
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        stage1.select(*keep_cols)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= max_per_host)
        .select(*keep_cols)
    )


def partition_time_stats(timed_df: DataFrame) -> DataFrame:
    """Skew observability (SURVEY.md §7.4.8): per-partition kernel time
    distribution from extract_pages_timed — p50/p99/max show whether the
    url-hash shuffle kept partitions uniform. kernel_ms is constant per
    Arrow batch and batches are tagged with batch_id, so per-partition
    time = sum over (pid, batch_id) of one batch time each (two batches
    that happen to take identical wall time are no longer collapsed)."""
    per_batch = (
        timed_df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid", "batch_id")
        .agg(F.first("kernel_ms").alias("batch_ms"))
    )
    per_part = per_batch.groupBy("pid").agg(F.sum("batch_ms").alias("partition_ms"))
    return per_part.agg(
        F.count("*").alias("partitions"),
        F.round(F.percentile_approx("partition_ms", 0.5), 1).alias("p50_ms"),
        F.round(F.percentile_approx("partition_ms", 0.99), 1).alias("p99_ms"),
        F.round(F.max("partition_ms"), 1).alias("max_ms"),
    )


def extract_pages_timed(
    df: DataFrame,
    options: dict | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """extract_pages with a per-batch kernel_ms column for skew analysis
    via partition_time_stats."""
    return _extract_pages(df, options, num_partitions, with_timing=True)


def extract_pages(
    df: DataFrame,
    options: dict | None = None,
    num_partitions: int | None = None,
    lang_filter: str | None = None,
    repartition: bool = True,
) -> DataFrame:
    """The flagship operator: pages → extracted columns.

    ``options`` is the plain-dict form of core Options (broadcast via
    closure). ``lang_filter`` is a cheap pre-parse predicate pushed into
    the parquet scan (the input `lang` column), mirroring the
    reference's language gate short-circuit (SURVEY.md §2.2).
    """
    return _extract_pages(df, options, num_partitions, lang_filter=lang_filter,
                          repartition=repartition)


def _extract_pages(df: DataFrame, options: dict | None, num_partitions: int | None,
                   lang_filter: str | None = None, repartition: bool = True,
                   with_timing: bool = False) -> DataFrame:
    """select → [lang filter] → [salted_repartition] → mapInArrow: the
    one extraction plan behind extract_pages and extract_pages_timed."""
    cols = [c for c in ("url", "warc_ts", "html", "lang") if c in df.columns]
    pruned = df.select(*cols)
    if lang_filter:
        pruned = pruned.where(F.col("lang") == lang_filter)
    if repartition:
        pruned = salted_repartition(pruned, num_partitions)
    kernel = make_arrow_kernel(KernelOptions(options or {}, with_timing=with_timing))
    return pruned.mapInArrow(kernel, TIMED_OUTPUT_SCHEMA if with_timing else OUTPUT_SCHEMA)


# ---------------------------------------------------------------------------
# Table sinks: writeTo-style interface (SURVEY.md §3.4). The production
# story is an Iceberg table with overwritePartitions (snapshot-isolated
# idempotent retries); local runs emulate the same semantics over
# parquet with dynamic partition overwrite. The pipeline talks only to
# this interface, so a cluster deployment swaps backends without
# forking extract_pages_resumable.
# ---------------------------------------------------------------------------

class TableSink:
    def append(self, df: DataFrame) -> None:
        raise NotImplementedError

    def overwrite_partitions(self, df: DataFrame) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession) -> DataFrame:
        """The table's rows; FileNotFoundError only when the table does
        not exist, any other read error propagates."""
        raise NotImplementedError


def _read_table(read, target: str, missing: str) -> DataFrame:
    """``read(target)`` with the AnalysisException of error condition
    ``missing`` raised as FileNotFoundError."""
    try:
        return read(target)
    except AnalysisException as e:
        if e.getCondition() == missing:
            raise FileNotFoundError(target) from e
        raise


class ParquetSink(TableSink):
    """Local backend: partitioned parquet with dynamic partition
    overwrite emulating Iceberg's overwritePartitions."""

    def __init__(self, path: str, partition_by: tuple = ("bucket",)):
        self.path = path
        self.partition_by = tuple(partition_by)

    def _writer(self, df: DataFrame, mode: str):
        w = df.write.mode(mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        return w

    def append(self, df: DataFrame) -> None:
        self._writer(df, "append").parquet(self.path)

    def overwrite_partitions(self, df: DataFrame) -> None:
        spark = df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            self._writer(df, "overwrite").parquet(self.path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def read(self, spark: SparkSession) -> DataFrame:
        return _read_table(spark.read.parquet, self.path, "PATH_NOT_FOUND")


class IcebergSink(TableSink):
    """Cluster backend: a catalog table written through the DataFrameV2
    API — df.writeTo(table).overwritePartitions() is the north rule's
    idempotent per-partition commit. Requires an Iceberg (or other v2)
    catalog on the session; not exercisable in this sandbox, but the
    call surface is the public Spark API."""

    def __init__(self, table: str):
        self.table = table

    def append(self, df: DataFrame) -> None:
        df.writeTo(self.table).append()

    def overwrite_partitions(self, df: DataFrame) -> None:
        df.writeTo(self.table).overwritePartitions()

    def read(self, spark: SparkSession) -> DataFrame:
        return _read_table(spark.read.table, self.table, "TABLE_OR_VIEW_NOT_FOUND")


def write_extracted(df: DataFrame, path: str) -> None:
    """Write extracted rows to ``path`` as parquet, replacing any
    previous output (extract_job's non-resume write)."""
    df.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Resume manifest: batch-level per-partition lineage (SURVEY.md §2.14/§4)
# ---------------------------------------------------------------------------

def manifest_path(output_path: str) -> str:
    return output_path.rstrip("/") + "_manifest"


def extract_pages_resumable(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    options: dict | None = None,
    num_partitions: int = 32,
    sink: TableSink | None = None,
    manifest_sink: TableSink | None = None,
) -> DataFrame:
    """Idempotent, resumable extraction over a pages table.

    Work is bucketed by xxhash64(url) % num_partitions; each completed
    bucket commits its output under bucket=<id>/ plus a manifest row
    (bucket id, row count). A re-run reads the manifest and processes
    only missing buckets — per-partition lineage + checkpointed resume
    per the north rule. The commit goes through a TableSink (parquet
    emulation locally, IcebergSink on a cluster); the task-commit /
    snapshot protocol of the backend makes partial retries invisible,
    bucket-level manifests make whole-job restarts cheap.
    """
    sink = sink or ParquetSink(output_path, partition_by=("bucket",))
    manifest_sink = manifest_sink or ParquetSink(
        manifest_path(output_path), partition_by=()
    )

    df = read_pages(spark, input_path)
    df = df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(num_partitions)).cast("int")
    )

    try:
        mdf = manifest_sink.read(spark)
    except FileNotFoundError:  # no manifest yet
        done_buckets: set[int] = set()
    else:
        done_buckets = {r["bucket"] for r in mdf.select("bucket").distinct().collect()}

    if len(done_buckets) >= num_partitions:
        return sink.read(spark)  # nothing left to do

    todo = df.where(~F.col("bucket").isin(sorted(done_buckets))) if done_buckets else df

    result = extract_pages(todo.drop("bucket"), options, num_partitions)
    result = result.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(num_partitions)).cast("int")
    )

    # Per-bucket row counts are collected ON the write pass with
    # df.observe() — no readback scan of the output at all (round-2
    # partition-pruned the readback to new buckets; this removes it
    # entirely: at 100 TB of output the manifest costs zero extra IO).
    from pyspark.sql import Observation

    todo_buckets = sorted(set(range(num_partitions)) - done_buckets)
    obs = Observation("bucket_counts")
    count_exprs = [
        F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(f"b{b}")
        for b in todo_buckets
    ]
    result = result.observe(obs, *count_exprs)
    sink.append(result)

    observed = obs.get
    rows = [(b, int(observed[f"b{b}"] or 0)) for b in todo_buckets]
    manifest_sink.append(
        spark.createDataFrame(rows, "bucket INT, row_count BIGINT").withColumn(
            "input_path", F.lit(input_path)
        )
    )

    return sink.read(spark)


# ---------------------------------------------------------------------------
# Golden comparison + corpus eval (SURVEY.md §2.10/§2.11)
# ---------------------------------------------------------------------------

def join_golden(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Broadcast equi-join of extraction output with the golden table
    and per-row byte-parity verdicts (the reference's comparison
    harness, scripts/comparison/content.go:345-383, as one Spark plan)."""
    g = F.broadcast(golden.select(
        F.col("url"),
        F.col("content_text").alias("expected_text"),
        F.col("comments_text").alias("expected_comments"),
    ))
    joined = extracted.join(g, "url", "inner")
    return joined.withColumn(
        "text_match", (F.col("content_text") == F.col("expected_text")).cast("int")
    ).withColumn(
        "comments_match",
        (
            (F.col("expected_comments") == "")
            | (F.col("comments_text") == F.col("expected_comments"))
        ).cast("int"),
    )


def eval_metrics(scored: DataFrame) -> DataFrame:
    """Aggregate parity rates (partial+final agg is free from Catalyst)."""
    return scored.agg(
        F.count("*").alias("docs"),
        F.sum("text_match").alias("text_matches"),
        F.sum("comments_match").alias("comments_matches"),
        F.avg("text_match").alias("text_match_rate"),
    )


def corpus_dedup_pipeline(
    ext: DataFrame,
    *,
    url_col: str | None = "url",
    k_substring: int = 50,
    max_per_host: int = 50,
    sample_fraction: float = 0.5,
    strata_col: str = "lang",
) -> tuple[DataFrame, list[DataFrame]]:
    """The composed corpus pipeline over an *extracted* documents frame
    (``doc_id``, ``text``, ``strata_col`` [, ``url_col``]):

        line_dedup → substring-dedup filter (hashed production path,
        k=``k_substring``) → gopher quality → per-host cap →
        stratified sample

    as ONE lineage — the training-data curation pass a crawl corpus
    goes through after extraction. Shared by ``bench.py``'s
    dedup_pipeline section and ``jobs/dedup_job.py --stage all`` so the
    attested composition and the spark-submit job run the same plan.

    Persist structure (the composition lesson measured in round 5 —
    a frame feeding two consumers inside one action executes its
    lineage twice, 47 s → 15 s at sf0.1 for the final stage):

    - ``deduped`` (line-level dedup output) feeds the substring filter,
      the gopher filter, and the kept-join — persisted.
    - ``gq`` (the gopher decision frame, two short columns per doc) is
      persisted BEFORE its keep-filter as an optimizer barrier — see
      the inline comment (filter pushdown otherwise re-inlines the
      repetition metric trees into the predicate, measured 10×).
    - ``kept`` (both quality semi-joins applied) feeds the host_cap
      input and the final join, and its lineage contains the
      substring-dedup shingle join — persisted.
    - ``ext`` itself feeds line_dedup and the final strata join; the
      CALLER decides whether to persist it (bench does — its lineage
      holds the Python extraction kernel; a parquet-scan caller like
      dedup_job leaves it unpersisted so 100 TB is never cached).

    ``url_col=None`` skips the host-cap stage (inputs without a url);
    ``url_col == "doc_id"`` caps directly on the id (the bench's
    synthetic corpus, where the doc_id IS the url).

    Returns ``(final, handles)``: materialize ``final`` (count/write),
    then unpersist each handle.
    """
    from . import textops

    # Early input validation (ADVICE r6): a missing strata/url column
    # otherwise surfaces as a late AnalysisException deep in the plan.
    for col, flag in ((strata_col, "strata_col"), (url_col, "url_col")):
        if col is not None and col not in ext.columns:
            raise ValueError(
                f"{flag}={col!r} not in input columns {ext.columns}")

    ld = textops.line_dedup(ext, text_col="text", id_col="doc_id")
    deduped = ld.where(F.col("n_lines_kept") > 0).select(
        "doc_id", F.col("text_deduped").alias("text")).persist()
    ss_keep = (textops.substring_dedup_filter(
                   deduped, k=k_substring, hash_shingles=True)
               .where(F.col("keep") == 1).select("doc_id"))
    # The gopher decision frame is PERSISTED before its keep-filter:
    # filtering directly on the computed ``keep`` column lets Catalyst
    # push the predicate through the projection, inlining the (higher-
    # order, interpreted, no-subexpression-elimination) repetition
    # metric trees into the filter condition several times over —
    # measured 10.7 s vs 1.0 s for the same frame at sf-bench scale
    # (round 7; the expression-level flavor of the optimization guide's
    # §4.4 duplicated-UDF trap). The cache is two short columns per doc
    # and is released with the other handles. substring's keep-filter
    # needs no barrier: its lineage ends in aggregations, which block
    # predicate pushdown into the metric computation.
    gq = (textops.gopher_quality_filter(deduped)
          .select("doc_id", "keep").persist())
    gq_keep = gq.where(F.col("keep")).select("doc_id")
    kept = (deduped.join(ss_keep, "doc_id", "left_semi")
            .join(gq_keep, "doc_id", "left_semi")).persist()

    if url_col is None:
        capped_kept = kept
    elif url_col == "doc_id":
        capped = host_cap(
            kept.select(F.col("doc_id").alias("url")),
            max_per_host=max_per_host,
        ).select(F.col("url").alias("doc_id"))
        capped_kept = kept.join(capped, "doc_id", "left_semi")
    else:
        # Document-granularity cap (ADVICE r6): rank (url, doc_id) so
        # several documents sharing one url each count toward the cap
        # and the semi-join keys on doc_id, never on a shared url.
        # Docs with a NULL url cannot be attributed to a host — they
        # bypass the cap explicitly instead of being silently dropped
        # by the equi-join.
        urls = kept.join(
            ext.select("doc_id", F.col(url_col).alias("url")), "doc_id")
        capped_ids = host_cap(
            urls.where(F.col("url").isNotNull()),
            max_per_host=max_per_host, id_col="doc_id",
        ).select("doc_id")
        null_ids = urls.where(F.col("url").isNull()).select("doc_id")
        capped_kept = kept.join(
            capped_ids.unionByName(null_ids), "doc_id", "left_semi")

    final = textops.stratified_sample(
        capped_kept.join(ext.select("doc_id", strata_col), "doc_id"),
        strata_col=strata_col, fraction=sample_fraction)
    return final, [deduped, gq, kept]
