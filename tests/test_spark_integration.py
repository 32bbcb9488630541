"""Spark integration: pipeline byte-parity, column pruning, resume
manifest, streaming, multimodal plumbing. One shared local session."""

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from go_trafilatura_spark.fixtures import ensure_fixtures
from go_trafilatura_spark.pipeline import (
    HOST_REGEX,
    build_session,
    eval_metrics,
    extract_pages,
    extract_pages_resumable,
    join_golden,
    read_pages,
)


@pytest.fixture(scope="module")
def spark():
    s = build_session(app_name="it-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def smoke_dir():
    return ensure_fixtures("smoke")


def test_pipeline_byte_parity(spark, smoke_dir):
    pages = read_pages(spark, os.path.join(smoke_dir, "pages.parquet"))
    out = extract_pages(pages)
    golden = spark.read.parquet(os.path.join(smoke_dir, "golden.parquet"))
    scored = join_golden(out, golden)
    row = eval_metrics(scored).collect()[0]
    assert row["docs"] == pages.count()
    assert row["text_matches"] == row["docs"]
    assert row["comments_matches"] == row["docs"]


def test_column_pruning(spark, smoke_dir):
    """The kernel must not read the wide `text` column: the parquet scan
    ReadSchema should be pruned to url/warc_ts/html/lang."""
    pages = read_pages(spark, os.path.join(smoke_dir, "pages.parquet"))
    out = extract_pages(pages)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema.split("ReadSchema")[1]
    assert "html" in read_schema

    # the cheap pre-parse language gate reaches the scan as a pushed filter
    filtered = extract_pages(pages, lang_filter="en")
    fplan = filtered._jdf.queryExecution().executedPlan().toString()
    pushed = [l for l in fplan.splitlines() if "PushedFilters" in l][0]
    assert "EqualTo(lang,en)" in pushed


def test_spans(spark, smoke_dir):
    pages = read_pages(spark, os.path.join(smoke_dir, "pages.parquet"))
    out = extract_pages(pages).where(F.col("reject_reason").isNull())
    sample = out.select("content_text", "content_spans").limit(20).collect()
    assert sample
    for row in sample:
        spans = row["content_spans"]
        assert spans, "expected at least one span"
        prev_end = 0
        for sp in spans:
            assert 0 <= sp["start"] < sp["end"] <= len(row["content_text"])
            assert sp["start"] >= prev_end
            prev_end = sp["start"]
            # the span slice round-trips
        first = spans[0]
        assert row["content_text"][first["start"]:first["end"]].strip() != ""


def test_partition_time_stats(spark, smoke_dir):
    """Per-partition kernel timing for skew observability."""
    from go_trafilatura_spark.pipeline import extract_pages_timed, partition_time_stats

    pages = read_pages(spark, os.path.join(smoke_dir, "pages.parquet"))
    timed = extract_pages_timed(pages, num_partitions=4)
    row = partition_time_stats(timed).collect()[0]
    assert row["partitions"] >= 1
    assert 0 < row["p50_ms"] <= row["p99_ms"] <= row["max_ms"] + 0.2
    # the output rows still carry the full extraction schema
    assert timed.columns[-3:] == ["kernel_ms", "batch_id", "cpu_ms"]
    assert "content_text" in timed.columns


def _plan_lines(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def test_extract_plan_exchange_keyed_on_content(spark, smoke_dir):
    """extract_pages shuffles once, on the html hash, and sorts on it in
    the kernel's stage, so every copy of a page reaches the kernel next
    to the others; repartition=False (streaming, pre-partitioned input)
    has neither the exchange nor the sort."""
    pages = read_pages(spark, os.path.join(smoke_dir, "pages.parquet"))
    lines = _plan_lines(extract_pages(pages, num_partitions=4))
    exchanges = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert len(exchanges) == 1, lines
    x = exchanges[0]
    assert "xxhash64(html" in lines[x] and "xxhash64(url" in lines[x], lines[x]
    assert "Sort [" in lines[x - 1] and "xxhash64(html" in lines[x - 1], lines
    assert "MapInArrow" in lines[x - 2], lines
    flat = _plan_lines(extract_pages(pages, repartition=False))
    assert not [l for l in flat if "Exchange" in l or "Sort [" in l], flat


def test_extract_copies_share_a_task_and_unparsed_rows_spread(spark, smoke_dir):
    """Copies of a page under other urls land in one partition; rows
    the kernel rejects unparsed (null or oversized html) are spread by
    their url, not piled into one."""
    from go_trafilatura_spark.kernel import DEFAULT_MAX_HTML_BYTES

    pages = read_pages(spark, os.path.join(smoke_dir, "pages.parquet")).limit(8)
    copies = pages.select(F.concat("url", F.lit("-copy")).alias("url"), "warc_ts", "html",
                          "text", "lang")
    nulls = spark.range(40).select(
        F.format_string("https://null%d.example/p", "id").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"), F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"))
    big = b"<html>" + b"x" * DEFAULT_MAX_HTML_BYTES
    oversized = spark.range(4).select(
        F.format_string("https://big%d.example/p", "id").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"), F.lit(big).alias("html"),
        F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"))
    out = extract_pages(pages.unionByName(copies).unionByName(nulls).unionByName(oversized),
                        num_partitions=4)
    rows = out.select("url", "reject_reason", "content_text",
                      F.spark_partition_id().alias("pid")).collect()
    by_url = {r["url"]: r for r in rows}
    for url in [r["url"] for r in pages.select("url").collect()]:
        assert by_url[url]["pid"] == by_url[url + "-copy"]["pid"]
        assert by_url[url]["content_text"] == by_url[url + "-copy"]["content_text"]
    for reason in ("null_html", "oversized"):
        assert len({r["pid"] for r in rows if r["reject_reason"] == reason}) > 1, reason


def test_resume_manifest(spark, smoke_dir):
    tmp = tempfile.mkdtemp(prefix="gts_resume_")
    try:
        out_path = os.path.join(tmp, "out")
        df1 = extract_pages_resumable(
            spark, os.path.join(smoke_dir, "pages.parquet"), out_path,
            num_partitions=4,
        )
        n1 = df1.count()
        assert n1 > 0
        # Second run: all buckets complete → no new rows appended
        df2 = extract_pages_resumable(
            spark, os.path.join(smoke_dir, "pages.parquet"), out_path,
            num_partitions=4,
        )
        assert df2.count() == n1
        manifest = spark.read.parquet(out_path + "_manifest")
        assert manifest.select("bucket").distinct().count() == 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_rejects_manifest_of_another_run(spark, smoke_dir):
    """The manifest records the input path and the bucket count: a
    re-run with another input or another --partitions raises, naming
    both values, and appends nothing."""
    tmp = tempfile.mkdtemp(prefix="gts_resume_")
    try:
        pages, out_path = os.path.join(smoke_dir, "pages.parquet"), os.path.join(tmp, "out")
        other = os.path.join(tmp, "other_pages")
        read_pages(spark, pages).limit(10).write.parquet(other)
        n1 = extract_pages_resumable(spark, pages, out_path, num_partitions=4).count()
        manifest = spark.read.parquet(out_path + "_manifest")
        assert {(r["input_path"], r["num_partitions"]) for r in manifest.collect()} == {
            (pages, 4)}
        recorded = f"records input_path={pages!r} num_partitions=4; "
        with pytest.raises(ValueError) as exc:
            extract_pages_resumable(spark, pages, out_path, num_partitions=8)
        assert str(exc.value).endswith(
            recorded + f"this run requests input_path={pages!r} num_partitions=8")
        with pytest.raises(ValueError) as exc:
            extract_pages_resumable(spark, other, out_path, num_partitions=4)
        assert str(exc.value).endswith(
            recorded + f"this run requests input_path={other!r} num_partitions=4")
        assert spark.read.parquet(out_path).count() == n1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_corrupt_manifest_raises(spark, smoke_dir):
    """An unreadable manifest is an error, not "no bucket done": the
    re-run raises and appends nothing to the output."""
    import glob

    tmp = tempfile.mkdtemp(prefix="gts_resume_")
    try:
        pages, out_path = os.path.join(smoke_dir, "pages.parquet"), os.path.join(tmp, "out")
        n1 = extract_pages_resumable(spark, pages, out_path, num_partitions=4).count()
        parts = glob.glob(os.path.join(out_path + "_manifest", "*.parquet"))
        assert parts
        for part in parts:
            with open(part, "wb") as f:
                f.write(b"not a parquet file")
        with pytest.raises(Exception) as exc:
            extract_pages_resumable(spark, pages, out_path, num_partitions=4)
        assert not isinstance(exc.value, FileNotFoundError)
        assert spark.read.parquet(out_path).count() == n1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_manifest_without_reject_count_raises(spark, smoke_dir):
    """A manifest from before the reject count was kept cannot give the
    job's counts: resuming from it raises, naming the column, and
    appends nothing."""
    from go_trafilatura_spark.pipeline import manifest_path, resume_counts

    tmp = tempfile.mkdtemp(prefix="gts_resume_")
    try:
        pages, out_path = os.path.join(smoke_dir, "pages.parquet"), os.path.join(tmp, "out")
        spark.createDataFrame(
            [(0, 5, pages, 4)],
            "bucket INT, row_count BIGINT, input_path STRING, num_partitions INT",
        ).write.parquet(manifest_path(out_path))
        with pytest.raises(ValueError, match="reject_count"):
            extract_pages_resumable(spark, pages, out_path, num_partitions=4)
        with pytest.raises(ValueError, match="reject_count"):
            resume_counts(spark, out_path)
        assert not os.path.exists(out_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_sink_backend_swap(spark, smoke_dir):
    """extract_pages_resumable talks only to the TableSink interface:
    a recording in-memory backend receives the same bucketed appends
    the parquet emulation does, and resume skips completed buckets
    based purely on the manifest the sink returns."""
    from go_trafilatura_spark.pipeline import TableSink, extract_pages_resumable, resume_counts

    class MemorySink(TableSink):
        def __init__(self):
            self.frames = []
            self.calls = []
            self.schema = None

        def append(self, df):
            self.calls.append("append")
            self.schema = df.schema
            self.frames.append(df.collect())

        def overwrite_partitions(self, df):
            self.calls.append("overwrite_partitions")
            self.schema = df.schema
            self.frames.append(df.collect())

        def read(self, spark_):
            if not self.frames:
                raise FileNotFoundError("empty sink")
            rows = [r for chunk in self.frames for r in chunk]
            return spark_.createDataFrame(rows, self.schema)

    out, manifest = MemorySink(), MemorySink()
    df1 = extract_pages_resumable(
        spark, os.path.join(smoke_dir, "pages.parquet"), "/nonexistent/unused",
        num_partitions=4, sink=out, manifest_sink=manifest,
    )
    n1 = df1.count()
    assert n1 > 0
    assert out.calls == ["append"]
    assert {r["bucket"] for r in manifest.frames[0]} == {0, 1, 2, 3}
    # manifest row counts equal the committed rows per bucket
    from collections import Counter

    committed = Counter(r["bucket"] for r in out.frames[0])
    assert {r["bucket"]: r["row_count"] for r in manifest.frames[0]} == dict(committed)
    rejected = Counter(r["bucket"] for r in out.frames[0] if r["reject_reason"] is not None)
    assert {r["bucket"]: r["reject_count"] for r in manifest.frames[0]} == {
        b: rejected.get(b, 0) for b in committed}
    assert resume_counts(spark, "/nonexistent/unused", manifest) == (n1, sum(rejected.values()))

    # resume: all buckets done -> no new work, sink untouched
    df2 = extract_pages_resumable(
        spark, os.path.join(smoke_dir, "pages.parquet"), "/nonexistent/unused",
        num_partitions=4, sink=out, manifest_sink=manifest,
    )
    assert df2.count() == n1
    assert out.calls == ["append"]


def test_parquet_sink_overwrite_partitions(spark, smoke_dir):
    """ParquetSink.overwrite_partitions replaces only the partitions
    present in the incoming frame (Iceberg overwritePartitions
    emulation via dynamic partition overwrite)."""
    from go_trafilatura_spark.pipeline import ParquetSink

    tmp = tempfile.mkdtemp(prefix="gts_sink_")
    try:
        sink = ParquetSink(os.path.join(tmp, "t"), partition_by=("bucket",))
        base = spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0), (3, "c", 1)], "id long, v string, bucket int")
        sink.append(base)
        # overwrite bucket 0 only; bucket 1 must survive
        repl = spark.createDataFrame([(9, "z", 0)], "id long, v string, bucket int")
        sink.overwrite_partitions(repl)
        rows = {(r["id"], r["bucket"]) for r in sink.read(spark).collect()}
        assert rows == {(9, 0), (3, 1)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_extraction(spark, smoke_dir):
    from go_trafilatura_spark.streaming import start_extraction_stream

    tmp = tempfile.mkdtemp(prefix="gts_stream_")
    try:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        # Two shards of pages → two micro-batches
        pages = read_pages(spark, os.path.join(smoke_dir, "pages.parquet")).limit(40)
        pages.coalesce(2).write.parquet(os.path.join(tmp, "staged"))
        staged = [
            f for f in os.listdir(os.path.join(tmp, "staged")) if f.endswith(".parquet")
        ]
        for i, f in enumerate(staged):
            shutil.copy(
                os.path.join(tmp, "staged", f), os.path.join(in_dir, f"shard{i}.parquet")
            )

        query = start_extraction_stream(
            spark, in_dir,
            os.path.join(tmp, "out"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        query.processAllAvailable()
        query.stop()

        out = spark.read.parquet(os.path.join(tmp, "out"))
        assert out.count() == 40
        assert out.where(F.col("content_text").isNotNull()).count() > 0

        # Streaming and batch run the same kernel: the streamed rows equal
        # extract_pages over the same shards, in both directions.
        from go_trafilatura_spark.kernel import OUTPUT_COLUMNS

        batch = extract_pages(read_pages(spark, in_dir)).select(*OUTPUT_COLUMNS)
        streamed = out.select(*OUTPUT_COLUMNS)
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0

        # One extraction kernel: the stream plan runs mapInArrow, never
        # the pandas transfer path.
        from go_trafilatura_spark.streaming import extract_stream, read_page_stream

        plan = extract_stream(read_page_stream(spark, in_dir))._jdf \
            .queryExecution().analyzed().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan

        # Restart with same checkpoint: no duplicates (exactly-once sink)
        query2 = start_extraction_stream(
            spark, in_dir,
            os.path.join(tmp, "out"), os.path.join(tmp, "ckpt"),
        )
        query2.processAllAvailable()
        query2.stop()
        assert spark.read.parquet(os.path.join(tmp, "out")).count() == 40
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_spark_submit_pyfiles(smoke_dir):
    """End-to-end deployment path: build the --py-files zip and run the
    extraction job through spark-submit (the north rule's launch mode),
    once plainly and twice with --resume. Both resumed runs report the
    whole table from the manifest: the second finds every bucket done
    and counts the rows the first committed."""
    import json
    import subprocess
    import sys

    from go_trafilatura_spark.package_zip import build_zip

    zip_path = build_zip()
    tmp = tempfile.mkdtemp(prefix="gts_submit_")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def submit(out_dir, *extra):
        proc = subprocess.run(
            [
                "spark-submit", "--master", "local[2]",
                "--py-files", zip_path,
                os.path.join(repo, "jobs", "extract_job.py"),
                "--input", os.path.join(smoke_dir, "pages.parquet"),
                "--output", out_dir,
                "--partitions", "4", *extra,
            ],
            capture_output=True, text=True, timeout=300, cwd=repo,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    try:
        for out_dir, extra in ((os.path.join(tmp, "out"), ()),
                               (os.path.join(tmp, "resumed"), ("--resume",)),
                               (os.path.join(tmp, "resumed"), ("--resume",))):
            stats = submit(out_dir, *extra)
            assert (stats["rows"], stats["rejected"]) == (120, 0), (extra, stats)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_fixture_root_follows_checkout(tmp_path):
    """ensure_fixtures writes under <checkout>/fixtures, where
    __spark_entry__.FIXTURE_DIR reads, wherever the checkout lives."""
    import subprocess
    import sys

    import go_trafilatura_spark

    pkg = os.path.dirname(os.path.abspath(go_trafilatura_spark.__file__))
    shutil.copytree(pkg, tmp_path / "go_trafilatura_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "-c",
         "from go_trafilatura_spark.fixtures import FIXTURE_ROOT; print(FIXTURE_ROOT)"],
        capture_output=True, text=True, timeout=60, cwd=tmp_path)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == str(tmp_path / "fixtures")


def test_write_extracted_writes_output_columns(spark, smoke_dir):
    """write_extracted is extract_job's write: the extracted rows as
    they are, no extra column."""
    from go_trafilatura_spark.kernel import OUTPUT_COLUMNS
    from go_trafilatura_spark.pipeline import write_extracted

    tmp = tempfile.mkdtemp(prefix="gts_write_")
    try:
        out = os.path.join(tmp, "out")
        pages = read_pages(spark, os.path.join(smoke_dir, "pages.parquet")).limit(4)
        write_extracted(extract_pages(pages, {}, num_partitions=2), out)
        written = spark.read.parquet(out)
        assert written.columns == list(OUTPUT_COLUMNS)
        assert written.count() == 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/test-files/comparison"),
    reason="reference comparison corpus not available",
)
def test_comparison_corpus_fscore(spark):
    """Regression floor: the reference's own 960-page benchmark must
    stay at reference-level quality (published baseline: 0.904)."""
    from go_trafilatura_spark.comparison import score

    res = score(spark, enable_fallback=False, focus=0)
    assert res["docs"] == 960
    assert res["f_score"] >= 0.895, res
    assert res["precision"] >= 0.90, res
    assert res["recall"] >= 0.88, res


def test_discovery_dataframe(spark):
    from go_trafilatura_spark.discovery import discover_urls
    from tests.test_discovery_cli import ATOM, RSS, SITEMAP

    feeds = spark.createDataFrame(
        [("https://example.org/feed1", bytearray(RSS)),
         ("https://example.org/feed2", bytearray(ATOM))],
        "source_url string, body binary",
    )
    rows = discover_urls(feeds, kind="feed").collect()
    assert {(r["source_url"], r["page_url"]) for r in rows} == {
        ("https://example.org/feed1", "https://example.org/a"),
        ("https://example.org/feed1", "https://example.org/b"),
        ("https://example.org/feed2", "https://example.org/x"),
        ("https://example.org/feed2", "https://example.org/y"),
    }

    maps = spark.createDataFrame(
        [("https://example.org/sitemap.xml", bytearray(SITEMAP))],
        "source_url string, body binary",
    )
    rows = discover_urls(maps, kind="sitemap").collect()
    assert len(rows) == 2


def test_stateful_dedup_stream(spark, smoke_dir):
    """Custom stateful streaming op: per-host online dedup keeps state
    across micro-batches (duplicates in batch 2 are flagged)."""
    from go_trafilatura_spark.streaming import stateful_host_dedup_stream

    tmp = tempfile.mkdtemp(prefix="gts_state_")
    try:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        pages = read_pages(spark, os.path.join(smoke_dir, "pages.parquet")).limit(30)
        pages.coalesce(1).write.parquet(os.path.join(tmp, "b1"))
        b1 = [f for f in os.listdir(os.path.join(tmp, "b1")) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(tmp, "b1", b1), os.path.join(in_dir, "batch1.parquet"))

        from go_trafilatura_spark.streaming import read_page_stream

        stream = read_page_stream(spark, in_dir, max_files_per_trigger=1)
        deduped = stateful_host_dedup_stream(stream)
        query = (
            deduped.writeStream.format("memory").queryName("dedup_stream")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )

        def _wait_rows(n, timeout_s=120):
            # processAllAvailable can block indefinitely on stateful
            # queries with processing-time timeouts → poll instead.
            import time

            deadline = time.time() + timeout_s
            while time.time() < deadline:
                if not query.isActive:
                    raise AssertionError(f"query died: {query.exception()}")
                got = spark.sql("select count(*) c from dedup_stream").collect()[0]["c"]
                if got >= n:
                    return
                time.sleep(1)
            raise AssertionError(f"timed out waiting for {n} rows")

        # The fixture corpus deliberately contains ~4% duplicate pages,
        # so batch 1 may already flag a few.
        n_unique = (
            pages.select(
                F.regexp_extract("url", HOST_REGEX, 1).alias("host"),
                F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
            )
            .distinct()
            .count()
        )

        _wait_rows(30)
        first = spark.sql("select * from dedup_stream").collect()
        assert len(first) == 30
        assert sum(r["seen_before"] for r in first) == 30 - n_unique

        # Batch 2 = the same pages again → every row flagged
        shutil.copy(os.path.join(tmp, "b1", b1), os.path.join(in_dir, "batch2.parquet"))
        _wait_rows(60)
        query.stop()
        rows = spark.sql("select * from dedup_stream").collect()
        assert len(rows) == 60
        assert sum(r["seen_before"] for r in rows) == 60 - n_unique
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_dedup_stream_host_parsing(spark):
    """The stream dedup keys on the pipeline's host: an upper-case
    scheme and a non-http scheme each get their own host (not a shared
    ""), and a port variant of a seen host is the same host."""
    import datetime

    from go_trafilatura_spark.streaming import (
        PAGES_SCHEMA, read_page_stream, stateful_host_dedup_stream,
    )

    ts = datetime.datetime(2024, 1, 1)
    batches = [
        ["https://a.example/x", "HTTP://b.example/y", "ftp://c.example/z"],
        ["https://a.example:8443/w"],
    ]
    tmp = tempfile.mkdtemp(prefix="gts_state_host_")
    try:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)

        def _land(i, urls):
            staged = os.path.join(tmp, f"b{i}")
            rows = [(u, ts, b"<html></html>", "same text", "en") for u in urls]
            spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.parquet(staged)
            part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
            shutil.copy(os.path.join(staged, part), os.path.join(in_dir, f"batch{i}.parquet"))

        _land(1, batches[0])
        query = (
            stateful_host_dedup_stream(read_page_stream(spark, in_dir, max_files_per_trigger=1))
            .writeStream.format("memory").queryName("dedup_host_stream")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )

        def _wait_rows(n, timeout_s=120):
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                if not query.isActive:
                    raise AssertionError(f"query died: {query.exception()}")
                got = spark.sql("select count(*) c from dedup_host_stream").collect()[0]["c"]
                if got >= n:
                    return
                time.sleep(1)
            raise AssertionError(f"timed out waiting for {n} rows")

        _wait_rows(3)
        _land(2, batches[1])
        _wait_rows(4)
        query.stop()
        got = {r["url"]: (r["host"], r["seen_before"])
               for r in spark.sql("select * from dedup_host_stream").collect()}
        assert got == {
            "https://a.example/x": ("a.example", 0),
            "HTTP://b.example/y": ("b.example", 0),
            "ftp://c.example/z": ("c.example", 0),
            "https://a.example:8443/w": ("a.example", 1),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_extract_job_rejects_resume_with_lang(monkeypatch):
    """The resumable path has no language filter, so --resume --lang is
    a usage error (exit 2) raised before any session starts."""
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "extract_job", os.path.join(repo, "jobs", "extract_job.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    monkeypatch.setattr("sys.argv", [
        "extract_job.py", "--input", "/nonexistent/pages", "--output",
        "/nonexistent/out", "--resume", "--lang", "en"])
    with pytest.raises(SystemExit) as exc:
        job.main()
    assert exc.value.code == 2


def test_multimodal_plumbing(spark):
    from go_trafilatura_spark.multimodal import (
        MEDIA_SCHEMA, image_features, resize_images, sample_video_frames,
    )

    rows = [
        (f"m{i}", "image" if i % 2 == 0 else "video", "application/octet-stream",
         bytes([i]) * 32, None, None, None)
        for i in range(10)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = image_features(media).collect()
    assert len(feats) == 5
    for r in feats:
        assert r["width"] == 8 and r["height"] == 8
        assert 0.0 <= r["mean_luma"] <= 1.0
        assert len(r["phash"]) == 16

    resized = resize_images(media, 4, 4).collect()
    assert len(resized) == 5
    assert all(len(r["embedding"]) == 16 for r in resized)

    frames = sample_video_frames(media, n_frames=3).collect()
    assert len(frames) == 15  # 5 videos × 3 frames

    # Determinism: same payload → same features
    feats2 = image_features(media).collect()
    assert sorted(r["phash"] for r in feats) == sorted(r["phash"] for r in feats2)

    # Audio: stub decode, real plumbing
    from go_trafilatura_spark.multimodal import audio_features

    audio_rows = [
        (f"a{i}", "audio", "audio/wav", bytes([i]) * 64, None, None, 1000)
        for i in range(4)
    ]
    audio = spark.createDataFrame(audio_rows, MEDIA_SCHEMA)
    afeats = audio_features(audio).collect()
    assert len(afeats) == 4
    for r in afeats:
        assert r["sample_rate"] == 16000
        assert r["n_samples"] == 64
        assert 0.0 <= r["rms"] <= 1.0 and 0.0 <= r["peak"] <= 1.0


def test_multimodal_real_png_decode(spark):
    """image_features over REAL PNG payloads with the stdlib codec
    (VERDICT r3 #5: the decode step is no longer stub-only — same
    mapInArrow plumbing, real pixels)."""
    from go_trafilatura_spark.multimodal import (
        MEDIA_SCHEMA, PngDecodeBackend, encode_png, image_features,
        resize_images,
    )

    def gradient(w, h):
        return bytes((x * 40 + y * 13) % 256 for y in range(h) for x in range(w))

    rows = [
        ("white", "image", "image/png", encode_png(4, 4, 1, bytes([255] * 16)),
         None, None, None),
        ("black", "image", "image/png", encode_png(4, 4, 1, bytes([0] * 16)),
         None, None, None),
        ("grad", "image", "image/png", encode_png(16, 12, 1, gradient(16, 12),
                                                  filter_type=4),
         None, None, None),
        ("vid", "video", "video/mp4", b"\x00" * 16, None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r
             for r in image_features(media, backend=PngDecodeBackend()).collect()}
    assert set(feats) == {"white", "black", "grad"}  # video row filtered
    assert feats["white"]["mean_luma"] == 1.0
    assert feats["black"]["mean_luma"] == 0.0
    assert (feats["grad"]["width"], feats["grad"]["height"]) == (16, 12)
    assert feats["white"]["phash"] != feats["grad"]["phash"]

    resized = {r["media_id"]: r["embedding"]
               for r in resize_images(media, 4, 4,
                                      backend=PngDecodeBackend()).collect()}
    assert len(resized["grad"]) == 16
    assert all(0.0 <= v <= 1.0 for v in resized["grad"])


def test_lsh_hot_band_cap(spark):
    """A degenerate band (many boilerplate-identical docs) must not fan
    out quadratically: with the frequency cap, the hot family yields no
    LSH pairs while a sparse near-dup pair still surfaces."""
    from go_trafilatura_spark import textops

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [(i, "empty boilerplate shell page nothing here " * 4, "en")
            for i in range(100, 120)]          # 20 identical docs, one band
    rows += [(1, base, "en"), (2, base + "lambda", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    pairs = {(r.doc_a, r.doc_b)
             for r in textops.minhash_lsh_pairs(df, max_band_df=5).collect()}
    assert (1, 2) in pairs
    assert not any(a >= 100 for a, _ in pairs), pairs  # hot family capped

    # without the cap the degenerate family explodes into C(20,2) pairs
    uncapped = textops.minhash_lsh_pairs(df, max_band_df=10_000).count()
    assert uncapped == len(pairs) + 190


def test_salted_host_agg_mixed_schemes(spark):
    """Host parsing is scheme-agnostic: http/https/ftp, userinfo and
    ports all map to the real host, never to a degenerate '' key."""
    from go_trafilatura_spark.pipeline import salted_host_agg

    urls = [
        "https://a.example.com/x", "http://a.example.com/y",
        "http://b.example.com/z", "ftp://b.example.com/w",
        "https://user:pw@b.example.com/v", "http://c.example.com:8080/u",
    ]
    pages = spark.createDataFrame(
        [(u, bytearray(b"<html></html>")) for u in urls],
        "url string, html binary",
    )
    rows = {r["host"]: r["n_pages"] for r in salted_host_agg(pages).collect()}
    assert rows == {"a.example.com": 2, "b.example.com": 3, "c.example.com": 1}


def test_dedup_clusters_chain(spark):
    """Connected components: a chained near-dup family (A~B, B~C) must
    collapse to one cluster with the smallest doc_id canonical."""
    from go_trafilatura_spark import textops
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base, "en"),
        (2, base + "lambda", "en"),          # near-dup of 1
        (3, base + "lambda mu", "en"),       # near-dup of 2 (chain)
        (10, "completely different words entirely unrelated text here " * 6, "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in textops.dedup_clusters(df).collect()}
    assert out[1].cluster_id == 1 and out[1].is_canonical
    assert out[2].cluster_id == 1 and not out[2].is_canonical
    assert out[3].cluster_id == 1 and not out[3].is_canonical
    assert out[10].cluster_id == 10 and out[10].is_canonical


def test_dedup_clusters_reliable_checkpoint(spark):
    """checkpoint='reliable' (the cluster/100 TB setting: fault-tolerant
    checkpoint() instead of executor-block localCheckpoint) must produce
    identical clusters, and reject unknown modes."""
    import pytest

    from go_trafilatura_spark import textops

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base, "en"),
        (2, base + "lambda", "en"),
        (3, base + "lambda mu", "en"),
        (10, "completely different words entirely unrelated text here " * 6, "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    local = sorted(map(tuple, textops.dedup_clusters(df).collect()))
    reliable = sorted(map(tuple, textops.dedup_clusters(
        df, checkpoint="reliable").collect()))
    assert local == reliable
    assert spark.sparkContext.getCheckpointDir() is not None
    with pytest.raises(ValueError):
        textops.dedup_clusters(df, checkpoint="bogus")


def test_decontaminate(spark):
    """Benchmark n-gram decontamination: exact n-gram overlap flags the
    contaminated doc; disjoint docs stay clean; sub-n docs drop out."""
    from go_trafilatura_spark import textops

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, bench_text + " and some extra words follow here"),  # overlaps
        (2, "completely different tokens with no benchmark overlap at all"),
        (3, "short doc"),                                        # < n tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textops.decontaminate(docs, bench, n_gram=5).collect()}
    assert set(out) == {1, 2}  # doc 3 has < 5 tokens
    assert out[1]["contaminated"] and out[1]["n_contaminated"] >= 5
    assert not out[2]["contaminated"] and out[2]["n_contaminated"] == 0


def test_stratified_sample_deterministic(spark):
    """Hash sampling is deterministic, within-stratum, and respects the
    fraction roughly; fraction=1 keeps everything."""
    from go_trafilatura_spark import textops

    rows = [(i, f"text {i}", "en" if i % 2 == 0 else "de") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    s1 = sorted(r["doc_id"] for r in
                textops.stratified_sample(df, "lang", 0.25).collect())
    s2 = sorted(r["doc_id"] for r in
                textops.stratified_sample(df, "lang", 0.25).collect())
    assert s1 == s2  # no RNG state anywhere
    assert 0.15 * 400 < len(s1) < 0.35 * 400
    assert len(textops.stratified_sample(df, "lang", 1.0).collect()) == 400
    # different salt → different (deterministic) subset
    s3 = sorted(r["doc_id"] for r in
                textops.stratified_sample(df, "lang", 0.25, salt="s1").collect())
    assert s3 != s1


def test_gopher_repetition_metrics(spark):
    from go_trafilatura_spark import textops

    df = spark.createDataFrame(
        [
            # "a b" appears 3x (5 chars each incl. space): top2 covers
            # 3*3=9 of 11 chars
            (1, "a b a b a b"),
            # no repetition
            (2, "one two three four five six"),
            # a 5-gram repeated twice
            (3, "v w x y z v w x y z"),
            (4, "   "),  # whitespace-only: filtered out
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textops.gopher_repetition(df).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["top2_char_frac"] == round(3 * 3 / 11, 6)
    assert rows[2]["dup5_char_frac"] == 0.0
    # doc 3: "v w x y z" (9 chars) occurs twice among the six 5-grams
    assert rows[3]["dup5_char_frac"] == round(2 * 9 / 19, 6)


def test_gopher_quality_filter_flags(spark):
    from go_trafilatura_spark import textops

    # 60+ distinct words (no repeated 5-grams), several must-have
    # stopwords, ordinary word lengths
    good = ("the quick brown fox jumps over a lazy dog and that have "
            "with more words of filler text to clear minimum token "
            "count thresholds easily while keeping every single phrase "
            "unique because repeated passages would trip gopher "
            "duplicate ngram caps which this document must not do so "
            "each clause introduces fresh vocabulary items")
    df = spark.createDataFrame(
        [
            (1, good),                   # passes everything
            (2, "short text only"),      # fails min tokens + stopwords
            (3, "spam spam " * 60),      # repetition fails top2 cap
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textops.gopher_quality_filter(df).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["keep"] is False and rows[2]["ok_min_tokens"] is False
    assert rows[3]["keep"] is False and rows[3]["ok_top2"] is False


def test_gopher_plan_has_no_exchange(spark):
    from go_trafilatura_spark import textops

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = textops.gopher_quality_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.parametrize("op", ["gopher_quality", "gopher_repetition",
                                "pii_scrub", "stratified_sample",
                                "url_normalize", "quality_scores"])
def test_projection_ops_plan_exchange_free(spark, op):
    """COVERAGE.md claims these ops are pure projections (no shuffle).
    Pin the claim at the plan level so a future edit can't silently add
    an Exchange to a 100 TB single-pass operator."""
    from go_trafilatura_spark import textops

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", "http://EX.com:80/a?utm_x=1")],
        "doc_id long, text string, lang string, url string")
    builders = {
        "gopher_quality": lambda: textops.gopher_quality_filter(df),
        "gopher_repetition": lambda: textops.gopher_repetition(df),
        "pii_scrub": lambda: textops.pii_scrub(df),
        "stratified_sample": lambda: textops.stratified_sample(df),
        "url_normalize": lambda: textops.url_normalize(df),
        "quality_scores": lambda: textops.quality_scores(df),
    }
    plan = builders[op]()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"{op} gained a shuffle:\n{plan}"


def test_lsh_bands_cached_single_shingle_pass(spark, tmp_path):
    """The LSH band frame, when persisted, is cached once:
    the hot-key subquery and both self-join sides must read the cache
    (InMemoryTableScan), so the shingle explode + signature aggregation
    — the dominant cost at 100 TB — executes once, not once per
    consumer. The adaptive default picks the cache only above the
    measured input-size crossover (cache barrier vs recompute), falling
    back to the cache when statistics are unknown."""
    from go_trafilatura_spark import textops

    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta w{i % 5} x")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # adaptive default: a Python-created local frame has UNKNOWN size
    # statistics (Spark's 8 EiB default), which must choose the
    # scale-safe side (cache); a small parquet scan has real statistics
    # and must skip the cache barrier
    assert textops._should_persist_bands(df) is True
    pq = str(tmp_path / "small.parquet")
    df.write.mode("overwrite").parquet(pq)
    assert textops._should_persist_bands(spark.read.parquet(pq)) is False

    # opt-out first: once persist() registers the bands plan in the
    # cache manager, ANY identical plan would be substituted with the
    # cache, so the no-persist control must be planned before it.
    nocache, _ = textops._minhash_lsh_pairs_impl(df, 3, 100, False)
    noplan = nocache._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in noplan
    expected = sorted(map(tuple, nocache.collect()))

    pairs, _ = textops._minhash_lsh_pairs_impl(df, 3, 100, True)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert sorted(map(tuple, pairs.collect())) == expected


def test_shingle_ops_survive_short_docs(spark):
    # sequence(1, 0) is DESCENDING in Spark: sub-k-token docs used to
    # throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT and kill the whole job.
    from go_trafilatura_spark import textops

    df = spark.createDataFrame(
        [(1, "single"), (2, "two tokens"),
         (3, "a long enough document with plenty of shingles in it")],
        "doc_id long, text string",
    )
    sigs = textops.minhash_signatures(df).collect()
    assert [r["doc_id"] for r in sigs] == [3]
    assert textops.winnowing_fingerprints(df).count() >= 1
    assert textops.ngram_jaccard_pairs(df).count() == 0


def test_stateful_lsh_candidates_stream(spark):
    """Streaming LSH: a near-duplicate arriving in a later micro-batch
    matches the bucket representative registered by an earlier one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_trafilatura_spark.streaming import stateful_lsh_candidates_stream

    tmp = tempfile.mkdtemp(prefix="gts_lsh_stream_")
    try:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        base = ("the quick brown fox jumps over the lazy dog while the "
                "sun rises slowly over the quiet green valley this morning")
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        pq.write_table(pa.table({"doc_id": [1, 2],
                                 "text": [base, "totally different words "
                                          "about spark query planning and "
                                          "shuffle partitions in clusters "
                                          "running big analytic workloads"]},
                                schema=schema),
                       os.path.join(in_dir, "batch1.parquet"))

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        cands = stateful_lsh_candidates_stream(stream)
        query = (
            cands.writeStream.format("memory").queryName("lsh_stream")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )

        def _wait_rows(n, timeout_s=120):
            import time

            deadline = time.time() + timeout_s
            while time.time() < deadline:
                if not query.isActive:
                    raise AssertionError(f"query died: {query.exception()}")
                got = spark.sql("select count(*) c from lsh_stream").collect()[0]["c"]
                if got >= n:
                    return
                time.sleep(1)
            raise AssertionError(f"timed out waiting for {n} rows")

        _wait_rows(4)  # 2 docs × 2 bands, all representatives
        first = spark.sql("select * from lsh_stream").collect()
        assert all(r["is_rep"] == 1 for r in first)

        # batch 2: an exact near-dup of doc 1 → must match doc 1's buckets
        pq.write_table(pa.table({"doc_id": [9], "text": [base]}, schema=schema),
                       os.path.join(in_dir, "batch2.parquet"))
        _wait_rows(6)
        rows = spark.sql(
            "select * from lsh_stream where doc_id = 9").collect()
        assert len(rows) == 2  # both bands
        assert all(r["is_rep"] == 0 and r["rep_doc"] == 1 for r in rows)
        query.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_lsh_matches_batch_pairs(spark):
    """Streaming ↔ batch LSH parity (VERDICT r3 #7): over a replayed
    shard sequence, the within-bucket closure of the streaming candidate
    rows must equal textops.minhash_lsh_pairs on the union of the shards
    (modulo TTL, which doesn't fire here), while the streaming op itself
    emits O(members) rows — star edges, never |group|² — per bucket."""
    import itertools

    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_trafilatura_spark import textops
    from go_trafilatura_spark.streaming import stateful_lsh_candidates_stream

    base_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    base_b = ("spark shuffle partition executor broadcast catalyst "
              "tungsten codegen adaptive plan ") * 5
    rows = [
        (1, base_a), (2, base_a + "lambda"), (3, base_a + "lambda mu"),
        (10, base_b), (11, base_b + "extra"),
        (20, "completely unrelated text about gardens and rivers " * 6),
        (21, "another disjoint document mentioning mountains and snow " * 6),
    ]
    # replay as 3 shards arriving in separate micro-batches
    shards = [rows[:3], rows[3:5], rows[5:]]

    tmp = tempfile.mkdtemp(prefix="gts_lsh_parity_")
    try:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        query = (
            stateful_lsh_candidates_stream(stream)
            .writeStream.format("memory").queryName("lsh_parity")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        total = 0
        for i, shard in enumerate(shards):
            pq.write_table(
                pa.table({"doc_id": [r[0] for r in shard],
                          "text": [r[1] for r in shard]}, schema=schema),
                os.path.join(in_dir, f"shard{i}.parquet"))
            total += 2 * len(shard)  # every doc lands in 2 band buckets
            deadline = time.time() + 120
            while time.time() < deadline:
                if not query.isActive:
                    raise AssertionError(f"query died: {query.exception()}")
                got = spark.sql(
                    "select count(*) c from lsh_parity").collect()[0]["c"]
                if got >= total:
                    break
                time.sleep(1)
        stream_rows = spark.sql("select * from lsh_parity").collect()
        query.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # O(members): exactly one row per (doc, band) — no quadratic fan-out
    assert len(stream_rows) == 2 * len(rows)

    # closure: all pairs of docs sharing a (band, bucket_key)
    buckets: dict = {}
    for r in stream_rows:
        buckets.setdefault((r["band"], r["bucket_key"]), set()).add(r["doc_id"])
    closure = set()
    for members in buckets.values():
        for a, b in itertools.combinations(sorted(members), 2):
            closure.add((a, b))

    df = spark.createDataFrame([(d, t, "en") for d, t in rows],
                               "doc_id long, text string, lang string")
    batch = {(r["doc_a"], r["doc_b"])
             for r in textops.minhash_lsh_pairs(df).collect()}
    assert closure == batch and (1, 2) in batch and (10, 11) in batch
    assert not any(20 in p or 21 in p for p in batch)


def test_textops_survive_adversarial_inputs(spark):
    """Every corpus op must tolerate nulls, empties, unicode, extreme
    repetition and giant single tokens without raising (one bad row
    must never kill a 100 TB job)."""
    from go_trafilatura_spark import textops

    df = spark.createDataFrame(
        [
            (1, None), (2, ""), (3, "   "), (4, "x"),
            (5, "éü中文 文字 です ね よ"),
            (6, "a " * 5000),
            (7, "tok" + "k" * 50000),
            (8, "normal document with several distinct tokens present"),
            (9, "\x00weird\x01control\x02chars here today folks"),
        ],
        "doc_id long, text string",
    )
    for fn in (
        textops.token_counts, textops.fingerprints,
        textops.winnowing_fingerprints, textops.exact_dedup_flags,
        textops.minhash_signatures, textops.minhash_lsh_pairs,
        textops.simhash, textops.dedup_clusters,
        textops.ngram_jaccard_pairs, textops.quality_scores,
        textops.lang_id_heuristic, textops.gopher_repetition,
        textops.gopher_quality_filter,
    ):
        fn(df).count()  # must not raise


def test_multimodal_corrupt_rows_skipped(spark):
    """Real-codec decode failures drop the row, not the job."""
    from go_trafilatura_spark.multimodal import (
        MEDIA_SCHEMA, PngDecodeBackend, encode_png, image_features,
    )

    rows = [
        ("good", "image", "image/png", encode_png(2, 2, 1, bytes(4)),
         None, None, None),
        ("bad", "image", "image/png", b"not a png", None, None, None),
        ("trunc", "image", "image/png",
         encode_png(4, 4, 1, bytes(16))[:20], None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"] for r in
           image_features(media, backend=PngDecodeBackend()).collect()}
    assert got == {"good"}


def test_decontaminate_matches_python_reference(spark):
    """Differential: the Spark op equals a brute-force pure-Python
    reference (distinct n-gram sets, exact overlap counts) on a
    deterministic pseudo-random corpus."""
    import hashlib

    from go_trafilatura_spark import textops

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa"]

    def text_for(i):
        # deterministic pseudo-random token sequence per doc
        h = hashlib.sha256(f"doc{i}".encode()).digest()
        return " ".join(vocab[b % len(vocab)] for b in h[:24])

    rows = [(i, text_for(i)) for i in range(60)]
    bench_rows = [(1000 + i, text_for(i * 7)) for i in range(5)]
    n = 5

    def grams(text):
        toks = text.split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    bench_grams = set().union(*(grams(t) for _, t in bench_rows))
    expect = {}
    for i, t in rows:
        g = grams(t)
        expect[i] = (len(g), len(g & bench_grams))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_contaminated"])
           for r in textops.decontaminate(docs, bench, n_gram=n).collect()}
    assert got == expect


def test_stratified_sample_matches_python_reference(spark):
    """Differential: bucket assignment equals the portable md5-bigint
    arithmetic computed in pure Python."""
    import hashlib

    from go_trafilatura_spark import textops

    rows = [(i, "t", ["en", "de", "fr"][i % 3]) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def bucket(lang, doc_id):
        s = f"s0|{lang}|{doc_id}"
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 10000

    expect = {i for i, _, lang in rows if bucket(lang, i) < 2500}
    got = {r["doc_id"]
           for r in textops.stratified_sample(df, "lang", 0.25).collect()}
    assert got == expect


def test_warc_source_end_to_end(spark):
    """WARC file → read_warc_pages → extract_pages: the bytes→table
    edge for the standard crawl container format."""
    from go_trafilatura_spark.warc import build_warc, read_warc_pages

    body = ("<html><head><title>W</title></head><body><article><p>"
            + "warc sourced content long enough for the gates here. " * 5
            + "</p></article></body></html>").encode()
    records = [
        (f"https://warc.example/{i}", f"2024-03-0{i+1}T00:00:00Z", body)
        for i in range(3)
    ]
    tmp = tempfile.mkdtemp(prefix="gts_warc_")
    try:
        with open(os.path.join(tmp, "shard-00000.warc.gz"), "wb") as f:
            f.write(build_warc(records, per_record_gzip=True))
        with open(os.path.join(tmp, "shard-00001.warc"), "wb") as f:
            f.write(build_warc(
                [("https://warc.example/plain", "2024-03-09T00:00:00Z", body)],
                per_record_gzip=False))
        pages = read_warc_pages(spark, tmp)
        rows = pages.collect()
        assert len(rows) == 4
        assert all(r["warc_ts"] is not None for r in rows)
        assert bytes(rows[0]["html"]) == body

        out = extract_pages(pages, num_partitions=2).collect()
        ok = [r for r in out if r["reject_reason"] is None]
        assert len(ok) == 4
        assert all("warc sourced content" in r["content_text"] for r in ok)
        assert {r["title"] for r in ok} == {"W"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_line_dedup_matches_python_reference(spark):
    """Differential: CCNet-style frequent-line removal equals a pure-
    Python reference (distinct-doc line counts, order-preserving
    rebuild) on a corpus with shared boilerplate lines."""
    from go_trafilatura_spark import textops

    boiler = ["Subscribe to our newsletter", "Cookie policy", ""]
    rows = []
    for i in range(30):
        lines = [f"unique paragraph {i} alpha", boiler[i % 3],
                 f"unique paragraph {i} beta"]
        if i % 4 == 0:
            lines.append(boiler[(i + 1) % 3])
        rows.append((i, "\n".join(lines)))

    # pure-Python reference
    from collections import defaultdict
    docs_per_line = defaultdict(set)
    for i, t in rows:
        for ln in t.split("\n"):
            docs_per_line[ln].add(i)
    frequent = {ln for ln, d in docs_per_line.items() if len(d) >= 2}
    expect = {}
    for i, t in rows:
        all_lines = t.split("\n")
        kept = [ln for ln in all_lines if ln not in frequent]
        expect[i] = (len(all_lines), len(kept),
                     len(all_lines) - len(kept), "\n".join(kept))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_lines"], r["n_lines_kept"],
                         r["n_lines_removed"], r["text_deduped"])
           for r in textops.line_dedup(df, min_docs=2).collect()}
    assert got == expect


def test_pii_scrub_matches_python_reference(spark):
    """Differential: redaction and per-category counts equal Python
    re.sub/findall with the same patterns; each category is counted on
    the text its replacement pass sees, so counts == placeholders in
    the scrubbed output even when matches overlap across categories."""
    import re

    from go_trafilatura_spark import textops

    rows = [
        (1, "mail me at john.doe+spam@sub.example.co.uk today"),
        (2, "server 192.168.0.1 and 10.0.0.255 are up, 999.999.999.999 too"),
        (3, "call +4915123456789 or +12025550123 now"),
        (4, "mixed: a@b.io on 8.8.8.8 dial +331234567890"),
        (5, "nothing sensitive here at all"),
        (6, "not-an-ip 1.2.3 and not-a-phone +12 stay"),
        # overlap: the IPv4 is inside the email local part — consumed by
        # <EMAIL>, so n_ips must be 0, matching text_scrubbed
        (7, "ping 10.1.2.3@host.example.com please"),
    ]
    pats = [(textops.PII_EMAIL, "<EMAIL>"), (textops.PII_IPV4, "<IP>"),
            (textops.PII_PHONE, "<PHONE>")]
    expect = {}
    for i, t in rows:
        counts = []
        s = t
        for p, rep in pats:
            counts.append(len(re.findall(p, s)))
            s = re.sub(p, rep, s)
        expect[i] = tuple(counts) + (s,)
        # invariant the new semantics guarantee: count == placeholders
        assert tuple(counts) == tuple(s.count(rep) for _, rep in pats), i

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_emails"], r["n_ips"], r["n_phones"],
                         r["text_scrubbed"])
           for r in textops.pii_scrub(df).collect()}
    assert got == expect


def test_url_normalize_matches_python_reference(spark):
    """Differential: canonicalization equals a urllib-based reference
    on messy URLs (case, default ports, tracking params, fragments)."""
    import re as _re

    from go_trafilatura_spark import textops

    urls = [
        (1, "HTTP://WWW.Example.COM:80/Path/One?id=3&utm_source=x&b=2#frag"),
        (2, "http://www.example.com/Path/One?id=3&b=2"),
        (3, "HTTPS://Site.ORG:443/?utm_campaign=z&fbclid=abc"),
        (4, "https://site.org/"),
        (5, "http://host.net:8080/keep:port?gclid=1&q=ok"),
        (6, "http://host.net/plain"),
        (7, "https://A.b.C/x?ref=rss&id=1&mc_cid=9&mc_eid=8"),
    ]

    def ref_norm(u):
        u = u.split("#", 1)[0]
        m = _re.match(r"^([^/]*//[^/]*)(.*)$", u)
        pfx, rest = m.group(1).lower(), m.group(2)
        pfx = _re.sub(r"^(http://[^:/]*):80$", r"\1", pfx)
        pfx = _re.sub(r"^(https://[^:/]*):443$", r"\1", pfx)
        path, _, q = rest.partition("?")
        keep = [p for p in q.split("&")
                if not _re.match(r"^(utm_[A-Za-z]+|fbclid|gclid|mc_cid|mc_eid|ref)=", p)]
        q2 = "&".join(keep)
        return pfx + path + (("?" + q2) if q2 else "")

    expect = {i: ref_norm(u) for i, u in urls}
    df = spark.createDataFrame(urls, "doc_id long, url string")
    got = {r["doc_id"]: r["url_norm"]
           for r in textops.url_normalize(df).collect()}
    assert got == expect

    # url_dedup groups 1+2 and 3+4 together
    groups = {r["url_norm"]: (r["n_docs"], r["canonical_doc_id"])
              for r in textops.url_dedup(df).collect()}
    assert groups[expect[1]] == (2, 1)
    assert groups[expect[3]] == (2, 3)
    assert groups[expect[5]] == (1, 5)


def test_unigram_logprob_matches_python_reference(spark):
    """Differential: corpus-unigram mean negative log2 probability
    equals a pure-Python reference with the same milli-bit integer
    arithmetic."""
    import math
    from collections import Counter

    from go_trafilatura_spark import textops

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "zyxw qppr unseen tokens here"),
        (4, "the the the the"),
        (5, "   "),
    ]
    toks = {i: t.split() for i, t in rows}
    vocab = Counter(tok for ts in toks.values() for tok in ts)
    n_total = sum(vocab.values())
    n_vocab = len(vocab)
    milli = {
        tok: round(-math.log2((c + 0.5) / (n_total + 0.5 * n_vocab)) * 10000)
        for tok, c in vocab.items()
    }
    expect = {}
    for i, ts in toks.items():
        if not ts:
            continue
        total = sum(milli[t] for t in ts)
        expect[i] = (len(ts), (total * 1000 // len(ts)) / 10000000.0)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["mean_neg_log2p"])
           for r in textops.unigram_logprob(df).collect()}
    assert got == expect


def test_host_cap_matches_python_reference(spark):
    """Differential: the salted two-stage per-host top-N equals the
    naive global sort + slice, including on a deliberately hot host."""
    from collections import defaultdict

    from go_trafilatura_spark.pipeline import host_cap

    urls = [f"https://hot.example.com/p/{i:04d}" for i in range(200)]
    urls += [f"https://site{i}.org/a" for i in range(20)]
    urls += [f"https://site{i}.org/b" for i in range(10)]
    rows = [(u, b"<html></html>") for u in urls]

    by_host = defaultdict(list)
    for u in urls:
        host = u.split("//")[1].split("/")[0]
        by_host[host].append(u)
    expect = {(h, u) for h, us in by_host.items() for u in sorted(us)[:3]}

    df = spark.createDataFrame(rows, "url string, html binary")
    got = {(r["host"], r["url"]) for r in host_cap(df, max_per_host=3).collect()}
    assert got == expect


def test_spark_submit_dedup_job(smoke_dir):
    """spark-submit launch of the corpus dedup/quality job (the same
    --py-files deployment path as the extraction job)."""
    import json
    import subprocess

    from go_trafilatura_spark.package_zip import build_zip

    zip_path = build_zip()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = tempfile.mkdtemp(prefix="gts_dedup_submit_") + "/out"
    try:
        proc = subprocess.run(
            [
                "spark-submit", "--master", "local[2]",
                "--py-files", zip_path,
                os.path.join(repo, "jobs", "dedup_job.py"),
                "--input", "/root/testdata/sf0.001/documents.parquet",
                "--output", out_dir,
                "--stage", "quality",
                "--partitions", "4",
            ],
            capture_output=True, text=True, timeout=300, cwd=repo,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        stats = json.loads(line)
        assert stats["stage"] == "quality"
        assert stats["rows"] > 0
    finally:
        shutil.rmtree(os.path.dirname(out_dir), ignore_errors=True)


def test_streaming_pii_scrub(spark):
    """The PII/quality projections are stateless JVM expressions, so
    they run unchanged under Structured Streaming: readStream over a
    documents shard -> pii_scrub -> file sink equals the batch result."""
    import json as _json

    from go_trafilatura_spark import textops

    tmp = tempfile.mkdtemp(prefix="gts_stream_pii_")
    try:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        rows = [(i, f"mail a{i}@ex{i}.org from 10.0.0.{i % 250} ok")
                for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.coalesce(1).write.parquet(os.path.join(tmp, "staged"))
        for f in os.listdir(os.path.join(tmp, "staged")):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, "staged", f),
                            os.path.join(in_dir, "shard0.parquet"))

        stream = (spark.readStream.schema("doc_id long, text string")
                  .parquet(in_dir))
        scrubbed = textops.pii_scrub(stream)
        q = (scrubbed.writeStream.format("parquet")
             .option("path", os.path.join(tmp, "out"))
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.processAllAvailable()
        q.stop()

        got = {r["doc_id"]: (r["n_emails"], r["n_ips"], r["text_scrubbed"])
               for r in spark.read.parquet(os.path.join(tmp, "out")).collect()}
        expect = {r["doc_id"]: (r["n_emails"], r["n_ips"], r["text_scrubbed"])
                  for r in textops.pii_scrub(df).collect()}
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_discover_sitemaps_from_robots_dataframe(spark):
    from pyspark.sql import Row

    from go_trafilatura_spark.discovery import discover_sitemaps_from_robots
    from test_discovery_cli import ROBOTS

    df = spark.createDataFrame([
        Row(source_url="https://example.com/robots.txt", body=bytearray(ROBOTS)),
        Row(source_url="https://empty.org/robots.txt", body=bytearray(b"User-agent: *\n")),
    ])
    rows = {(r["source_url"], r["sitemap_url"])
            for r in discover_sitemaps_from_robots(df).collect()}
    assert rows == {
        ("https://example.com/robots.txt", "https://example.com/sitemap.xml"),
        ("https://example.com/robots.txt", "https://example.com/news-sitemap.xml"),
    }


def test_substring_dedup_spans(spark):
    """Exact substring dedup: cross-doc duplicated k-token windows merge
    into maximal spans; intra-doc-only repetition is NOT flagged."""
    from go_trafilatura_spark import textops

    shared = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        # doc 0/1 share a 12-token run -> 5 overlapping 8-windows merge
        (0, "intro words here " + shared + " tail zero"),
        (1, shared + " other ending entirely different words"),
        # doc 2: repeats ITS OWN phrase twice, shared with no one
        (2, " ".join(["self repeat phrase alpha beta gamma delta eps"] * 2)),
        # doc 3: no duplication
        (3, "totally unique content with no overlap at all whatsoever ok"),
        # doc 4: shares a DIFFERENT 8-token run with doc 5, twice,
        # separated by a gap -> two distinct spans
        (4, "a b c d e f g h GAP1 GAPX GAP2 GAP3 GAP4 p q r s t u v w"),
        (5, "a b c d e f g h MID other filler words x y z p q r s t u v w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
           for r in textops.substring_dedup_spans(df, k=8).collect()}

    # doc 0: shared starts at token 3, 12 tokens -> [3, 14], 5 windows
    # doc 1: shared at 0 -> [0, 11], 5 windows
    # docs 4/5: two 8-token runs, no merging across the gap
    assert got == {
        (0, 3, 14, 5), (1, 0, 11, 5),
        (4, 0, 7, 1), (4, 13, 20, 1),
        (5, 0, 7, 1), (5, 15, 22, 1),
    }
    # doc 2 (self-repeat only) and doc 3 (unique) absent: cross-doc test
    assert {d for d, *_ in got} == {0, 1, 4, 5}


def test_substring_dedup_filter(spark):
    """Doc-level duplicated-fraction filter: per-mille arithmetic and
    the keep flag; docs without spans appear with zero counts."""
    from go_trafilatura_spark import textops

    shared = " ".join(f"tok{i}" for i in range(16))
    rows = [
        (0, shared),                                   # 16/16 dup -> drop
        (1, shared + " " + " ".join(f"u{i}" for i in range(34))),  # 16/50
        (2, "entirely unique words " + " ".join(f"v{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"],
                         r["dup_permille"], r["keep"])
           for r in textops.substring_dedup_filter(df, k=8).collect()}
    assert got == {
        0: (16, 16, 1000, 0),
        1: (50, 16, 320, 0),   # 320 > 300 per-mille cap
        2: (23, 0, 0, 1),
    }
    relaxed = {r["doc_id"]: r["keep"] for r in
               textops.substring_dedup_filter(df, k=8, max_dup_frac=0.5).collect()}
    assert relaxed == {0: 0, 1: 1, 2: 1}


def test_substring_dedup_hashed_parity(spark):
    """The production path (hash_shingles=True: xxhash64 shuffle keys
    instead of full k-token shingle strings) must produce the identical
    span set — verified on the real sf0.01 documents table."""
    from go_trafilatura_spark import textops

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
    key = lambda r: (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
    plain = sorted(map(key, textops.substring_dedup_spans(docs, k=8).collect()))
    hashed = sorted(map(key, textops.substring_dedup_spans(
        docs, k=8, hash_shingles=True).collect()))
    assert plain == hashed
    assert len(plain) > 0  # the corpus actually exercises the op

    # filter wrapper passes the flag through
    fkey = lambda r: (r["doc_id"], r["n_tokens"], r["n_dup_tokens"],
                      r["dup_permille"], r["keep"])
    fp = sorted(map(fkey, textops.substring_dedup_filter(docs, k=8).collect()))
    fh = sorted(map(fkey, textops.substring_dedup_filter(
        docs, k=8, hash_shingles=True).collect()))
    assert fp == fh


def test_substring_dedup_k50_production_smoke(spark):
    """k=50 (the Lee et al. 2022 production window) on the hashed path:
    a 60-token verbatim overlap is flagged, sub-50-token docs survive."""
    from go_trafilatura_spark import textops

    run = " ".join(f"w{i}" for i in range(60))
    rows = [
        (0, "lead in words " + run),
        (1, run + " completely different tail text here"),
        (2, "short doc below the window size"),
        (3, " ".join(f"u{i}" for i in range(80))),  # long but unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {r["doc_id"] for r in textops.substring_dedup_spans(
        df, k=50, hash_shingles=True).collect()}
    assert spans == {0, 1}
    keep = {r["doc_id"]: r["keep"] for r in textops.substring_dedup_filter(
        df, k=50, max_dup_frac=0.3, hash_shingles=True).collect()}
    assert keep == {0: 0, 1: 0, 2: 1, 3: 1}


def test_host_cap_hot_host_bounded_state(spark):
    """A Zipf-hot host (10^5 urls) must pass through host_cap without
    any collect_list aggregation buffer: both stages are row_number
    windows (spillable external sort + O(1) counter), pinned here at
    the plan level, and the result stays the exact lexicographic top-N."""
    from go_trafilatura_spark.pipeline import host_cap

    n = 100_000
    hot = spark.range(n).selectExpr(
        "concat('https://hot.example.com/p', lpad(cast(id as string), 7, '0')) AS url")
    cold = spark.createDataFrame(
        [("https://cold.org/x",), ("https://cold.org/a",),
         ("https://tiny.net/only",)], "url string")
    pages = hot.unionByName(cold)

    out = host_cap(pages, max_per_host=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan, plan
    assert "RunningWindowFunction" in plan or "Window" in plan

    got = {(r["host"], r["url"]) for r in out.collect()}
    assert got == {
        ("hot.example.com", "https://hot.example.com/p0000000"),
        ("hot.example.com", "https://hot.example.com/p0000001"),
        ("hot.example.com", "https://hot.example.com/p0000002"),
        ("cold.org", "https://cold.org/a"),
        ("cold.org", "https://cold.org/x"),
        ("tiny.net", "https://tiny.net/only"),
    }


# ---------------------------------------------------------------------------
# Composed corpus pipeline (pipeline.corpus_dedup_pipeline) — the shared
# function behind bench.py's dedup_pipeline section and
# jobs/dedup_job.py --stage all (VERDICT r5 #7).
# ---------------------------------------------------------------------------


def _curation_docs():
    """12 docs that pass every pipeline gate except the host cap: one
    distinct line each (line_dedup keeps all), ≥50 tokens with ≥2
    must-have stopwords and sane word lengths (gopher passes), no
    shared 50-token window (substring dedup keeps all), 3 hosts × 4
    docs (host cap at 2 keeps the lexicographically-first 2 per host)."""
    rows = []
    for i in range(12):
        words = [f"word{i}n{j}" for j in range(55)]
        text = (f"the story of number {i} continues and that chapter "
                f"will have more with it than before " + " ".join(words))
        rows.append((f"doc{i:02d}", text, "en", f"https://h{i % 3}.example/d{i:02d}"))
    return rows


def test_corpus_dedup_pipeline_function(spark):
    """Differential vs the hand-computed expectation: with all quality
    gates passing, the composed pipeline reduces exactly to the host
    cap (first 2 urls per host) + the deterministic sample (fraction
    1.0 = keep all)."""
    from go_trafilatura_spark.pipeline import corpus_dedup_pipeline

    ext = spark.createDataFrame(
        _curation_docs(), "doc_id string, text string, lang string, url string")
    final, handles = corpus_dedup_pipeline(
        ext, url_col="url", k_substring=50, max_per_host=2,
        sample_fraction=1.0, strata_col="lang")
    got = {r["doc_id"] for r in final.collect()}
    # host h0 has d00,d03,d06,d09 → keep d00,d03; h1 → d01,d04; h2 → d02,d05
    assert got == {"doc00", "doc03", "doc01", "doc04", "doc02", "doc05"}
    # the persist structure is part of the contract (the measured r5
    # composition lesson, plus the round-7 gopher decision barrier —
    # filter pushdown otherwise re-inlines the metric trees): deduped,
    # the gopher decision frame, and kept come back persisted for the
    # caller to release
    assert len(handles) == 3
    for h in handles:
        assert h.is_cached
        h.unpersist()


def test_corpus_dedup_pipeline_null_and_shared_urls(spark):
    """ADVICE r6 fix: (a) docs with a NULL url bypass the host cap
    instead of being silently dropped by the equi-join; (b) documents
    sharing one url each count toward the per-host cap (doc-granularity
    ranking), so a host can never exceed max_per_host documents."""
    from go_trafilatura_spark.pipeline import corpus_dedup_pipeline

    rows = []
    for i in range(6):
        words = [f"word{i}n{j}" for j in range(55)]
        text = (f"the story of number {i} continues and that chapter "
                f"will have more with it than before " + " ".join(words))
        # doc00-03 all share ONE url on h0; doc04 has its own h0 url;
        # doc05 has a NULL url.
        if i <= 3:
            url = "https://h0.example/shared"
        elif i == 4:
            url = "https://h0.example/zzz"
        else:
            url = None
        rows.append((f"doc{i:02d}", text, "en", url))
    ext = spark.createDataFrame(
        rows, "doc_id string, text string, lang string, url string")
    final, handles = corpus_dedup_pipeline(
        ext, url_col="url", k_substring=50, max_per_host=2,
        sample_fraction=1.0, strata_col="lang")
    got = {r["doc_id"] for r in final.collect()}
    for h in handles:
        h.unpersist()
    # h0 cap=2 over (url, doc_id): shared/doc00, shared/doc01 win;
    # doc02/doc03 (same shared url) and zzz/doc04 are capped out —
    # previously ALL of doc00-03 came back through the shared url.
    # doc05 (null url) bypasses the cap instead of vanishing.
    assert got == {"doc00", "doc01", "doc05"}


def test_corpus_dedup_pipeline_caps_on_doc_id_urls(spark):
    """url_col="doc_id" (bench.py's synthetic corpus, where the doc id
    IS the url) keeps max_per_host documents per host."""
    from go_trafilatura_spark.pipeline import corpus_dedup_pipeline

    ext = spark.createDataFrame(
        [(u, t, l) for _, t, l, u in _curation_docs()],
        "doc_id string, text string, lang string")
    final, handles = corpus_dedup_pipeline(
        ext, url_col="doc_id", k_substring=50, max_per_host=2, sample_fraction=1.0)
    got = sorted(r["doc_id"] for r in final.collect())
    for h in handles:
        h.unpersist()
    assert got == [f"https://h{i % 3}.example/d{i:02d}" for i in (0, 3, 1, 4, 2, 5)]


def test_corpus_dedup_pipeline_no_url(spark):
    """url_col=None skips the host cap: every gate-passing doc survives
    into the sample."""
    from go_trafilatura_spark.pipeline import corpus_dedup_pipeline

    ext = spark.createDataFrame(
        [(d, t, l) for d, t, l, _ in _curation_docs()],
        "doc_id string, text string, lang string")
    final, handles = corpus_dedup_pipeline(
        ext, url_col=None, k_substring=50, sample_fraction=1.0)
    assert final.count() == 12
    for h in handles:
        h.unpersist()


def test_second_curation_pass_compiles_nothing(spark):
    """build_session sizes Spark's generated-class cache to hold a whole
    curation pass, so a long-lived session compiles the pass once: a
    second run finds every class of the first in the cache. At Spark's
    default size (100) the pass's classes evict each other in order and
    the second run recompiles dozens of them."""
    from go_trafilatura_spark.pipeline import CODEGEN_CACHE_ENTRIES, corpus_dedup_pipeline

    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_ENTRIES))
    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())

    def run():
        ext = spark.createDataFrame(
            _curation_docs(), "doc_id string, text string, lang string, url string")
        final, handles = corpus_dedup_pipeline(
            ext, url_col="url", k_substring=50, max_per_host=2,
            sample_fraction=1.0, strata_col="lang")
        got = sorted(r["doc_id"] for r in final.collect())
        for h in handles:
            h.unpersist()
        return got

    first = run()
    before = compiles.getCount()
    assert run() == first
    assert compiles.getCount() == before


def test_dedup_job_stage_all(smoke_dir):
    """spark-submit smoke for the composed pipeline job: the SAME
    composition bench.py attests, end-to-end through the --py-files
    deployment path, with a deterministic expected row count."""
    import json
    import subprocess

    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_trafilatura_spark.package_zip import build_zip

    zip_path = build_zip()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tempfile.mkdtemp(prefix="gts_dedup_all_")
    try:
        rows = _curation_docs()
        tbl = pa.table({
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "url": [r[3] for r in rows],
        })
        in_path = os.path.join(tmp, "docs.parquet")
        pq.write_table(tbl, in_path)
        out_dir = os.path.join(tmp, "out")
        proc = subprocess.run(
            [
                "spark-submit", "--master", "local[2]",
                "--py-files", zip_path,
                os.path.join(repo, "jobs", "dedup_job.py"),
                "--input", in_path,
                "--output", out_dir,
                "--stage", "all",
                "--max-per-host", "2",
                "--sample-fraction", "1.0",
                "--partitions", "4",
            ],
            capture_output=True, text=True, timeout=300, cwd=repo,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        stats = json.loads(line)
        assert stats["stage"] == "all"
        assert stats["docs_in"] == 12
        assert stats["rows"] == 6  # host cap 2 × 3 hosts, sample keeps all
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_kernel_not_html_byte_screen():
    """The kernel rejects a row as not_html before parsing exactly when
    its first 512 bytes hold no '<'."""
    from go_trafilatura_spark.kernel import KernelOptions, _extract_row

    def reason(html: bytes):
        return _extract_row("https://x.example/a", html, KernelOptions())[17]

    pad = b"x" * 511
    assert reason(b"") == "not_html"
    assert reason(pad + b"x<p>late</p>") == "not_html"  # '<' at byte 512
    for html in (b"\xef\xbb\xbf<p>bom</p>", b" \n\t<p>space</p>",
                 pad + b"<p>edge</p>", b"<!DOCTYPE HTML><p>upper</p>"):
        assert reason(html) != "not_html", html[:12]


def test_track_elements_reentrancy_guard():
    """etree element tracking is process-global and single-extraction:
    installing a second tracker over a live one must raise instead of
    silently cross-registering elements (ADVICE r5)."""
    import pytest as _pytest

    from go_trafilatura_spark import etree as _etree

    lst: list = []
    _etree.track_elements(lst)
    try:
        with _pytest.raises(RuntimeError):
            _etree.track_elements([])
    finally:
        _etree.track_elements(None)
    # uninstall → reinstall is fine
    _etree.track_elements(lst)
    _etree.track_elements(None)


def _payload_stage_rows(spark, stage, tmp_path):
    """Run one per-row payload stage on a tiny frame holding a good,
    a null and a corrupt payload per input kind; return its rows."""
    from go_trafilatura_spark import discovery, multimodal as mm, pdf, warc

    class StrictBackend(mm.FakeDecodeBackend):
        """The fake codec, except that the payload b"corrupt" fails to
        decode (the fake codec itself accepts any bytes)."""

        def _plane(self, payload, salt):
            if payload == b"corrupt":
                raise ValueError("corrupt payload")
            return super()._plane(payload, salt)

    media = spark.createDataFrame(
        [(kind + tag, kind, "application/octet-stream", payload, None, None, None)
         for kind in ("image", "audio", "video")
         for tag, payload in (("", kind.encode() * 8), ("_null", None),
                              ("_bad", b"corrupt"))],
        mm.MEDIA_SCHEMA)
    bodies = spark.createDataFrame([
        ("feed", b"<rss><channel><item><link>https://ex.com/a</link></item>"
                 b"</channel></rss>"),
        ("robots", b"User-agent: *\nSitemap: https://ex.com/sm.xml\n"),
        ("null", None),
        ("junk", b"\xff\x00junk"),
    ], "source_url string, body binary")
    if stage == "extract_pdf_pages":
        pdfs = spark.createDataFrame(
            [("good", pdf.build_pdf(["Hello world"])), ("null", None), ("junk", b"junk")],
            "url string, pdf binary")
        return [tuple(r) for r in pdf.extract_pdf_pages(pdfs).collect()]
    if stage == "read_warc_pages":
        (tmp_path / "a.warc.gz").write_bytes(warc.build_warc(
            [("https://a/1", "2024-01-01T00:00:00Z", b"<p>1</p>"),
             ("https://a/2", "2024-01-02T00:00:00Z", b"<p>2</p>")]))
        (tmp_path / "b.warc").write_bytes(warc.build_warc(
            [("https://b/1", "2024-01-03T00:00:00Z", b"<p>3</p>")],
            per_record_gzip=False))
        (tmp_path / "junk.bin").write_bytes(b"not a warc file")
        return [(r["url"], bytes(r["html"]))
                for r in warc.read_warc_pages(spark, str(tmp_path)).collect()]
    if stage == "discover_urls":
        return [tuple(r) for r in discovery.discover_urls(bodies, kind="feed").collect()]
    if stage == "discover_sitemaps_from_robots":
        return [tuple(r) for r in discovery.discover_sitemaps_from_robots(bodies).collect()]
    backend = StrictBackend()
    out = {
        "image_features": lambda: mm.image_features(media, backend=backend),
        "resize_images": lambda: mm.resize_images(media, 2, 2, backend=backend),
        "audio_features": lambda: mm.audio_features(media, backend=backend),
        "sample_video_frames": lambda: mm.sample_video_frames(media, 2, backend=backend),
        "image_features_exact": lambda: mm.image_features_exact(media),
        "video_frame_sums_exact": lambda: mm.video_frame_sums_exact(media, 2),
    }[stage]()
    return [r["media_id"] for r in out.collect()]


@pytest.mark.parametrize("stage, expected", [
    # multimodal: wrong-kind and null-payload rows are skipped; a payload
    # the codec rejects drops its row, not the batch
    ("image_features", ["image"]),
    ("resize_images", ["image"]),
    ("audio_features", ["audio"]),
    ("sample_video_frames", ["video", "video"]),
    # exact stages decode nothing, so only kind and null filter rows
    ("image_features_exact", ["image", "image_bad"]),
    ("video_frame_sums_exact", ["video", "video", "video_bad", "video_bad"]),
    # pdf never drops a row: null or unreadable payloads give ("", 0)
    ("extract_pdf_pages", [("good", "Hello world", 1), ("junk", "", 0), ("null", "", 0)]),
    # warc explodes every record of every file; a non-WARC file adds none
    ("read_warc_pages", [("https://a/1", b"<p>1</p>"), ("https://a/2", b"<p>2</p>"),
                         ("https://b/1", b"<p>3</p>")]),
    # discovery skips null bodies; unparseable bodies find nothing
    ("discover_urls", [("feed", "https://ex.com/a")]),
    ("discover_sitemaps_from_robots", [("robots", "https://ex.com/sm.xml")]),
])
def test_payload_stage_contract(spark, tmp_path, stage, expected):
    """The null / corrupt / wrong-kind behaviour of each of the ten
    per-row payload stages that share kernel.map_rows."""
    assert sorted(_payload_stage_rows(spark, stage, tmp_path)) == sorted(expected)


def test_payload_stage_fails_on_a_missing_codec(spark):
    """Only a ValueError (a corrupt payload) drops a row: a backend with
    no codec for the kind fails the stage instead of dropping every row."""
    from go_trafilatura_spark import multimodal as mm

    media = spark.createDataFrame(
        [("audio", "audio", "audio/wav", b"RIFF", None, None, None)], mm.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="no audio codec"):
        mm.audio_features(media, backend=mm.PngDecodeBackend()).collect()


def test_fanout_small_scan_multi_file_input_adds_no_exchange(spark, tmp_path):
    """An input under the size threshold that already scans as at least
    defaultParallelism partitions is returned unchanged on the
    input_bytes path too — no redundant Exchange."""
    from go_trafilatura_spark import textops

    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "docs")
    spark.range(0, 400, numPartitions=2 * n).selectExpr(
        "id AS doc_id", "concat('text ', id) AS text").write.parquet(path)
    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() >= n
    size = textops.scan_bytes(path)
    assert size is not None and size < (1 << 30)
    out = textops.fanout_small_scan(docs, input_bytes=size)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_fanout_small_scan_raises_when_partition_probe_fails():
    """A failing partition probe is an error, not a silent "no fan-out"."""
    from types import SimpleNamespace

    from go_trafilatura_spark import textops

    def probe_fails():
        raise RuntimeError("partition probe failed")

    df = SimpleNamespace(
        sparkSession=SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4)),
        rdd=SimpleNamespace(getNumPartitions=probe_fails))
    with pytest.raises(RuntimeError, match="partition probe failed"):
        textops.fanout_small_scan(df, input_bytes=1024)


def test_persist_bands_raises_when_stats_probe_fails():
    """A failing optimizer-stats probe is an error, not a silent choice
    to persist the LSH band frame."""
    from types import SimpleNamespace

    from go_trafilatura_spark import textops

    def probe_fails():
        raise RuntimeError("stats probe failed")

    df = SimpleNamespace(_jdf=SimpleNamespace(queryExecution=probe_fails))
    with pytest.raises(RuntimeError, match="stats probe failed"):
        textops._should_persist_bands(df)


def test_discover_urls_rejects_unknown_kind(spark):
    from go_trafilatura_spark.discovery import discover_urls

    bodies = spark.createDataFrame([("s", b"<rss/>")], "source_url string, body binary")
    with pytest.raises(ValueError, match="'feeds'"):
        discover_urls(bodies, kind="feeds")


EDGE_SCHEMA = "id string, s string, b binary, i int, n bigint, x float, d double, v array<float>"


def test_map_rows_typed_output(spark):
    """The typing contract of kernel.map_rows: inputs reach ``fn`` as
    their Python values (binary as bytes, null as None); output columns
    take the schema's types exactly, nulls included; a row may yield
    none or several tuples; a whole batch may yield nothing."""
    from pyspark.sql.types import StructType

    from go_trafilatura_spark.kernel import map_rows

    schema = StructType.fromDDL(EDGE_SCHEMA)
    frame = spark.createDataFrame([
        ("full", "a\x00é", b"\x00\xff", 7),
        ("null", None, None, None),
        ("drop", "x", b"x", 1),
        ("twice", "t", b"", 0),
    ], "id string, s string, b binary, i int")

    def rows(id_, s, b, i):
        assert b is None or type(b) is bytes
        if id_ == "full":
            yield id_, s, b, i, 2**40, 0.5, 0.1, [1.5, None]
        elif id_ == "null":
            yield id_, s, b, i, None, None, None, None
        elif id_ == "twice":
            yield from ((id_, s, b, k, k, float(k), float(k), []) for k in (2**31 - 1, -2**31))

    out = sorted(tuple(r) for r in map_rows(frame, ["id", "s", "b", "i"], schema, rows).collect())
    assert out == [
        ("full", "a\x00é", bytearray(b"\x00\xff"), 7, 2**40, 0.5, 0.1, [1.5, None]),
        ("null", None, None, None, None, None, None, None),
        ("twice", "t", bytearray(b""), -2**31, -2**31, float(-2**31), float(-2**31), []),
        ("twice", "t", bytearray(b""), 2**31 - 1, 2**31 - 1, float(2**31), float(2**31 - 1), []),
    ]
    dropped = map_rows(frame.where("id = 'drop'"), ["id", "s", "b", "i"], schema, rows)
    assert dropped.collect() == []

    def overflow(id_):
        yield id_, None, None, 2**31, None, None, None, None

    with pytest.raises(Exception, match="2147483648"):
        map_rows(frame, ["id"], schema, overflow).collect()
