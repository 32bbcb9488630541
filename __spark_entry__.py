"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship extraction pipeline over /root/testdata/sf0.001:
                synthesize the north-rule pages table (url, warc_ts,
                html, text, lang) JVM-side from the documents table, run
                the Arrow extraction kernel, return extracted columns.
queries()     — implemented operators (SURVEY.md §2 + training-data ops),
                each (spark, sf_dir) -> DataFrame.
oracle_sql()  — DuckDB twins. All aliases match the Spark column names;
                all hash/signature arithmetic is integer + md5-based so
                the two engines agree bit-for-bit; cosine scores are
                rounded to 4 decimals on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from go_trafilatura_spark import textops
from go_trafilatura_spark.fixtures import SYNTH_HTML
from go_trafilatura_spark.pipeline import HOST_REGEX, extract_pages
from go_trafilatura_spark.textops import (
    LANG_STOPWORDS, MINHASH_PERMS, MINHASH_PRIME, SIMHASH_BITS,
    PII_EMAIL, PII_IPV4, PII_PHONE,
)

# The PII patterns are written to the Java-regex ∩ RE2 common subset, so
# the same strings drive Spark's regexp_* and DuckDB's regexp_* oracles.
PII_EMAIL_SQL, PII_IPV4_SQL, PII_PHONE_SQL = PII_EMAIL, PII_IPV4, PII_PHONE

# DuckDB twin of _pii_raw_col() — must stay expression-for-expression
# identical (the hash row compares the scrubbed text byte-for-byte).
_PII_RAW_SQL = (
    "text || ' Contact user' || doc_id::VARCHAR || '@mail.example.com' || "
    "CASE WHEN doc_id % 3 = 0 THEN ' cc admin' || doc_id::VARCHAR || '@example.org' ELSE '' END || "
    "' from 10.' || (doc_id % 200)::VARCHAR || '.0.' || (doc_id % 250)::VARCHAR || "
    "' or call +1415555' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
)

# DuckDB twin of _url_raw_col() + textops.url_normalize: produces
# (doc_id, url_norm). DuckDB backreferences are \1 where Spark uses $1;
# semantics identical.
_URL_RAW_SQL = (
    "'HTTP://WWW.Site' || (doc_id % 40)::VARCHAR || '.Example.COM:80/p/' || "
    "(doc_id % 25)::VARCHAR || '?id=' || (doc_id % 10)::VARCHAR || "
    "'&utm_source=feed&ref=rss&x=1#sec' || doc_id::VARCHAR"
)
_URL_NORM_SQL = f"""
SELECT doc_id,
       pfx2 || path || CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS url_norm
FROM (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(lower(pfx), '^(http://[^:/]*):80$', '\\1'),
      '^(https://[^:/]*):443$', '\\1') AS pfx2,
    regexp_replace(rest, '\\?.*$', '') AS path,
    array_to_string(
      list_filter(
        string_split(regexp_extract(rest, '\\?(.*)$', 1), '&'),
        x -> NOT regexp_matches(x, '^(utm_[A-Za-z]+|fbclid|gclid|mc_cid|mc_eid|ref)=')),
      '&') AS q2
  FROM (
    SELECT doc_id, pfx, substr(u0, length(pfx) + 1) AS rest
    FROM (
      SELECT doc_id, regexp_extract(u0, '^[^/]*//[^/]*') AS pfx, u0
      FROM (SELECT doc_id, regexp_replace({_URL_RAW_SQL}, '#.*$', '') AS u0
            FROM documents)
    )
  )
)"""

# DuckDB twin of the pipeline's host extraction: HOST_REGEX is
# RE2-compatible, so the same literal drives both engines.
_HOST_SQL = f"regexp_extract(url, '{HOST_REGEX}', 1)"

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "correctness")
GOLDEN_PARQUET = os.path.join(FIXTURE_DIR, "golden.parquet")
PAGES_PARQUET = os.path.join(FIXTURE_DIR, "pages.parquet")

# Kernel options for the synthetic-doc queries: disable the wild-text
# rescue and size gates so every row extracts through the main cascade
# (the synthetic docs are word-soup with no 250-char guarantee).
_SYNTH_OPTS = {"config": {"min_extracted_size": 0, "min_output_size": 0}}


def _ensure_fixtures() -> None:
    from go_trafilatura_spark.fixtures import ensure_fixtures

    ensure_fixtures("correctness")


def _fixture_extracted(spark: SparkSession) -> DataFrame:
    """The fixture corpus through the kernel, successfully extracted
    rows only — the shared input of the fixture-corpus queries."""
    _ensure_fixtures()
    pages = spark.read.parquet(PAGES_PARQUET)
    return extract_pages(pages, num_partitions=8).where(F.col("reject_reason").isNull())


def _synth_pages(spark: SparkSession, sf_dir: str, exchange: bool) -> DataFrame:
    """The one synthetic-page projection: every non-blank row of the
    documents table becomes a (url, warc_ts, html, text, lang) page,
    entirely JVM-side (format_string + encode — no Python). With
    ``exchange`` the NARROW rows (doc_id, text) are salted_repartition-ed
    first and the fat html column is built AFTER the exchange (see
    q_extract_synth)."""
    from go_trafilatura_spark.pipeline import salted_repartition

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base = docs.where(F.length(F.trim("text")) > 0).select(
        F.concat(F.lit("https://synth.local/doc/"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        "doc_id", "text", "lang")
    if exchange:
        base = salted_repartition(base)
    body = F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>"))
    html = F.format_string(SYNTH_HTML, F.col("doc_id"), F.col("doc_id"), body)
    return base.select(
        "url", "warc_ts", F.encode(html, "utf-8").alias("html"), "text", "lang")


def synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the north-rule input table from the driver-provided
    documents table."""
    return _synth_pages(spark, sf_dir, exchange=False)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline at sf0.001."""
    pages = synth_pages(spark, "/root/testdata/sf0.001")
    return extract_pages(pages, options=_SYNTH_OPTS, num_partitions=8)


# ---------------------------------------------------------------------------
# queries()
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    """Documents input with the scale-adaptive scan fan-out (guide
    §2.4/§6): the sf documents table is one small single-row-group
    parquet file, so without this every per-doc query's map stage runs
    on the 1-2 scan splits regardless of core count; at real scale the
    size guard makes it a no-op (see textops.fanout_small_scan). The
    on-disk size is passed in so the guard skips the optimizer-stats
    probe."""
    path = os.path.join(sf_dir, "documents.parquet")
    return textops.fanout_small_scan(
        spark.read.parquet(path), input_bytes=textops.scan_bytes(path))


def _emb(spark, sf_dir):
    # No fan-out: the embedding queries broadcast-join and top-k over a
    # few thousand short rows — measured, the extra exchange costs more
    # than the extra cores buy (0.45 s vs 0.48/0.52 s).
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_extract_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end extraction correctness on driver data: content text and
    title of every synthesized page, byte-compared against a pure-SQL
    prediction."""
    # Round-7 shape (guide §2.3 "project before the exchange", §2):
    # repartition the NARROW rows (doc_id, text) first and synthesize
    # the fat html column AFTER the exchange, so the shuffle carries
    # text instead of the ~6× larger page bytes and the synthesis
    # projection runs on every core instead of the 1-2 scan splits.
    # The kernel stage size follows spark.sql.shuffle.partitions (32 in
    # the bench session) instead of the old constant 8 that left 3/4 of
    # a local[32] host idle. Output row set identical (verified 0 diff
    # rows at 50k docs plus the oracle hash).
    pages = _synth_pages(spark, sf_dir, exchange=True)
    out = extract_pages(pages, options=_SYNTH_OPTS, repartition=False)
    return out.where(F.col("reject_reason").isNull()).select(
        "url", "content_text", "title"
    )


def q_extract_fixture_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-parity on the template fixture corpus (all operator families:
    boilerplate discard, link-density, lists, tables, code, comments,
    metadata). Oracle = the generator-predicted golden table."""
    return _fixture_extracted(spark).select(
        "url", "content_text", "comments_text", "title", "author", "sitename", "date"
    )


def q_token_counts(spark, sf_dir):
    df = textops.token_counts(_docs(spark, sf_dir))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_unique_tokens").cast("bigint").alias("n_unique_tokens"),
        F.col("n_chars_text").cast("bigint").alias("n_chars_text"),
    )


def q_fingerprints(spark, sf_dir):
    return textops.fingerprints(_docs(spark, sf_dir))


def q_winnowing(spark, sf_dir):
    """Winnowing local fingerprints (MOSS scheme), deterministic window
    minima over md5-derived shingle hashes."""
    return textops.winnowing_fingerprints(_docs(spark, sf_dir))


def q_exact_dedup(spark, sf_dir):
    # Raw scan, no fan-out: the map side is one md5 projection and the
    # fingerprint-window exchange dominates — measured 0.39 s raw vs
    # 0.70 s fanned at sf0.1 and a wash at 10× that size.
    df = textops.exact_dedup_flags(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))
    return df.select("doc_id", "fingerprint", F.col("is_duplicate").cast("bigint").alias("is_duplicate"))


def q_substring_dedup(spark, sf_dir):
    """Cross-document duplicated k-token spans (exact substring dedup,
    Lee et al. 2022 shape), merged per doc — textops.substring_dedup_spans."""
    df = textops.substring_dedup_spans(_docs(spark, sf_dir))
    return df.select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        "n_windows",
    )


def q_substring_dedup_filter(spark, sf_dir):
    """Doc-level duplicated-token fraction + keep flag over the
    substring spans — textops.substring_dedup_filter."""
    return textops.substring_dedup_filter(_docs(spark, sf_dir))


def q_substring_dedup_hashed(spark, sf_dir):
    """The PRODUCTION substring-dedup path: k=50 token windows (Lee et
    al. 2022's deployed setting) with hash_shingles=True (xxhash64
    8-byte shuffle keys instead of up-to-~350-byte window strings).
    Its oracle is the string-keyed twin at k=50: every output column is
    an integer, and without a hash collision the hashed windows select
    the same spans as the strings (the hashed-vs-string parity test in
    tests/test_spark_integration.py pins that on the Spark side).
    Registered so the bench times the path dedup_job actually runs
    (VERDICT r5 #4)."""
    return textops.substring_dedup_filter(
        _docs(spark, sf_dir), k=50, hash_shingles=True)


def q_minhash_signatures(spark, sf_dir):
    return textops.minhash_signatures(_docs(spark, sf_dir))


def q_minhash_lsh_pairs(spark, sf_dir):
    return textops.minhash_lsh_pairs(_docs(spark, sf_dir))


def q_simhash(spark, sf_dir):
    return textops.simhash(_docs(spark, sf_dir))


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the LSH pair graph (min-label
    propagation); oracle = DuckDB recursive-CTE transitive closure."""
    df = textops.dedup_clusters(_docs(spark, sf_dir))
    return df.select(
        "doc_id", "cluster_id",
        F.col("is_canonical").cast("bigint").alias("is_canonical"),
    )


def q_ngram_jaccard(spark, sf_dir):
    return textops.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.2).select(
        "doc_a", "doc_b", F.col("n_common").cast("bigint").alias("n_common"), "jaccard"
    )


def q_quality_scores(spark, sf_dir):
    df = textops.quality_scores(_docs(spark, sf_dir))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_chars_text").cast("bigint").alias("n_chars_text"),
        F.col("n_stopwords").cast("bigint").alias("n_stopwords"),
        F.col("n_unique").cast("bigint").alias("n_unique"),
        "stopword_ratio",
    )


def q_gopher_repetition(spark, sf_dir):
    df = textops.gopher_repetition(_docs(spark, sf_dir))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "top2_char_frac", "top3_char_frac", "dup5_char_frac",
    )


def q_gopher_quality(spark, sf_dir):
    df = textops.gopher_quality_filter(_docs(spark, sf_dir))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "mean_word_len", "n_must_have",
        "top2_char_frac", "dup5_char_frac",
        "ok_min_tokens", "ok_max_tokens", "ok_word_len",
        "ok_stopwords", "ok_top2", "ok_dup5", "keep",
    )


def q_lang_id(spark, sf_dir):
    df = textops.lang_id_heuristic(_docs(spark, sf_dir))
    casts = [F.col(f"hits_{lg}").cast("bigint").alias(f"hits_{lg}") for lg in LANG_STOPWORDS]
    return df.select("doc_id", *casts, "pred_lang")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: 4-gram collisions of every document
    against the deterministic benchmark subset (doc_id % 100 == 0 —
    the stand-in for an eval suite; production n_gram default is 13)."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 100 == 0)
    return textops.decontaminate(docs, bench, n_gram=4).select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language 25% downsample (hash bucketing, no
    RNG) — rows and buckets reproduce bit-for-bit in the oracle."""
    return textops.stratified_sample(
        _docs(spark, sf_dir), strata_col="lang", fraction=0.25
    ).select("doc_id", "lang", F.col("bucket").cast("bigint").alias("bucket"))


def q_line_dedup(spark, sf_dir):
    """CCNet-style boilerplate line removal over the REAL extracted
    text of the 800-page fixture corpus: lines appearing in >= 2
    distinct pages are corpus boilerplate and are dropped; documents
    are rebuilt from the survivors in original order. The frequent-line
    set is broadcast (Zipf-tiny), so the removal pass never shuffles
    the corpus body."""
    # No fan-out on the 800-row fixture corpus: line_dedup's map side
    # is one split+posexplode and its aggregations shuffle right away —
    # measured 0.93 s plain vs 1.27 s with the extra exchange.
    _ensure_fixtures()
    golden = spark.read.parquet(GOLDEN_PARQUET).select("url", "content_text")
    return textops.line_dedup(
        golden, text_col="content_text", id_col="url", min_docs=2
    ).select(
        "url",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
        F.col("n_lines_removed").cast("bigint").alias("n_lines_removed"),
        "text_deduped",
    )


def _pii_raw_col():
    """Deterministic PII-laced text synthesized from the documents
    table — identical expression in the DuckDB oracle (_PII_RAW_SQL)."""
    return F.concat(
        F.col("text"),
        F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" cc admin"), F.col("doc_id").cast("string"),
                        F.lit("@example.org"))).otherwise(F.lit("")),
        F.lit(" from 10."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 250).cast("string"),
        F.lit(" or call +1415555"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4 / intl phone numbers) with per-
    category counts, over deterministically PII-laced document text.
    Pure projection — three regexp_replace + three regexp_count, no
    shuffle."""
    docs = _docs(spark, sf_dir).withColumn("pii_text", _pii_raw_col())
    return textops.pii_scrub(docs, text_col="pii_text")


def _url_raw_col():
    """Deterministic messy URL synthesized from doc_id: uppercase
    scheme/host, default port, tracking params, fragment. Mirrored in
    the oracle as _URL_RAW_SQL; doc_id mod-periods (40/25/10, lcm 200)
    make distinct raw URLs collide after normalization."""
    return F.concat(
        F.lit("HTTP://WWW.Site"), (F.col("doc_id") % 40).cast("string"),
        F.lit(".Example.COM:80/p/"), (F.col("doc_id") % 25).cast("string"),
        F.lit("?id="), (F.col("doc_id") % 10).cast("string"),
        F.lit("&utm_source=feed&ref=rss&x=1#sec"),
        F.col("doc_id").cast("string"),
    )


def q_url_normalize(spark, sf_dir):
    """URL canonicalization: drop fragment, lowercase authority, strip
    default port, remove tracking query params. Pure projection."""
    docs = _docs(spark, sf_dir).withColumn("url", _url_raw_col())
    return textops.url_normalize(docs)


def q_url_dedup(spark, sf_dir):
    """URL-level dedup: group documents by canonical URL, lowest
    doc_id is the representative. One uniform groupBy on the
    canonical-URL key."""
    docs = _docs(spark, sf_dir).withColumn("url", _url_raw_col())
    return textops.url_dedup(docs).select(
        "url_norm",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("canonical_doc_id").cast("bigint").alias("canonical_doc_id"),
    )


def q_host_cap(spark, sf_dir):
    """Per-host document cap over the Zipf-host fixture corpus: the
    skew-safe two-stage top-N (each (host, salt) group reduces to its
    own top-N before the per-host combine) vs the oracle's naive
    row_number window — identical rows attest the decomposition."""
    from go_trafilatura_spark.pipeline import host_cap

    _ensure_fixtures()
    pages = spark.read.parquet(PAGES_PARQUET)
    return host_cap(pages, max_per_host=3)


def q_unigram_logprob(spark, sf_dir):
    """Corpus-unigram LM quality proxy (the SQL-expressible analogue of
    CCNet's KenLM perplexity filter): mean negative log2 token
    probability per document, integer milli-bit arithmetic so the
    aggregation is summation-order independent across engines."""
    return textops.unigram_logprob(_docs(spark, sf_dir))


def q_warc_extract(spark, sf_dir):
    """WARC-source correctness: the first 200 documents are serialized
    as per-record-gzip WARC shards with the writer twin (bounded
    driver-side fixture construction — 200 rows by design), read back
    through read_warc_pages (binaryFile + mapInArrow) and extracted;
    the oracle predicts the result straight from the documents table,
    so the hash row attests the whole bytes→table→extraction edge."""
    import tempfile

    from go_trafilatura_spark.warc import build_warc, read_warc_pages

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rows = (docs.where(F.length(F.trim("text")) > 0)
            .orderBy("doc_id").limit(200)
            .select("doc_id", "text").collect())
    records = []
    for r in rows:
        html = (SYNTH_HTML % (r["doc_id"], r["doc_id"], f"<p>{r['text']}</p>")).encode()
        records.append((f'https://warc.local/{r["doc_id"]}',
                        "2024-01-01T00:00:00Z", html))
    tmp = tempfile.mkdtemp(prefix="gts_warc_q_")
    half = len(records) // 2
    with open(os.path.join(tmp, "part-0.warc.gz"), "wb") as f:
        f.write(build_warc(records[:half], per_record_gzip=True))
    with open(os.path.join(tmp, "part-1.warc"), "wb") as f:
        f.write(build_warc(records[half:], per_record_gzip=False))
    pages = read_warc_pages(spark, tmp)
    out = extract_pages(pages, options=_SYNTH_OPTS, num_partitions=4)
    return out.where(F.col("reject_reason").isNull()).select(
        "url", "content_text", "title")


def q_ann_bruteforce(spark, sf_dir):
    return textops.ann_bruteforce_topk(_emb(spark, sf_dir), query_vec_id=0, k=10)


def q_ann_lsh(spark, sf_dir):
    return textops.ann_lsh_topk(_emb(spark, sf_dir), query_vec_id=0, k=5).select(
        "vec_id", F.col("bucket").cast("bigint").alias("bucket"), "cosine"
    )


def q_embedding_neardup(spark, sf_dir):
    # The synthetic embeddings are near-orthogonal (max cosine ≈ 0.47),
    # so the "near-duplicate" threshold is scaled to the data to keep the
    # check non-vacuous (19 pairs at sf0.01 under band-LSH blocking).
    return textops.embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.40)


def q_text_output(spark, sf_dir):
    """Text sink over the fixture corpus (content + comments + newline)."""
    from go_trafilatura_spark.sinks import text_output

    return text_output(_fixture_extracted(spark)).select(
        "url", "text_output"
    )


def q_json_output(spark, sf_dir):
    """JSON sink (built-in to_json), hash-compared against a DuckDB
    string-concat reconstruction of the same payload from golden."""
    from go_trafilatura_spark.sinks import json_output

    return json_output(_fixture_extracted(spark)).select(
        "url", "json_output"
    )


def q_readable_html(spark, sf_dir):
    """Readable-HTML sink, hash-compared against a golden-derived
    reconstruction of the document string."""
    from go_trafilatura_spark.sinks import readable_html

    return readable_html(_fixture_extracted(spark)).select(
        "url", "readable_html"
    )


def q_extract_spans(spark, sf_dir):
    """Span offsets per url (flattened): byte-exact vs the generator's
    predicted spans."""
    return (
        _fixture_extracted(spark)
        .select("url", F.posexplode("content_spans").alias("span_idx", "span"))
        .select(
            "url",
            F.col("span_idx").cast("bigint").alias("span_idx"),
            F.col("span.start").cast("bigint").alias("span_start"),
            F.col("span.end").cast("bigint").alias("span_end"),
            F.col("span.kind").alias("span_kind"),
        )
    )


def _events(spark, sf_dir):
    # No fan-out: the events queries shuffle by their own keys (window
    # start / user_id) in their first stage anyway — measured, a
    # fan-out exchange in front of that is pure cost (0.41 s vs 0.73 s
    # windowed, 0.45 s vs 0.89 s sessionized).
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def q_events_windowed(spark, sf_dir):
    return textops.events_windowed(_events(spark, sf_dir))


def q_events_sessionized(spark, sf_dir):
    df = textops.events_sessionized(_events(spark, sf_dir))
    return df.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("session_seq").cast("bigint").alias("session_seq"),
        F.col("n_events").cast("bigint").alias("n_events"),
        "session_start", "session_end",
    )


def q_events_json_props(spark, sf_dir):
    return textops.events_json_props(_events(spark, sf_dir))


def q_corpus_dedup(spark, sf_dir):
    """Corpus-level exact dedup over the *extracted* text — the
    order-independent re-specification of the reference's shared-cache
    --deduplicate mode (SURVEY.md §2.9): fingerprint the kernel output,
    keep the first url per fingerprint group."""
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy("url")
    return (
        _fixture_extracted(spark).select("url", F.md5(F.col("content_text")).alias("fingerprint"))
        .withColumn("dup_rank", F.row_number().over(w))
        .select(
            "url", "fingerprint",
            (F.col("dup_rank") > 1).cast("bigint").alias("is_duplicate"),
        )
    )


def q_pdf_extract(spark, sf_dir):
    """PDF text extraction (north rule 'PDF/layout parse'): fixture PDFs
    (mixed Flate/plain, Tj/TJ encodings, escape sequences) through the
    mapInArrow PDF stage; oracle = generator-predicted text."""
    from go_trafilatura_spark.pdf import extract_pdf_pages

    _ensure_fixtures()
    pdfs = spark.read.parquet(os.path.join(FIXTURE_DIR, "pdfs.parquet"))
    out = extract_pdf_pages(pdfs)
    return out.select(
        "url", "pdf_text", F.col("n_text_ops").cast("bigint").alias("n_text_ops")
    )


def _media(spark, sf_dir):
    """Synthesize the multimodal table from documents, JVM-side: one
    media row per doc, kind cycling image/audio/video, payload = the
    utf-8 bytes of the text (a deterministic opaque blob)."""
    docs = _docs(spark, sf_dir)
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def q_multimodal_image(spark, sf_dir):
    """Integer-exact image features through the multimodal mapInArrow
    plumbing (stub decode; oracle reproduces the sha256 plane in SQL)."""
    from go_trafilatura_spark.multimodal import image_features_exact

    df = image_features_exact(_media(spark, sf_dir))
    return df.select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("sum_luma").cast("bigint").alias("sum_luma"),
        "phash",
    )


def q_multimodal_frames(spark, sf_dir):
    """Integer-exact video frame sampling (explode shape)."""
    from go_trafilatura_spark.multimodal import video_frame_sums_exact

    df = video_frame_sums_exact(_media(spark, sf_dir))
    return df.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("frame_sum").cast("bigint").alias("frame_sum"),
    )


def q_host_stats(spark, sf_dir):
    """Per-host doc counts and html size stats, computed through the
    skew-safe two-stage salted aggregation (groupBy(host, salt) partial
    → groupBy(host) final, pipeline.salted_host_agg) — the Zipf host
    distribution in the fixtures is exactly the hot-key shape it
    defeats. The oracle is the plain one-stage groupBy: identical
    results attest that salting preserves the aggregation."""
    from go_trafilatura_spark.pipeline import salted_host_agg

    _ensure_fixtures()
    pages = spark.read.parquet(PAGES_PARQUET)
    return salted_host_agg(pages)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_synth": q_extract_synth,
        "extract_fixture_parity": q_extract_fixture_parity,
        "token_counts": q_token_counts,
        "fingerprints": q_fingerprints,
        "winnowing": q_winnowing,
        "exact_dedup": q_exact_dedup,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "dedup_clusters": q_dedup_clusters,
        "ngram_jaccard": q_ngram_jaccard,
        "quality_scores": q_quality_scores,
        "gopher_repetition": q_gopher_repetition,
        "gopher_quality": q_gopher_quality,
        "lang_id": q_lang_id,
        "decontaminate": q_decontaminate,
        "stratified_sample": q_stratified_sample,
        "line_dedup": q_line_dedup,
        "pii_scrub": q_pii_scrub,
        "url_normalize": q_url_normalize,
        "url_dedup": q_url_dedup,
        "substring_dedup": q_substring_dedup,
        "substring_dedup_filter": q_substring_dedup_filter,
        "substring_dedup_hashed": q_substring_dedup_hashed,
        "unigram_logprob": q_unigram_logprob,
        "host_cap": q_host_cap,
        "warc_extract": q_warc_extract,
        "ann_bruteforce": q_ann_bruteforce,
        "ann_lsh": q_ann_lsh,
        "embedding_neardup": q_embedding_neardup,
        "corpus_dedup": q_corpus_dedup,
        "extract_spans": q_extract_spans,
        "events_windowed": q_events_windowed,
        "events_sessionized": q_events_sessionized,
        "events_json_props": q_events_json_props,
        "pdf_extract": q_pdf_extract,
        "multimodal_image": q_multimodal_image,
        "multimodal_frames": q_multimodal_frames,
        "host_stats": q_host_stats,
        "text_output": q_text_output,
        "json_output": q_json_output,
        "readable_html": q_readable_html,
    }


# ---------------------------------------------------------------------------
# oracle_sql() — DuckDB dialect
# ---------------------------------------------------------------------------

_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"
_NORm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _sql_minhash_base(k: int = 3) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS tokens FROM documents
), sh AS (
  SELECT doc_id,
         unnest([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                 FOR i IN range(1, greatest(len(tokens)-{k - 1}, 0)+1)]) AS shingle
  FROM toks
), hashed AS (
  SELECT doc_id,
         (('0x' || substr(md5(shingle), 1, 15))::BIGINT) % {MINHASH_PRIME} AS h
  FROM sh
)"""


def _sql_minhash_sigs() -> str:
    sig_cols = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS sig{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    return _sql_minhash_base() + f"\nSELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id"


def _sql_simhash() -> str:
    sums = ", ".join(f"sum((h >> {b}) & 1) AS s{b}" for b in range(SIMHASH_BITS))
    bits = " + ".join(
        f"(CASE WHEN s{b} * 2 > n THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
), agg AS (
  SELECT doc_id, count(*) AS n, {sums} FROM hashed GROUP BY doc_id
)
SELECT doc_id, {bits} AS simhash FROM agg"""


def _sql_lang_id() -> str:
    hit_cols = []
    for lg, words in LANG_STOPWORDS.items():
        in_list = ", ".join(f"'{w}'" for w in words)
        hit_cols.append(
            f"len(list_filter({_TOKENS}, t -> t IN ({in_list}))) AS hits_{lg}"
        )
    langs = list(LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN '' "
    for lg in langs:
        case += f"WHEN hits_{lg} = {best} THEN '{lg}' "
    case += "END"
    return (
        "WITH scored AS (SELECT doc_id, "
        + ", ".join(hit_cols)
        + " FROM documents) SELECT doc_id, "
        + ", ".join(f"hits_{lg}" for lg in langs)
        + f", {case} AS pred_lang FROM scored"
    )


def _sql_jaccard(threshold: float = 0.2, max_df: int = 500) -> str:
    # Same df-capped semantics as textops.ngram_jaccard_pairs: shingles
    # with document frequency > max_df never enter the pair join; set
    # sizes use the full shingle sets.
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS tokens FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                 FOR i IN range(1, greatest(len(tokens)-2, 0)+1)])) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {max_df}
), sh_kept AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh_kept a JOIN sh_kept b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common,
       round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 4) >= {threshold}"""


def _sql_lsh_pairs(max_band_df: int = 100) -> str:
    # Same hot-band frequency cap as textops.minhash_lsh_pairs: band
    # keys with document frequency > max_band_df never enter the join.
    return f"""
WITH sigs AS ({_sql_minhash_sigs()}),
bands AS (
  SELECT doc_id,
         sig0::VARCHAR || '_' || sig1::VARCHAR AS band0,
         sig2::VARCHAR || '_' || sig3::VARCHAR AS band1
  FROM sigs
),
ok0 AS (SELECT band0 FROM bands GROUP BY band0 HAVING count(*) <= {max_band_df}),
ok1 AS (SELECT band1 FROM bands GROUP BY band1 HAVING count(*) <= {max_band_df}),
p0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band0 = b.band0
  WHERE a.doc_id < b.doc_id AND a.band0 IN (SELECT band0 FROM ok0)
),
p1 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band1 = b.band1
  WHERE a.doc_id < b.doc_id AND a.band1 IN (SELECT band1 FROM ok1)
)
SELECT DISTINCT doc_a, doc_b FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1)"""


def _sql_quality() -> str:
    en = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""
SELECT doc_id,
       len({_TOKENS}) AS n_tokens,
       length(trim(text)) AS n_chars_text,
       len(list_filter({_TOKENS}, t -> t IN ({en}))) AS n_stopwords,
       len(list_distinct({_TOKENS})) AS n_unique,
       len(list_filter({_TOKENS}, t -> t IN ({en}))) / len({_TOKENS}) AS stopword_ratio
FROM documents"""


def _sql_gopher_repetition() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id,
         length(trim(text)) AS n_chars,
         list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 2000) AS t
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id, n_chars, len(t) AS n_tokens,
         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1]) ELSE [] END AS g2,
         CASE WHEN len(t) >= 3 THEN list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3,
         CASE WHEN len(t) >= 5 THEN list_transform(generate_series(1, len(t)-4), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]) ELSE [] END AS g5
  FROM toks
),
structs AS (
  SELECT doc_id, n_chars, n_tokens,
         list_max(list_transform(list_distinct(g2), x -> {'c': len(list_filter(g2, y -> y = x)), 'l': length(x), 'g': x})) AS top2,
         list_max(list_transform(list_distinct(g3), x -> {'c': len(list_filter(g3, y -> y = x)), 'l': length(x), 'g': x})) AS top3,
         list_sum(list_transform(list_distinct(g5), x -> CASE WHEN len(list_filter(g5, y -> y = x)) >= 2 THEN len(list_filter(g5, y -> y = x)) * length(x) ELSE 0 END)) AS dup5
  FROM grams
)
SELECT doc_id, n_tokens, n_chars,
       round(coalesce(top2.c * top2.l / n_chars, 0.0), 6) AS top2_char_frac,
       round(coalesce(top3.c * top3.l / n_chars, 0.0), 6) AS top3_char_frac,
       round(coalesce(dup5 / n_chars, 0.0), 6) AS dup5_char_frac
FROM structs"""


def _sql_gopher_quality() -> str:
    must = "'the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'"
    return rf"""
WITH toks AS (
  SELECT doc_id,
         length(trim(text)) AS n_chars,
         list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 2000) AS t
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id, n_chars, t, len(t) AS n_tokens,
         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1]) ELSE [] END AS g2,
         CASE WHEN len(t) >= 5 THEN list_transform(generate_series(1, len(t)-4), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]) ELSE [] END AS g5
  FROM toks
),
metrics AS (
  SELECT doc_id, n_tokens,
         round(list_sum(list_transform(t, x -> length(x))) / n_tokens, 6) AS mean_word_len,
         list_sum(list_transform(t, x -> length(x))) / n_tokens AS mwl_raw,
         len(list_intersect(t, [{must}])) AS n_must_have,
         round(coalesce(list_max(list_transform(list_distinct(g2), x -> {{'c': len(list_filter(g2, y -> y = x)), 'l': length(x), 'g': x}})).c
               * list_max(list_transform(list_distinct(g2), x -> {{'c': len(list_filter(g2, y -> y = x)), 'l': length(x), 'g': x}})).l
               / n_chars, 0.0), 6) AS top2_char_frac,
         round(coalesce(list_sum(list_transform(list_distinct(g5), x -> CASE WHEN len(list_filter(g5, y -> y = x)) >= 2 THEN len(list_filter(g5, y -> y = x)) * length(x) ELSE 0 END)) / n_chars, 0.0), 6) AS dup5_char_frac
  FROM grams
)
SELECT doc_id, n_tokens, mean_word_len, n_must_have, top2_char_frac, dup5_char_frac,
       n_tokens >= 50 AS ok_min_tokens,
       n_tokens <= 100000 AS ok_max_tokens,
       mwl_raw >= 3 AND mwl_raw <= 10 AS ok_word_len,
       n_must_have >= 2 AS ok_stopwords,
       top2_char_frac <= 0.20 AS ok_top2,
       dup5_char_frac <= 0.15 AS ok_dup5,
       (n_tokens >= 50 AND n_tokens <= 100000 AND mwl_raw >= 3 AND mwl_raw <= 10
        AND n_must_have >= 2 AND top2_char_frac <= 0.20 AND dup5_char_frac <= 0.15) AS keep
FROM metrics"""


def _sql_extract_synth() -> str:
    # The kernel's output for the synthetic template: heading + single
    # paragraph → "Doc <id> <normalized text>"; title = "Doc <id>".
    return """
SELECT 'https://synth.local/doc/' || doc_id AS url,
       'Doc ' || doc_id || ' ' || regexp_replace(trim(text), '\\s+', ' ', 'g') AS content_text,
       'Doc ' || doc_id AS title
FROM documents
WHERE length(trim(text)) > 0"""


def _je(expr: str) -> str:
    """JSON string escape (backslash, quote) — fixture text has no control
    chars, so this matches Jackson's output byte-for-byte."""
    return (
        "replace(replace(" + expr + ", '\\', '\\\\'), '\"', '\\\"')"
    )


def _he(expr: str) -> str:
    """Go html.EscapeString: & ' < > \" (amp first)."""
    out = expr
    for raw, rep in (("&", "&amp;"), ("''", "&#39;"), ("<", "&lt;"),
                     (">", "&gt;"), ('"', "&#34;")):
        out = f"replace({out}, '{raw}', '{rep}')"
    return out


def _jarr(col: str) -> str:
    """JSON array of strings, matching Spark to_json: [] or ["a","b"]."""
    return (
        "'[' || coalesce(array_to_string(list_transform(" + col
        + ", x -> '\"' || " + _je("x") + " || '\"'), ','), '') || ']'"
    )


def _strip_body(col: str) -> str:
    return (
        "regexp_replace(regexp_replace(" + col + ", '^<body>', ''), '</body>$', '')"
    )


def _sql_json_output(golden: str) -> str:
    """Reconstruct the Spark to_json payload (sinks.py json_output field
    order) from the generator-predicted golden columns."""
    return f"""
SELECT url,
  '{{"contentHTML":"' || {_je('content_html')}
  || '","contentText":"' || {_je('content_text')}
  || '","metadata":{{"title":"' || {_je('title')}
  || '","author":"' || {_je('author')}
  || '","url":"' || {_je('meta_url')}
  || '","hostname":"' || {_je('hostname')}
  || '","description":"' || {_je('description')}
  || '","sitename":"' || {_je('sitename')}
  || '","date":"' || {_je('"date"')}
  || '","categories":' || {_jarr('categories')}
  || ',"tags":' || {_jarr('tags')}
  || ',"license":"' || {_je('license')}
  || '"}},"commentsText":"' || {_je('comments_text')}
  || '","commentsHTML":"' || {_je('comments_html')}
  || '"}}' AS json_output
FROM read_parquet('{golden}')"""


def _sql_readable_html(golden: str) -> str:
    """Reconstruct the readable document (sinks.py readable_html) from the
    golden columns: meta head in _META_FIELDS order + content/comments divs."""
    metas = []
    for name, expr in (
        ("title", "title"), ("author", "author"), ("url", "meta_url"),
        ("hostname", "hostname"), ("description", "description"),
        ("sitename", "sitename"), ("date", '"date"'),
        ("categories", "coalesce(array_to_string(categories, ', '), '')"),
        ("tags", "coalesce(array_to_string(tags, '; '), '')"), ("license", "license"),
    ):
        metas.append(
            f"'<meta name=\"{name}\" content=\"' || {_he(expr)} || '\"/>'"
        )
    head = " || ".join(metas)
    return f"""
SELECT url,
  '<html><head>' || {head} || '</head><body>'
  || '<div id="content-body">' || {_strip_body('content_html')} || '</div>'
  || CASE WHEN comments_html <> ''
          THEN '<div id="comments-body">' || {_strip_body('comments_html')} || '</div>'
          ELSE '' END
  || '</body></html>' AS readable_html
FROM read_parquet('{golden}')"""


def _sql_multimodal_image() -> str:
    """Reproduce image_features_exact: plane = sha256('img0:'+text) ++
    sha256('img1:'+text) bytes; sum + integer-threshold phash. DuckDB's
    sha256(VARCHAR) hashes the same utf-8 bytes Python's does."""
    b = []
    for blk in range(2):
        for i in range(32):
            b.append(f"('0x' || substr(h{blk}, {2 * i + 1}, 2))::BIGINT")
    total = " + ".join(f"b{i}" for i in range(64))
    hi = " + ".join(
        f"(CASE WHEN b{i} * 64 > total THEN {1 << (31 - i)} ELSE 0 END)"
        for i in range(32)
    )
    lo = " + ".join(
        f"(CASE WHEN b{i} * 64 > total THEN {1 << (63 - i)} ELSE 0 END)"
        for i in range(32, 64)
    )
    byte_cols = ", ".join(f"{expr} AS b{i}" for i, expr in enumerate(b))
    return f"""
WITH media AS (
  SELECT doc_id::VARCHAR AS media_id,
         sha256('img0:' || text) AS h0, sha256('img1:' || text) AS h1
  FROM documents WHERE doc_id % 3 = 0
), bytes AS (
  SELECT media_id, {byte_cols} FROM media
), agg AS (
  SELECT media_id, *, ({total}) AS total FROM bytes
)
SELECT media_id, 8::BIGINT AS width, 8::BIGINT AS height,
       total AS sum_luma,
       printf('%08x%08x', {hi}, {lo}) AS phash
FROM agg"""


def _sql_multimodal_frames(n_frames: int = 3) -> str:
    frames = []
    for idx in range(n_frames):
        byte_sum = " + ".join(
            f"('0x' || substr(sha256('vid{idx}:' || text), {2 * i + 1}, 2))::BIGINT"
            for i in range(32)
        )
        frames.append(
            f"SELECT doc_id::VARCHAR AS media_id, {idx}::BIGINT AS frame_idx, "
            f"({byte_sum}) AS frame_sum FROM documents WHERE doc_id % 3 = 2"
        )
    return " UNION ALL ".join(frames)


def _sql_substring_dedup(k: int = 8) -> str:
    """DuckDB twin of textops.substring_dedup_spans: same tokenization,
    same cross-doc k-shingle duplication test, same overlap/adjacency
    interval merge — all-integer outputs, hash-exact."""
    sh_parts = " || ' ' || ".join(f"tokens[i+{j}]" for j in range(k))
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS tokens FROM documents
), sh AS (
  SELECT doc_id, unnest([{{'pos': i - 1, 'shingle': {sh_parts}}}
          FOR i IN range(1, greatest(len(tokens) - {k - 1}, 0) + 1)], recursive := true)
  FROM toks
), dup AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT s.doc_id, s.pos, s.pos + {k - 1} AS e
  FROM sh s JOIN dup USING (shingle)
), marked AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER w IS NULL OR pos > max(e) OVER w + 1
              THEN 1 ELSE 0 END AS newgrp
  FROM flagged
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), grouped AS (
  SELECT doc_id, pos, e,
         sum(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM marked
)
SELECT doc_id, min(pos)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
       count(*)::BIGINT AS n_windows
FROM grouped GROUP BY doc_id, grp"""


def _sql_substring_dedup_filter(k: int = 8, permille_cap: int = 300) -> str:
    """DuckDB twin of textops.substring_dedup_filter — spans CTE +
    per-doc token counts, integer per-mille, keep flag."""
    return f"""
WITH spans AS ({_sql_substring_dedup(k)}),
dup AS (
  SELECT doc_id, sum(span_end - span_start + 1)::BIGINT AS n_dup_tokens
  FROM spans GROUP BY doc_id
),
tok AS (
  SELECT doc_id, len({_TOKENS})::BIGINT AS n_tokens FROM documents
),
joined AS (
  SELECT t.doc_id, t.n_tokens,
         coalesce(d.n_dup_tokens, 0)::BIGINT AS n_dup_tokens
  FROM tok t LEFT JOIN dup d USING (doc_id)
)
SELECT doc_id, n_tokens, n_dup_tokens,
       ((n_dup_tokens * 1000) // n_tokens)::BIGINT AS dup_permille,
       (CASE WHEN (n_dup_tokens * 1000) // n_tokens <= {permille_cap}
             THEN 1 ELSE 0 END)::BIGINT AS keep
FROM joined"""


def oracle_sql() -> dict[str, str]:
    golden = GOLDEN_PARQUET.replace("'", "''")
    return {
        "extract_synth": _sql_extract_synth(),
        "extract_fixture_parity": (
            f"SELECT url, content_text, comments_text, title, author, sitename, date "
            f"FROM read_parquet('{golden}')"
        ),
        "token_counts": f"""
SELECT doc_id,
       len({_TOKENS}) AS n_tokens,
       len(list_distinct({_TOKENS})) AS n_unique_tokens,
       length(trim(text)) AS n_chars_text
FROM documents""",
        "fingerprints": f"SELECT doc_id, md5({_NORm}) AS fingerprint FROM documents",
        "winnowing": f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS tokens FROM documents
), hashed AS (
  SELECT doc_id,
         [('0x' || substr(md5(tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]), 1, 15))::BIGINT
          FOR i IN range(1, greatest(len(tokens)-2, 0)+1)] AS h
  FROM toks
), mins AS (
  SELECT doc_id,
         list_distinct([list_min(h[i:i+3]) FOR i IN range(1, greatest(len(h)-3, 0)+1)]) AS fps
  FROM hashed WHERE len(h) >= 4
)
SELECT doc_id, unnest(fps) AS fingerprint FROM mins""",
        "exact_dedup": f"""
SELECT doc_id, fingerprint,
       CASE WHEN row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) > 1
            THEN 1 ELSE 0 END AS is_duplicate
FROM (SELECT doc_id, md5({_NORm}) AS fingerprint FROM documents)""",
        "minhash_signatures": _sql_minhash_sigs(),
        "minhash_lsh_pairs": _sql_lsh_pairs(),
        "simhash": _sql_simhash(),
        "dedup_clusters": f"""
WITH RECURSIVE lsh AS ({_sql_lsh_pairs()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh
  UNION ALL
  SELECT doc_b, doc_a FROM lsh
),
reach AS (
  SELECT doc_id AS a, doc_id AS b FROM documents
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
)
SELECT a AS doc_id, min(b) AS cluster_id,
       CASE WHEN a = min(b) THEN 1 ELSE 0 END AS is_canonical
FROM reach GROUP BY a""",
        "ngram_jaccard": _sql_jaccard(),
        "quality_scores": _sql_quality(),
        "gopher_repetition": _sql_gopher_repetition(),
        "gopher_quality": _sql_gopher_quality(),
        "lang_id": _sql_lang_id(),
        "decontaminate": """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id,
           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                   FOR i IN range(1, greatest(len(t)-3, 0)+1)]) AS g
    FROM toks WHERE len(t) >= 4
  )
),
bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 100 = 0),
hits AS (
  SELECT g.doc_id, count(*) AS n_contaminated
  FROM grams g SEMI JOIN bench b ON g.h = b.h
  GROUP BY g.doc_id
),
totals AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id)
SELECT t.doc_id, t.n_grams, coalesce(h.n_contaminated, 0) AS n_contaminated,
       CASE WHEN coalesce(h.n_contaminated, 0) > 0 THEN 1 ELSE 0 END AS contaminated
FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id""",
        "stratified_sample": """
SELECT doc_id, lang,
       ('0x' || substr(md5('s0|' || lang || '|' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bucket
FROM documents
WHERE ('0x' || substr(md5('s0|' || lang || '|' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 < 2500""",
        "line_dedup": f"""
WITH lines AS (
  SELECT url,
         unnest(string_split(content_text, chr(10))) AS line,
         generate_subscripts(string_split(content_text, chr(10)), 1) AS pos
  FROM read_parquet('{golden}')
),
freq AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT url) AS nd FROM lines GROUP BY line
  ) WHERE nd >= 2
),
kept AS (
  SELECT l.url, l.pos, l.line FROM lines l
  WHERE l.line NOT IN (SELECT line FROM freq)
),
tot AS (SELECT url, count(*) AS n_lines FROM lines GROUP BY url),
reb AS (
  SELECT url, count(*) AS n_lines_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_deduped
  FROM kept GROUP BY url
)
SELECT t.url,
       t.n_lines::BIGINT AS n_lines,
       coalesce(r.n_lines_kept, 0)::BIGINT AS n_lines_kept,
       (t.n_lines - coalesce(r.n_lines_kept, 0))::BIGINT AS n_lines_removed,
       coalesce(r.text_deduped, '') AS text_deduped
FROM tot t LEFT JOIN reb r USING (url)""",
        "pii_scrub": f"""
WITH raw AS (
  SELECT doc_id, {_PII_RAW_SQL} AS t FROM documents
),
s1 AS (
  SELECT doc_id, t,
         regexp_replace(t, '{PII_EMAIL_SQL}', '<EMAIL>', 'g') AS t1
  FROM raw
),
s2 AS (
  SELECT doc_id, t, t1,
         regexp_replace(t1, '{PII_IPV4_SQL}', '<IP>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       len(regexp_extract_all(t, '{PII_EMAIL_SQL}'))::BIGINT AS n_emails,
       len(regexp_extract_all(t1, '{PII_IPV4_SQL}'))::BIGINT AS n_ips,
       len(regexp_extract_all(t2, '{PII_PHONE_SQL}'))::BIGINT AS n_phones,
       regexp_replace(t2, '{PII_PHONE_SQL}', '<PHONE>', 'g') AS text_scrubbed
FROM s2""",
        "url_normalize": f"""
WITH n AS ({_URL_NORM_SQL})
SELECT doc_id, url_norm FROM n""",
        "url_dedup": f"""
WITH n AS ({_URL_NORM_SQL})
SELECT url_norm, count(*)::BIGINT AS n_docs,
       min(doc_id)::BIGINT AS canonical_doc_id
FROM n GROUP BY url_norm""",
        "substring_dedup": _sql_substring_dedup(),
        "substring_dedup_filter": _sql_substring_dedup_filter(),
        "substring_dedup_hashed": _sql_substring_dedup_filter(50),
        "host_cap": (
            "SELECT host, url FROM ("
            f"  SELECT {_HOST_SQL} AS host, "
            "         url, row_number() OVER ("
            f"           PARTITION BY {_HOST_SQL} "
            "           ORDER BY url) AS rn"
            f"  FROM read_parquet('{PAGES_PARQUET}')"
            ") WHERE rn <= 3"
        ),
        "unigram_logprob": """
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
toks AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS n_total, count(*) AS n_vocab FROM vocab),
scored AS (
  SELECT tok,
         round(-log2((cnt + 0.5) / (n_total + 0.5 * n_vocab)) * 10000, 0)::BIGINT
           AS millibits
  FROM vocab, tot
),
dt AS (SELECT doc_id, tok, count(*) AS n_occ FROM toks GROUP BY doc_id, tok)
SELECT doc_id,
       sum(n_occ)::BIGINT AS n_tokens,
       ((sum(millibits * n_occ) * 1000) // sum(n_occ)) / 10000000.0 AS mean_neg_log2p
FROM dt JOIN scored USING (tok)
GROUP BY doc_id""",
        "warc_extract": """
SELECT 'https://warc.local/' || doc_id AS url,
       'Doc ' || doc_id || ' ' || regexp_replace(trim(text), '\\s+', ' ', 'g') AS content_text,
       'Doc ' || doc_id AS title
FROM (SELECT doc_id, text FROM documents
      WHERE length(trim(text)) > 0 ORDER BY doc_id LIMIT 200)""",
        "ann_bruteforce": """
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding, q.embedding), 4) AS cosine
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id ASC
LIMIT 10""",
        "ann_lsh": """
WITH bucketed AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
       + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
       + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
  FROM embeddings
), q AS (SELECT embedding AS qvec, bucket AS qbucket FROM bucketed WHERE vec_id = 0)
SELECT b.vec_id, b.bucket::BIGINT AS bucket,
       round(list_cosine_similarity(b.embedding, q.qvec), 4) AS cosine
FROM bucketed b, q
WHERE b.bucket = q.qbucket AND b.vec_id <> 0
ORDER BY cosine DESC, b.vec_id ASC
LIMIT 5""",
        "embedding_neardup": """
WITH b AS (
  SELECT vec_id, embedding,
    (CASE WHEN embedding[1]>0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[2]>0 THEN 2 ELSE 0 END)
    + (CASE WHEN embedding[3]>0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[4]>0 THEN 8 ELSE 0 END) AS band0,
    (CASE WHEN embedding[5]>0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[6]>0 THEN 2 ELSE 0 END)
    + (CASE WHEN embedding[7]>0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[8]>0 THEN 8 ELSE 0 END) AS band1
  FROM embeddings
), cand AS (
  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b
  FROM b a JOIN b b2 ON a.band0 = b2.band0 AND a.vec_id < b2.vec_id
  UNION
  SELECT a.vec_id, b2.vec_id FROM b a JOIN b b2 ON a.band1 = b2.band1 AND a.vec_id < b2.vec_id
)
SELECT c.vec_a, c.vec_b,
       round(list_cosine_similarity(e1.embedding, e2.embedding), 4) AS cosine
FROM cand c
JOIN embeddings e1 ON e1.vec_id = c.vec_a
JOIN embeddings e2 ON e2.vec_id = c.vec_b
WHERE round(list_cosine_similarity(e1.embedding, e2.embedding), 4) >= 0.40""",
        "events_windowed": """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2""",
        "events_sessionized": """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                   > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), with_ids AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id::BIGINT AS user_id, session_seq::BIGINT AS session_seq,
       count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
FROM with_ids GROUP BY user_id, session_seq""",
        "events_json_props": """
SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS prop_k FROM events""",
        "corpus_dedup": f"""
SELECT url, md5(content_text) AS fingerprint,
       CASE WHEN row_number() OVER (PARTITION BY md5(content_text) ORDER BY url) > 1
            THEN 1 ELSE 0 END AS is_duplicate
FROM read_parquet('{golden}')""",
        "extract_spans": f"""
SELECT url,
       (unnest(generate_series(1, len(span_starts))) - 1)::BIGINT AS span_idx,
       unnest(span_starts)::BIGINT AS span_start,
       unnest(span_ends)::BIGINT AS span_end,
       unnest(span_kinds) AS span_kind
FROM read_parquet('{golden}')""",
        "text_output": f"""
SELECT url,
       (CASE WHEN comments_text <> '' THEN content_text || ' ' || comments_text
             ELSE content_text END) || chr(10) AS text_output
FROM read_parquet('{golden}')""",
        "pdf_extract": (
            "SELECT url, pdf_text, n_text_ops::BIGINT AS n_text_ops FROM "
            f"read_parquet('{os.path.join(FIXTURE_DIR, 'golden_pdf.parquet')}')"
        ),
        "multimodal_image": _sql_multimodal_image(),
        "multimodal_frames": _sql_multimodal_frames(),
        "json_output": _sql_json_output(golden),
        "readable_html": _sql_readable_html(golden),
        "host_stats": (
            f"SELECT {_HOST_SQL} AS host, "
            "count(*) AS n_pages, sum(octet_length(html))::BIGINT AS total_bytes "
            f"FROM read_parquet('{PAGES_PARQUET}') GROUP BY host"
        ),
    }
