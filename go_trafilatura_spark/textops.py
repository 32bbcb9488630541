"""Corpus-level training-data operations over the `documents` and
`embeddings` tables: dedup family (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding cosine), language-ID heuristic, quality scoring,
token counting, fingerprinting, and ANN similarity search.

These are DataFrame/Catalyst-level ops (no Python UDFs anywhere — every
expression is JVM-side, whole-stage-codegen eligible). Each op has a
DuckDB oracle twin in __spark_entry__.oracle_sql(); to make the two
engines produce *bit-identical* results we only use portable primitives:

- token hash: first 15 hex chars of md5 → BIGINT (portable across
  Spark's conv() and DuckDB's hex cast), so MinHash/SimHash signatures
  agree exactly;
- integer arithmetic everywhere signatures are built (no float order
  dependence);
- cosine scores rounded to 4 decimals before compare.

Scale notes (100 TB): every groupBy here keys on doc_id or a hash —
uniform, no skew. MinHash is explode → partial min (map-side combine)
→ final min: one shuffle of (doc_id, sig) pairs, not of raw text.
LSH banding turns the O(n²) near-dup join into an equi-join on band
keys, which AQE can plan as a sort-merge join with skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Mersenne prime 2^31-1; LCG-style permutation constants (public-domain
# numerical recipes constants).
MINHASH_PRIME = 2147483647
MINHASH_PERMS = ((1664525, 1013904223), (22695477, 1), (69069, 362437), (1103515245, 12345))

SIMHASH_BITS = 16

# Small stopword sets for the SQL-portable language heuristic
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "fr": ("le", "la", "les", "des", "est", "dans", "pour", "que", "une", "et"),
    "es": ("el", "la", "los", "las", "es", "en", "que", "de", "por", "una"),
}


def tokens_col(text_col: str = "text"):
    """Whitespace tokenization of trimmed text (portable: both engines
    regexp-split on \\s+)."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


# Fan-out guard: only repartition inputs below this many on-disk bytes
# (a scan that small cannot produce enough splits to feed the session's
# cores; a scan above it already fans out and the extra exchange would
# be pure cost).
_FANOUT_MAX_BYTES = 1 << 30


def _estimated_plan_bytes(df: DataFrame) -> int | None:
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j hands small BigIntegers back as Python ints; huge ones
        # (Spark's 8 EiB "unknown" default) stay JavaObjects
        return int(raw.toString()) if hasattr(raw, "toString") else int(raw)
    except Exception:
        return None


def scan_bytes(path: str) -> int | None:
    """Bytes of a parquet file or directory on a local filesystem —
    lets fanout_small_scan decide WITHOUT compiling the plan (an
    optimizer-stats probe costs ~80 ms of driver time per query, which
    is visible at small scale). Returns None for non-local paths."""
    import os

    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                total += sum(os.path.getsize(os.path.join(root, f))
                             for f in files)
            return total
    except OSError:
        pass
    return None


def fanout_small_scan(df: DataFrame, input_bytes: int | None) -> DataFrame:
    """Scale-adaptive scan fan-out (optimization guide §2.4/§6): a small
    parquet input — one file, one row group — scans as 1-2 splits, so
    every projection / explode / map-side partial aggregation UPSTREAM
    of the first exchange runs on 1-2 cores no matter how many the
    session has (measured: the whole per-doc query suite ran 2-way
    parallel on local[32]). When the input is small AND the scan
    produced fewer partitions than defaultParallelism, hash-repartition
    on the uniform row key (``doc_id``) so the compute stage uses every
    core. At real scale the size exceeds the threshold and the input is
    returned UNCHANGED — no exchange is ever added to a 100 TB scan.

    ``input_bytes`` is the input's ON-DISK (compressed parquet) size,
    from ``scan_bytes``; the 1 GiB ``_FANOUT_MAX_BYTES`` threshold is
    compared against it. ``None`` (a non-local path, size unknown)
    returns the scan unchanged."""
    try:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df
    if input_bytes is None or input_bytes > _FANOUT_MAX_BYTES:
        return df
    try:
        if df.rdd.getNumPartitions() >= min_partitions:
            return df
    except Exception:
        return df
    return df.repartition(min_partitions, F.col("doc_id"))


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("tokens", tokens_col(text_col))


# -- token counting ---------------------------------------------------------

def token_counts(df: DataFrame) -> DataFrame:
    """Per-document token statistics. Pure projection — no shuffle."""
    return with_tokens(df).select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).alias("n_unique_tokens"),
        F.length(F.trim(F.col("text"))).alias("n_chars_text"),
    )


# -- fingerprinting ----------------------------------------------------------

def fingerprints(df: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text (the DF-level analogue of the
    reference's dedup key — trim semantics per utils-common.go:31)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return df.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
    )


def winnowing_fingerprints(df: DataFrame, k_shingle: int = 3, window: int = 4) -> DataFrame:
    """Winnowing (the MOSS local fingerprinting scheme): hash every
    k-token shingle, slide a window of ``window`` hashes, keep each
    window's minimum — guaranteeing any match of length ≥ k+window-1
    tokens shares a fingerprint, at ~2/(window+1) the density of full
    hashing. Output: one row per distinct (doc_id, fingerprint).

    Round-7 shape: posexplode the shingles, md5-hash at ROW level
    (whole-stage codegen), and take the sliding minimum with a frame
    window over (doc_id, pos) plus a per-doc count for the validity
    bound. The previous all-in-one-row form — ``transform(sequence(...),
    i -> array_min(slice(h, i, w)))`` over a per-doc hash array — let
    CollapseProject inline the md5 shingle-hash array construction
    INSIDE the lambda, re-evaluating the whole per-doc hash array for
    every window element (measured 74 s vs 2 s for 50k docs; the same
    expression-duplication class as the guide's §4.4). Cost is one
    (doc_id, pos, hash) shuffle of 24-byte rows — at 100 TB that is the
    same uniform-key shuffle minhash pays, and the per-row path keeps
    every hash computed exactly once."""
    from pyspark.sql import Window

    toks = with_tokens(df)
    sh = toks.select(
        "doc_id", F.posexplode(shingles_expr(k_shingle)).alias("pos", "shingle")
    )
    hashed = sh.select("doc_id", "pos", _md5_bigint(F.col("shingle")).alias("h"))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    win_min = F.min("h").over(w_doc.rowsBetween(0, window - 1))
    n_sh = F.count("*").over(
        w_doc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (
        hashed.select(
            "doc_id", "pos",
            win_min.alias("fingerprint"), n_sh.alias("_n"))
        .where(F.col("pos") <= F.col("_n") - window)
        .select("doc_id", "fingerprint")
        .distinct()
    )


# -- exact dedup -------------------------------------------------------------

def exact_dedup_flags(df: DataFrame) -> DataFrame:
    """Exact duplicate detection via fingerprint window: the first
    doc_id of each fingerprint group is the keeper. One hash-partitioned
    shuffle on the fingerprint (uniform key)."""
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        fingerprints(df)
        .withColumn("dup_rank", F.row_number().over(w))
        .select(
            "doc_id",
            "fingerprint",
            (F.col("dup_rank") > 1).cast("int").alias("is_duplicate"),
        )
    )


# -- portable token/shingle hashing ------------------------------------------

def _md5_bigint(col):
    """First 15 hex chars of md5 → BIGINT ∈ [0, 2^60). Same value as
    DuckDB's ('0x' || substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _shingles_sql(k: int = 3) -> str:
    """SQL text producing the array of k-token shingles (Spark
    subscripts are 1-based via element_at). Documents shorter than k
    tokens yield an empty array — an earlier greatest(..., 0) guard
    was wrong: sequence(1, 0) is DESCENDING [1, 0] in Spark, and
    element_at(tokens, 0) raises, killing the whole job on the first
    sub-k-token document."""
    parts = ", ' ', ".join(f"element_at(tokens, i + {j})" for j in range(k))
    return (
        f"CASE WHEN size(tokens) >= {k} THEN "
        f"transform(sequence(1, size(tokens) - {k - 1}), i -> concat({parts})) "
        f"ELSE array() END"
    )


def shingles_expr(k: int = 3):
    return F.expr(_shingles_sql(k))


# -- MinHash + LSH -----------------------------------------------------------

def minhash_signatures(df: DataFrame, k_shingle: int = 3) -> DataFrame:
    """MinHash signatures over k-token shingles.

    Plan shape: project → explode → hash → groupBy(doc_id).min(sig_i).
    The min() aggregation gets a map-side partial (Catalyst does this
    automatically), so the shuffle carries one row per doc per partition,
    not one per shingle — the property that keeps this viable at 10^12
    docs.
    """
    shingled = with_tokens(df).select(
        "doc_id", F.explode(shingles_expr(k_shingle)).alias("shingle")
    )
    h = _md5_bigint(F.col("shingle")) % MINHASH_PRIME
    hashed = shingled.select("doc_id", h.alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"sig{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, k_shingle: int = 3,
                      max_band_df: int = 100) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding (2 bands × 2 rows):
    docs agreeing on a full band are candidates. Equi-join on band keys —
    no O(n²) comparison ever materializes.

    Hot-band guard (the same frequency cap as ngram_jaccard's max_df):
    a degenerate band key shared by thousands of docs (empty pages,
    boilerplate-identical shells) would put |group|² rows through the
    self-join — AQE's skew-join splits such a bucket but cannot cap it.
    Band keys with more than ``max_band_df`` members are excluded from
    the candidate join entirely (broadcast anti-join against the tiny
    hot-key set, so the guard itself adds no shuffle on the big side).
    Groups that large are exact/near-exact duplicate families, which the
    much cheaper exact_dedup_flags / fingerprint pass already handles —
    LSH exists to find the *sparse* near-duplicate pairs.

    The band frame is **persisted** before the fan-out when the input
    is large (see below): the hot-key subquery and both self-join sides
    re-read the cached bands instead of re-running the signature
    aggregation — the shingle explode + groupBy (the most expensive
    stage of the whole dedup at 100 TB) executes exactly once. The
    cache is MEMORY_AND_DISK (two short rows per doc — the reduced
    side, never the shingles) and is released by Spark's ContextCleaner
    when the result's lineage is dropped; dedup_clusters unpersists it
    explicitly after checkpointing the edge list.

    Cache lifetime for direct callers: this convenience wrapper drops
    the persist handle, so the cached band frame lives until the
    ContextCleaner collects the result's lineage — fine for a
    run-and-exit job, but repeated direct calls in a long-lived session
    accumulate cached frames. Long-lived sessions should either go
    through ``dedup_clusters`` (which unpersists deterministically once
    the edge list is checkpointed), call
    ``_minhash_lsh_pairs_impl(...)`` and unpersist the returned handle
    after materializing the pairs.

    Whether to persist is decided from the optimizer's input size
    estimate: the cache materialization is a stage barrier worth
    ~3 s of constant overhead in local mode, which only pays for itself
    once the signature aggregation is expensive — measured crossover
    ~64 MB of input text (~25k web docs). Unknown statistics (Spark's
    Long.Max default) choose the cache: at 100 TB the recompute, not
    the barrier, is the catastrophe."""
    pairs, _ = _minhash_lsh_pairs_impl(
        df, k_shingle, max_band_df, _should_persist_bands(df))
    return pairs


_PERSIST_BANDS_MIN_BYTES = 64 * 1024 * 1024


def _should_persist_bands(df: DataFrame) -> bool:
    size = _estimated_plan_bytes(df)  # None → cannot estimate → the scale-safe side
    return size is None or size > _PERSIST_BANDS_MIN_BYTES


def _minhash_lsh_pairs_impl(df: DataFrame, k_shingle: int, max_band_df: int,
                            persist_bands: bool):
    """Implementation returning (pairs, persisted_bands_handle_or_None)
    so callers that materialize downstream (dedup_clusters) can
    unpersist deterministically."""
    sigs = minhash_signatures(df, k_shingle)
    # Long format: one row per (doc, band) — the two bands are a
    # band_idx dimension instead of two lineage branches, so every
    # downstream consumer (hot-key count, anti-join, both self-join
    # sides) reads ONE frame. With persist_bands that is one cache
    # materialization + three cache reads (instead of six across two
    # branches); without it, the signature lineage fans out three
    # ways instead of six. Hot-key counting and the candidate join key
    # both include band_idx, so per-band semantics are unchanged.
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.concat_ws("_", F.col("sig0"), F.col("sig1")),
                F.concat_ws("_", F.col("sig2"), F.col("sig3")),
            )
        ).alias("band_idx", "key"),
    )
    handle = None
    if persist_bands:
        from pyspark import StorageLevel

        bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
        handle = bands
    hot = (
        bands.groupBy("band_idx", "key")
        .agg(F.count("*").alias("band_df"))
        .where(F.col("band_df") > max_band_df)
        .select("band_idx", "key")
    )
    kept = bands.join(F.broadcast(hot), ["band_idx", "key"], "left_anti")
    a = kept.select(F.col("doc_id").alias("doc_a"), "band_idx", "key")
    b = kept.select(F.col("doc_id").alias("doc_b"), "band_idx", "key")
    pairs = (
        a.join(b, ["band_idx", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return pairs, handle


def dedup_clusters(df: DataFrame, k_shingle: int = 3, max_iter: int = 15,
                   checkpoint: str = "local") -> DataFrame:
    """Near-duplicate clusters: connected components over the MinHash-LSH
    candidate pair graph via min-label propagation. Each doc's cluster_id
    is the smallest doc_id reachable through shared LSH bands;
    is_canonical marks the cluster representative (the keep-one-of-each
    decision of a corpus dedup pass).

    Scale shape: every iteration is one equi-join on doc_id + one
    groupBy(min) — the standard large-graph CC loop (label count halves
    at least geometrically; diameter of near-dup clusters is tiny, so
    convergence is ~O(log of the largest cluster), checked with an early
    stop). No adjacency ever collects to the driver.

    ``checkpoint`` selects how each iteration's labels are materialized:

    - ``"local"`` (default, right for local mode / short loops):
      ``localCheckpoint()`` — truncates lineage AND caches, but stores
      blocks on executors, so on a real cluster an executor loss
      mid-loop fails the job.
    - ``"reliable"`` (the 100 TB setting): ``checkpoint()`` to the
      fault-tolerant checkpoint directory (HDFS/object store on a
      cluster). If no checkpoint dir is configured, one is created
      under the Spark local dir so local runs work out of the box.

    The edge list is checkpointed EAGERLY before the loop (same mode
    as the labels), so the full LSH lineage — shingle explode,
    signature aggregation, band joins — executes exactly once, not
    once per CC iteration; the bands cache minhash_lsh_pairs holds is
    unpersisted as soon as the edges are materialized.
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable': {checkpoint!r}")
    if checkpoint == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            import tempfile

            sc.setCheckpointDir(tempfile.mkdtemp(prefix="gts-ckpt-"))

    pairs, bands_handle = _minhash_lsh_pairs_impl(
        df, k_shingle, max_band_df=100, persist_bands=True)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Materialize the edges ONCE (eager): every CC iteration joins this
    # frame, and without the checkpoint the whole LSH pipeline would
    # re-execute per iteration.
    edges = edges.checkpoint() if checkpoint == "reliable" else edges.localCheckpoint()
    if bands_handle is not None:
        bands_handle.unpersist(blocking=False)
    labels = df.select("doc_id", F.col("doc_id").alias("cluster_id"))

    for _ in range(max_iter):
        neighbor_min = (
            labels.join(edges, labels["doc_id"] == edges["src"])
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["dst"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # Materialize BEFORE the convergence probe: checkpointing both
        # truncates lineage and materializes the iteration's result, so
        # the probe's count() and the next iteration's join read the
        # same frame instead of re-executing the propagation join twice
        # per loop. Reliable mode survives executor loss (see docstring).
        if checkpoint == "reliable":
            new_labels = new_labels.checkpoint()
        else:
            new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break

    return labels.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


# -- SimHash -----------------------------------------------------------------

def simhash(df: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over token hashes: bit b of the signature is 1 iff more
    than half the tokens have bit b set in their md5-derived hash.
    Integer-only → bit-identical across engines. One uniform groupBy."""
    toks = with_tokens(df).select("doc_id", F.explode("tokens").alias("tok"))
    h = _md5_bigint(F.col("tok"))
    hashed = toks.select("doc_id", h.alias("h"))
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(F.count("*").alias("n"), *bit_sums)
    sim = None
    for b in range(bits):
        bit = (F.col(f"s{b}") * 2 > F.col("n")).cast("bigint") * F.lit(1 << b)
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.alias("simhash"))


# -- n-gram Jaccard ----------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, k_shingle: int = 3, threshold: float = 0.2,
                        max_df: int = 500) -> DataFrame:
    """Jaccard over k-token shingle sets for candidate pairs that share
    at least one shingle (inverted-index join → group by pair → |∩| from
    match count, |∪| by inclusion-exclusion).

    Scale safety: shingles with document frequency above ``max_df`` are
    excluded from the self-join — a corpus-wide hot shingle ("all rights
    reserved") would otherwise contribute |docs|² join rows, quadratic at
    100 TB. Set sizes still use the FULL shingle sets, so the reported
    jaccard is a lower bound for pairs whose overlap includes capped
    shingles (the standard inverted-index-pruning tradeoff; exact for
    every pair at the test scales, where max df ≈ 7)."""
    sh = with_tokens(df).select(
        "doc_id", F.explode(F.array_distinct(shingles_expr(k_shingle))).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))

    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    sh_kept = sh.join(rare, "shingle")

    a = sh_kept.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_kept.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 4
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )
    return jac


# -- quality scoring ----------------------------------------------------------

def quality_scores(df: DataFrame) -> DataFrame:
    """Integer-component quality features + one ratio (deterministic
    IEEE division). Pure projection + no shuffle."""
    en_sw = LANG_STOPWORDS["en"]
    toks = with_tokens(df)
    in_list = ", ".join(f"'{w}'" for w in en_sw)
    return toks.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.length(F.trim(F.col("text"))).alias("n_chars_text"),
        F.expr(f"size(filter(tokens, t -> t in ({in_list})))").alias("n_stopwords"),
        F.size(F.array_distinct("tokens")).alias("n_unique"),
        (
            F.expr(f"size(filter(tokens, t -> t in ({in_list})))")
            / F.size("tokens")
        ).alias("stopword_ratio"),
    )


# -- language-ID heuristic -----------------------------------------------------

def lang_id_heuristic(df: DataFrame) -> DataFrame:
    """Stopword-frequency language scores per doc + argmax. All
    integer counts; argmax broken by fixed language order."""
    toks = with_tokens(df)
    cols = ["doc_id"]
    for lang, words in LANG_STOPWORDS.items():
        in_list = ", ".join(f"'{w}'" for w in words)
        cols.append(
            F.expr(f"size(filter(tokens, t -> t in ({in_list})))").alias(f"hits_{lang}")
        )
    scored = toks.select(*cols)
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.when(best <= 0, F.lit(""))
    for lg in langs:
        pred = pred.when(F.col(f"hits_{lg}") == best, F.lit(lg))
    return scored.withColumn("pred_lang", pred)


# -- embedding similarity ------------------------------------------------------

def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_expr(a, b):
    return F.round(_dot(a, b) / F.sqrt(_dot(a, a) * _dot(b, b)), 4)


def ann_bruteforce_topk(emb: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k against one query vector. The query row
    broadcasts (1 row); the scan stays JVM-side vectorized."""
    q = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec")
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id", cosine_expr(F.col("embedding"), F.col("qvec")).alias("cosine")
    )
    return (
        scored.where(F.col("vec_id") != query_vec_id)
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ann_lsh_topk(emb: DataFrame, query_vec_id: int = 0, k: int = 5, n_bits: int = 8) -> DataFrame:
    """Bucketed ANN: restrict the scan to the query's sign-bit bucket
    over the first ``n_bits`` dims (an IVF-like coarse quantizer that
    needs no training: search only the query's bucket, ~2^-n of the
    corpus). At 100 TB the bucket column is a partition key, so this
    becomes a partition-pruned scan instead of a full pass."""
    bucketed = emb.withColumn("bucket", _band_bucket(F.col("embedding"), 0, n_bits))
    q = bucketed.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    scored = (
        bucketed.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .where(F.col("vec_id") != query_vec_id)
        .select("vec_id", "bucket", cosine_expr(F.col("embedding"), F.col("qvec")).alias("cosine"))
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


# -- event-stream analytics (batch form of the streaming ops) ----------------

def events_windowed(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event type — the batch twin of
    the Structured Streaming windowed aggregation in streaming.py."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


def events_sessionized(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user (lag + cumulative sum of
    new-session flags — one shuffle on user_id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap = gap_minutes * 60
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    flagged = events.withColumn(
        "new_session",
        (
            F.coalesce(epoch - F.lag(epoch).over(w), F.lit(gap + 1)) > gap
        ).cast("bigint"),
    )
    with_ids = flagged.withColumn(
        "session_seq", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_ids.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def events_json_props(events: DataFrame) -> DataFrame:
    """Dynamic JSON property extraction (the reference's schema-less
    JSON-LD handling, at DF level: get_json_object)."""
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


def _band_bucket(vec, start_dim: int, n_bits: int):
    """Sign-bit bucket over dims [start_dim, start_dim + n_bits)."""
    bucket = F.lit(0)
    for i in range(n_bits):
        bucket = bucket + (
            (F.element_at(vec, start_dim + i + 1) > 0).cast("int") * F.lit(1 << i)
        )
    return bucket


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.99,
                            n_bands: int = 2, bits_per_band: int = 4) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-bit band LSH:
    candidates share at least one band bucket (random-hyperplane LSH
    with axis-aligned planes — no training, no label dependency), exact
    cosine on candidates only. Each band join is an equi-join on a
    bucket key, never an all-pairs product; at 100 TB, raise
    ``bits_per_band`` to ~log2(N / desired_bucket_size) and write the
    band keys as partition columns so each join is co-located. Recall
    loss (a near-dup differing in ≥1 sign bit of every band) shrinks
    geometrically with ``n_bands`` — the standard LSH tradeoff."""
    band_cols = [
        _band_bucket(F.col("embedding"), b * bits_per_band, bits_per_band).alias(f"band{b}")
        for b in range(n_bands)
    ]
    bands = emb.select("vec_id", *band_cols)

    cands = None
    for b in range(n_bands):
        a = bands.select(F.col("vec_id").alias("vec_a"), F.col(f"band{b}").alias("bk"))
        bb = bands.select(F.col("vec_id").alias("vec_b"), F.col(f"band{b}").alias("bk"))
        p = a.join(bb, "bk").where(F.col("vec_a") < F.col("vec_b")).select("vec_a", "vec_b")
        cands = p if cands is None else cands.unionAll(p)
    cands = cands.distinct()

    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cands.join(ea, "vec_a").join(eb, "vec_b")
        .select("vec_a", "vec_b", cosine_expr(F.col("ea"), F.col("eb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


# -- Gopher-style repetition signals ------------------------------------------

def gopher_repetition(df: DataFrame, max_tokens: int = 2000,
                      token_stats: bool = False) -> DataFrame:
    """Repetition quality signals in the style of the Gopher corpus
    filters (Rae et al. 2021, Table A1, public): the character fraction
    covered by the single most frequent word 2-/3-gram, and the
    character fraction covered by duplicated (count ≥ 2) 5-grams.

    Pure projection — per-document higher-order expressions, all
    JVM-side, no shuffle and no Python. Counting is a single
    run-length pass over the SORTED gram array (``aggregate`` with a
    (prev, run, best/dup) struct accumulator): O(n log n) per doc and
    each gram array is constructed exactly once. The previous
    distinct×filter formulation re-evaluated the inlined gram
    construction inside every lambda invocation (~0.1 s per 60-token
    doc — measured, round 5); this form is ~1000× cheaper with
    byte-identical output. Tokens are capped at ``max_tokens``
    (boilerplate repetition shows up long before 2000 tokens). Ties
    for the top n-gram break deterministically by (count, gram length,
    gram) — the same struct ordering the DuckDB oracle's list_max
    applies (run-length max over a sorted array is the same maximum)."""
    def grams(n: int) -> str:
        join = " || ' ' || ".join(f"t[i+{k}]" for k in range(n))
        return (f"CASE WHEN size(t) >= {n} THEN "
                f"transform(sequence(0, size(t)-{n}), i -> {join}) "
                f"ELSE array() END")

    # Closed-run candidate struct vs the running best, as SQL text.
    _cand = ("named_struct('c', acc.run, 'l', length(acc.prev), "
             "'g', acc.prev)")
    _close_best = (f"CASE WHEN acc.prev IS NULL THEN acc.best "
                   f"WHEN {_cand} > acc.best THEN {_cand} "
                   f"ELSE acc.best END")

    def top_cl(g: str) -> str:
        """c*l of the (count, length, gram)-max gram of array ``g`` —
        one sorted run-length pass, the array evaluated once."""
        return (
            f"aggregate(array_sort({g}), "
            "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, "
            "  'best', named_struct('c', 0L, 'l', 0, 'g', '')), "
            "(acc, x) -> IF(acc.prev IS NOT NULL AND x = acc.prev, "
            "  named_struct('prev', x, 'run', acc.run + 1L, "
            "    'best', acc.best), "
            "  named_struct('prev', x, 'run', 1L, "
            f"    'best', {_close_best})), "
            f"acc -> CAST(({_close_best}).c * ({_close_best}).l AS BIGINT))"
        )

    _close_dup = ("acc.dup + IF(acc.prev IS NOT NULL AND acc.run >= 2L, "
                  "acc.run * CAST(length(acc.prev) AS BIGINT), 0L)")

    def dup_cl(g: str) -> str:
        """Σ c*l over grams of array ``g`` with count ≥ 2 — same
        single sorted run-length pass."""
        return (
            f"aggregate(array_sort({g}), "
            "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, "
            "  'dup', 0L), "
            "(acc, x) -> IF(acc.prev IS NOT NULL AND x = acc.prev, "
            "  named_struct('prev', x, 'run', acc.run + 1L, "
            "    'dup', acc.dup), "
            "  named_struct('prev', x, 'run', 1L, "
            f"    'dup', {_close_dup})), "
            f"acc -> {_close_dup})"
        )

    toks = with_tokens(df).where(F.length(F.trim("text")) > 0).select(
        "doc_id",
        F.length(F.trim("text")).alias("n_chars"),
        F.expr(f"slice(tokens, 1, {max_tokens})").alias("t"),
    )
    with_grams = toks.select(
        "doc_id", "n_chars",
        F.size("t").alias("n_tokens"),
        F.expr(grams(2)).alias("g2"),
        F.expr(grams(3)).alias("g3"),
        F.expr(grams(5)).alias("g5"),
        *(["t"] if token_stats else []),
    )
    extra = []
    if token_stats:
        extra = [
            F.col("t"),
            F.expr("aggregate(t, 0L, (a, x) -> a + length(x))")
            .cast("double").alias("token_chars"),
        ]
    return with_grams.select(
        "doc_id", "n_tokens", "n_chars",
        *extra,
        F.round(F.coalesce(
            F.expr(top_cl("g2"))
            .cast("double") / F.col("n_chars"), F.lit(0.0)), 6
        ).alias("top2_char_frac"),
        F.round(F.coalesce(
            F.expr(top_cl("g3"))
            .cast("double") / F.col("n_chars"), F.lit(0.0)), 6
        ).alias("top3_char_frac"),
        F.round(F.coalesce(
            F.expr(dup_cl("g5"))
            .cast("double") / F.col("n_chars"), F.lit(0.0)), 6
        ).alias("dup5_char_frac"),
    )


def gopher_quality_filter(df: DataFrame) -> DataFrame:
    """Gopher document-quality acceptance rule (Rae et al. 2021,
    Table A1, public thresholds): token count in [50, 100k], mean word
    length in [3, 10], ≥ 2 of the 8 "must-have" English stopwords, top
    2-gram character fraction ≤ 0.20 and duplicated 5-gram character
    fraction ≤ 0.15. The repetition metrics and the token stats extend
    one projection over the same scan — per-doc flags plus the final
    keep bit, pure projection, no shuffle and no join."""
    must_have = ("the", "be", "to", "of", "and", "that", "have", "with")
    in_list = ", ".join(f"'{w}'" for w in must_have)
    rep = gopher_repetition(df, token_stats=True)
    mean_len = F.col("token_chars") / F.col("n_tokens")
    flags = rep.select(
        "doc_id",
        F.col("n_tokens"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.expr(f"size(array_intersect(t, array({in_list})))")
        .cast("bigint").alias("n_must_have"),
        "top2_char_frac", "dup5_char_frac",
        (F.col("n_tokens") >= 50).alias("ok_min_tokens"),
        (F.col("n_tokens") <= 100000).alias("ok_max_tokens"),
        ((mean_len >= 3) & (mean_len <= 10)).alias("ok_word_len"),
    )
    flags = flags.select(
        "*",
        (F.col("n_must_have") >= 2).alias("ok_stopwords"),
        (F.col("top2_char_frac") <= 0.20).alias("ok_top2"),
        (F.col("dup5_char_frac") <= 0.15).alias("ok_dup5"),
    )
    return flags.withColumn(
        "keep",
        F.col("ok_min_tokens") & F.col("ok_max_tokens") & F.col("ok_word_len")
        & F.col("ok_stopwords") & F.col("ok_top2") & F.col("ok_dup5"),
    )


# -- benchmark decontamination ----------------------------------------------

def decontaminate(df: DataFrame, benchmark_df: DataFrame,
                  n_gram: int = 13) -> DataFrame:
    """Training-data decontamination: per document, how many of its
    distinct token n-grams collide with any n-gram of a benchmark/eval
    set (the standard 13-gram overlap check used when scrubbing eval
    suites out of pretraining corpora).

    Scale shape (100 TB corpus, benchmark side small by definition —
    eval suites are MBs): the benchmark explodes to a DISTINCT n-gram
    hash set that BROADCASTS, so the corpus side is scanned once with a
    broadcast hash join — no shuffle of corpus data at all. The per-doc
    distinct() before the join is a map-side dedup of each document's
    grams (aggregation keyed on (doc_id, gram) partitions cleanly).
    Portable md5 gram hashing → the DuckDB oracle reproduces counts
    bit-for-bit."""
    def grams(frame, k):
        toks = with_tokens(frame).select("doc_id", "tokens")
        expr = (f"transform(sequence(1, size(tokens) - {k - 1}), "
                f"i -> array_join(slice(tokens, i, {k}), ' '))")
        return (toks.where(F.size("tokens") >= k)
                .select("doc_id", F.explode(F.expr(expr)).alias("gram"))
                .select("doc_id", _md5_bigint(F.col("gram")).alias("h"))
                .distinct())

    bench = grams(benchmark_df, n_gram).select("h").distinct()
    corpus = grams(df, n_gram)
    hits = (corpus.join(F.broadcast(bench), "h", "left_semi")
            .groupBy("doc_id").agg(F.count("*").alias("n_contaminated")))
    totals = corpus.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return (totals.join(hits, "doc_id", "left")
            .select("doc_id", "n_grams",
                    F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"))
            .withColumn("contaminated", F.col("n_contaminated") > 0))


# -- stratified deterministic sampling ---------------------------------------

def stratified_sample(df: DataFrame, strata_col: str = "lang",
                      fraction: float = 0.25, salt: str = "s0",
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic stratified sampling: keep ~``fraction`` of rows
    WITHIN each stratum by hashing (salt, stratum, id) — the standard
    downsample-per-domain/language step of a corpus pipeline, exactly
    reproducible across engines and runs (no RNG state).

    Scale shape: pure projection + filter — the hash needs only the
    row, so the predicate pushes to the scan and NOTHING shuffles; at
    100 TB this is a single pass. Changing the mix per stratum is a
    constant (a per-stratum fraction map would join a tiny broadcast
    dim instead)."""
    bucket = _md5_bigint(
        F.concat_ws("|", F.lit(salt), F.col(strata_col).cast("string"),
                    F.col(id_col).cast("string"))
    ) % 10000
    return (df.select(id_col, strata_col, bucket.alias("bucket"))
            .where(F.col("bucket") < int(fraction * 10000))
            .select(id_col, strata_col, "bucket"))


# -- CCNet-style line-level dedup ---------------------------------------------

def line_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               min_docs: int = 2) -> DataFrame:
    """CCNet-style boilerplate line removal: a line (newline-delimited
    paragraph of extracted text) that appears in >= ``min_docs``
    DISTINCT documents is corpus boilerplate (cookie banners, nav
    text, newsletter prompts) and is dropped from every document; the
    per-document text is rebuilt from the surviving lines in original
    order.

    Scale shape (100 TB): lines shuffle once as (line_hash, doc_id)
    pairs for the distinct-doc count — keyed on the FULL 128-bit md5
    (32-byte hex string; a 60-bit truncation would hit birthday
    collisions at billions of distinct lines and silently delete
    unique prose — at 128 bits the expected collision count stays ≪ 1
    at any conceivable corpus size, the same substitution
    substring_dedup_spans documents for its hashed path). Uniform
    key, no skew. The FREQUENT-line set (count >= min_docs) is, by Zipf's law,
    tiny relative to the corpus (it is the repeated boilerplate, not
    the unique prose), so it BROADCASTS and the removal pass is a
    broadcast left-anti join — the corpus body never shuffles again.
    The rebuild groupBy(doc_id) keys uniformly."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("h", F.md5(F.col("line")))
    freq = (lines.select("h", id_col).distinct()
            .groupBy("h").agg(F.count("*").alias("nd"))
            .where(F.col("nd") >= min_docs)
            .select("h"))
    freq_marked = freq.withColumn("is_freq", F.lit(True))
    # One left join marks frequent lines; one groupBy computes totals,
    # kept counts, and the rebuilt text together (collect_list drops
    # the nulls the when() leaves on frequent lines) — no separate
    # anti-join / totals / final-join passes.
    marked = lines.join(F.broadcast(freq_marked), "h", "left")
    kept_struct = F.when(F.col("is_freq").isNull(), F.struct("pos", "line"))
    return (marked.groupBy(id_col)
            .agg(
                F.count("*").alias("n_lines"),
                F.count(kept_struct).alias("n_lines_kept"),
                (F.count("*") - F.count(kept_struct)).alias("n_lines_removed"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda x: x["line"],
                    ),
                    "\n",
                ).alias("text_deduped"),
            ))


# -- PII scrubbing ------------------------------------------------------------

# Patterns chosen for Java-regex / RE2 (DuckDB) portability: character
# classes, bounded quantifiers, \b and non-capturing groups only.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+\d{9,15}"


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Training-data PII redaction: replace emails, IPv4 addresses and
    international-format phone numbers with typed placeholder tokens,
    redacted sequentially email -> ip -> phone. Each category is
    counted on the text its replacement pass ACTUALLY SEES (emails on
    the raw text, IPs on the email-redacted text, phones on the
    email+IP-redacted text), so the counts always equal the number of
    placeholders present in text_scrubbed — an overlapping match (an
    IPv4 inside an email local part, already consumed by <EMAIL>) is
    not double-counted.

    Scale shape: pure projection — three regexp_replace + three
    regexp_count JVM expressions, whole-stage-codegen eligible, no
    shuffle; at 100 TB this is a single scan-and-rewrite pass."""
    raw = F.col(text_col)
    t1 = F.regexp_replace(raw, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    scrubbed = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        F.regexp_count(raw, F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(t1, F.lit(PII_IPV4)).cast("bigint").alias("n_ips"),
        F.regexp_count(t2, F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        scrubbed.alias("text_scrubbed"),
    )


# -- URL canonicalization + URL-level dedup -----------------------------------

_TRACKING_PARAM = r"^(utm_[A-Za-z]+|fbclid|gclid|mc_cid|mc_eid|ref)="


def url_normalize(df: DataFrame, url_col: str = "url",
                  id_col: str = "doc_id") -> DataFrame:
    """Canonical URL form: drop the fragment, lowercase
    scheme://host[:port], strip default ports (http:80 / https:443),
    drop tracking query parameters (utm_*, fbclid, gclid, mc_cid,
    mc_eid, ref) preserving the order of the survivors, and drop a
    now-empty query string. Pure projection — no shuffle; the
    canonical form is what url_dedup groups on.

    Implemented with SQL expressions shared verbatim-in-semantics with
    the DuckDB oracle: regexp prefix split, lambda filter over query
    parameters, conditional reassembly."""
    df = df.withColumn("_u0", F.regexp_replace(F.col(url_col), r"#.*$", ""))
    df = df.withColumn("_pfx", F.regexp_extract(F.col("_u0"), r"^[^/]*//[^/]*", 0))
    df = df.withColumn("_rest", F.expr("substring(_u0, length(_pfx) + 1)"))
    # lowercase authority, strip default ports
    df = df.withColumn("_pfx", F.lower(F.col("_pfx")))
    df = df.withColumn(
        "_pfx",
        F.regexp_replace(F.col("_pfx"), r"^(http://[^:/]*):80$", "$1"))
    df = df.withColumn(
        "_pfx",
        F.regexp_replace(F.col("_pfx"), r"^(https://[^:/]*):443$", "$1"))
    # split path?query, filter tracking params, reassemble
    df = df.withColumn("_path", F.regexp_replace(F.col("_rest"), r"\?.*$", ""))
    df = df.withColumn("_q", F.regexp_extract(F.col("_rest"), r"\?(.*)$", 1))
    df = df.withColumn(
        "_q2",
        F.array_join(
            F.filter(
                F.split(F.col("_q"), "&"),
                lambda x: ~x.rlike(_TRACKING_PARAM),
            ),
            "&",
        ),
    )
    norm = F.concat(
        F.col("_pfx"), F.col("_path"),
        F.when(F.col("_q2") == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.col("_q2"))),
    )
    return df.select(F.col(id_col), norm.alias("url_norm"))


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup over canonical forms: group documents by
    normalized URL, keep the lowest doc id as the canonical
    representative (deterministic; in a crawl pipeline the tie-break
    would be warc_ts DESC — same plan shape).

    Scale shape: one groupBy keyed on the canonical-URL hash —
    uniform (hosts may be Zipf but full URLs are near-unique; the
    residual hot key is the duplicate cluster itself, which is the
    quantity being measured and is bounded by crawl frequency)."""
    return (url_normalize(df, url_col, id_col)
            .groupBy("url_norm")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("canonical_doc_id")))


# -- unigram LM quality scoring -----------------------------------------------

def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", smoothing: float = 0.5) -> DataFrame:
    """CCNet-style LM quality proxy with a corpus-trained unigram
    model: per document, the mean negative log2 probability of its
    tokens under the corpus unigram distribution (low = fluent/common
    wording, high = rare-token soup — the SQL-expressible analogue of
    the KenLM perplexity filter).

    Two phases: (1) token counts — explode + groupBy(token hash);
    Zipf-hot tokens ("the") are absorbed by Spark's map-side partial
    aggregation, so the shuffle carries one row per distinct token per
    partition, not per occurrence; (2) scoring — per-document distinct
    tokens join the vocabulary (BROADCAST: distinct-token count grows
    ~O(corpus^0.5) by Heaps' law and is millions at 100 TB — still a
    broadcastable dim), then one groupBy(doc_id) weighted mean.
    Smoothing: absent tokens cannot occur (the vocab IS the corpus),
    so ``smoothing`` only regularizes counts (count + s) / (total +
    s·|V|). log2 rounded to 4 decimals for cross-engine determinism
    (same convention as the cosine ops)."""
    toks = (with_tokens(df, text_col)
            .select(id_col, F.explode("tokens").alias("tok"))
            .where(F.col("tok") != ""))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    totals_row = vocab.agg(
        F.sum("cnt").alias("n_total"), F.count("*").alias("n_vocab"))
    # Per-token cost in integer MILLI-BITS (round(-log2(p) * 10000)):
    # the per-document aggregation then sums exact integers, so the
    # result is independent of partition/summation order — the only
    # cross-engine float op is one log2 per DISTINCT token, absorbed by
    # the rounding grain. One final float division per document.
    scored_vocab = (vocab.crossJoin(F.broadcast(totals_row))
                    .select(
                        "tok",
                        F.round(
                            -F.log2((F.col("cnt") + F.lit(smoothing))
                                    / (F.col("n_total")
                                       + F.lit(smoothing) * F.col("n_vocab")))
                            * 10000, 0
                        ).cast("bigint").alias("millibits"),
                    ))
    doc_toks = toks.groupBy(id_col, "tok").agg(F.count("*").alias("n_occ"))
    # Exact integer mean (milli-bits scaled by 1000, integer division),
    # converted by one constant divisor — identical int in, identical
    # double out on every engine (a float-division round() here can
    # land on a half-tie and round differently across engines).
    return (doc_toks.join(F.broadcast(scored_vocab), "tok")
            .groupBy(id_col)
            .agg(
                F.sum("n_occ").cast("bigint").alias("n_tokens"),
                (F.expr("sum(millibits * n_occ) * 1000 div sum(n_occ)")
                 / F.lit(10000000.0)).alias("mean_neg_log2p"),
            ))


# -- exact substring dedup (duplicated k-token spans) -------------------------

def substring_dedup_spans(df: DataFrame, k: int = 8,
                          hash_shingles: bool = False) -> DataFrame:
    """Exact substring deduplication signal (the k-token-window variant
    of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): flag every k-token window whose exact shingle
    occurs in MORE THAN ONE document, then merge overlapping/adjacent
    flagged windows per document into maximal duplicated spans.

    Output: one row per merged span — (doc_id, span_start, span_end,
    n_windows) with 0-based inclusive token indices. A downstream
    pass can cut the spans out of the text or drop documents whose
    duplicated fraction is high; intra-document repetition is the
    gopher_repetition op's job, so the duplication test here is
    cross-document (count(distinct doc_id) >= 2).

    Scale shape (100 TB): posexplode -> ONE shuffle on the shingle
    (uniform key; natural-text shingle frequency is Zipf-light at
    k >= 8 because a hot shingle must repeat k consecutive tokens) for
    the cross-document window test -> per-doc window (shuffle on
    doc_id, flagged windows only). No collect, no quadratic pair set:
    the window test flags one row per WINDOW, never per document pair.

    ``hash_shingles=True`` is the PRODUCTION path: the grouping key is
    an 8-byte hash instead of the k-token shingle string — at k≈50
    (the paper's setting) the string is hundreds of bytes and dominates
    the shuffle, so the hash slims it by ~50×. The key is
    xxhash64(slice(token_hashes, i, k)) — each token is hashed ONCE per
    document and every window hashes the k-long slice of that array, so
    no k-token string is ever concatenated (measured 1.8× cheaper on
    the map side than hashing the concatenated string at k=50; shingle
    equality ⟺ token-slice equality modulo 64-bit collisions). A
    collision flags one spurious window pair per ~2^32 distinct
    shingles per bucket pairing — at most it merges one extra window
    into a span (same class of substitution line_dedup documents for
    its md5 keys). The string path (default) exists so the DuckDB
    oracle reproduces the grouping byte-exactly; both paths produce
    identical spans on collision-free inputs (pinned by
    test_substring_dedup_hashed_parity). All outputs are integers —
    hash-exact vs the oracle (no float summation-order risk).

    Round-7 plan shape (optimization guide §2.4 — remove shuffles
    outright): the shingles explode ONCE and the cross-document test is
    a window aggregate over the shingle partition (min(doc_id) ≠
    max(doc_id) ⟺ count_distinct(doc_id) ≥ 2), replacing the previous
    groupBy(count_distinct) + join-back — which exploded the corpus
    TWICE and shuffled it twice at scale (the dup-set join is a
    broadcast only while the dup set fits). One exchange carries the
    exploded shingles, one carries only the flagged windows.
    """
    from pyspark.sql import Window

    toks = with_tokens(df)
    if hash_shingles:
        sh_hashes = F.expr(
            f"""CASE WHEN size(th) >= {k} THEN
                  transform(sequence(1, size(th) - {k - 1}),
                            i -> xxhash64(slice(th, i, {k})))
                ELSE array() END"""
        )
        sh = (
            toks.withColumn("th", F.expr("transform(tokens, x -> xxhash64(x))"))
            .select("doc_id", F.posexplode(sh_hashes).alias("pos", "shingle"))
        )
    else:
        sh = toks.select(
            "doc_id", F.posexplode(shingles_expr(k)).alias("pos", "shingle")
        )
    w_sh = Window.partitionBy("shingle")
    flagged = (
        sh.withColumn("_d0", F.min("doc_id").over(w_sh))
        .withColumn("_d1", F.max("doc_id").over(w_sh))
        .where(F.col("_d0") != F.col("_d1"))
        .select("doc_id", "pos", (F.col("pos") + F.lit(k - 1)).alias("end"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = flagged.withColumn(
        "newgrp",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    )
    grouped = marked.withColumn(
        "grp", F.sum("newgrp").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        grouped.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def substring_dedup_filter(df: DataFrame, k: int = 8,
                           max_dup_frac: float = 0.3,
                           hash_shingles: bool = False) -> DataFrame:
    """Document-level decision step over substring_dedup_spans: the
    fraction of each document's tokens inside cross-document duplicated
    spans, and the keep flag (drop when the duplicated fraction exceeds
    ``max_dup_frac`` — the span-cutting alternative is a downstream
    choice; this op is the Gopher-style accept/reject form).

    All-integer arithmetic (per-mille fraction via integer division) —
    hash-exact vs the oracle. Scale shape: the spans' per-doc window
    output is already partitioned by doc_id, so the span aggregation
    adds no exchange; one doc_id equi-join against the token counts.
    ``hash_shingles`` selects the slim-shuffle production path (see
    substring_dedup_spans).
    """
    spans = substring_dedup_spans(df, k, hash_shingles=hash_shingles)
    dup = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint").alias("n_dup_tokens"))
    toks = with_tokens(df).select(
        "doc_id", F.size("tokens").cast("bigint").alias("n_tokens"))
    permille_cap = int(round(max_dup_frac * 1000))
    out = (
        toks.join(dup, "doc_id", "left")
        .withColumn("n_dup_tokens", F.coalesce("n_dup_tokens", F.lit(0).cast("bigint")))
        .withColumn("dup_permille", F.expr("n_dup_tokens * 1000 div n_tokens"))
    )
    return out.select(
        "doc_id", "n_tokens", "n_dup_tokens", "dup_permille",
        F.when(F.col("dup_permille") <= permille_cap, 1).otherwise(0)
        .cast("bigint").alias("keep"),
    )
