"""The benchmark workloads: inputs, references, the timed job, its
output check and the layer probes of the traced run.

Each workload is a closed loop with one client: ``job`` starts one
Spark job and returns when its output is committed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

import cascade
import checks
import gen
from session import CORES, SHUFFLE_PARTITIONS

REJECT_REASONS = ("null_html", "not_html", "oversized", "parse_error", "too_short")
TEXTOPS_REPEATS = 3


def _source_digest(root: str) -> str:
    """Digest of the program and oracle sources: a cached reference is
    reused only for the code it was computed from."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "go_trafilatura_spark")
    paths = [os.path.join(pkg, n) for n in sorted(os.listdir(pkg)) if n.endswith(".py")]
    for path in paths + [os.path.join(root, "__spark_entry__.py"),
                         os.path.join(root, "tests", "oracle_harness.py")]:
        with open(path, "rb") as f:
            h.update(path[len(root):].encode() + b"\0" + f.read())
    return h.hexdigest()


class Workload:
    """Shared preparation: generate the inputs from the seed and compute
    the reference once per (seed, parameters, program source), cached
    under the work directory."""

    name = ""

    def __init__(self, root: str, work: str, spec: dict, seed: int):
        self.root, self.spec, self.seed = root, spec, seed
        self.p = spec["generator"]
        inputs = {k: spec.get(k) for k in ("generator", "options", "pipeline", "setup_rows")}
        key = hashlib.sha256(json.dumps(
            [self.name, seed, inputs, _source_digest(root)], sort_keys=True).encode()
        ).hexdigest()[:16]
        self.dir = os.path.join(work, "data", f"{self.name}-{seed}-{key}")
        self.input = os.path.join(self.dir, "input")
        self.slice = os.path.join(self.dir, "slice")
        self.out = os.path.join(work, "out", self.name)
        self.rows: list[dict] = []
        self.ref: dict = {}

    def prepare(self) -> None:
        """Generate the rows and write the input parquet and the slice."""
        self.rows = self.generate()
        if not os.path.isdir(self.dir):
            tmp = self.dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            gen.write_parts(self.rows, self.schema, os.path.join(tmp, "input"), self.p["files"])
            gen.write_parts(self.rows[:self.spec["setup_rows"]], self.schema,
                            os.path.join(tmp, "slice"), 1)
            os.replace(tmp, self.dir)

    def compute_reference(self) -> None:
        """Compute (or reload) the reference output. It needs no session,
        so it can run beside the unmeasured warm-up passes."""
        ref_path = os.path.join(self.dir, "reference.json")
        if not os.path.exists(ref_path):
            ref = self.reference(self.input)
            with open(ref_path + ".tmp", "w") as f:
                json.dump(ref, f)
            os.replace(ref_path + ".tmp", ref_path)
        with open(ref_path) as f:
            self.ref = json.load(f)

    def setup_action(self, spark) -> None:
        """The first action of a new session: the workload's job on a
        fixed small slice of the input."""
        self.job(spark, self.slice, self.out + "-slice")

    def finish_reference(self, spark) -> None:
        """Reference parts that need the session (computed once), after
        ``compute_reference``."""

    @property
    def n_rows(self) -> int:
        return len(self.rows)


class _Extract(Workload):
    schema = gen.PAGE_SCHEMA

    @property
    def options(self) -> dict:
        return self.spec["options"]

    def _extracted(self, spark, path):
        from go_trafilatura_spark.pipeline import extract_pages, read_pages

        return extract_pages(read_pages(spark, path), self.options,
                             num_partitions=SHUFFLE_PARTITIONS)

    def kernel_probe(self, spark, sampler) -> dict:
        """One pass of the public ``pipeline.extract_pages_timed`` on
        the same input; batch clocks and reject counts come back in one
        aggregation, so the kernel runs once."""
        from go_trafilatura_spark.pipeline import extract_pages_timed, read_pages

        sampler.reset()
        timed = extract_pages_timed(read_pages(spark, self.input), self.options,
                                    num_partitions=SHUFFLE_PARTITIONS)
        groups = (timed.withColumn("pid", F.spark_partition_id())
                  .groupBy("pid", "batch_id", "reject_reason")
                  .agg(F.first("kernel_ms").alias("wall"), F.first("cpu_ms").alias("cpu"),
                       F.count(F.lit(1)).alias("n"))
                  .collect())
        batches = {(g["pid"], g["batch_id"]): (g["wall"], g["cpu"]) for g in groups}
        rows = sum(g["n"] for g in groups)
        if rows != self.n_rows:
            raise RuntimeError(f"kernel pass returned {rows} rows for {self.n_rows}")
        out = {
            "kernel.batches": len(batches),
            "kernel.rows_per_batch": rows / len(batches),
            "kernel.wall_ms": sum(w for w, _ in batches.values()),
            "kernel.cpu_ms": sum(c for _, c in batches.values()),
            "kernel.input_bytes": sum(len(r["html"]) for r in self.rows if r["html"] is not None),
            "kernel.worker_peak_rss_mb": sampler.peak_worker_mb,
            "kernel.extracted_frac": sum(g["n"] for g in groups if g["reject_reason"] is None) / rows,
        }
        for reason in REJECT_REASONS:
            out[f"kernel.reject.{reason}"] = sum(
                g["n"] for g in groups if g["reject_reason"] == reason)
        return out

    def cascade_probe(self) -> dict:
        from go_trafilatura_spark.pipeline import ARROW_BATCH_SIZE

        return cascade.profile(self.rows[:self.spec["cascade_rows"]], self.options,
                               self.spec["cascade_expected"], passes=3,
                               batch_size=ARROW_BATCH_SIZE)


class ExtractCrawl(_Extract):
    name = "extract_crawl"

    def generate(self) -> list[dict]:
        rows, expect = gen.crawl_pages(self.seed, self.p)
        self.expect = {r["url"]: e for r, e in zip(rows, expect)}
        return rows

    def reference(self, input_dir: str) -> dict:
        expect = [self.expect[r["url"]] for r in self.rows]
        return {"rows": checks.extraction_reference(
            self.rows, expect, self.options, CORES, os.path.join(os.path.dirname(input_dir), "ref"))}

    def job(self, spark, path: str, out: str) -> dict:
        """extract_job's write path: extract, observe, write parquet."""
        from go_trafilatura_spark.pipeline import write_extracted

        obs = Observation("extract_metrics")
        extracted = self._extracted(spark, path).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("reject_reason").isNotNull().cast("long")).alias("rejected"))
        write_extracted(extracted, out)
        return obs.get

    def check(self, observed: dict) -> tuple[int, list[str]]:
        out_rows = pq.read_table(self.out).to_pylist()
        failed = checks.check_extraction(out_rows, self.ref["rows"], self.expect)
        return min(len(failed), self.n_rows), failed


class ExtractFallback(_Extract):
    name = "extract_fallback"

    def generate(self) -> list[dict]:
        return gen.fallback_pages(self.seed, self.p)

    def reference(self, input_dir: str) -> dict:
        return {"rows": checks.extraction_reference(
            self.rows, None, self.options, CORES, os.path.join(os.path.dirname(input_dir), "ref"))}

    @staticmethod
    def _digest_cols():
        from go_trafilatura_spark.kernel import OUTPUT_COLUMNS

        h = F.xxhash64(*[F.col(c) for c in OUTPUT_COLUMNS])
        return [F.count(F.lit(1)).alias("rows"),
                F.sum(F.pmod(h, F.lit(1 << 31))).alias("hash_sum"),
                F.bit_xor(h).alias("hash_xor"),
                F.sum(F.col("reject_reason").eqNullSafe("parse_error").cast("long")).alias("parse_errors")]

    def finish_reference(self, spark) -> None:
        """Digest of the reference rows, computed by Spark with the same
        expression the timed runs observe (noop sink: the output is never
        collected)."""
        if "digest" in self.ref:
            return
        from go_trafilatura_spark.kernel import OUTPUT_COLUMNS, OUTPUT_SCHEMA

        data = []
        for r in self.rows:
            ref = self.ref["rows"][r["url"]]
            data.append(tuple(r["warc_ts"] if c == "warc_ts" else ref[c]
                              for c in OUTPUT_COLUMNS))
        row = spark.createDataFrame(data, OUTPUT_SCHEMA).agg(*self._digest_cols()).first()
        self.ref["digest"] = row.asDict()
        with open(os.path.join(self.dir, "reference.json"), "w") as f:
            json.dump(self.ref, f)

    def job(self, spark, path: str, out: str) -> dict:
        obs = Observation("fallback_digest")
        (self._extracted(spark, path).observe(obs, *self._digest_cols())
         .write.format("noop").mode("overwrite").save())
        return obs.get

    def check(self, observed: dict) -> tuple[int, list[str]]:
        want = self.ref["digest"]
        if observed != want:
            return self.n_rows, [f"output digest {observed} differs from the reference {want}"]
        return observed["parse_errors"], (
            [f"{observed['parse_errors']} parse_error rows"] if observed["parse_errors"] else [])


class CuratePipeline(Workload):
    name = "curate_pipeline"
    schema = gen.DOC_SCHEMA

    def generate(self) -> list[dict]:
        return gen.curate_corpus(self.seed, self.p)

    def reference(self, input_dir: str) -> dict:
        return checks.curate_oracle(os.path.join(input_dir, "*.parquet"),
                                    self.spec["pipeline"])

    def job(self, spark, path: str, out: str) -> dict:
        """dedup_job --stage all: the composed pipeline, observed and
        written to parquet, then its persisted frames released."""
        from go_trafilatura_spark.pipeline import corpus_dedup_pipeline

        docs = spark.read.parquet(path)
        final, handles = corpus_dedup_pipeline(docs, url_col="url", strata_col="lang",
                                               **self.spec["pipeline"])
        obs = Observation("dedup_metrics")
        final.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(out)
        for h in handles:
            h.unpersist()
        return obs.get

    def check(self, observed: dict) -> tuple[int, list[str]]:
        table = pq.read_table(self.out)
        rows = list(zip(*[table.column(c).to_pylist() for c in table.column_names]))
        failed = checks.check_curate(rows, table.column_names, self.ref)
        return (self.n_rows if failed else 0), failed

    def textops_probe(self, spark) -> dict:
        """Each stage of the composition run on its materialized input
        and timed with a noop write; the row funnel must match the
        oracle chain's."""
        from go_trafilatura_spark import textops
        from go_trafilatura_spark.pipeline import host_cap

        pp = self.spec["pipeline"]
        held = []

        def materialize(df):
            df = df.persist()
            held.append(df)
            df.count()
            return df

        def timed(metric, df, count_expr):
            ms, counts = [], []
            for _ in range(TEXTOPS_REPEATS):
                obs = Observation(metric)
                t0 = time.perf_counter()
                df.observe(obs, count_expr.alias("n")).write.format("noop").mode("overwrite").save()
                ms.append((time.perf_counter() - t0) * 1000)
                counts.append(obs.get["n"])
            if len(set(counts)) != 1:
                raise RuntimeError(f"{metric}: row counts differ between repeats: {counts}")
            return statistics.median(ms), counts[0]

        rows_all = F.count(F.lit(1))
        out = {}
        try:
            docs = materialize(spark.read.parquet(self.input))
            ld = (textops.line_dedup(docs, text_col="text", id_col="doc_id")
                  .where(F.col("n_lines_kept") > 0)
                  .select("doc_id", F.col("text_deduped").alias("text")))
            out["textops.line_dedup_ms"], out["textops.line_dedup_rows_out"] = timed(
                "line_dedup", ld, rows_all)
            deduped = materialize(ld)
            ss = (textops.substring_dedup_filter(deduped, k=pp["k_substring"], hash_shingles=True)
                  .where(F.col("keep") == 1).select("doc_id"))
            out["textops.substring_dedup_ms"], out["textops.substring_dedup_rows_out"] = timed(
                "substring_dedup", ss, rows_all)
            # The pipeline persists the gopher decision frame before its
            # keep-filter; the stage is timed up to that frame.
            gq = textops.gopher_quality_filter(deduped).select("doc_id", "keep")
            out["textops.gopher_ms"], out["textops.gopher_rows_out"] = timed(
                "gopher", gq, F.sum(F.col("keep").cast("long")))
            gq_keep = materialize(gq).where(F.col("keep")).select("doc_id")
            kept = materialize(deduped.join(materialize(ss), "doc_id", "left_semi")
                               .join(gq_keep, "doc_id", "left_semi"))
            urls = materialize(kept.join(docs.select("doc_id", "url"), "doc_id"))
            capped = host_cap(urls.where(F.col("url").isNotNull()),
                              max_per_host=pp["max_per_host"], id_col="doc_id").select("doc_id")
            out["pipeline.host_cap_ms"], out["pipeline.host_cap_rows_out"] = timed(
                "host_cap", capped, rows_all)
            null_ids = urls.where(F.col("url").isNull()).select("doc_id")
            out["pipeline.host_cap_null_bypass"] = null_ids.count()
            sample_in = materialize(
                kept.join(capped.unionByName(null_ids), "doc_id", "left_semi")
                .join(docs.select("doc_id", "lang"), "doc_id"))
            sample = textops.stratified_sample(sample_in, strata_col="lang",
                                               fraction=pp["sample_fraction"])
            out["textops.stratified_sample_ms"], out["textops.stratified_sample_rows_out"] = timed(
                "stratified_sample", sample, rows_all)
        finally:
            for df in held:
                df.unpersist()
        funnel = self.ref["funnel"]
        want = {"textops.line_dedup_rows_out": funnel["deduped"],
                "textops.substring_dedup_rows_out": funnel["ss_keep"],
                "textops.gopher_rows_out": funnel["gq_keep"],
                "pipeline.host_cap_rows_out": funnel["capped"],
                "pipeline.host_cap_null_bypass": funnel["bypass"],
                "textops.stratified_sample_rows_out": funnel["sample"]}
        wrong = {k: (out[k], v) for k, v in want.items() if out[k] != v}
        if wrong:
            raise RuntimeError(f"stage row funnel differs from the oracle chain: {wrong}")
        return out


WORKLOADS = {w.name: w for w in (ExtractCrawl, ExtractFallback, CuratePipeline)}
