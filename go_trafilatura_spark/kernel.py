"""The Arrow-vectorized Spark extraction kernel, and the ``mapInArrow``
shell of the per-row payload stages (``map_rows``).

One ``mapInArrow`` stage (``make_arrow_kernel``): batches of (url,
warc_ts, html, lang) arrive as Arrow record batches; each row runs the
pure extraction cascade (core.extract); results leave as Arrow batches
with the output schema below. Batch and streaming extraction both run
this one kernel. This is the Spark-side equivalent of the reference's
whole per-document pipeline (SURVEY.md §3.4) — the only Python in the
job, and it is batch-vectorized at the transport layer (Arrow), exactly
as the north rule requires (no per-row Python UDFs at the DataFrame
level).

Work sharing: a crawl re-publishes the same page bytes under many
urls, and ``pipeline.extract_pages`` hands the kernel every copy of a
page in one task, next to the others (an exchange on the html hash,
sorted within the partition). The cascade reads nothing of the row url
(``core.bind_url`` derives the url columns last), so the kernel keeps a
one-entry memo per task: the previous row's html bytes and its url-free
output. A row whose bytes equal them (``bytes ==``, never a hash alone)
skips the cascade and runs only ``bind_url`` for its own url. Under
``include_links`` the url joins the key, as content_html holds hrefs
resolved against it; under ``has_essential_metadata`` a reject is not
kept, as the url gates rank above the content gates. The memo holds one
page, so its memory is constant and it needs no setting.

Scale notes:
- HTML rows are fat (KBs-100KBs); callers should tune
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` down (256-1024).
- A byte-cap pre-screen rejects pathological rows before parsing
  (cheap "filter before you parse" — see SURVEY.md §4).
- PySpark reuses one Python worker process for many tasks, and before
  each task it repeats two fixed costs: ``importlib.invalidate_caches()``
  re-reads the directory of every zip archive on ``sys.path``
  (pyspark.zip, py4j and the spark-core jar: 16 importers, about 200 ms
  of CPU per task), and after each task the daemon runs a full ``gc.collect()``
  over every long-lived object. Every Python stage goes through one of
  the two ``mapInArrow`` shells below (``extract_stage`` and
  ``map_rows``); both call ``start_task``, which makes the next
  invalidation a no-op, and the kernel freezes the heap once per worker
  after its first batch, so both costs are paid once per worker instead
  of once per task.
"""

from __future__ import annotations

import gc
import sys
import zipimport
from dataclasses import replace

from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .options import Options

# Maximum html size we attempt to parse (bytes). Bigger payloads are
# rejected with reject_reason=oversized — bounds straggler tasks at scale.
DEFAULT_MAX_HTML_BYTES = 8 * 1024 * 1024

OUTPUT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("content_text", StringType()),
    StructField("comments_text", StringType()),
    StructField("content_html", StringType()),
    StructField("comments_html", StringType()),
    StructField("title", StringType()),
    StructField("author", StringType()),
    StructField("meta_url", StringType()),
    StructField("hostname", StringType()),
    StructField("description", StringType()),
    StructField("sitename", StringType()),
    StructField("date", StringType()),
    StructField("categories", ArrayType(StringType())),
    StructField("tags", ArrayType(StringType())),
    StructField("license", StringType()),
    StructField("language", StringType()),
    StructField("image", StringType()),
    StructField("page_type", StringType()),
    StructField("reject_reason", StringType()),
    StructField(
        "content_spans",
        ArrayType(
            StructType([
                StructField("start", IntegerType()),
                StructField("end", IntegerType()),
                StructField("kind", StringType()),
            ])
        ),
    ),
])

OUTPUT_COLUMNS = [f.name for f in OUTPUT_SCHEMA.fields]


def compute_spans(content_node, content_text: str) -> list[dict]:
    """Span offsets of each top-level content element within
    content_text (north-rule requirement). Spans are located by
    sequential search of each child's flattened text."""
    from . import etree
    from .utils import trim

    if content_node is None or not content_text:
        return []
    spans = []
    pos = 0
    for child in etree.children_of(content_node):
        child_text = trim(etree.iter_text(child, " "))
        if not child_text:
            continue
        idx = content_text.find(child_text, pos)
        if idx < 0:
            # Whitespace collapsing at element boundaries can make a
            # child's standalone flattening unlocatable past `pos`;
            # skip it rather than emit a non-monotonic span (the span
            # list contract is strictly forward).
            continue
        spans.append({"start": idx, "end": idx + len(child_text), "kind": child.tag})
        pos = idx + len(child_text)
    return spans


class _PageMemo:
    """The kernel's one-entry page memo: the key of the last page run
    through the cascade (its html bytes, plus its url under
    ``include_links``) and its url-free output — a reject reason, or the
    result without its trees plus its serialized content columns."""

    __slots__ = ("key", "reject", "result", "columns")

    def __init__(self):
        self.key = None

    def store(self, key, reject=None, result=None, columns=None) -> None:
        self.key, self.reject, self.result, self.columns = key, reject, result, columns


def _row(m, columns: tuple) -> tuple:
    content_text, comments_text, content_html, comments_html, spans = columns
    return (
        content_text, comments_text, content_html, comments_html,
        m.title, m.author, m.url, m.hostname, m.description, m.sitename,
        m.date, m.categories, m.tags, m.license, m.language, m.image,
        m.page_type,
        None,
        spans,
    )


def _extract_row(url, html, options, memo: _PageMemo | None = None) -> tuple:
    """Returns the kernel-computed values in OUTPUT_COLUMNS order (the
    pass-through url, warc_ts and lang are left out):
    (content_text, comments_text, content_html, comments_html, title,
     author, meta_url, hostname, description, sitename, date,
     categories, tags, license, language, image, page_type,
     reject_reason, content_spans).

    A page whose key equals the ``memo``'s skips the cascade: only
    ``core.bind_url`` runs, for this row's url."""
    from . import etree
    from .core import ExtractError, bind_url, extract

    def rejected(reason: str) -> tuple:
        return (None,) * 17 + (reason, None)

    def reason_of(e: Exception) -> str:
        return e.reason if isinstance(e, ExtractError) else "parse_error"

    if html is None:
        return rejected("null_html")
    if isinstance(html, str):
        html = html.encode("utf-8", "replace")
    if len(html) > DEFAULT_MAX_HTML_BYTES:
        return rejected("oversized")
    # Cheap byte screen before parsing: must look like markup.
    if b"<" not in html[:512]:
        return rejected("not_html")

    opts = options.make_options(url)
    # Under include_links content_html holds hrefs resolved against the
    # url, so the url is part of the key.
    key = (html, url) if opts.include_links else html
    if memo is None:
        memo = _PageMemo()
    if memo.key == key:
        if memo.reject is not None:
            return rejected(memo.reject)
        try:
            res = bind_url(memo.result, url, opts)
        except Exception as e:
            return rejected(reason_of(e))
        return _row(res.metadata, memo.columns)

    # Register every Element created for this row and break all their
    # parent/children cycles on the way out: Element trees are cyclic,
    # so without this they wait for the cycle collector — a measured
    # 7-13% of kernel CPU in mid-parse generational sweeps, plus ~900
    # leaked cyclic objects per page from pruned/detached subtrees (the
    # kernel batch loop disables auto-GC and relies on this release).
    elements: list = []
    etree.track_elements(elements)
    try:
        try:
            res = extract(html, opts)
        except Exception as e:
            reason = reason_of(e)
            # Only has_essential_metadata makes a reject depend on the url
            if not opts.has_essential_metadata:
                memo.store(key, reject=reason)
            return rejected(reason)

        columns = (
            res.content_text,
            res.comments_text,
            etree.tostring(res.content_node) if res.content_node is not None else "",
            etree.tostring(res.comments_node) if res.comments_node is not None else "",
            compute_spans(res.content_node, res.content_text),
        )
        memo.store(key, result=replace(res, content_node=None, comments_node=None),
                   columns=columns)
        return _row(res.metadata, columns)
    finally:
        etree.track_elements(None)
        etree.release_elements(elements)


class KernelOptions:
    """Picklable kernel configuration broadcast to executors via the
    mapInArrow closure (the reference's Options, SURVEY.md §1.4).

    ``with_timing=True`` adds a ``kernel_ms`` double column (wall time of
    the Arrow batch each row was processed in) so skew is observable:
    p99 per-partition time = percentile_approx(kernel_ms) grouped by
    spark_partition_id (SURVEY.md §7.4.8) — plus a ``cpu_ms`` column
    (time.process_time of the worker over the same batch): CPU
    occupancy is immune to co-tenant scheduler preemption, so summed
    cpu_ms gives a throughput attestation that a loaded shared host
    cannot sink (bench.py emits it next to wall-clock)."""

    def __init__(self, opts_dict: dict | None = None, with_timing: bool = False):
        self.with_timing = with_timing
        # validated here, so an unknown key fails before any task runs
        self.options = Options.from_dict(opts_dict)

    def make_options(self, url: str):
        return replace(self.options, original_url=url)


TIMED_OUTPUT_SCHEMA = StructType(
    OUTPUT_SCHEMA.fields
    + [StructField("kernel_ms", DoubleType()), StructField("batch_id", IntegerType()),
       StructField("cpu_ms", DoubleType())]
)


def start_task() -> None:
    """Task-start hook of both Python shells. Drops every ``zipimporter``
    from ``sys.path_importer_cache``, so the ``invalidate_caches()`` that
    PySpark runs before the next task has no archive directory to re-read
    (CPython 3.13 makes that re-read lazy; 3.11 and 3.12 do it eagerly).
    The next import that needs a zip finder rebuilds it from
    ``sys.path_hooks``, so imports from new or known archives still work."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


# Kernel batches collected in this process. It lives at module level
# because it must outlive the task: a reused PySpark worker runs many.
_process_batches = 0


def _collect_batch_garbage() -> None:
    """The kernel's collection after each batch: the young generation,
    the full heap once per 64 batches of this process, and
    ``gc.freeze()`` after the first full one. A process that runs the
    kernel in-process (a driver-side profile) is frozen the same way."""
    global _process_batches
    if _process_batches % 64:
        gc.collect(0)
    else:
        gc.collect()
        if _process_batches == 0:
            gc.freeze()
    _process_batches += 1


def make_arrow_kernel(kernel_options: KernelOptions | None = None):
    """Build the mapInArrow extraction kernel. It consumes and produces
    pyarrow RecordBatches directly, with no pandas DataFrame assembly on
    either side (NOTES.md queue #1). Pass-through columns (url, warc_ts,
    lang) reuse the input Arrow arrays untouched — zero conversion.
    Closure-captured options are serialized once per task, not per row."""
    ko = kernel_options or KernelOptions()
    out_names = (TIMED_OUTPUT_SCHEMA if ko.with_timing else OUTPUT_SCHEMA).fieldNames()

    def extract_batches(batches):
        import time

        import pyarrow as pa

        start_task()
        types = {f.name: f.type for f in to_arrow_schema(OUTPUT_SCHEMA)}
        # Batch-scoped GC: the extraction trees are cyclic (Element
        # parent↔children), so CPython's auto-GC runs full generational
        # sweeps mid-parse — measured 7-13% of kernel CPU. Disabling
        # auto-GC and collecting the young generation once per batch
        # (all per-batch garbage is gen0 when no auto-collections ran)
        # frees the same memory at a fraction of the cost; a full
        # collect once per 64 batches of the worker process (not of the
        # task: at one batch per task that was every batch) bounds
        # promoted garbage. The heap that survives the worker's first
        # batch (interpreter, pyspark, pyarrow, the cascade's tables)
        # lives as long as the worker, so it is frozen once: later full
        # collects, this one and the daemon's after every task, skip it.
        # The collects run inside the timed window so cpu_ms stays an
        # honest attestation.
        gc_was_enabled = gc.isenabled()
        gc.disable()
        # One memo per task, kept across its batches: the exchange puts
        # every copy of a page next to each other in one task.
        memo = _PageMemo()
        try:
            for batch_id, batch in enumerate(batches):
                t0 = time.monotonic()
                c0 = time.process_time()
                names = batch.schema.names
                urls = batch.column(names.index("url")).to_pylist()
                htmls = batch.column(names.index("html")).to_pylist()
                n = len(urls)
                # Kernel-computed columns (url/warc_ts/lang pass through).
                computed = [c for c in OUTPUT_COLUMNS if c not in ("url", "warc_ts", "lang")]
                col_lists: dict[str, list] = {c: [] for c in computed}
                for u, h in zip(urls, htmls):
                    row = _extract_row(u, h, ko, memo)
                    for c, value in zip(computed, row):
                        col_lists[c].append(value)

                arrays = []
                for c in OUTPUT_COLUMNS:
                    if c == "url":
                        arr = batch.column(names.index("url"))
                    elif c == "warc_ts":
                        arr = batch.column(names.index("warc_ts")) if "warc_ts" in names \
                            else pa.nulls(n, types["warc_ts"])
                    elif c == "lang":
                        arr = batch.column(names.index("lang")) if "lang" in names \
                            else pa.nulls(n, types["lang"])
                    else:
                        arr = pa.array(col_lists[c], type=types[c])
                    arrays.append(arr)
                _collect_batch_garbage()
                if ko.with_timing:
                    ms = (time.monotonic() - t0) * 1000.0
                    cpu = (time.process_time() - c0) * 1000.0
                    arrays += [pa.array([ms] * n, pa.float64()),
                               pa.array([batch_id] * n, pa.int32()),
                               pa.array([cpu] * n, pa.float64())]
                yield pa.RecordBatch.from_arrays(arrays, names=out_names)
        finally:
            if gc_was_enabled:
                gc.enable()

    return extract_batches


def extract_stage(df, kernel_options: KernelOptions):
    """``df`` (url, html and optional warc_ts, lang) through the one
    mapInArrow extraction stage: OUTPUT_SCHEMA rows, plus the timing
    columns when ``kernel_options.with_timing``."""
    schema = TIMED_OUTPUT_SCHEMA if kernel_options.with_timing else OUTPUT_SCHEMA
    return df.mapInArrow(make_arrow_kernel(kernel_options), schema)


def map_rows(df, cols: list, schema: StructType, fn):
    """The shell of every per-row payload stage (pdf, multimodal, warc,
    discovery): ``df.select(*cols)`` runs through one mapInArrow stage in
    which each row's ``to_pylist`` values (binary as ``bytes``) call
    ``fn(*row)``. It returns an iterable of output tuples in ``schema``
    field order — none to drop the row, several to explode it. Columns are
    typed by ``to_arrow_schema`` as in the kernel, so a value that does
    not fit (an int32 overflow) raises. The shell catches nothing: a stage
    that must survive a bad payload handles it inside ``fn``."""
    arrow_schema = to_arrow_schema(schema)

    def batches(it):
        import pyarrow as pa

        start_task()
        for batch in it:
            rows = [out for row in zip(*(c.to_pylist() for c in batch.columns))
                    for out in fn(*row)]
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow_schema)],
                schema=arrow_schema)

    return df.select(*cols).mapInArrow(batches, schema)
