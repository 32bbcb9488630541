"""The Arrow-vectorized Spark extraction kernel.

One ``mapInArrow`` stage (``make_arrow_kernel``): batches of (url,
warc_ts, html, lang) arrive as Arrow record batches; each row runs the
pure extraction cascade (core.extract); results leave as Arrow batches
with the output schema below. Batch and streaming extraction both run
this one kernel. This is the Spark-side equivalent of the reference's
whole per-document pipeline (SURVEY.md §3.4) — the only Python in the
job, and it is batch-vectorized at the transport layer (Arrow), exactly
as the north rule requires (no per-row Python UDFs at the DataFrame
level).

Scale notes:
- HTML rows are fat (KBs-100KBs); callers should tune
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` down (256-1024).
- A byte-cap pre-screen rejects pathological rows before parsing
  (cheap "filter before you parse" — see SURVEY.md §4).
"""

from __future__ import annotations

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

    if content_node is None or not content_text:
        return []
    spans = []
    pos = 0
    for child in etree.children_of(content_node):
        from .utils import trim

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


def _extract_row(url, html, options) -> tuple:
    """Returns the kernel-computed values in OUTPUT_COLUMNS order (the
    pass-through url, warc_ts and lang are left out):
    (content_text, comments_text, content_html, comments_html, title,
     author, meta_url, hostname, description, sitename, date,
     categories, tags, license, language, image, page_type,
     reject_reason, content_spans)."""
    from . import etree
    from .core import ExtractError, extract

    def rejected(reason: str) -> tuple:
        return (None,) * 17 + (reason, None)

    if html is None:
        return rejected("null_html")
    if isinstance(html, str):
        html = html.encode("utf-8", "replace")
    if len(html) > DEFAULT_MAX_HTML_BYTES:
        return rejected("oversized")
    # Cheap byte screen before parsing: must look like markup.
    head = html[:512].lstrip()
    if not head[:1] == b"<" and b"<html" not in head.lower() and b"<!doctype" not in head.lower():
        if b"<" not in head:
            return rejected("not_html")

    opts = options.make_options(url)
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
        except ExtractError as e:
            return rejected(e.reason)
        except Exception:
            return rejected("parse_error")

        m = res.metadata
        return (
            res.content_text,
            res.comments_text,
            etree.tostring(res.content_node) if res.content_node is not None else "",
            etree.tostring(res.comments_node) if res.comments_node is not None else "",
            m.title, m.author, m.url, m.hostname, m.description, m.sitename,
            m.date, m.categories, m.tags, m.license, m.language, m.image,
            m.page_type,
            None,
            compute_spans(res.content_node, res.content_text),
        )
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
        self.opts_dict = opts_dict or {}
        self.with_timing = with_timing
        Options.from_dict(self.opts_dict)  # an unknown key fails before any task runs

    def make_options(self, url: str):
        opts = Options.from_dict(self.opts_dict)
        opts.original_url = url
        return opts


TIMED_OUTPUT_SCHEMA = StructType(
    OUTPUT_SCHEMA.fields
    + [StructField("kernel_ms", DoubleType()), StructField("batch_id", IntegerType()),
       StructField("cpu_ms", DoubleType())]
)


def make_arrow_kernel(kernel_options: KernelOptions | None = None):
    """Build the mapInArrow extraction kernel. It consumes and produces
    pyarrow RecordBatches directly, with no pandas DataFrame assembly on
    either side (about 2× less transport overhead than mapInPandas;
    NOTES.md queue #1). Pass-through columns (url, warc_ts, lang) reuse
    the input Arrow arrays untouched — zero conversion. Closure-captured
    options are serialized once per task, not per row."""
    ko = kernel_options or KernelOptions()

    def extract_batches(batches):
        import gc
        import time

        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        types = {f.name: f.type for f in to_arrow_schema(OUTPUT_SCHEMA)}
        # Batch-scoped GC: the extraction trees are cyclic (Element
        # parent↔children), so CPython's auto-GC runs full generational
        # sweeps mid-parse — measured 7-13% of kernel CPU. Disabling
        # auto-GC and collecting the young generation once per batch
        # (all per-batch garbage is gen0 when no auto-collections ran)
        # frees the same memory at a fraction of the cost; a periodic
        # full collect bounds promoted garbage. The collects run inside
        # the timed window so cpu_ms stays an honest attestation.
        gc_was_enabled = gc.isenabled()
        gc.disable()
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
                    row = _extract_row(u, h, ko)
                    for c, value in zip(computed, row):
                        col_lists[c].append(value)

                arrays = []
                fields = []
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
                    fields.append(pa.field(c, arr.type))
                gc.collect(0) if batch_id % 64 else gc.collect()
                if ko.with_timing:
                    ms = (time.monotonic() - t0) * 1000.0
                    cpu = (time.process_time() - c0) * 1000.0
                    arrays.append(pa.array([ms] * n, pa.float64()))
                    fields.append(pa.field("kernel_ms", pa.float64()))
                    arrays.append(pa.array([batch_id] * n, pa.int32()))
                    fields.append(pa.field("batch_id", pa.int32()))
                    arrays.append(pa.array([cpu] * n, pa.float64()))
                    fields.append(pa.field("cpu_ms", pa.float64()))
                yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))
        finally:
            if gc_was_enabled:
                gc.enable()

    return extract_batches


def map_rows(df, cols: list, schema: StructType, fn):
    """The shell of every per-row payload stage (pdf, multimodal, warc,
    discovery): ``df.select(*cols)`` runs through one mapInPandas stage
    in which each input row calls ``fn(*row)``, which returns an
    iterable of output tuples in ``schema`` field order — none to drop
    the row, several to explode it. The shell catches nothing: a stage
    that must survive a bad payload handles it inside ``fn``."""
    names = schema.fieldNames()

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = [out for row in pdf.itertuples(index=False, name=None) for out in fn(*row)]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(batches, schema)
