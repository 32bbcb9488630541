"""Single-thread cascade profile.

Runs the Arrow kernel (``kernel.make_arrow_kernel``) in this process on
the workload's pages and records self CPU time per cascade stage by
wrapping the module-level names the cascade calls. Only the outermost
stage call counts: a wrapped name called from inside another stage
(metadata serialising the tree, the baseline re-parsing a fragment)
stays in that stage's self time. Every CPU second of a traced pass is
attributed to exactly one span: a stage, ``core.extract`` itself, or
the kernel's own batch assembly.
"""

from __future__ import annotations

import gc
import importlib
import statistics
import time

import pyarrow as pa

# (metric, module, name): the names core.extract_document and the
# kernel's row function look up at call time.
STAGES = (
    ("etree.parse_ms", "go_trafilatura_spark.etree", "parse_html"),
    ("metadata.extract_ms", "go_trafilatura_spark.core", "extract_metadata"),
    ("htmlprocessing.clean_ms", "go_trafilatura_spark.core", "doc_cleaning"),
    ("htmlprocessing.clean_ms", "go_trafilatura_spark.core", "convert_tags"),
    ("main_extractor.comments_ms", "go_trafilatura_spark.core", "extract_comments"),
    ("main_extractor.content_ms", "go_trafilatura_spark.core", "extract_content"),
    ("external.fallback_ms", "go_trafilatura_spark.external", "compare_external_extraction"),
    ("baseline.rescue_ms", "go_trafilatura_spark.core", "baseline"),
    ("utils.lang_id_ms", "go_trafilatura_spark.core", "language_classifier"),
    ("htmlprocessing.post_clean_ms", "go_trafilatura_spark.core", "post_cleaning"),
    ("etree.serialize_ms", "go_trafilatura_spark.etree", "tostring"),
    ("kernel.spans_ms", "go_trafilatura_spark.kernel", "compute_spans"),
)
CORE = ("core.self_ms", "go_trafilatura_spark.core", "extract")
ROOT = "kernel.assembly_ms"
STAGE_METRICS = sorted({m for m, _, _ in STAGES})
SELF_SUM_TOLERANCE = 0.05


class _Tracer:
    def __init__(self):
        self.self_s: dict[str, float] = dict.fromkeys(STAGE_METRICS + [CORE[0], ROOT], 0.0)
        self.calls: dict[str, int] = dict.fromkeys(self.self_s, 0)
        # Frames: [metric, child seconds, may hold recorded children].
        self.stack: list[list] = []

    def span(self, metric: str, fn, container: bool):
        def traced(*args, **kwargs):
            if self.stack and not self.stack[-1][2]:
                return fn(*args, **kwargs)
            frame = [metric, 0.0, container]
            self.stack.append(frame)
            t0 = time.thread_time()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.thread_time() - t0
                self.stack.pop()
                self.self_s[metric] += dt - frame[1]
                self.calls[metric] += 1
                if self.stack:
                    self.stack[-1][1] += dt
        return traced


def _patch(tracer: _Tracer) -> list[tuple]:
    """Wrap every stage name; a name that no longer exists fails here
    instead of reading as a zero."""
    saved = []
    try:
        for metric, mod_name, attr in STAGES + (CORE,):
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)  # AttributeError: the cascade drifted
            saved.append((mod, attr, fn))
            setattr(mod, attr, tracer.span(metric, fn, container=metric == CORE[0]))
    except BaseException:
        _restore(saved)
        raise
    return saved


def _restore(saved: list[tuple]) -> None:
    for mod, attr, fn in reversed(saved):
        setattr(mod, attr, fn)


def _batches(rows: list[dict], size: int) -> list[pa.RecordBatch]:
    from gen import PAGE_SCHEMA

    table = pa.Table.from_pylist(rows, schema=PAGE_SCHEMA).select(
        ["url", "warc_ts", "html", "lang"])
    return table.to_batches(max_chunksize=size)


def _pass(kernel, batches, tracer: _Tracer | None) -> float:
    """One single-thread pass; returns its CPU seconds."""
    gc.collect()
    t0 = time.thread_time()
    if tracer is None:
        for _ in kernel(iter(batches)):
            pass
    else:
        tracer.span(ROOT, lambda: [None for _ in kernel(iter(batches))], container=True)()
    return time.thread_time() - t0


def profile(rows: list[dict], opts_dict: dict, expected: list[str],
            passes: int, batch_size: int) -> dict[str, float]:
    """Alternate untraced and traced passes over ``rows``; report
    per-page self CPU per stage (median over traced passes), the
    untraced pages per CPU second and the traced/untraced overhead."""
    from go_trafilatura_spark.kernel import KernelOptions, make_arrow_kernel

    kernel = make_arrow_kernel(KernelOptions(opts_dict))
    batches = _batches(rows, batch_size)
    _pass(kernel, batches, None)  # warm caches and lazy imports
    plain, traced, tracers = [], [], []
    for i in range(passes):
        # Alternate which pass of the pair runs first, so an order
        # effect does not read as tracing overhead.
        for traced_pass in ((False, True) if i % 2 == 0 else (True, False)):
            if not traced_pass:
                plain.append(_pass(kernel, batches, None))
                continue
            tracer = _Tracer()
            saved = _patch(tracer)
            try:
                traced.append(_pass(kernel, batches, tracer))
            finally:
                _restore(saved)
            tracers.append(tracer)

    n = len(rows)
    missing = [m for m in expected if tracers[0].calls[m] == 0]
    if missing:
        raise RuntimeError(f"cascade stages expected on this workload recorded no calls: {missing}")
    for tracer, cpu in zip(tracers, traced):
        attributed = sum(tracer.self_s.values())
        if abs(attributed - cpu) > SELF_SUM_TOLERANCE * cpu:
            raise RuntimeError(f"stage self times sum to {attributed:.3f} s, "
                               f"traced CPU is {cpu:.3f} s")
    out = {m: statistics.median(t.self_s[m] for t in tracers) * 1000 / n
           for m in tracers[0].self_s}
    out["baseline.rescue_frac"] = tracers[0].calls["baseline.rescue_ms"] / n
    out["core.pages_per_cpu_s"] = n / statistics.median(plain)
    ratios = [t / p for t, p in zip(traced, plain)]
    out["core.trace_overhead"] = statistics.median(ratios) - 1
    out["core.self_sum_frac"] = statistics.median(
        sum(t.self_s.values()) / cpu for t, cpu in zip(tracers, traced))
    return out
