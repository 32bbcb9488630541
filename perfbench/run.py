"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_crawl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One run generates the workload's
inputs from the seed, sets up a ``local[4]`` Spark session, warms it up
while it computes (or reuses) the reference output, then runs the
workload's job back to back (one client, closed loop) for about
``--seconds`` of timed work, checking every timed run's output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` adds the event log and the layer
probes and reports the per-layer metrics. Every metric is printed with
its unit, median, quartiles and sample count; the last stdout line is
the JSON result. A section that fails is printed with its error, and
the run then exits non-zero without a result. Files go under
``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A timed loop stops early, with at least one sample, once the run is
# this old, so a slow host still finishes inside the 180 s limit.
LATE_S = 120.0

# The per-layer metrics each probe produces. Probes that do not apply
# to a workload report their metrics as 0: that layer did no work.
PROBE_METRICS = {
    "eventlog": [
        "pipeline.jobs", "pipeline.stages", "pipeline.tasks", "pipeline.task_failures",
        "pipeline.executor_run_ms", "pipeline.jvm_cpu_ms", "pipeline.jvm_gc_ms",
        "pipeline.shuffle_read_bytes", "pipeline.shuffle_write_bytes",
        "pipeline.spill_bytes", "pipeline.output_bytes", "pipeline.max_stage_skew",
    ],
    "kernel": [
        "kernel.batches", "kernel.rows_per_batch", "kernel.cpu_ms", "kernel.wall_ms",
        "kernel.input_bytes", "kernel.worker_peak_rss_mb", "kernel.boundary_ms",
        "kernel.extracted_frac", "kernel.reject.null_html", "kernel.reject.not_html",
        "kernel.reject.oversized", "kernel.reject.parse_error", "kernel.reject.too_short",
    ],
    "cascade": [
        "etree.parse_ms", "metadata.extract_ms", "htmlprocessing.clean_ms",
        "main_extractor.comments_ms", "main_extractor.content_ms", "external.fallback_ms",
        "baseline.rescue_ms", "baseline.rescue_frac", "utils.lang_id_ms",
        "htmlprocessing.post_clean_ms", "etree.serialize_ms", "kernel.spans_ms",
        "core.self_ms", "kernel.assembly_ms", "core.pages_per_cpu_s",
        "core.trace_overhead", "core.self_sum_frac",
    ],
    "textops": [
        "textops.line_dedup_ms", "textops.line_dedup_rows_out",
        "textops.substring_dedup_ms", "textops.substring_dedup_rows_out",
        "textops.gopher_ms", "textops.gopher_rows_out",
        "pipeline.host_cap_ms", "pipeline.host_cap_rows_out", "pipeline.host_cap_null_bypass",
        "textops.stratified_sample_ms", "textops.stratified_sample_rows_out",
    ],
}
PROBES = {
    "extract_crawl": ("eventlog", "kernel", "cascade"),
    "extract_fallback": ("eventlog", "kernel", "cascade"),
    "curate_pipeline": ("eventlog", "textops"),
}


class Report:
    """Sections run in order; a failed section is printed with its error
    and counted, and every later section that needs it is skipped and
    counted too."""

    def __init__(self):
        self.failed: list[str] = []

    @contextlib.contextmanager
    def section(self, name: str, needs: tuple[str, ...] = ()):
        missing = [n for n in needs if n in self.failed]
        if missing:
            print(f"[{name}] SKIPPED: needs failed section(s) {missing}", flush=True)
            self.failed.append(name)
            yield False
            return
        t0 = time.perf_counter()
        try:
            yield True
        except Exception as e:
            self.failed.append(name)
            print(f"[{name}] FAILED: {type(e).__name__}: {e}", flush=True)
            traceback.print_exc(file=sys.stderr)
        else:
            print(f"[{name}] ok ({time.perf_counter() - t0:.1f} s)", flush=True)


def _quartiles(values: list[float]) -> tuple[float, float]:
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def _print_metric(name: str, unit: str, values: list[float]) -> None:
    if not values:
        print(f"  {name:38s} n/a ({unit})")
        return
    q1, q3 = _quartiles(values)
    print(f"  {name:38s} median {statistics.median(values):14.6g} {unit:8s}"
          f" q1 {q1:.6g}  q3 {q3:.6g}  n {len(values)}")
    if len(values) > 1:
        print(f"  {'':38s} samples {', '.join(f'{v:.6g}' for v in values)}")


def _timed_loop(wl, spark, sampler, seconds: float, trace: bool, started: float):
    """Run the job back to back for about ``seconds``. The number of
    passes is fixed by the workload's nominal pass time, not by the
    clock, so a slow host does not move the median to another point of
    the JVM's warm-up curve."""
    from proctree import jit_cpu_s, tree_cpu_s

    passes = max(3, round(seconds / wl.spec["nominal_pass_s"]))
    samples, failed_rows, attempted = [], 0, 0
    while True:
        i = len(samples)
        if trace:
            spark.sparkContext.setJobDescription(f"perfbench timed {i}")
        sampler.reset()
        cpu0, jit0 = tree_cpu_s(), jit_cpu_s(sampler.jvm_pid)
        t0 = time.perf_counter()
        observed = wl.job(spark, wl.input, wl.out)
        wall = time.perf_counter() - t0
        # JIT compilation is warm-up work that keeps shrinking long after
        # the warm-up passes, by an amount that depends on timing; it is
        # left out of the CPU cost.
        cpu = tree_cpu_s() - cpu0 - (jit_cpu_s(sampler.jvm_pid) - jit0)
        samples.append({"wall_s": wall, "cpu_s": cpu, "rss_mb": sampler.peak_tree_mb})
        n_failed, messages = wl.check(observed)
        attempted += wl.n_rows
        failed_rows += n_failed
        for m in messages[:5]:
            print(f"  check failed (timed run {i}): {m}", flush=True)
        if len(messages) > 5:
            print(f"  ... {len(messages) - 5} more", flush=True)
        if len(samples) >= passes or time.time() - started > LATE_S:
            return samples, attempted, failed_rows


def main(argv: list[str] | None = None) -> int:
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "go_trafilatura_spark", "core.py")):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    declared = [m["name"] for m in bench["per_layer"]]
    probe_names = [n for names in PROBE_METRICS.values() for n in names]
    if sorted(declared) != sorted(probe_names):
        print("perfbench: BENCHMARK.json per_layer and the probes disagree: "
              f"{sorted(set(declared) ^ set(probe_names))}", file=sys.stderr)
        return 2
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work")
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    import session

    session.prepare_env(ROOT, work)
    from proctree import RssSampler
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](ROOT, work, spec["workloads"][args.workload], args.seed)
    trace = bool(args.trace)
    event_dir = os.path.join(work, "eventlog", str(os.getpid())) if trace else None
    report = Report()
    e2e: dict[str, list[float]] = {}
    layer: dict[str, float] = {}
    samples, attempted, failed_rows = [], 0, 0
    kernel_wall_ms = None
    spark = None
    print(f"perfbench {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace}", flush=True)
    try:
        with report.section("prepare"):
            wl.prepare()
        with report.section("setup", needs=("prepare",)) as ok:
            if ok:
                t0 = time.perf_counter()
                spark = session.start(work, event_dir)
                wl.setup_action(spark)
                e2e["setup_s"] = [time.perf_counter() - t0]
        # The reference is computed beside the warm-up passes, which are
        # not measured, and is complete before the first timed run.
        with ThreadPoolExecutor(1) as pool:
            reference = pool.submit(wl.compute_reference) if spark is not None else None
            with report.section("warmup", needs=("setup",)) as ok:
                if ok:
                    for _ in range(wl.spec["warmup_passes"]):
                        wl.job(spark, wl.input, wl.out)
            with report.section("reference", needs=("setup",)) as ok:
                if ok:
                    reference.result()
                    wl.finish_reference(spark)
        sampler = RssSampler(session.jvm_pid()) if spark is not None else None
        with sampler or contextlib.nullcontext():
            with report.section("timed", needs=("warmup", "reference")) as ok:
                if ok:
                    samples, attempted, failed_rows = _timed_loop(
                        wl, spark, sampler, args.seconds, trace, started)
            if trace and "kernel" in PROBES[args.workload]:
                with report.section("kernel", needs=("timed",)) as ok:
                    if ok:
                        spark.sparkContext.setJobDescription("perfbench kernel")
                        layer.update(wl.kernel_probe(spark, sampler))
                        kernel_wall_ms = layer["kernel.wall_ms"]
            if trace and "textops" in PROBES[args.workload]:
                with report.section("textops", needs=("timed",)) as ok:
                    if ok:
                        spark.sparkContext.setJobDescription("perfbench textops")
                        layer.update(wl.textops_probe(spark))
    finally:
        if spark is not None:
            with report.section("stop"):
                session.stop(spark)

    if trace:
        with report.section("eventlog", needs=("timed", "stop")) as ok:
            if ok:
                layer.update(_eventlog_metrics(event_dir, len(samples), kernel_wall_ms))
                shutil.rmtree(event_dir)
        if "cascade" in PROBES[args.workload]:
            with report.section("cascade", needs=("prepare",)) as ok:
                if ok:
                    layer.update(wl.cascade_probe())

    if samples:
        rows = wl.n_rows
        e2e["rows_per_s"] = [rows / s["wall_s"] for s in samples]
        e2e["cpu_ms_per_row"] = [s["cpu_s"] * 1000 / rows for s in samples]
        # The tree's heap and worker memory grow across runs; the peak of
        # the whole timed phase is what a long-running job holds.
        e2e["peak_rss_mb"] = [max(s["rss_mb"] for s in samples)]
        e2e["ok_frac"] = [1 - failed_rows / attempted]

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"end-to-end ({args.workload}, {len(samples)} timed runs of "
          f"{wl.n_rows} rows; failed rows {failed_rows} of {attempted}, "
          f"failed_frac {failed_rows / attempted if attempted else float('nan'):.6g}):")
    for m in bench["end_to_end"]:
        _print_metric(m["name"], m["unit"], e2e.get(m["name"], []))
    if trace:
        print("per-layer (traced run):")
        for name in declared:
            if name in layer:
                _print_metric(name, units[name], [layer[name]])
            elif not any(name in PROBE_METRICS[p] for p in PROBES[args.workload]):
                print(f"  {name:38s} does not apply to {args.workload}: reported as 0")
                layer[name] = 0.0
            else:
                _print_metric(name, units[name], [])
    if report.failed:
        print(f"perfbench: {len(report.failed)} section(s) failed: {report.failed}", flush=True)
        return 1

    names = declared if trace else [m["name"] for m in bench["end_to_end"]]
    values = layer if trace else {k: statistics.median(v) for k, v in e2e.items()}
    missing = [n for n in names if n not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", flush=True)
        return 1
    result = {
        "correct": failed_rows == 0,
        "attempted": attempted,
        "failed": failed_rows,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed_rows == 0 else 1


def _eventlog_metrics(event_dir: str, n_runs: int, kernel_wall_ms: float | None) -> dict:
    from eventlog import EventLog, boundary_ms, self_test

    self_test()
    (name,) = os.listdir(event_dir)
    log = EventLog(os.path.join(event_dir, name))
    runs = [log.summary(f"perfbench timed {i}") for i in range(n_runs)]
    out = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
    if kernel_wall_ms is not None:
        out["kernel.boundary_ms"] = boundary_ms(log, "perfbench kernel", kernel_wall_ms)
    return out


if __name__ == "__main__":
    sys.exit(main())
