"""Spark event-log reader for the per-layer ``pipeline`` metrics.

Standard library only. The benchmark sets a job description before
each action; ``SparkListenerJobStart`` carries it in its properties and
lists the job's stage ids, and every ``SparkListenerTaskEnd`` carries
the task's stage id and metrics. A stage belongs to the first job that
lists it (later jobs list it again only as skipped).

Run ``python3 perfbench/eventlog.py`` for the self-test on the captured
log beside this file.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

# Accumulable that Spark's Arrow/Python runners attach to every task
# that ran Python workers: marks the kernel stage.
PYTHON_RUN_ACC = "time to run Python workers"


class EventLog:
    def __init__(self, path: str):
        self.job_desc: dict[int, str | None] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job = e["Job ID"]
            self.job_desc[job] = (e.get("Properties") or {}).get("spark.job.description")
            for stage in e["Stage IDs"]:
                self.stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics", {})
            self.tasks.append({
                "stage": e["Stage ID"],
                "failed": (info["Failed"] or info["Killed"]
                           or e["Task End Reason"]["Reason"] != "Success"),
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_read_bytes": read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
                "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                "python": any(a.get("Name") == PYTHON_RUN_ACC
                              for a in info.get("Accumulables", ())),
            })

    def tasks_of(self, desc: str) -> list[dict]:
        """Tasks of every job whose description is ``desc``."""
        jobs = {j for j, d in self.job_desc.items() if d == desc}
        if not jobs:
            raise KeyError(f"no job with description {desc!r} in the event log")
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def summary(self, desc: str) -> dict[str, float]:
        """The ``pipeline.*`` metrics of the action(s) run under ``desc``."""
        tasks = self.tasks_of(desc)
        by_stage: dict[int, list[dict]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t)
        out = {
            "pipeline.jobs": sum(d == desc for d in self.job_desc.values()),
            "pipeline.stages": len(by_stage),
            "pipeline.tasks": len(tasks),
            "pipeline.task_failures": sum(t["failed"] for t in tasks),
            "pipeline.executor_run_ms": sum(t["run_ms"] for t in tasks),
            "pipeline.jvm_cpu_ms": sum(t["cpu_ms"] for t in tasks),
            "pipeline.jvm_gc_ms": sum(t["gc_ms"] for t in tasks),
        }
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes"):
            out[f"pipeline.{k}"] = sum(t[k] for t in tasks)
        out["pipeline.max_stage_skew"] = max_stage_skew(by_stage)
        return out

    def python_run_ms(self, desc: str) -> float:
        """Executor run time of the tasks that ran Python workers."""
        tasks = [t for t in self.tasks_of(desc) if t["python"]]
        if not tasks:
            raise KeyError(f"no Python-worker task under {desc!r}")
        return sum(t["run_ms"] for t in tasks)


def max_stage_skew(by_stage: dict[int, list[dict]]) -> float:
    """max ÷ median task run time in the stage with the most run time."""
    heaviest = max(by_stage.values(), key=lambda ts: sum(t["run_ms"] for t in ts))
    times = [t["run_ms"] for t in heaviest]
    median = statistics.median(times)
    return max(times) / median if median > 0 else 1.0


def boundary_ms(log: EventLog, desc: str, kernel_wall_ms: float) -> float:
    """kernel.boundary_ms: kernel-stage executor run time minus the
    kernel's own wall time (Arrow transfer and worker overhead)."""
    return log.python_run_ms(desc) - kernel_wall_ms


def self_test() -> None:
    """Checks against numbers read off the captured log by hand: job
    description mapping, per-stage aggregation and the boundary
    subtraction."""
    log = EventLog(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "eventlog_sample.jsonl"))
    expected_desc = {0: "probe:extract", 1: "probe:extract", 2: "probe:extract",
                     3: "probe:kernel", 4: "probe:kernel", 5: "probe:kernel",
                     6: "probe:kernel"}
    assert log.job_desc == expected_desc, log.job_desc
    assert log.stage_job[3] == 2 and log.stage_job[10] == 6, log.stage_job
    s = log.summary("probe:extract")
    # Stage 2 is listed by job 2 but skipped (AQE reused job 1's
    # shuffle), so three of the four stages ran tasks.
    assert (s["pipeline.jobs"], s["pipeline.stages"], s["pipeline.tasks"]) == (3, 3, 11), s
    assert s["pipeline.executor_run_ms"] == 11619, s
    assert s["pipeline.shuffle_write_bytes"] == 158615, s
    assert s["pipeline.task_failures"] == 0
    # Heaviest stage: eight tasks, max 2424 ms, median (385 + 2259) / 2.
    assert abs(s["pipeline.max_stage_skew"] - 2424 / 1322) < 1e-12, s
    assert log.python_run_ms("probe:kernel") == 4508
    assert boundary_ms(log, "probe:kernel", 1000.0) == 3508
    try:
        log.summary("no such action")
    except KeyError:
        pass
    else:
        raise AssertionError("an unknown description must not read as zero")


if __name__ == "__main__":
    self_test()
    print("eventlog self-test passed")
    sys.exit(0)
