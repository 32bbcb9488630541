"""Start and fully stop a Spark session for one benchmark run.

The session is the program's own ``pipeline.build_session`` at
``local[4]``; the benchmark adds only deployment settings: every file
inside the checkout, on the traced run the event log, and a JVM heap
committed and touched at launch, so resident memory does not depend on
when the heap happened to grow. JIT compiler threads are kept alive so
their CPU time can be read and left out of the CPU cost.
``stop`` ends the driver JVM and waits for every process it started.
"""

from __future__ import annotations

import os

from proctree import descendants, reap_all

CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and the Python workers inherit: the package
    importable from the checkout, temp files under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start(work: str, event_log_dir: str | None = None):
    from go_trafilatura_spark.pipeline import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name="perfbench", master=f"local[{CORES}]",
                          shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, end the gateway JVM (it exits when its stdin
    closes) and wait for the JVM, the PySpark daemon and its workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = [proc.pid] + descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        reap_all(tree)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid
