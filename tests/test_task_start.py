"""The Python worker's per-task setup: ``kernel.start_task`` drops the
zip finders that PySpark's per-task ``importlib.invalidate_caches()``
would re-read, and the kernel freezes the worker heap after its first
batch. Imports must keep working, and every Python stage must run
through a shell that calls the hook: the two mapInArrow shells of
kernel.py, and no pandas in product code outside streaming."""

import ast
import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from go_trafilatura_spark.fixtures import ensure_fixtures
from go_trafilatura_spark.kernel import OUTPUT_COLUMNS, KernelOptions, _extract_row, map_rows, start_task

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# DataFrame / grouped-data methods that run Python code in a worker.
PYTHON_STAGES = {"mapInArrow", "mapInPandas", "applyInPandas", "applyInArrow",
                 "applyInPandasWithState", "mapPartitions", "foreachPartition",
                 "udf", "pandas_udf"}
# Streaming's stateful operators keep their own per-group state shell:
# they expire state by processing-time timeout, and transformWithState
# supports state TTL only on RocksDBStateStoreProvider, a session-wide
# setting (go_trafilatura_spark/streaming.py, NOTES.md).
EXEMPT = {("go_trafilatura_spark/streaming.py", "applyInPandasWithState")}


def _zip_finders() -> list[str]:
    return [path for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)]


def _write_zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in files.items():
            z.writestr(name, source)
    return str(path)


def _python_stage_calls(path: str) -> list[tuple[str, int, str]]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    rel = os.path.relpath(path, ROOT)
    return [(rel, node.lineno, node.func.attr) for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in PYTHON_STAGES]


def _product_files() -> list[str]:
    paths = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    for package in ("go_trafilatura_spark", "jobs"):
        for root, _, files in os.walk(os.path.join(ROOT, package)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return paths


def test_python_stages_only_in_kernel_shells():
    """Python stages are called only in kernel.py, both on mapInArrow,
    so every Python stage runs through a shell that calls start_task."""
    calls = []
    for root, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in ("dist", "tests") and not d.startswith(".")]
        calls += [c for f in files if f.endswith(".py")
                  for c in _python_stage_calls(os.path.join(root, f))]
    kernel = sorted(name for rel, _, name in calls if rel == "go_trafilatura_spark/kernel.py")
    assert kernel == ["mapInArrow", "mapInArrow"]
    stray = [f"{rel}:{line}: {name}" for rel, line, name in calls
             if rel != "go_trafilatura_spark/kernel.py" and (rel, name) not in EXEMPT]
    assert stray == [], "Python stages outside the kernel shells:\n" + "\n".join(stray)


def test_no_pandas_outside_streaming():
    """Product code neither imports pandas nor uses ``pd.``; streaming's
    applyInPandasWithState operators are the one exemption."""
    found = []
    for path in _product_files():
        rel = os.path.relpath(path, ROOT)
        if rel == "go_trafilatura_spark/streaming.py":
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            modules = ([a.name for a in node.names] if isinstance(node, ast.Import)
                       else [node.module or ""] if isinstance(node, ast.ImportFrom) else [])
            if any(m.split(".")[0] == "pandas" for m in modules) or (
                    isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                    and node.value.id == "pd"):
                found.append(f"{rel}:{node.lineno}")
    assert found == [], "pandas in product code:\n" + "\n".join(found)


def test_start_task_drops_zip_finders_and_imports_still_work(tmp_path, monkeypatch):
    zip_a = _write_zip(tmp_path / "a.zip", {
        "tsa_pkg/__init__.py": "",
        "tsa_pkg/first.py": "VALUE = 1\n",
        "tsa_pkg/second.py": "VALUE = 2\n",
    })
    zip_b = _write_zip(tmp_path / "b.zip", {"tsb_mod.py": "VALUE = 3\n"})
    monkeypatch.syspath_prepend(zip_a)
    for name in ("tsa_pkg", "tsa_pkg.first", "tsa_pkg.second", "tsb_mod"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("tsa_pkg.first").VALUE == 1
    assert zip_a in _zip_finders()
    start_task()
    assert _zip_finders() == []
    # A module of the trimmed archive that was not imported yet.
    assert importlib.import_module("tsa_pkg.second").VALUE == 2
    # An archive put on the path after the trim.
    monkeypatch.syspath_prepend(zip_b)
    assert importlib.import_module("tsb_mod").VALUE == 3


@pytest.fixture(scope="module")
def spark():
    from go_trafilatura_spark.pipeline import build_session

    s = build_session(app_name="task-start-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def smoke_pages():
    return os.path.join(ensure_fixtures("smoke"), "pages.parquet")


def _kernel_rows(spark, smoke_pages):
    from go_trafilatura_spark.pipeline import extract_pages, read_pages

    computed = [c for c in OUTPUT_COLUMNS if c not in ("url", "warc_ts", "lang")]
    out = extract_pages(read_pages(spark, smoke_pages), num_partitions=4).collect()
    rows = {}
    for r in out:
        values = [r[c] for c in computed]
        spans = values[-1]
        values[-1] = None if spans is None else [s.asDict() for s in spans]
        rows[r["url"]] = tuple(values)
    return rows


def test_later_kernel_tasks_match_in_process_extract(spark, smoke_pages):
    """Four kernel tasks on two workers: each worker runs tasks after its
    first task trimmed the zip finders and froze the heap. The rows equal
    the in-process extraction, and a later task's worker holds no zip
    finder and a frozen heap."""
    table = pq.read_table(smoke_pages, columns=["url", "html"]).to_pylist()
    expected = {p["url"]: _extract_row(p["url"], p["html"], KernelOptions()) for p in table}
    assert _kernel_rows(spark, smoke_pages) == expected

    # Nested so that it is pickled by value: workers cannot import this
    # test module.
    def worker_state(_):
        import gc
        import sys
        import zipimport

        finders = [f for f in sys.path_importer_cache.values()
                   if isinstance(f, zipimport.zipimporter)]
        return [(len(finders), gc.get_freeze_count())]

    schema = StructType([StructField("zip_finders", LongType()),
                         StructField("frozen", LongType())])
    states = map_rows(spark.range(8).repartition(8), ["id"], schema, worker_state).collect()
    assert len(states) == 8
    assert {s["zip_finders"] for s in states} == {0}
    assert any(s["frozen"] > 0 for s in states)


def test_add_py_file_after_kernel_tasks(spark, smoke_pages, tmp_path):
    """The contract PySpark's per-task invalidate_caches() serves: a zip
    added with addPyFile after the workers ran the kernel is importable
    in a later task."""
    assert _kernel_rows(spark, smoke_pages)
    spark.sparkContext.addPyFile(_write_zip(
        tmp_path / "task_start_late.zip", {"task_start_late.py": "VALUE = 42\n"}))

    def late_value(i):
        import task_start_late

        return [(i, task_start_late.VALUE)]

    schema = StructType([StructField("id", LongType()), StructField("value", LongType())])
    rows = map_rows(spark.range(4).repartition(4), ["id"], schema, late_value).collect()
    assert sorted(tuple(r) for r in rows) == [(i, 42) for i in range(4)]
