"""One session builder: outside ``pipeline.build_session`` no program
module touches ``SparkSession.builder``.

``build_session`` carries the settings every long-lived session needs,
among them the generated-class cache size: Spark sizes that cache once
per JVM, from the first session that compiles, so a second builder in
the same process could fix it at Spark's default and make every
repeated curation pass recompile its classes.

Exempt: ``jobs/*`` are spark-submit entry points; they attach to the
session spark-submit configured and run the pipeline once per submit,
so the deployment owns their settings. ``tests/`` may build a session
to pin the very setting a test is about."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    glob.glob(os.path.join(ROOT, "go_trafilatura_spark", "*.py"))
    + [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
)

OWNER = (os.path.join("go_trafilatura_spark", "pipeline.py"), "build_session")


def builder_uses(tree: ast.Module) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of each ``SparkSession.builder`` or
    ``<module>.SparkSession.builder`` in ``tree``."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Attribute) and node.attr == "builder":
            v = node.value
            name = v.id if isinstance(v, ast.Name) else getattr(v, "attr", None)
            if name == "SparkSession":
                found.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_only_build_session_builds_sessions():
    found, owner_seen = [], False
    for path in SOURCES:
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for line, func in builder_uses(tree):
            if (rel, func) == OWNER:
                owner_seen = True
            else:
                found.append(f"{rel}:{line} in {func}")
    assert found == [], (
        "SparkSession.builder outside pipeline.build_session:\n" + "\n".join(found))
    assert owner_seen


def test_builder_check_sees_every_form():
    src = (
        "import pyspark\n"
        "def start():\n"
        "    return SparkSession.builder.getOrCreate()\n"
        "b = pyspark.sql.SparkSession.builder\n"
        "class Job:\n"
        "    def run(self):\n"
        "        s = (SparkSession\n"
        "             .builder.master('local[2]'))\n"
        "        self.builder.build()\n"
        "        SparkSession.getActiveSession()\n"
        "        return s\n"
    )
    assert builder_uses(ast.parse(src)) == [(3, "start"), (4, None), (7, "run")]


def test_origin_capture_off_unless_extra_conf(monkeypatch):
    """``build_session`` turns PySpark's per-call origin capture off;
    ``extra_conf`` can turn it back on. The builder's options are read
    in place of starting a session."""
    from pyspark.sql import SparkSession

    from go_trafilatura_spark.pipeline import build_session

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert build_session()[key] == "false"
    assert build_session(extra_conf={key: "true"})[key] == "true"
