"""No dead imports: every module-level import in the package, the driver
entry, the jobs and the tools is used (or re-exported via ``__all__``)."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    glob.glob(os.path.join(ROOT, "go_trafilatura_spark", "*.py"))
    + [os.path.join(ROOT, "__spark_entry__.py")]
    + glob.glob(os.path.join(ROOT, "jobs", "*.py"))
    + glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


def _module_imports(tree: ast.Module):
    """(bound name, line) for each import statement at module level,
    including those nested in module-level if/try blocks."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield (alias.asname or alias.name.split(".")[0]), node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for alias in node.names:
                yield (alias.asname or alias.name), node.lineno
        elif isinstance(node, (ast.If, ast.Try)):
            stack.extend(node.body + node.orelse + getattr(node, "finalbody", []))
            for handler in getattr(node, "handlers", []):
                stack.extend(handler.body)


def _exported(tree: ast.Module) -> set[str]:
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)):
            return {elt.value for elt in node.value.elts}
    return set()


def unused_imports(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    used = {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}
    allowed = used | _exported(tree)
    return [f"{os.path.relpath(path, ROOT)}:{line}: {name}"
            for name, line in _module_imports(tree) if name not in allowed]


def test_no_unused_module_level_imports():
    assert len(SOURCES) > 30
    dead = [d for path in SOURCES for d in unused_imports(path)]
    assert dead == [], "unused module-level imports:\n" + "\n".join(dead)
