"""No dead imports: every module-level import in the package, the driver
entry, the jobs and the tools is used (or re-exported via ``__all__``).
No dead definitions: every module-level function and class of the
package is referenced somewhere in the repository's Python files
outside its own definition (or exported via ``__all__``)."""

import ast
import glob
import os
import re
from collections import Counter

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



def _repo_sources() -> list[str]:
    """Every .py file of the repository except the built ``dist/``."""
    out = []
    for root, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d != "dist" and not d.startswith(".")]
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


_RX_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def dead_definitions() -> list[str]:
    """Package-level functions and classes whose name appears nowhere in
    the repository's .py files (code, strings or comments) outside the
    lines of their own definition."""
    words = {}  # path -> [(word, line)]
    for path in _repo_sources():
        with open(path, encoding="utf-8") as f:
            words[path] = [(m.group(), lineno)
                           for lineno, line in enumerate(f, 1)
                           for m in _RX_WORD.finditer(line)]
    total = Counter(w for pairs in words.values() for w, _ in pairs)
    dead = []
    for path in sorted(glob.glob(os.path.join(ROOT, "go_trafilatura_spark", "*.py"))):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        exported = _exported(tree)
        for node in tree.body:
            if (not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                    or node.name in exported):
                continue
            own = sum(1 for w, line in words[path]
                      if w == node.name and node.lineno <= line <= node.end_lineno)
            if total[node.name] == own:
                dead.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}: {node.name}")
    return dead


def test_no_dead_module_level_definitions():
    dead = dead_definitions()
    assert dead == [], "module-level definitions nothing references:\n" + "\n".join(dead)
