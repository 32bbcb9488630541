"""No dead imports: every module-level import in the package, the driver
entry, the bench and the jobs is used (or re-exported via ``__all__``).
No dead definitions: every module-level function and class of the
package is referenced somewhere in the repository's Python files
outside its own definition (or exported via ``__all__``), and every
private one, method included, is referenced by the package's own code."""

import ast
import glob
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    glob.glob(os.path.join(ROOT, "go_trafilatura_spark", "*.py"))
    + [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    + glob.glob(os.path.join(ROOT, "jobs", "*.py"))
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


def unreferenced_private_definitions(sources: dict[str, str]) -> list[str]:
    """``file:line: name`` of each private (leading ``_``, not dunder)
    function, method or class in ``sources`` (path -> code) whose name
    no code in ``sources`` reads as a name or an attribute outside the
    lines of its own definition. Comments and strings do not count."""
    trees = {path: ast.parse(code, path) for path, code in sources.items()}
    refs = [(node.id if isinstance(node, ast.Name) else node.attr, path, node.lineno)
            for path, tree in trees.items() for node in ast.walk(tree)
            if isinstance(node, (ast.Name, ast.Attribute))]
    found = []
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                    and node.name.startswith("_") and not node.name.endswith("__")
                    and not any(name == node.name and not (
                        p == path and node.lineno <= line <= node.end_lineno)
                        for name, p, line in refs)):
                found.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}: {node.name}")
    return found


def test_no_dead_private_definitions():
    sources = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "go_trafilatura_spark", "*.py"))):
        with open(path, encoding="utf-8") as f:
            sources[path] = f.read()
    dead = unreferenced_private_definitions(sources)
    assert dead == [], "private definitions the package never references:\n" + "\n".join(dead)


def test_private_definition_check_sees_every_form():
    src = (
        "def _dead(x):\n"
        "    return _dead(x - 1)  # recursion is its own body\n"
        "def _called():\n"
        "    pass\n"
        "class _Kept:\n"
        "    def _method(self):\n"
        "        return self._used()\n"
        "    def _used(self):\n"
        "        pass\n"
        "    def __init__(self):\n"
        "        pass\n"
        "def public():\n"
        "    '_named_in_a_string'\n"
        "    return _called, _Kept  # _commented\n"
        "def _named_in_a_string():\n"
        "    pass\n"
        "def _commented():\n"
        "    pass\n"
    )
    assert sorted(unreferenced_private_definitions({os.path.join(ROOT, "f.py"): src})) == [
        "f.py:15: _named_in_a_string", "f.py:17: _commented", "f.py:1: _dead",
        "f.py:6: _method"]


PACKAGE = "go_trafilatura_spark"
_RX_CONSTANT = re.compile(r"[A-Z][A-Z0-9_]*$")


def _package_module_names(tree: ast.Module) -> set[str]:
    """Names a file binds to the package or to one of its modules."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    names.add(alias.asname or PACKAGE)
        elif (isinstance(node, ast.ImportFrom) and node.level == 0
              and (node.module or "").split(".")[0] == PACKAGE):
            pkg_dir = os.path.join(ROOT, *node.module.split("."))
            for alias in node.names:
                if os.path.isfile(os.path.join(pkg_dir, alias.name + ".py")):
                    names.add(alias.asname or alias.name)
    return names


def _root_name(node: ast.expr) -> str | None:
    while isinstance(node, ast.Attribute):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _assigned_attributes(node: ast.AST):
    """(object, attribute name) pairs an assignment or a setattr call
    (including ``monkeypatch.setattr``) writes; the object is None for
    the dotted-string form ``setattr("pkg.mod.NAME", value)``."""
    if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
        stack = list(getattr(node, "targets", [getattr(node, "target", None)]))
        while stack:
            t = stack.pop()
            if isinstance(t, (ast.Tuple, ast.List)):
                stack.extend(t.elts)
            elif isinstance(t, ast.Attribute):
                yield t.value, t.attr
    elif isinstance(node, ast.Call) and node.args:
        func = node.func
        name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
        if name != "setattr":
            return
        first = node.args[0]
        if isinstance(first, ast.Constant) and isinstance(first.value, str):
            yield None, first.value
        elif (len(node.args) > 1 and isinstance(node.args[1], ast.Constant)
              and isinstance(node.args[1].value, str)):
            yield first, node.args[1].value


def _module_switches(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, name) of each UPPER_CASE attribute of a package module the
    file sets."""
    modules = _package_module_names(tree)
    found = []
    for node in ast.walk(tree):
        for obj, attr in _assigned_attributes(node):
            if obj is None:
                owner, _, attr = attr.rpartition(".")
                hit = owner.split(".")[0] == PACKAGE
            else:
                hit = _root_name(obj) in modules
            if hit and _RX_CONSTANT.match(attr):
                found.append((node.lineno, attr))
    return found


def test_no_test_only_module_switches():
    """No file under tests/ sets an UPPER_CASE attribute of a package
    module: a module switch only tests flip is a second code path."""
    found = []
    for path in sorted(glob.glob(os.path.join(ROOT, "tests", "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        found += [f"{os.path.relpath(path, ROOT)}:{line}: {name}"
                  for line, name in _module_switches(tree)]
    assert found == [], "tests assign package module constants:\n" + "\n".join(found)


def test_module_switch_check_sees_every_form():
    src = (
        "import go_trafilatura_spark as gts\n"
        "from go_trafilatura_spark import etree\n"
        "from go_trafilatura_spark.metadata import extract_date_fast\n"
        "etree.FAST = True\n"
        "gts.etree.SLOW, x = 1, 2\n"
        "monkeypatch.setattr(etree, 'LIMIT', 3)\n"
        "monkeypatch.setattr('go_trafilatura_spark.kernel.BATCH', 4)\n"
        "setattr(etree, 'OTHER', 5)\n"
        "etree.lower_case = 6\n"
        "extract_date_fast.NOT_A_MODULE = 7\n"
        "monkeypatch.setattr('sys.argv', [])\n"
    )
    assert sorted(name for _, name in _module_switches(ast.parse(src))) == [
        "BATCH", "FAST", "LIMIT", "OTHER", "SLOW"]


# Parameters a package function may leave unread, each with its reason.
UNREAD_PARAMETER_EXEMPTIONS = {
    "etree.py: _TreeBuilder.updatepos(i)":
        "HTMLParser override: keeps the base signature, skips line counting",
    "etree.py: _TreeBuilder.handle_decl(decl)": "HTMLParser override: doctype ignored",
    "etree.py: _TreeBuilder.handle_pi(data)": "HTMLParser override: PI ignored",
    "etree.py: _TreeBuilder.unknown_decl(data)": "HTMLParser override: ignored",
    "multimodal.py: DecodeBackend.decode_image(payload)": "interface stub",
    "multimodal.py: DecodeBackend.sample_frames(payload)": "interface stub",
    "multimodal.py: DecodeBackend.sample_frames(n)": "interface stub",
    "multimodal.py: DecodeBackend.decode_audio(payload)": "interface stub",
    "pipeline.py: TableSink.append(df)": "interface stub",
    "pipeline.py: TableSink.overwrite_partitions(df)": "interface stub",
    "pipeline.py: TableSink.read(spark)": "interface stub",
}

_COMPOUND = (ast.If, ast.For, ast.AsyncFor, ast.While, ast.Try, ast.With, ast.AsyncWith,
             ast.Match) + ((ast.TryStar,) if hasattr(ast, "TryStar") else ())


def _parameters(fn) -> list[str]:
    a = fn.args
    return [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
            if p is not None]


class _FirstUse(ast.NodeVisitor):
    """Visits a function body in evaluation order and records whether each
    watched name is first read or first rebound. A rebinding inside a
    branch or a loop may not run, so only those at the body's top level
    count; names a nested function or lambda rebinds as its own
    parameters are not the watched ones inside it."""

    def __init__(self, names):
        self.first = dict.fromkeys(names)
        self.shadowed: list[set] = []
        self.depth = 0

    def _note(self, name, read):
        if (self.first.get(name, "") is None and (read or self.depth == 0)
                and not any(name in s for s in self.shadowed)):
            self.first[name] = "read" if read else "rebound"

    def visit_Name(self, node):
        self._note(node.id, isinstance(node.ctx, ast.Load))

    def visit_Assign(self, node):
        self.visit(node.value)
        for target in node.targets:
            self.visit(target)

    def visit_AugAssign(self, node):
        if isinstance(node.target, ast.Name):
            self._note(node.target.id, True)
        self.visit(node.value)

    def visit_AnnAssign(self, node):
        if node.value is not None:
            self.visit(node.value)
        self.visit(node.target)

    def visit_NamedExpr(self, node):
        self.visit(node.value)
        self.visit(node.target)

    def visit_comprehension(self, node):
        self.visit(node.iter)
        self.visit(node.target)
        for cond in node.ifs:
            self.visit(cond)

    def visit_FunctionDef(self, node):
        for expr in (getattr(node, "decorator_list", []) + node.args.defaults
                     + node.args.kw_defaults):
            if expr is not None:
                self.visit(expr)
        self.shadowed.append(set(_parameters(node)))
        self.depth += 1
        for stmt in node.body if isinstance(node.body, list) else [node.body]:
            self.visit(stmt)
        self.depth -= 1
        self.shadowed.pop()

    visit_AsyncFunctionDef = visit_Lambda = visit_FunctionDef

    def generic_visit(self, node):
        if isinstance(node, (ast.For, ast.AsyncFor)):
            self.visit(node.iter)
        compound = isinstance(node, _COMPOUND)
        self.depth += compound
        super().generic_visit(node)
        self.depth -= compound


def unread_parameters(source: str, filename: str) -> list[str]:
    """``file: Class.function(parameter)`` for each parameter (bar self and
    cls) that its function rebinds before reading it, or never reads."""
    found = []

    def visit(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, f"{prefix}{child.name}.")
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names = [p for p in _parameters(child) if p not in ("self", "cls")]
                use = _FirstUse(names)
                for stmt in child.body:
                    use.visit(stmt)
                found.extend(f"{filename}: {prefix}{child.name}({p})"
                             for p in names if use.first[p] != "read")
                visit(child, f"{prefix}{child.name}.")
            else:
                visit(child, prefix)

    visit(ast.parse(source), "")
    return found


def test_every_parameter_is_read():
    found = []
    for path in sorted(glob.glob(os.path.join(ROOT, "go_trafilatura_spark", "*.py"))):
        with open(path, encoding="utf-8") as f:
            found += unread_parameters(f.read(), os.path.basename(path))
    unexempted = [f for f in found if f not in UNREAD_PARAMETER_EXEMPTIONS]
    assert unexempted == [], "parameters never read before rebinding:\n" + "\n".join(unexempted)
    stale = sorted(set(UNREAD_PARAMETER_EXEMPTIONS) - set(found))
    assert stale == [], "exemptions that no longer apply:\n" + "\n".join(stale)


def test_unread_parameter_check_sees_every_form():
    src = (
        "def overwritten(a, b, *args, c, **kw):\n"
        "    a = 1\n"
        "    return a\n"
        "def read(x, y, z, w, v):\n"
        "    x = x + 1\n"
        "    y += 1\n"
        "    if x:\n"
        "        z = 2\n"
        "    g = lambda: w\n"
        "    return [u for u in v if z], g\n"
        "def shadowed(p, q):\n"
        "    def inner(p):\n"
        "        return p, q\n"
        "    for q in range(3):\n"
        "        pass\n"
        "    return inner\n"
        "class K:\n"
        "    def m(self, unused):\n"
        "        return self\n"
    )
    assert unread_parameters(src, "f.py") == [
        "f.py: overwritten(a)", "f.py: overwritten(b)", "f.py: overwritten(c)",
        "f.py: overwritten(args)", "f.py: overwritten(kw)", "f.py: shadowed(p)",
        "f.py: K.m(unused)"]
