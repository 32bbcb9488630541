"""One owner for the text/tail model: outside ``etree.py`` no product
module augments an element's ``.text`` or ``.tail`` or mutates its
``.children``. Adding text at the end of an element, taking its content
apart and putting it back go through ``etree.append_text``,
``etree.detach_content`` and ``etree.append_part``; removals through
``etree.remove``.

The one named exemption is ``readability._replace_node``, the port of
readability.js's replaceNode, which moves an attached node into another
node's place."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    glob.glob(os.path.join(ROOT, "go_trafilatura_spark", "*.py"))
    + [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    + glob.glob(os.path.join(ROOT, "jobs", "*.py"))
)

EXEMPT = {("go_trafilatura_spark/readability.py", "_replace_node")}

_LIST_MUTATORS = frozenset(
    "append extend insert remove pop clear sort reverse __setitem__ __delitem__ __iadd__"
    .split())


def _is_children(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "children"


def _mutation(node: ast.AST) -> str | None:
    """What ``node`` writes of the text/tail model, or None."""
    if isinstance(node, ast.AugAssign):
        t = node.target
        if isinstance(t, ast.Attribute) and t.attr in ("text", "tail"):
            return f".{t.attr} +="
    targets = []
    if isinstance(node, (ast.Assign, ast.Delete)):
        targets = node.targets
    elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
        targets = [node.target]
    stack = list(targets)
    while stack:
        t = stack.pop()
        if isinstance(t, (ast.Tuple, ast.List)):
            stack.extend(t.elts)
        elif _is_children(t) or (isinstance(t, ast.Subscript) and _is_children(t.value)):
            return "writes .children"
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in _LIST_MUTATORS and _is_children(node.func.value)):
        return f".children.{node.func.attr}()"
    return None


def tree_mutations(tree: ast.Module) -> list[tuple[int, str | None, str]]:
    """(line, enclosing top-level or nested function, what) for each
    text/tail/children write in ``tree``."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        what = _mutation(node)
        if what:
            found.append((node.lineno, func, what))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_only_etree_stitches_element_content():
    found, exempted = [], set()
    for path in SOURCES:
        rel = os.path.relpath(path, ROOT)
        if rel == os.path.join("go_trafilatura_spark", "etree.py"):
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for line, func, what in tree_mutations(tree):
            if (rel, func) in EXEMPT:
                exempted.add((rel, func))
            else:
                found.append(f"{rel}:{line} in {func}: {what}")
    assert found == [], (
        "text/tail/children written outside etree.py:\n" + "\n".join(found))
    # the exemption names live code: drop it when the function goes
    assert exempted == EXEMPT


def test_tree_mutation_check_sees_every_form():
    src = (
        "def f(el, p, s):\n"
        "    el.text += s\n"
        "    p.children[-1].tail += s\n"
        "    el.children = []\n"
        "    el.children[0] = p\n"
        "    del el.children[0]\n"
        "    el.children.append(p)\n"
        "    el.parent.children.remove(p)\n"
        "    el.children += [p]\n"
        "    a, el.children = 1, []\n"
        "    el.text = s\n"
        "    el.tail = ''\n"
        "    n = len(el.children)\n"
        "    el.children.index(p)\n"
        "    self.parts.append(p)\n"
    )
    assert [line for line, func, _ in tree_mutations(ast.parse(src))] == list(range(2, 11))
    assert {func for _, func, _ in tree_mutations(ast.parse(src))} == {"f"}
