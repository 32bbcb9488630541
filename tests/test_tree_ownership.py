"""One owner for the text/tail model: outside ``etree.py`` no product
module augments an element's ``.text`` or ``.tail`` or mutates its
``.children``. Adding text at the end of an element, taking its content
apart and putting it back go through ``etree.append_text``,
``etree.detach_content`` and ``etree.append_part``; removals through
``etree.remove``.

The one named exemption is ``readability._replace_node``, the port of
readability.js's replaceNode, which moves an attached node into another
node's place.

The same goes for finding elements: one query path in ``selectors.py``
and the descendant walks in ``etree.py`` (see the second half)."""

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


# -- one element-query path ------------------------------------------------
#
# Elements are found by ``selectors.query``/``query_all``/``query_iter``:
# their one candidate scan (``selectors._candidates``) turns a rule's
# declared tags into a tag-filtered walk or a TreeIndex lookup. css.py
# only parses selector groups into rules, and the doc-order descendant
# walks live in etree.py.

_SCANS = frozenset(("candidates", "_candidates", "_rule_candidates"))


def candidate_scans(tree: ast.Module) -> list[int]:
    """Lines that call or import a selector candidate scan:
    ``x.candidates(...)``, ``selectors._candidates(...)``,
    ``_rule_candidates(...)``, ``from .selectors import _candidates``."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if ((isinstance(f, ast.Attribute) and f.attr in _SCANS)
                    or (isinstance(f, ast.Name) and f.id == "_rule_candidates")):
                lines.append(node.lineno)
        elif (isinstance(node, ast.ImportFrom) and (node.module or "").endswith("selectors")
              and any(a.name in _SCANS for a in node.names)):
            lines.append(node.lineno)
    return sorted(lines)


def query_functions(tree: ast.Module) -> list[str]:
    return [n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and n.name.startswith("query")]


def _is_minus_one(node) -> bool:
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
        node = node.operand
        return isinstance(node, ast.Constant) and node.value == 1
    return isinstance(node, ast.Constant) and node.value == -1


def reversed_children(tree: ast.Module) -> list[int]:
    """Lines that reverse an element's children, the start of a
    hand-written doc-order stack walk: ``x.children[::-1]`` or
    ``reversed(x.children)``."""
    lines = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Subscript) and _is_children(node.value)
                and isinstance(node.slice, ast.Slice)
                and node.slice.lower is None and node.slice.upper is None
                and _is_minus_one(node.slice.step)):
            lines.append(node.lineno)
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
              and node.func.id == "reversed" and node.args
              and _is_children(node.args[0])):
            lines.append(node.lineno)
    return sorted(lines)


def _is_children_of(node, aliases) -> bool:
    return _is_children(node) or (isinstance(node, ast.Name) and node.id in aliases)


def forward_children_pushes(tree: ast.Module) -> list[int]:
    """Lines inside a ``while`` loop that push an element's children onto
    a work list in order, the other start of a hand-written stack walk:
    ``stack.extend(x.children)``, ``stack += x.children`` or
    ``for c in x.children: stack.append(c)``, also through a name bound
    to ``x.children`` in the loop."""
    lines = set()
    for loop in ast.walk(tree):
        if not isinstance(loop, ast.While):
            continue
        aliases = {t.id for n in ast.walk(loop) if isinstance(n, ast.Assign)
                   and _is_children(n.value) for t in n.targets if isinstance(t, ast.Name)}
        for node in ast.walk(loop):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "extend" and node.args
                    and _is_children_of(node.args[0], aliases)):
                lines.add(node.lineno)
            elif (isinstance(node, ast.AugAssign) and isinstance(node.op, ast.Add)
                  and _is_children_of(node.value, aliases)):
                lines.add(node.lineno)
            elif (isinstance(node, ast.For) and isinstance(node.target, ast.Name)
                  and _is_children_of(node.iter, aliases)):
                var = node.target.id
                lines.update(
                    n.lineno for n in ast.walk(node)
                    if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "append" and len(n.args) == 1
                    and isinstance(n.args[0], ast.Name) and n.args[0].id == var)
    return sorted(lines)


def _parsed_sources():
    for path in SOURCES:
        with open(path, encoding="utf-8") as f:
            yield os.path.relpath(path, ROOT), ast.parse(f.read(), path)


def test_one_element_query_path():
    pkg = "go_trafilatura_spark"
    found = []
    for rel, tree in _parsed_sources():
        if rel != os.path.join(pkg, "selectors.py"):
            found += [f"{rel}:{line}: candidate scan" for line in candidate_scans(tree)]
        if rel != os.path.join(pkg, "etree.py"):
            found += [f"{rel}:{line}: reversed children walk" for line in reversed_children(tree)]
            found += [f"{rel}:{line}: forward children walk"
                      for line in forward_children_pushes(tree)]
        if rel == os.path.join(pkg, "css.py"):
            found += [f"{rel}: defines {name}" for name in query_functions(tree)]
    assert found == [], "element queries outside their owners:\n" + "\n".join(found)


def test_query_path_checks_see_every_form():
    src = (
        "from .selectors import _candidates\n"
        "def query_all(root, sel):\n"
        "    a = index.candidates(rule)\n"
        "    b = selectors._candidates(root, rule)\n"
        "    c = _rule_candidates(root, rule)\n"
        "    stack = el.children[::-1]\n"
        "    stack.extend(reversed(node.children))\n"
        "    d = el.children[:-1]\n"
        "    e = reversed(kids)\n"
        "    f = _candidates(cleaned_doc, options)\n"
        "def _query(root):\n"
        "    pass\n"
    )
    tree = ast.parse(src)
    assert candidate_scans(tree) == [1, 3, 4, 5]
    assert reversed_children(tree) == [6, 7]
    assert query_functions(tree) == ["query_all"]


def test_forward_walk_check_sees_every_form():
    src = (
        "def comments(doc):\n"
        "    stack, out = [doc], []\n"
        "    while stack:\n"
        "        node = stack.pop()\n"
        "        for child in node.children:\n"
        "            if child.tag == COMMENT:\n"
        "                out.append(child)\n"
        "            else:\n"
        "                stack.append(child)\n"
        "        stack.extend(node.children)\n"
        "        kids = node.children\n"
        "        stack += kids\n"
        "def fine(el, out):\n"
        "    for child in el.children:\n"
        "        out.append(child)\n"
        "    while out:\n"
        "        last = out.pop()\n"
        "        out.extend(last.parts)\n"
        "        for child in last.children:\n"
        "            out.append(child.tail)\n"
    )
    assert forward_children_pushes(ast.parse(src)) == [7, 9, 10, 12]
