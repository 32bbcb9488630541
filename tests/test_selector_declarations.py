"""Every element query is one ``selectors.Rule``, declared once.

- Every rule of ``selectors``' rule lists, every container rule and
  every ``css.parse_group`` selector group the package parses is a
  ``Rule``, immutable, so its declaration is set when it is built; and
  no statement in the package assigns a declaration field onto an
  existing object.
- Each declaration is exact. A rule that declares ``needs_attrs`` never
  matches an element without attributes (the candidate scan of
  ``selectors.query*`` never shows it one, so a wrong declaration would
  silently drop matches), and one that does not declare it matches some
  bare element. The corpus is the 800 ``fixtures/correctness`` pages,
  the seed-1 ``extract_fallback`` benchmark pages, the upper-cased
  attribute-name pages of the cascade parity test, the container page
  of ``test_selector_screens`` and a page of hand-written matches for
  the rules those pages never trigger; and a bare element of each
  declared tag.

A rule's ``tags`` is its tag test itself, stated nowhere else, so there
is no second statement for a check to compare it with."""

import ast
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import pyarrow.parquet as pq
import pytest

from go_trafilatura_spark import css, etree, selectors

RULE_LISTS = {name: value for name, value in vars(selectors).items()
              if name.isupper() and isinstance(value, list)}
LISTED = [rule for rules in RULE_LISTS.values() for rule in rules]
CONTAINERS = selectors.META_CATEGORIES + selectors.META_TAGS + [selectors.license_footer_rule]

DECLARATION_FIELDS = frozenset(("tags", "needs_attrs"))
# ``tags`` is also a field of ``metadata.Metadata``: the names metadata.py
# gives its Metadata records are exempt from the write check for it
METADATA_RECORDS = frozenset(("metadata", "original"))


# One match for each rule the page corpora leave unmatched (the
# container rules get test_selector_screens' page).
WITNESSES = (
    '<div class="comments-title">x</div><header>h</header>'
    '<div class="caption">c</div><div id="disqus_thread">d</div>'
    '<div id="respond">r</div><cite>c</cite><quote>q</quote>'
    '<span class="signin">s</span><h1 class="entry-title">t</h1>'
    '<span class="post-title">t</span><h3 class="title">t</h3>'
    '<author>a</author><span class="author">a</span><a rel="me">m</a>'
    '<h4 class="byline">b</h4><em class="writer">w</em>'
    "<time>t</time><figure>f</figure>"
)

TAGS = sorted(set().union(*(r.tags for r in LISTED if r.tags is not None))
              | set("html body nav aside footer em i b li td table form img".split()))


@pytest.fixture(scope="module")
def pages():
    """(parser, html) of every corpus page."""
    from go_trafilatura_spark.fixtures import ensure_fixtures
    from perfbench import gen
    from test_selector_screens import _digest_pages, _meta_anchor_page, _upper_attr_names

    htmls = pq.read_table(os.path.join(ensure_fixtures("correctness"), "pages.parquet"),
                          columns=["html"]).column("html").to_pylist()
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        params = json.load(f)["workloads"]["extract_fallback"]["generator"]
    htmls += [row["html"] for row in gen.fallback_pages(1, params)]
    htmls += [_meta_anchor_page(), f"<html><body>{WITNESSES}</body></html>"]
    out = [(etree.parse_html, html) for html in htmls]
    for html in map(_upper_attr_names, _digest_pages(20)):
        out += [(etree.parse_html, html), (etree.parse_html_stdlib, html)]
    return out


@pytest.fixture(scope="module")
def docs(pages):
    return [etree.TreeIndex(parse(html)) for parse, html in pages]


def _bare_matches(rule, docs) -> list[str]:
    """Elements without attributes that ``rule`` matches: in the corpus,
    and a new element of each tag it can match."""
    tags = rule.tags or TAGS
    found = [etree.tostring(el)[:80] for index in docs for el in index.candidates(rule.tags)
             if not etree.has_attrs(el) and rule.match(el)]
    return found + [f"bare {t}" for t in sorted(tags) if rule.match(etree.new_element(t))]


def _breaches(rule, docs) -> list[str]:
    """Where ``rule``'s ``needs_attrs`` is not exact: it is declared and
    a bare element matches, or it is not and none does."""
    bare = _bare_matches(rule, docs)
    return bare if rule.needs_attrs else [] if bare else ["no bare match: needs_attrs"]


def _unmatched(rules, docs) -> list[str]:
    """The ``rules`` that match nothing in the corpus."""
    return [r.name for r in rules if not any(selectors.query_all(index, r) for index in docs)]


def test_rule_lists_carry_declarations(docs):
    assert set(RULE_LISTS) >= {"CONTENT", "COMMENTS", "META_AUTHOR", "META_TAGS"}
    assert len([r for r in LISTED if r.needs_attrs]) >= 30
    assert _unmatched(LISTED, docs) == []


@pytest.mark.parametrize("rule", LISTED + [selectors.license_footer_rule], ids=lambda r: r.name)
def test_rule_declaration_is_exact(rule, docs):
    assert _breaches(rule, docs) == [], rule.name


def test_narrowed_declaration_is_caught(docs):
    """The corpus exercises the checks: claiming attributes for a rule
    that matches on its tag alone, leaving out a rule's need for them,
    or declaring tags none of its matches carry is reported."""
    assert not _breaches(selectors.content_rule_2, docs)
    assert _breaches(selectors.content_rule_2._replace(needs_attrs=True), docs)
    assert _breaches(selectors.content_rule_4._replace(needs_attrs=False), docs)
    narrowed = selectors.discarded_image_rule._replace(tags=frozenset(("h6",)))
    assert _unmatched([narrowed], docs) == [narrowed.name]


# -- one rule form -----------------------------------------------------------

def _package_sources():
    for path in sorted(glob.glob(os.path.join(ROOT, "go_trafilatura_spark", "*.py"))):
        with open(path, encoding="utf-8") as f:
            yield os.path.relpath(path, ROOT), ast.parse(f.read(), path)


def parsed_groups(tree: ast.Module) -> list[str]:
    """The literal selector groups a module passes to ``css.parse_group``,
    directly or through ``map``."""
    def is_parse_group(f) -> bool:
        return ((isinstance(f, ast.Attribute) and f.attr == "parse_group")
                or (isinstance(f, ast.Name) and f.id == "parse_group"))

    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        if is_parse_group(node.func):
            args = node.args[:1]
        elif (isinstance(node.func, ast.Name) and node.func.id == "map"
              and len(node.args) == 2 and is_parse_group(node.args[0])):
            args = node.args[1].elts if isinstance(node.args[1], (ast.Tuple, ast.List)) else []
        else:
            continue
        found += [a.value for a in args if isinstance(a, ast.Constant) and isinstance(a.value, str)]
    return found


def _declaration_target(t) -> bool:
    return (isinstance(t, ast.Attribute) and t.attr in DECLARATION_FIELDS
            and not (t.attr == "tags" and isinstance(t.value, ast.Name)
                     and t.value.id in METADATA_RECORDS))


def declaration_writes(tree: ast.Module) -> list[int]:
    """Lines that assign a declaration field onto an existing object:
    ``x.tags = ...`` (also augmented, annotated or unpacked) or
    ``setattr(x, "tags", ...)``; ``metadata.tags = ...`` is a Metadata
    field."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            targets = [t for target in node.targets for t in ast.walk(target)]
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
              and node.func.id == "setattr" and len(node.args) >= 2
              and isinstance(node.args[1], ast.Constant)
              and node.args[1].value in DECLARATION_FIELDS):
            lines.append(node.lineno)
            continue
        else:
            continue
        if any(map(_declaration_target, targets)):
            lines.append(node.lineno)
    return sorted(lines)


def test_every_query_is_one_rule_form():
    groups = [g for _, tree in _package_sources() for g in parsed_groups(tree)]
    assert len(groups) >= 15
    rules = LISTED + CONTAINERS + [css.parse_group(g) for g in groups]
    assert [r for r in rules if not isinstance(r, selectors.Rule)] == []
    for rule in rules:
        for field in DECLARATION_FIELDS & set(selectors.Rule._fields):
            with pytest.raises(AttributeError):
                setattr(rule, field, getattr(rule, field))
    found = [f"{rel}:{line}" for rel, tree in _package_sources()
             for line in declaration_writes(tree)]
    assert found == [], "declaration fields assigned after a rule is built:\n" + "\n".join(found)


def test_rule_form_checks_see_every_form():
    src = (
        "rule.tags = frozenset()\n"
        "rule.needs_attrs |= True\n"
        "rule.tags: frozenset = frozenset()\n"
        "a.needs_attrs, b = False, 1\n"
        "setattr(rule, 'needs_attrs', None)\n"
        "tags = frozenset()\n"
        "metadata.tags = []\n"
        "x = css.parse_group('div a')\n"
        "y = tuple(map(css.parse_group, ('p', 'a[href]')))\n"
        "doc.tags = []\n"
    )
    tree = ast.parse(src)
    assert declaration_writes(tree) == [1, 2, 3, 4, 5, 10]
    assert parsed_groups(tree) == ["div a", "p", "a[href]"]
