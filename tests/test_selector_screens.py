"""Lazy attributes: an element's attributes are parsed on their first
read, so every attribute test sees the same names and values as on a
tree whose attributes were parsed up front.

- The container scan (``selectors.anchors_by_ancestor``) returns the
  anchors of a naive ancestor walk.
- id+class and id+style concatenations match across the value boundary.
- Only etree touches the lazy-attribute slots.
- Upper-case attribute names extract the same on the fast tree (lazy
  attributes) as on the stdlib tree (parsed attributes): the microdata
  date, readability's class weights and visibility tests, and the whole
  cascade."""

import ast
import glob
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from go_trafilatura_spark import etree, selectors

CONTAINER_RULES = selectors.META_CATEGORIES + selectors.META_TAGS + [
    selectors.license_footer_rule]


def test_screen_spans_match_expected():
    """Rules that test an id+class or id+style concatenation match a
    literal split across the two values."""
    doc = etree.parse_html(
        '<html><body>'
        '<div id="comment" class="list">x</div>'     # commentlist span
        '<div id="s" class="hare-buttons">x</div>'   # shar span
        '<p id="hidde" style="n">x</p>'              # hidden span
        '</body></html>')
    index = etree.TreeIndex(doc)
    assert len(selectors.query_all(index, selectors.comments_rule_1)) == 1
    assert len(selectors.query_all(index, selectors.overall_discarded_rule_1)) >= 1
    assert len(selectors.query_all(index, selectors.overall_discarded_rule_2)) >= 1


# (tag, attribute, value) of a container each container rule accepts;
# every rule matches at least one of them.
META_CONTAINERS = [
    ("div", "class", "post-meta"), ("div", "id", "postpath-1"),
    ("p", "class", "postinfo"), ("p", "id", "filedunder"),
    ("footer", "class", "entry-footer"), ("li", "class", "post-category"),
    ("span", "class", "the-cat-links"), ("header", "class", "entry-header"),
    ("div", "class", "row"), ("div", "class", "tags"),
    ("p", "class", "entry-tags-list"), ("div", "class", "jp-relatedposts"),
    ("section", "class", "hot-topics"), ("ul", "class", "tags-links"),
    ("div", "class", "page-footer"), ("div", "id", "footer-2"), ("footer", "id", "end"),
]


def _meta_anchor_page() -> str:
    parts = []
    for i, (tag, attr, value) in enumerate(META_CONTAINERS):
        ent = "&#%d;%s" % (ord(value[0]), value[1:])
        parts += [
            # matching container; <a> without href never matches
            f'<{tag} {attr}="{value}"><a href="/{i}/a">a</a><a>no href</a></{tag}>',
            # non-matching container of the same tag
            f'<{tag} {attr}="unrelated"><a href="/{i}/b">b</a></{tag}>',
            # nested matching containers: the anchor is listed once
            f'<{tag} {attr}="{value}"><div class="tags">'
            f'<{tag} {attr}="{value}"><a href="/{i}/c">c</a></{tag}></div></{tag}>',
            # entity-encoded value decodes to a match
            f'<{tag} {attr}="{ent}"><a href="/{i}/d">d</a></{tag}>',
            # upper-case names match, an upper-case value does not
            f'<{tag.upper()} {attr.upper()}="{value}"><A HREF="/{i}/e">e</A></{tag.upper()}>',
            f'<{tag} {attr}="{value.upper()}"><a href="/{i}/f">f</a></{tag}>',
        ]
    # a bare <footer> is a license container
    parts.append('<footer><a href="/bare/a">a</a></footer>')
    return "<html><body>%s<a href='/top'>top</a></body></html>" % "".join(parts)


def naive_anchors(doc, container) -> list:
    """``a[href]`` with an ancestor of a declared tag that
    ``container.match`` accepts, by walking every anchor's ancestors:
    no candidate scan or ``has_attrs`` test."""
    out = []
    for a in etree.iter_all(doc, "a"):
        if "href" not in a.attrib:
            continue
        anc = a.parent
        while anc is not None and anc is not doc:
            if (container.tags is None or anc.tag in container.tags) and container.match(anc):
                out.append(a)
                break
            anc = anc.parent
    return out


def test_anchors_by_ancestor_equals_naive_rule():
    """The inverted container scan the metadata stage runs returns the
    naive ancestor walk's matches, in document order. Each rule runs on
    a fresh tree, so its scan sees unparsed attributes."""
    for rule in CONTAINER_RULES:
        doc = etree.parse_html(_meta_anchor_page())
        got = selectors.anchors_by_ancestor(etree.TreeIndex(doc), rule)
        assert got == naive_anchors(doc, rule), rule.name
        assert got, rule.name
        assert all("href" in a.attrib for a in got), rule.name


# -- one owner for the lazy-attribute format -------------------------------

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LAZY_SLOTS = frozenset(("_rawattrs", "_attrib"))


def test_lazy_attribute_slots_only_in_etree():
    """No package module other than etree touches the lazy-attribute
    slots, as an attribute or by name: every attribute read goes
    through ``Element.attrib``/``get`` or ``etree.has_attrs``."""
    found = []
    for path in sorted(glob.glob(os.path.join(ROOT, "go_trafilatura_spark", "*.py"))):
        if os.path.basename(path) == "etree.py":
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.value if isinstance(node, ast.Constant) else None)
            if name in _LAZY_SLOTS:
                found.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}: {name}")
    assert found == [], "lazy-attribute slots read outside etree:\n" + "\n".join(found)


@pytest.mark.parametrize("parse", [etree.parse_html, etree.parse_html_stdlib])
def test_upper_case_itemprop_date(parse):
    from go_trafilatura_spark.metadata import extract_date_fast

    doc = parse('<html><body><span ITEMPROP="datePublished" content="2021-03-04">'
                "</span><p>Some text.</p></body></html>")
    assert extract_date_fast(doc, "") == "2021-03-04"


def _first(html: str, tag: str):
    return etree.iter_all(etree.parse_html(f"<html><body>{html}</body></html>"), tag)[0]


def test_readability_screens_see_upper_case_names():
    from go_trafilatura_spark import readability

    assert readability._match_string(_first('<div CLASS="comment" ID="x">t</div>', "div")) \
        == "comment x"
    assert readability._match_string(_first('<div data-x="1">t</div>', "div")) == " "
    for html in ('<div STYLE="display:none">t</div>', "<div HIDDEN>t</div>",
                 '<div ARIA-HIDDEN="true">t</div>'):
        assert not readability._is_probably_visible(_first(html, "div")), html
    assert readability._is_probably_visible(_first('<div Title="x">t</div>', "div"))
    for html in ('<span REL="author">Jane Doe</span>',
                 '<span ITEMPROP="author">Jane Doe</span>'):
        grab = readability._Grab(True, True, True)
        assert grab._check_byline(_first(html, "span"), " "), html
    grab = readability._Grab(True, True, True)
    assert not grab._check_byline(_first('<span TITLE="author">Jane Doe</span>', "span"), " ")


_START_TAG = re.compile(r"<[a-zA-Z][^>]*>")
_ATTR_NAME = re.compile(r"(\s)([a-zA-Z_:][-a-zA-Z0-9_:.]*)(?=\s*=)")


def _upper_attr_names(html: str) -> str:
    return _START_TAG.sub(lambda m: _ATTR_NAME.sub(
        lambda n: n.group(1) + n.group(2).upper(), m.group()), html)


def _digest_pages(n: int) -> list[str]:
    """Heavy pages: fixture bodies in <section> blocks between a nav
    menu and a footer."""
    from go_trafilatura_spark.fixtures import generate_pages

    bodies = [re.search(r"<body>(.*)</body>", p.html.decode("utf-8"), re.S).group(1)
              for p in generate_pages(3 * n, seed=11)
              if p.golden["family"] != "giant_doc"]
    nav = ('<nav class="main-menu"><ul>'
           + "".join(f'<li><a href="/section/{i}">Section {i}</a></li>' for i in range(12))
           + "</ul></nav>")
    footer = ('<footer class="site-footer"><p>Copyright 2024 Example Media.</p>'
              '<div class="footer-links"><a href="/legal">Legal</a></div></footer>')
    pages = []
    for i in range(n):
        sections = "".join(f'<section class="block-{j}">{bodies[(3 * i + j) % len(bodies)]}'
                           "</section>" for j in range(3))
        pages.append('<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
                     f"<title>Digest {i}</title></head><body>{nav}"
                     f'<div class="page">{sections}</div>{footer}</body></html>')
    return pages


def _extracted(doc, opts):
    from go_trafilatura_spark.core import ExtractError, extract_document

    try:
        res = extract_document(doc, opts)
    except ExtractError as e:
        return e.reason
    node = res.content_node
    return (res.content_text, res.comments_text,
            None if node is None else etree.tostring(node), res.metadata)


def test_upper_case_attribute_names_cascade_parity():
    """The whole cascade extracts the same from the fast tree (lazy
    attributes) as from the stdlib tree (parsed attributes)
    when every attribute name is upper-case."""
    from go_trafilatura_spark.options import Options

    opts = Options.from_dict({"enable_fallback": True})
    for i, html in enumerate(map(_upper_attr_names, _digest_pages(20))):
        assert 'CLASS="' in html
        assert _extracted(etree.parse_html(html), opts) \
            == _extracted(etree.parse_html_stdlib(html), opts), i
