"""Raw-attribute prescreen parity (selectors._screened): for every rule
carrying a raw_screen, the screened evaluation must produce EXACTLY the
match set of the unscreened evaluation — over the reference's real
pages and over adversarial synthetic cases (entity-encoded values,
id+class boundary spans, uppercase names, whitespace around '=').

Every prescreen reads the lazy-attribute format through etree's
attr_source / attrs_may_contain / has_attrs, so upper-case attribute
names extract the same on the fast tree (lazy attributes) as on the
stdlib tree (parsed attributes)."""

import ast
import glob
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from go_trafilatura_spark import etree, selectors

ALL_RULES = [
    r for r in vars(selectors).values()
    if isinstance(r, selectors.Rule) and r.raw_screen is not None
]

CONTAINER_RULES = selectors.META_CATEGORIES + selectors.META_TAGS + [
    selectors.license_footer_rule]


def _real_pages():
    from go_trafilatura_spark.comparison import (
        load_comparison_entries, resolve_file,
    )

    pages = []
    for e in load_comparison_entries()[::6]:  # every 6th page: ~160 pages
        p = resolve_file(e["file"])
        if p:
            with open(p, "rb") as f:
                pages.append(f.read())
    return pages


def _assert_parity(html):
    """Matching parses an element's attributes, after which no screen
    can drop it: so every rule is screened on a fresh tree before any
    rule is matched, and each container rule runs on a tree of its own."""
    index = etree.TreeIndex(etree.parse_html(html))
    kept = {rule: set(map(id, selectors._screened(selectors._candidates(index, rule), rule)))
            for rule in ALL_RULES}
    for rule in ALL_RULES:
        unscreened = [el for el in selectors._candidates(index, rule) if rule.match(el)]
        assert [el for el in unscreened if id(el) not in kept[rule]] == [], rule.name
        assert selectors.query_all(index, rule) == unscreened, rule.name
        assert selectors.query_all(index.root, rule) == unscreened, rule.name
    for rule in CONTAINER_RULES:
        index = etree.TreeIndex(etree.parse_html(html))
        screened = selectors.anchors_by_ancestor(index, rule)
        assert screened == selectors.anchors_by_ancestor(
            index, rule._replace(raw_screen=None)), rule.name


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/test-files"),
    reason="reference corpus not present")
def test_screen_parity_real_pages():
    pages = _real_pages()
    assert len(pages) > 100
    for html in pages:
        _assert_parity(html)


ADVERSARIAL = [
    # entity-encoded value that decodes into a screened literal: the
    # '&' bypass must force a full evaluation
    '<div class="aut&#104;or">x</div>',
    '<div class="com&#109;ents">x</div>',
    # id+class boundary spans for concat rules (idclass semantics)
    '<div id="s" class="hare-buttons">x</div>',
    '<div id="comment" class="list">x</div>',
    '<div id="commentl" class="ist">x</div>',
    '<div id="comm" class="ents">x</div>',
    '<div id="c" class="omment-page">x</div>',
    '<div id="co" class="mmentlist">x</div>',
    '<div id="reply" class="-to">x</div>',
    '<div id="re" class="ply-form">x</div>',
    # id+style span ("hidden" in id_+style)
    '<div id="hid" style="den">x</div>',
    '<p id="hidde" style="n;color:red">x</p>',
    # uppercase names / whitespace around '='
    '<span CLASS="Author">x</span>',
    '<a REL = "me">x</a>',
    '<a rel =me>x</a>',
    '<h1 Class = "entry-title">x</h1>',
    # tag-only disjuncts (screen_exempt)
    '<author class="zzz">x</author>',
    '<main class="zzz">x</main>',
    # near-misses that must stay screened out AND unmatched
    '<div class="totally-unrelated">x</div>',
    '<span data-x="nothing-here">x</span>',
    # matching the screen but failing the rule (over-pass is fine)
    '<div class="titleish">x</div>',
    '<div class="commentary">x</div>',
]


def test_screen_parity_adversarial():
    _assert_parity("<html><body>%s</body></html>" % "".join(ADVERSARIAL))
    _assert_parity(_meta_anchor_page())


def test_screen_spans_match_expected():
    """Spot-check that the span cases actually MATCH their rules (the
    adversarial parity test would vacuously pass if both sides missed)."""
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
            # entity-encoded value decodes to a match (bypasses the screen)
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
    no candidate scan, attribute test or screen."""
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
    a fresh tree, so its screen sees unparsed attributes."""
    for rule in CONTAINER_RULES:
        doc = etree.parse_html(_meta_anchor_page())
        got = selectors.anchors_by_ancestor(etree.TreeIndex(doc), rule)
        assert got == naive_anchors(doc, rule), rule.name
        assert got, rule.name
        assert all("href" in a.attrib for a in got), rule.name


# -- one owner for the lazy-attribute format -------------------------------

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LAZY_SLOTS = frozenset(("_rawattrs", "_lraw", "_attrib"))


def test_lazy_attribute_slots_only_in_etree():
    """No package module other than etree touches the lazy-attribute
    slots, as an attribute or by name: every screen goes through the
    etree primitives."""
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


def test_attr_source_primitives():
    doc = etree.parse_html('<html><body><div CLASS="Foo Bar">a</div>'
                           '<p class="a&amp;b">b</p><span>c</span></body></html>')
    (div,), (p,), (span,) = (etree.iter_all(doc, t) for t in ("div", "p", "span"))
    assert "class=\"foo bar\"" in etree.attr_source(div)
    assert etree.attr_source(div) is etree.attr_source(div)  # cached
    assert etree.attrs_may_contain(div, ("zzz", "foo"))
    assert not etree.attrs_may_contain(div, ("zzz", "id"))
    # an entity could decode into any literal: the screen proves nothing
    assert etree.attr_source(p) is None
    assert etree.attrs_may_contain(p, ("zzz",))
    assert etree.has_attrs(div) and etree.has_attrs(p) and not etree.has_attrs(span)
    assert div.get("class") == "Foo Bar"
    # parsed attributes: the screen proves nothing, presence still known
    assert etree.attr_source(div) is None
    assert etree.attrs_may_contain(div, ("zzz",)) and etree.has_attrs(div)


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
    attributes, screened) as from the stdlib tree (parsed attributes)
    when every attribute name is upper-case."""
    from go_trafilatura_spark.options import Options

    opts = Options.from_dict({"enable_fallback": True})
    for i, html in enumerate(map(_upper_attr_names, _digest_pages(20))):
        assert 'CLASS="' in html
        assert _extracted(etree.parse_html(html), opts) \
            == _extracted(etree.parse_html_stdlib(html), opts), i
