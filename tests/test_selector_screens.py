"""Raw-attribute prescreen parity (selectors._screened): for every rule
carrying a raw_screen, the screened evaluation must produce EXACTLY the
match set of the unscreened evaluation — over the reference's real
pages and over adversarial synthetic cases (entity-encoded values,
id+class boundary spans, uppercase names, whitespace around '=')."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from go_trafilatura_spark import etree, selectors

ALL_RULES = [
    r for r in vars(selectors).values()
    if callable(r) and getattr(r, "raw_screen", None) is not None
]

CONTAINER_RULES = [
    r for r in vars(selectors).values()
    if callable(r) and getattr(r, "containers_screen", None) is not None
]


def _real_docs():
    from go_trafilatura_spark.comparison import (
        load_comparison_entries, resolve_file,
    )

    docs = []
    for e in load_comparison_entries()[::6]:  # every 6th page: ~160 docs
        p = resolve_file(e["file"])
        if p:
            with open(p, "rb") as f:
                docs.append(etree.parse_html(f.read()))
    return docs


def _assert_parity(doc):
    index = selectors.TagIndex(doc)
    for rule in ALL_RULES:
        cands = index.candidates(rule)
        unscreened = [el for el in cands if rule(el)]
        screened = selectors.query_all(doc, rule, list(cands))
        assert screened == unscreened, rule.__name__
    for rule in CONTAINER_RULES:
        got = selectors.anchors_by_ancestor(index, rule)
        saved = rule.containers_screen
        try:
            rule.containers_screen = None
            want = selectors.anchors_by_ancestor(index, rule)
        finally:
            rule.containers_screen = saved
        assert got == want, rule.__name__


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/test-files"),
    reason="reference corpus not present")
def test_screen_parity_real_pages():
    docs = _real_docs()
    assert len(docs) > 100
    for doc in docs:
        _assert_parity(doc)


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
    html = "<html><body>%s</body></html>" % "".join(ADVERSARIAL)
    _assert_parity(etree.parse_html(html))


def test_screen_spans_match_expected():
    """Spot-check that the span cases actually MATCH their rules (the
    adversarial parity test would vacuously pass if both sides missed)."""
    doc = etree.parse_html(
        '<html><body>'
        '<div id="comment" class="list">x</div>'     # commentlist span
        '<div id="s" class="hare-buttons">x</div>'   # shar span
        '<p id="hidde" style="n">x</p>'              # hidden span
        '</body></html>')
    index = selectors.TagIndex(doc)
    assert len(selectors.query_all(
        doc, selectors.comments_rule_1,
        index.candidates(selectors.comments_rule_1))) == 1
    assert len(selectors.query_all(
        doc, selectors.overall_discarded_rule_1,
        index.candidates(selectors.overall_discarded_rule_1))) >= 1
    assert len(selectors.query_all(
        doc, selectors.overall_discarded_rule_2,
        index.candidates(selectors.overall_discarded_rule_2))) >= 1


# (tag, attribute, value) of a container each META_CATEGORIES /
# META_TAGS rule accepts; every rule matches at least one of them.
META_CONTAINERS = [
    ("div", "class", "post-meta"), ("div", "id", "postpath-1"),
    ("p", "class", "postinfo"), ("p", "id", "filedunder"),
    ("footer", "class", "entry-footer"), ("li", "class", "post-category"),
    ("span", "class", "the-cat-links"), ("header", "class", "entry-header"),
    ("div", "class", "row"), ("div", "class", "tags"),
    ("p", "class", "entry-tags-list"), ("div", "class", "jp-relatedposts"),
    ("section", "class", "hot-topics"), ("ul", "class", "tags-links"),
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
    return "<html><body>%s<a href='/top'>top</a></body></html>" % "".join(parts)


def test_anchors_by_ancestor_equals_naive_rule():
    """The inverted container scan the metadata stage runs returns the
    match list of the rule's own ancestor predicate, in document order."""
    doc = etree.parse_html(_meta_anchor_page())
    index = selectors.TagIndex(doc)
    for rule in selectors.META_CATEGORIES + selectors.META_TAGS:
        got = selectors.anchors_by_ancestor(index, rule)
        assert got == selectors.query_all(doc, rule), rule.__name__
        assert got, rule.__name__
        assert all("href" in a.attrib for a in got), rule.__name__
