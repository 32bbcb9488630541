"""Rule declarations are exact: a rule in one of ``selectors``' rule
lists that declares ``tags`` never matches an element of another tag,
and one that declares ``needs_attrs`` never matches a bare element.

The candidate scan of ``selectors.query*`` is the only place these
declarations act: it never shows a rule an element outside them, so a
declaration narrower than its rule body would silently drop matches.
The corpus is every element of the 800 ``fixtures/correctness`` pages,
the seed-1 ``extract_fallback`` benchmark pages, the upper-cased
attribute-name pages of the cascade parity test and a page of
hand-written matches for the rules those pages never trigger. Each
rule's matches are also tried under every tag of ``TAGS``, and a bare
element of each tag must not match a rule that needs attributes."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import pyarrow.parquet as pq
import pytest

from go_trafilatura_spark import etree, selectors

RULE_LISTS = {name: value for name, value in vars(selectors).items()
              if name.isupper() and isinstance(value, list)}
DECLARED = [rule for rules in RULE_LISTS.values() for rule in rules
            if getattr(rule, "tags", None) is not None
            or getattr(rule, "needs_attrs", False)]


# One match for each rule the page corpora leave unmatched (the
# META_CATEGORIES / META_TAGS rules get test_selector_screens' page).
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

TAGS = sorted(set().union(*(r.tags for r in DECLARED if getattr(r, "tags", None) is not None))
              | set("html body nav aside footer em i b li td table form img".split()))


@pytest.fixture(scope="module")
def elements():
    from go_trafilatura_spark.fixtures import ensure_fixtures
    from perfbench import gen
    from test_selector_screens import _digest_pages, _meta_anchor_page, _upper_attr_names

    pages = pq.read_table(os.path.join(ensure_fixtures("correctness"), "pages.parquet"),
                          columns=["html"]).column("html").to_pylist()
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        params = json.load(f)["workloads"]["extract_fallback"]["generator"]
    pages += [row["html"] for row in gen.fallback_pages(1, params)]
    docs = [etree.parse_html(html) for html in pages]
    for html in map(_upper_attr_names, _digest_pages(20)):
        docs += [etree.parse_html(html), etree.parse_html_stdlib(html)]
    docs += [etree.parse_html(_meta_anchor_page()),
             etree.parse_html(f"<html><body>{WITNESSES}</body></html>")]
    return [el for doc in docs for el in etree.iter_all(doc)]


def _breaches(rule, elements) -> list[str]:
    """Where ``rule`` matches outside its declaration: on the corpus, on
    its own matches retagged to each of ``TAGS``, and on a bare element
    of each of ``TAGS``."""
    tags = getattr(rule, "tags", None)
    needs_attrs = getattr(rule, "needs_attrs", False)

    def outside(el) -> bool:
        return ((tags is not None and el.tag not in tags)
                or (needs_attrs and not etree.has_attrs(el)))

    found = [etree.tostring(el)[:80] for el in elements if outside(el) and rule(el)]
    for el in [el for el in elements if rule(el)][:20]:
        tag = el.tag
        try:
            for t in TAGS:
                el.tag = t
                if outside(el) and rule(el):
                    found.append(f"{tag} retagged {t}")
        finally:
            el.tag = tag
    for t in TAGS:
        bare = etree.new_element(t)
        if outside(bare) and rule(bare):
            found.append(f"bare {t}")
    return found


def test_rule_lists_carry_declarations(elements):
    assert set(RULE_LISTS) >= {"CONTENT", "COMMENTS", "META_AUTHOR", "META_TAGS"}
    assert len(DECLARED) >= 30
    # the corpus holds a match of every declared rule
    assert [r.__name__ for r in DECLARED if not any(map(r, elements))] == []


@pytest.mark.parametrize("rule", DECLARED, ids=lambda r: r.__name__)
def test_rule_declaration_is_exact(rule, elements):
    assert _breaches(rule, elements) == [], rule.__name__


def test_narrowed_declaration_is_caught(elements):
    """The corpus exercises the check: a declaration that leaves out a
    tag the rule matches, or claims attributes a tag-only match lacks,
    is reported."""
    def article(el):
        return selectors.content_rule_2(el)

    article.tags = frozenset(("div",))
    assert _breaches(article, elements)
    article.tags = frozenset(("article",))
    assert not _breaches(article, elements)
    article.needs_attrs = True
    assert _breaches(article, elements)
