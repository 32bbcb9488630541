"""etree.TreeIndex answers what a fresh walk answers.

Parity: on arbitrary trees every query of a new index (candidates,
of_tag, the one-pass trimmed text lengths and the bisected anchor
ranges) equals the naive per-node walk.

Freshness: an index is valid only for an unchanged tree, and nothing
in the product checks that. So the cascade runs here with every query
method wrapped: each answer must equal a walk of ``index.root`` made at
the moment of the call. An index built before a mutation it outlives
fails this test."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st

from go_trafilatura_spark import core, etree
from go_trafilatura_spark.options import Options
from go_trafilatura_spark.utils import trim


def _trimmed_len(el) -> int:
    return len(trim(etree.text_content(el)))


def _check_tree(root):
    index = etree.TreeIndex(root)
    nodes = etree.get_elements_by_tag(root)
    assert index.candidates() == nodes
    assert index.of_tag("*") == nodes
    for tag in {el.tag for el in nodes} | {"a", "missing"}:
        assert index.of_tag(tag) == etree.get_elements_by_tag(root, tag), tag
    assert index.candidates(("a", "p")) == etree.get_elements_by_tag(root, "a", "p")
    for node in [root] + nodes:
        assert index.text_len(node) == _trimmed_len(node), node.tag
        assert index.anchors(node) == etree.get_elements_by_tag(node, "a"), node.tag


def test_tree_index_fixture_pages():
    html = (b"<html><body><div id=a>Hello <a href='#x'>l i n k</a> tail"
            b"<p>Para <b>bold</b>\n\n  spaced   </p><!--c-->after"
            b"<ul><li><a href='/y'>y</a></li><li>plain</li></ul></div>"
            b"<div>empty  \t </div><a>outer<a>inner</a></a></body></html>")
    _check_tree(etree.parse_html(html))


_WORDS = st.sampled_from(["foo", "b ar", "  ", "", "x\ty", "été", "a"])
_TAGS = st.sampled_from(["div", "p", "a", "span", "ul", "li", "b"])


@st.composite
def _tree(draw, depth=3):
    el = etree.Element(draw(_TAGS))
    el.text = draw(_WORDS)
    if depth > 0:
        for _ in range(draw(st.integers(0, 3))):
            c = draw(_tree(depth=depth - 1))
            c.tail = draw(_WORDS)
            c.parent = el
            el.children.append(c)
    return el


@settings(max_examples=120, deadline=None)
@given(_tree())
def test_tree_index_random_trees(root):
    _check_tree(root)


# -- freshness over the cascade ---------------------------------------------

def _under(index, el) -> bool:
    """``el`` is ``index.root`` or, now, one of its descendants."""
    while el is not None:
        if el is index.root:
            return True
        el = el.parent
    return False


def _checked(monkeypatch) -> dict:
    """Wrap every TreeIndex query method with a fresh-walk assertion;
    returns the per-method call counts."""
    calls = {"candidates": 0, "of_tag": 0, "text_len": 0, "anchors": 0}
    cls = etree.TreeIndex
    candidates, of_tag, text_len, anchors = (
        cls.candidates, cls.of_tag, cls.text_len, cls.anchors)

    def checked_candidates(self, tags=None):
        calls["candidates"] += 1
        got = candidates(self, tags)
        fresh = etree.get_elements_by_tag(self.root)
        assert got == [el for el in fresh if tags is None or el.tag in tags]
        return got

    def checked_of_tag(self, tag):
        calls["of_tag"] += 1
        got = of_tag(self, tag)
        assert got == etree.get_elements_by_tag(self.root, tag)
        return got

    def checked_text_len(self, el):
        calls["text_len"] += 1
        got = text_len(self, el)
        assert _under(self, el) and got == _trimmed_len(el)
        return got

    def checked_anchors(self, el):
        calls["anchors"] += 1
        got = anchors(self, el)
        assert _under(self, el) and got == etree.get_elements_by_tag(el, "a")
        return got

    monkeypatch.setattr(cls, "candidates", checked_candidates)
    monkeypatch.setattr(cls, "of_tag", checked_of_tag)
    monkeypatch.setattr(cls, "text_len", checked_text_len)
    monkeypatch.setattr(cls, "anchors", checked_anchors)
    return calls


@pytest.fixture(scope="module")
def pages() -> list[bytes]:
    from go_trafilatura_spark.fixtures import ensure_fixtures
    from perfbench import gen

    html = pq.read_table(os.path.join(ensure_fixtures("correctness"), "pages.parquet"),
                         columns=["html"]).column("html").to_pylist()[:200]
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        params = json.load(f)["workloads"]["extract_fallback"]["generator"]
    return html + [row["html"] for row in gen.fallback_pages(1, params)[:50]]


@pytest.mark.parametrize("opts", [{}, {"enable_fallback": True}, {"focus": 1}],
                         ids=["default", "enable_fallback", "focus_recall"])
def test_every_index_answer_is_fresh(opts, pages, monkeypatch):
    calls = _checked(monkeypatch)
    for html in pages:
        try:
            core.extract(html, Options.from_dict(opts))
        except core.ExtractError:
            pass
    assert calls["candidates"] and calls["of_tag"]
    if opts.get("enable_fallback"):
        assert calls["text_len"] and calls["anchors"]
