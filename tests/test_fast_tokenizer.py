"""Fast tokenizer ≡ html.parser tokenizer: byte-equal trees.

The fast scanner (etree._fast_feed) replaces HTMLParser's goahead loop
(~8% kernel speedup on real pages); its contract is tree equality with
the stdlib-tokenized path. Asserted over the fixture corpus, targeted
constructs, random property inputs, and — when the read-only reference
checkout is present — all 960 real comparison pages (one documented
pathological page excepted)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_trafilatura_spark import etree

sys.setrecursionlimit(10000)


def tree_equal(a, b) -> bool:
    if a.tag != b.tag or a.text != b.text or a.tail != b.tail:
        return False
    if dict(a.attrib) != dict(b.attrib):
        return False
    if len(a.children) != len(b.children):
        return False
    return all(tree_equal(x, y) for x, y in zip(a.children, b.children))


def assert_equal_parse(html):
    fast = etree.parse_html(html)
    slow = etree.parse_html_stdlib(html)
    assert tree_equal(fast, slow), f"tokenizer divergence on {html[:120]!r}"


CONSTRUCTS = [
    b"<p>plain &amp; simple</p>",
    b"<p>unterminated comment <!-- never closed",
    b"<p>spaced comment close <!-- x -- ></p>",
    b"<!-----  bogus comment -----!> <p>after</p>",
    b"<!doctype html><p>x</p>",
    b"<![CDATA[ raw > data ]]><p>x</p>",
    b"<![if lte IE 9]><p>cond</p><![endif]>",
    b"<?php echo '>' ?><p>x</p>",
    b"<p></div!--comment-style-endtag--></p>",
    b'<a href="x" ="target_blank">junk attr</a>',
    b"<a href==doubled>eq</a>",
    b"<script>var a = '</scripty>' + 1;</script><p>x</p>",
    b"<script>if (a--\n > 0) {}</script><p>x</p>",
    b"<script src='x'/><p>not rawtext</p>",
    b"<script>unterminated rawtext at eof",
    b"<p>bare < lt</p>",
    b"<p>entity in attr <a title='a&amp;b'>t</a></p>",
    b"<p>numeric &#65; and hex &#x41; refs</p>",
    b"<td nowrap>no value attr</td>",
    b"</>empty endtag<p>x</p>",
    b"</ spaced junk><p>x</p>",
    b"<p>tag cut at eof <a href='x",
    b"<style>.a { content: '</div>' }</style><p>x</p>",
    b"<p>quoted gt <a title='a>b'>in attr</a></p>",
    b"<SCRIPT>UPPER case rawtext</SCRIPT><p>x</p>",
    # marked-section heads: non-name head aborts the feed (stdlib
    # raises → partial tree); EOF-truncated heads flush as data
    b"<p>a</p><![/junk>trailing<p>b</p>",
    b"<![/junk>",
    b"<p>a<![ if foo]>b",
    b"<p>x</p><![%",
    b"<p>x</p><![",
    b"<p>x</p><![c",
    b"<p>x</p><![CDATA",
    b"<p>x</p><![junkkk",
    b"<p>a</p><![junk>tr<p>b</p>",
]


@pytest.mark.parametrize("html", CONSTRUCTS, ids=range(len(CONSTRUCTS)))
def test_constructs(html):
    assert_equal_parse(html)


def test_fixture_corpus():
    from go_trafilatura_spark.fixtures import generate_pages

    for pg in generate_pages(200, 42):
        h = pg.html if isinstance(pg.html, bytes) else pg.html.encode()
        assert_equal_parse(h)


# emotion.de.selfcare.html interleaves misnested conditional comments
# with drupal CDATA-wrapper scripts; the two tokenizers recover the
# garbage differently (the extracted TEXT is identical — asserted below).
_KNOWN_DIVERGENT = {"emotion.de.selfcare.html"}


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/test-files"), reason="reference corpus absent"
)
def test_real_corpus_equality():
    from go_trafilatura_spark.comparison import load_comparison_entries, resolve_file

    diverged = []
    for e in load_comparison_entries():
        p = resolve_file(e["file"])
        if not p:
            continue
        data = open(p, "rb").read()
        if not tree_equal(etree.parse_html(data), etree.parse_html_stdlib(data)):
            diverged.append(e["file"])
    assert set(diverged) <= _KNOWN_DIVERGENT, f"new divergences: {diverged}"


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/test-files"), reason="reference corpus absent"
)
def test_known_divergent_page_same_extraction():
    from go_trafilatura_spark.comparison import resolve_file
    from go_trafilatura_spark.core import extract, extract_document
    from go_trafilatura_spark.options import Options

    data = open(resolve_file("emotion.de.selfcare.html"), "rb").read()
    fast_text = extract(data, Options(exclude_comments=True)).content_text
    slow_text = extract_document(
        etree.parse_html_stdlib(data), Options(exclude_comments=True)).content_text
    assert fast_text == slow_text


def test_fast_feed_error_propagates(monkeypatch):
    """Only the stdlib feed's AssertionError on a malformed declaration
    is absorbed; any other tokenizer exception is a bug and must not
    become a silently truncated tree."""
    def broken(text, builder):
        raise ValueError("tokenizer bug")

    monkeypatch.setattr(etree, "_fast_feed", broken)
    with pytest.raises(ValueError, match="tokenizer bug"):
        etree.parse_html("<html><body><p>text</p></body></html>")


def test_property_random():
    import random

    rng = random.Random(7)
    bits = [
        "<p>", "</p>", "<div class='a'>", "</div>", "text ", "&amp;", "&#65;",
        "<!-- c -->", "<!--", "-->", "<br/>", "<a href=x>", "</a>", "<",
        ">", "\"", "'", "<script>", "</script>", "<![CDATA[", "]]>", "=",
        "<!x>", "</ >", "<b", " ", "\n",
    ]
    for _ in range(300):
        html = "".join(rng.choice(bits) for _ in range(rng.randint(1, 40)))
        assert_equal_parse(html)
