"""Property-based robustness: the extraction cascade must be total and
invariant-preserving over arbitrary inputs (hypothesis-generated)."""

import string

from hypothesis import HealthCheck, given, settings, strategies as st

from go_trafilatura_spark import ExtractError, Options, extract
from go_trafilatura_spark import etree
from go_trafilatura_spark.kernel import compute_spans
from go_trafilatura_spark.utils import trim

SETTINGS = settings(
    max_examples=60, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

_TAGS = ["p", "div", "span", "b", "i", "ul", "li", "h1", "h2", "table", "tr",
         "td", "article", "section", "blockquote", "pre", "br", "img", "a"]

_text = st.text(
    alphabet=string.ascii_letters + string.digits + " .,;!?\"'<>&-\n\t",
    max_size=60,
)


@st.composite
def html_fragment(draw, depth=0):
    if depth > 3 or draw(st.booleans()):
        return draw(_text)
    tag = draw(st.sampled_from(_TAGS))
    n = draw(st.integers(0, 3))
    children = "".join(draw(html_fragment(depth + 1)) for _ in range(n))
    attr = ""
    if draw(st.booleans()):
        cls = draw(st.sampled_from(["content", "nav", "share", "entry-content", "x y"]))
        attr = f' class="{cls}"'
    return f"<{tag}{attr}>{children}</{tag}>"


def _run(html: str, opts: Options):
    try:
        return extract(html, opts)
    except ExtractError:
        return None


@SETTINGS
@given(html_fragment())
def test_extraction_total(fragment):
    """Never crashes; output invariants hold."""
    html = f"<html><body>{fragment}</body></html>"
    res = _run(html, Options())
    if res is None:
        return
    assert isinstance(res.content_text, str)
    # trim idempotence on the output
    assert trim(res.content_text) == res.content_text
    spans = compute_spans(res.content_node, res.content_text)
    prev = 0
    for sp in spans:
        assert 0 <= sp["start"] < sp["end"] <= len(res.content_text)
        assert sp["start"] >= prev
        prev = sp["start"]


@SETTINGS
@given(st.binary(max_size=400))
def test_extraction_total_on_bytes(raw):
    """Arbitrary bytes: either clean rejection or a string result."""
    res = _run(raw, Options())
    if res is not None:
        assert isinstance(res.content_text, str)


@SETTINGS
@given(_text)
def test_trim_idempotent(s):
    assert trim(trim(s)) == trim(s)
    assert "  " not in trim(s)


@SETTINGS
@given(html_fragment())
def test_parser_roundtrip_stable(fragment):
    """parse(serialize(parse(x))) == parse(serialize(...)) — the
    serializer/parser pair reaches a fixpoint after one round."""
    doc1 = etree.parse_html(f"<html><body>{fragment}</body></html>")
    ser1 = etree.tostring(doc1.children[0])
    doc2 = etree.parse_html(ser1)
    ser2 = etree.tostring(doc2.children[0])
    doc3 = etree.parse_html(ser2)
    ser3 = etree.tostring(doc3.children[0])
    assert ser2 == ser3


@settings(max_examples=60, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(html_fragment())
def test_detach_content_roundtrip(fragment):
    """Taking any element's content apart with ``detach_content`` and
    appending every part back with ``append_part`` serializes the
    document identically; the parts are the DOM child nodes (no empty or
    adjacent text parts, children detached without tails)."""
    doc = etree.parse_html(f"<html><body>{fragment}</body></html>")
    before = etree.tostring(doc)
    for el in etree.iter_all(doc):
        parts = etree.detach_content(el)
        assert el.text == "" and el.children == []
        for prev, part in zip([None] + parts, parts):
            if type(part) is str:
                assert part and type(prev) is not str
            else:
                assert part.parent is None and part.tail == ""
        for part in parts:
            etree.append_part(el, part)
        assert etree.tostring(doc) == before
