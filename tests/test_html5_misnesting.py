"""HTML5 tree-construction fixups: foster parenting, reconstruction of
active formatting elements, adoption agency.

The reference parses with x/net/html (a full WHATWG parser,
/root/reference/core.go:73); these cases pin our builder to the browser
trees for the canonical misnesting patterns (WHATWG HTML §13.2.10.1-3).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_trafilatura_spark import etree


def body_html(html: str) -> str:
    root = etree.parse_html(html)
    return etree.inner_html(etree.body_of(root))


# --- adoption agency ---------------------------------------------------------

def test_misnested_formatting_simple():
    # §13.2.10.1 <b><i></b></i>
    assert body_html("<b>1<i>2</b>3</i>") == "<b>1<i>2</i></b><i>3</i>"


def test_misnested_formatting_block():
    # §13.2.10.2 <b><p></b></p> — "3" must not be bold
    assert body_html("<b>1<p>2</b>3</p>") == "<b>1</b><p><b>2</b>3</p>"


def test_formatting_five_segments():
    assert body_html("<p>1<b>2<i>3</b>4</i>5</p>") == "<p>1<b>2<i>3</i></b><i>4</i>5</p>"


def test_implied_a_end_tag():
    assert body_html('<a href="x">1<a href="y">2</a>') == (
        '<a href="x">1</a><a href="y">2</a>'
    )


def test_unmatched_formatting_end_ignored():
    assert body_html("<p>text</b></p>") == "<p>text</p>"


# --- reconstruction ----------------------------------------------------------

def test_reconstruct_across_paragraphs():
    assert body_html("<p><b>1</p><p>2</p>") == "<p><b>1</b></p><p><b>2</b></p>"


def test_reconstruct_nested_formatting():
    got = body_html("<p><b><i>1</p><p>2</p>")
    assert got == "<p><b><i>1</i></b></p><p><b><i>2</i></b></p>"


def test_reconstruct_stops_at_closed():
    # b was properly closed — must NOT re-open in the next paragraph
    assert body_html("<p><b>1</b></p><p>2</p>") == "<p><b>1</b></p><p>2</p>"


def test_noahs_ark_bounds_afe():
    # 50 identical <b> left open when </p> pops them: the Noah's Ark
    # clause caps the formatting list at 3 identical entries, so the next
    # paragraph reconstructs at most a 3-deep <b> chain.
    html = "<p>" + "<b>" * 50 + "x</p><p>y</p>"
    root = etree.parse_html(html)
    body = etree.body_of(root)
    last_p = [e for e in etree.get_elements_by_tag(body, "p")][-1]
    depth = 0
    node = last_p
    while node.children and node.children[0].tag == "b":
        node = node.children[0]
        depth += 1
    assert 1 <= depth <= 3


# --- foster parenting --------------------------------------------------------

def test_foster_text_before_table():
    assert body_html("<table>junk<tr><td>cell</td></tr></table>") == (
        "junk<table><tr><td>cell</td></tr></table>"
    )


def test_foster_element_before_table():
    assert body_html("<table><div>x</div><tr><td>y</td></tr></table>") == (
        "<div>x</div><table><tr><td>y</td></tr></table>"
    )


def test_foster_text_after_preceding_content():
    got = body_html("<p>before</p><table>stray<tr><td>c</td></tr></table>")
    assert got == "<p>before</p>stray<table><tr><td>c</td></tr></table>"


def test_whitespace_stays_in_table():
    got = body_html("<table> <tr><td>c</td></tr> </table>")
    assert got == "<table> <tr><td>c</td></tr> </table>"


def test_cell_content_not_fostered():
    got = body_html("<table><tr><td><b>x</b> y</td></tr></table>")
    assert got == "<table><tr><td><b>x</b> y</td></tr></table>"


def test_unclosed_formatting_in_cell():
    # implicit cell close at </tr>; formatting must not leak to next cell
    got = body_html("<table><tr><td><b>x</td><td>y</td></tr></table>")
    assert got == "<table><tr><td><b>x</b></td><td>y</td></tr></table>"


def test_formatting_does_not_leak_out_of_table():
    # afe marker at the cell: "after" text is NOT bold
    got = body_html("<table><tr><td><b>x</td></tr></table>after")
    assert got == "<table><tr><td><b>x</b></td></tr></table>after"


def test_nested_table_in_cell_kept():
    got = body_html(
        "<table><tr><td><table><tr><td>inner</td></tr></table></td></tr></table>"
    )
    assert got == (
        "<table><tr><td><table><tr><td>inner</td></tr></table></td></tr></table>"
    )


def test_sibling_table_closes_open_table():
    got = body_html("<table><tr><td>a</td></tr><table><tr><td>b</td></tr></table>")
    assert got == (
        "<table><tr><td>a</td></tr></table><table><tr><td>b</td></tr></table>"
    )


# --- end-tag scope -----------------------------------------------------------

def test_end_br_inserts_br():
    assert body_html("<p>a</br>b</p>") == "<p>a<br/>b</p>"


def test_any_other_end_tag_stops_at_special():
    # </span> with an unclosed <div> above it is ignored (the walk stops
    # at a special element) — "z" stays inside the div
    got = body_html("<span><div>xy</span>z")
    assert got == "<span><div>xyz</div></span>"


def test_block_end_closes_through_phrasing():
    assert body_html("<div><span>a</div>b") == "<div><span>a</span></div>b"


# --- extraction survives misnesting ------------------------------------------

def test_extraction_of_misnested_page():
    import go_trafilatura_spark as gts

    para = "This is a long enough sentence for the extractor to keep around. " * 5
    html = (
        "<html><body><article><p><b>Bold intro"
        f"<p>{para}</b>tail text that follows the bold run.</p>"
        "</article></body></html>"
    ).encode()
    res = gts.extract(html, gts.Options())
    assert "tail text that follows the bold run." in res.content_text
    assert "Bold intro" in res.content_text


def test_extraction_of_table_with_stray_text():
    import go_trafilatura_spark as gts

    para = "Content paragraph with plenty of readable words inside it. " * 6
    html = (
        f"<html><body><article><p>{para}</p>"
        "<table>stray<tr><td>alpha</td><td>beta</td></tr></table>"
        "</article></body></html>"
    ).encode()
    res = gts.extract(html, gts.Options())
    assert "alpha" in res.content_text and "beta" in res.content_text


# ---------------------------------------------------------------------------
# Foreign content (svg / math): HTML5 "in foreign content" rules as
# x/net/html implements them (reference core.go:73) — breakout start
# tags escape the foreign subtree, self-closing is honored, HTML
# integration points resume HTML parsing.
# ---------------------------------------------------------------------------

def _svg_of(tree):
    return etree.get_elements_by_tag(tree, "svg")[0]


def test_foreign_breakout_paragraph():
    # browsers put the <p> OUTSIDE the svg; the svg subtree is a killed
    # tag (settings.go:28), so nesting it inside would lose the text
    tree = etree.parse_html(
        '<p>a</p><svg><rect width="5"></rect><p>hello</p></svg><p>b</p>')
    assert not etree.get_elements_by_tag(_svg_of(tree), "p")
    texts = [p.text for p in etree.get_elements_by_tag(tree, "p")]
    assert "hello" in texts


def test_foreign_selfclosing_leaves():
    tree = etree.parse_html('<svg><circle/><circle/><circle/></svg><p>x</p>')
    svg = _svg_of(tree)
    circles = etree.get_elements_by_tag(svg, "circle")
    assert len(circles) == 3
    assert all(not c.children for c in circles)  # siblings, not nested


def test_selfclosed_svg_does_not_swallow():
    tree = etree.parse_html('<svg/><p>alive</p>')
    assert not etree.get_elements_by_tag(_svg_of(tree), "p")
    assert any(p.text == "alive" for p in etree.get_elements_by_tag(tree, "p"))


def test_foreignobject_integration_point():
    tree = etree.parse_html(
        '<svg><foreignObject><div><p>inside</p></div></foreignObject></svg>')
    assert etree.get_elements_by_tag(_svg_of(tree), "p")  # stays inside


def test_math_breakout_div():
    tree = etree.parse_html('<math><mi>x</mi><div>out</div></math><p>c</p>')
    maths = etree.get_elements_by_tag(tree, "math")
    assert maths and not etree.get_elements_by_tag(maths[0], "div")


def test_font_breakout_only_with_presentational_attrs():
    t1 = etree.parse_html('<svg><font color="red">t</font></svg>')
    assert not etree.get_elements_by_tag(_svg_of(t1), "font")
    t2 = etree.parse_html('<svg><font>t</font></svg>')
    assert etree.get_elements_by_tag(_svg_of(t2), "font")


def test_extraction_recovers_breakout_text():
    # end-to-end: prose a CMS accidentally left inside an unclosed svg
    # block survives extraction because the parser breaks it out before
    # doc_cleaning kills the svg subtree
    from go_trafilatura_spark.core import extract
    from go_trafilatura_spark.options import Config, Options

    html = (b'<html><body><article><svg viewBox="0 0 5 5">'
            b'<rect width="5"></rect>'
            b'<p>The actual article text lives here and must survive.</p>'
            b'</article></body></html>')
    res = extract(html, Options(config=Config(
        min_extracted_size=0, min_output_size=0,
        min_output_comment_size=0, min_extracted_comment_size=0)))
    assert "must survive" in res.content_text
