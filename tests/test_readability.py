"""Handwritten cases for the readability port's content restructuring:
``_replace_double_brs`` (go-readability replaceBrs, readability.js
_replaceBrs), ``prep_document``
and ``_wrap_phrasing_runs``. Each case gives the element's markup and its
expected serialization afterwards."""

import pytest

from go_trafilatura_spark import etree, readability


def _run(fn, html: str) -> str:
    body = etree.body_of(etree.parse_html(f"<html><body>{html}</body></html>"))
    el = body.children[0]
    fn(el)
    return etree.tostring(el)


@pytest.mark.parametrize("html, expected", [
    # a chain of two brs (whitespace between them included) becomes a
    # <p> holding the phrasing content after it; the content before the
    # first chain stays in place, and the whitespace between the brs of
    # a chain moves into the <p>
    ("<div>one<br><br>two <b>bold</b><br> <br>three</div>",
     "<div>one<p>two <b>bold</b></p><p> three</p></div>"),
    # single brs split nothing: the content is restored as it was
    ("<div>one<br>two <i>x</i> tail<br>end</div>",
     "<div>one<br/>two <i>x</i> tail<br/>end</div>"),
    # trailing whitespace and brs leave the <p>, which may end up empty
    ("<div><br><br> <br><br>text<br><br>  </div>", "<div><p> text</p><p></p></div>"),
    ("<div> <br> <br> \n<br></div>", "<div> <p></p></div>"),
    # a block element ends the <p>; the content after it is not wrapped
    ("<div>a<br><br><ul><li>x</li></ul>b<br><br>c</div>",
     "<div>a<p></p><ul><li>x</li></ul>b<p>c</p></div>"),
    ("<div>a<br><br>b<div>blk</div>after <i>i</i></div>",
     "<div>a<p>b</p><div>blk</div>after <i>i</i></div>"),
    # a comment is a gap inside a chain and phrasing content after it
    ("<div>lead<!--c--><br><br><span>s</span>t</div>",
     "<div>lead<!--c--><p><span>s</span>t</p></div>"),
    ("<div>a<br><!--c--> <br>b <br> c<br>\n</div>",
     "<div>a<p><!--c--> b <br/> c</p></div>"),
    # a <p> that gets a <p> child becomes a <div>
    ("<p>x<br><br>y</p>", "<div>x<p>y</p></div>"),
    ("<p>a<br><br>b<br><br>c</p>", "<div>a<p>b</p><p>c</p></div>"),
    # brs are taken in document order: the outer chain moves the <a>
    # while it is still phrasing content, then the <a>'s own chain runs
    ("<div>x<br><br><a href=y>l<br><br>m</a> t</div>",
     '<div>x<p><a href="y">l<p>m</p></a> t</p></div>'),
])
def test_replace_double_brs(html, expected):
    assert _run(readability._replace_double_brs, html) == expected


@pytest.mark.parametrize("html, expected", [
    # scripts and styles go, font becomes span, a br run splits
    ("<div><script>x</script><font color=red>f</font><style>s</style><br><br>two"
     "<noscript>n</noscript></div>",
     '<div><span color="red">f</span><p>two</p></div>'),
    # nested elements are restructured too; iframe and template go
    ("<section><div>x<br><br>y</div><iframe></iframe><template>t</template></section>",
     "<section><div>x<p>y</p></div></section>"),
])
def test_prep_document(html, expected):
    assert _run(readability.prep_document, html) == expected


@pytest.mark.parametrize("html, expected", [
    # trailing brs and whitespace are trimmed off each paragraph; a
    # stray br or whitespace does not open one
    ("<div>  text <b>b</b><br> <div>block</div><br>tail <i>i</i><br> </div>",
     "<div><p>  text <b>b</b></p><div>block</div><br/><p>tail <i>i</i></p></div>"),
    ("<div><br><!--c-->  <a href=x>l</a> after<p>p</p>  </div>",
     '<div><br/><!--c-->  <p><a href="x">l</a> after</p><p>p</p>  </div>'),
])
def test_wrap_phrasing_runs(html, expected):
    assert _run(readability._wrap_phrasing_runs, html) == expected
