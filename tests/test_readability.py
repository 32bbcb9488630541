"""Handwritten cases for the readability port's content restructuring:
``_replace_double_brs`` (readability.js _replaceBrs), ``prep_document``
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
    # a run of two brs (whitespace between them included) splits the
    # content into paragraphs
    ("<div>one<br><br>two <b>bold</b><br> <br>three</div>",
     "<div><p>one</p><p>two <b>bold</b></p><p>three</p></div>"),
    # single brs split nothing: the content is restored as it was
    ("<div>one<br>two <i>x</i> tail<br>end</div>",
     "<div>one<br/>two <i>x</i> tail<br/>end</div>"),
    # segments of whitespace and brs only are dropped
    ("<div><br><br> <br><br>text<br><br>  </div>", "<div><p>text</p></div>"),
    ("<div> <br> <br> \n<br></div>", "<div></div>"),
    # block content stays a direct child and ends the paragraph
    ("<div>a<br><br><ul><li>x</li></ul>b<br><br>c</div>",
     "<div><p>a</p><ul><li>x</li></ul><p>b</p><p>c</p></div>"),
    # a comment is phrasing content
    ("<div>lead<!--c--><br><br><span>s</span>t</div>",
     "<div><p>lead<!--c--></p><p><span>s</span>t</p></div>"),
])
def test_replace_double_brs(html, expected):
    assert _run(readability._replace_double_brs, html) == expected


@pytest.mark.parametrize("html, expected", [
    # scripts and styles go, font becomes span, a br run splits
    ("<div><script>x</script><font color=red>f</font><style>s</style><br><br>two"
     "<noscript>n</noscript></div>",
     '<div><p><span color="red">f</span></p><p>two</p></div>'),
    # nested elements are restructured too; iframe and template go
    ("<section><div>x<br><br>y</div><iframe></iframe><template>t</template></section>",
     "<section><div><p>x</p><p>y</p></div></section>"),
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
