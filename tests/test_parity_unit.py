"""Unit parity tests transcribed from the reference test-suite.

Each test cites its source in /root/reference/trafilatura_test.go (or the
html-processing/baseline test files). Expected strings are the
reference's own expectations — these pin byte-level behavior.
"""

from go_trafilatura_spark import Config, Options, extract
from go_trafilatura_spark import etree
from go_trafilatura_spark.etree import parse_html
from go_trafilatura_spark.htmlprocessing import handle_text_node, process_node
from go_trafilatura_spark.main_extractor import (
    handle_formatting,
    handle_paragraphs,
    handle_quotes,
    handle_table,
)
from go_trafilatura_spark.settings import TAG_CATALOG
from go_trafilatura_spark.utils import text_filter, trim
from go_trafilatura_spark import css, selectors


def zero_opts() -> Options:
    # trafilatura_test.go:51-60 — zeroConfig has all thresholds at 0;
    # zeroOpts enables fallback with example.org as original URL.
    return Options(
        config=Config(
            cache_size=4096,
            max_duplicate_count=0,
            min_duplicate_check_size=0,
            min_extracted_size=0,
            min_extracted_comment_size=0,
            min_output_size=0,
            min_output_comment_size=0,
        ),
        enable_fallback=True,
        original_url="https://example.org",
    )


def default_opts() -> Options:
    return Options(config=Config())


def doc_from_str(s: str):
    return parse_html(s)


def first(doc, selector):
    return selectors.query(doc, css.parse_group(selector))


# --- Test_Trim (trafilatura_test.go:67-81) ---------------------------------

def test_trim():
    assert trim("\tTest  ") == "Test"
    assert trim("\t\tTest  Test\r\n") == "Test Test"


def test_text_filter():
    elem = etree.new_element("body")
    etree.set_text(elem, "Test Text")
    assert text_filter(elem) is False

    etree.set_text(elem, "Instagram")
    assert text_filter(elem) is True

    etree.set_text(elem, "\t\t")
    assert text_filter(elem) is True


# --- Test_ExoticTags (trafilatura_test.go:83-130) --------------------------

def test_misformed_doctype():
    html = (
        '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN" '
        '2012"http://www.w3.org/TR/html4/loose.dtd">'
        "<html><head></head><body><p>ABC</p></body></html>"
    )
    result = extract(html, zero_opts())
    assert "ABC" in result.content_text


def test_handle_quotes_empty():
    assert handle_quotes(etree.new_element("blockquote"), None, zero_opts()) is None


def test_handle_table_empty():
    assert handle_table(etree.new_element("table"), set(TAG_CATALOG), None, zero_opts()) is None


def test_nested_p_with_trailing_br():
    # trafilatura_test.go:104-112 — expected "<p>1st part. 2nd part.</p>"
    element, second = etree.new_element("p"), etree.new_element("p")
    etree.set_text(element, "1st part.")
    etree.set_text(second, "2nd part.")
    etree.append(element, second)
    etree.sub_element(element, "br")

    converted = handle_paragraphs(element, {"p"}, None, zero_opts())
    assert etree.tostring(converted) == "<p>1st part. 2nd part.</p>"


def test_naked_div_with_br():
    html = "<html><body><main><div>1.<br/>2.<br/>3.<br/></div></main></body></html>"
    result = extract(html, zero_opts())
    assert "1. 2. 3." in result.content_text


def test_details_summary():
    html = (
        "<html><body><article><details><summary>Epcot Center</summary>"
        "<p>Epcot is a theme park at Walt Disney World Resort featuring exciting "
        "attractions, international pavilions, award-winning fireworks and seasonal "
        "special events.</p></details></article></body></html>"
    )
    result = extract(html, zero_opts())
    assert "Epcot Center" in result.content_text
    assert "award-winning fireworks" in result.content_text


# --- Test_HtmlProcessing (trafilatura_test.go:186-243) ---------------------

def test_paywall_filtering():
    html = '<html><body><main><p>1</p><p id="premium">2</p><p>3</p></main></body></html>'
    result = extract(html, zero_opts())
    assert result.content_text == "1 3"


def test_process_node_tail_swap():
    doc = doc_from_str("<div><p></p>tail</div>")
    node = process_node(first(doc, "p"), None, default_opts())
    assert node.text == "tail"
    assert node.tail == ""

    doc = doc_from_str("<ol><li></li>text in tail</ol>")
    node = process_node(first(doc, "li"), None, default_opts())
    assert node.text == "text in tail"
    assert node.tail == ""

    doc = doc_from_str("<p><br/>tail</p>")
    node = process_node(first(doc, "br"), None, default_opts())
    assert node.text == ""
    assert node.tail == "tail"

    doc = doc_from_str("<div><p>some text</p>tail</div>")
    node = process_node(first(doc, "p"), None, default_opts())
    assert node.text == "some text"
    assert node.tail == "tail"


def test_handle_text_node_cases():
    doc = doc_from_str('<p><a href="url"><strong>bold</strong>inner</a>outer</p>')
    node = handle_text_node(first(doc, "a"), None, False, False, default_opts())
    assert node.tail == "outer"

    doc = doc_from_str('<p><a href="url">text</a>tail</p>')
    node = handle_text_node(first(doc, "a"), None, False, False, default_opts())
    assert node.text == "text"
    assert node.tail == "tail"

    doc = doc_from_str('<p><a href="url"></a>tail</p>')
    node = handle_text_node(first(doc, "a"), None, False, False, default_opts())
    assert node.text == "tail"
    assert node.tail == ""

    doc = doc_from_str('<p><a href="url">text<strong>bold</strong></a>tail</p>')
    node = handle_text_node(first(doc, "a"), None, False, False, default_opts())
    assert node.text == "text"
    assert node.tail == "tail"


# --- Test_Formatting (trafilatura_test.go:320-432) -------------------------

def content_html(result) -> str:
    return etree.tostring(result.content_node)


def test_formatting_trailing_br():
    result = extract("<html><body><p>This here is the text.<br/></p></body></html>", zero_opts())
    assert "<br/>" not in content_html(result)


def test_formatting_simple_bold():
    result = extract("<html><body><p><b>This here is in bold font.</b></p></body></html>", zero_opts())
    assert "<p><b>This here is in bold font.</b></p>" in content_html(result)


def test_formatting_title():
    result = extract(
        "<html><body><article><h3>Title</h3><p><b>This here is in bold font.</b></p></article></body></html>",
        zero_opts(),
    )
    assert "<h3>Title</h3>" in content_html(result)
    assert "<p><b>This here is in bold font.</b></p>" in content_html(result)


def test_formatting_nested():
    result = extract(
        "<html><body><p><b>This here is in bold and <i>italic</i> font.</b></p></body></html>",
        zero_opts(),
    )
    assert "<p><b>This here is in bold and <i>italic</i> font.</b></p>" in content_html(result)


def test_formatting_empty():
    result = extract("<html><body><p><b><i></i></b></p></body></html>", zero_opts())
    assert "<body></body>" in content_html(result)


def test_formatting_wild_div():
    result = extract(
        "<html><body><article><div><strong>Wild text</strong></div></article></body></html>",
        zero_opts(),
    )
    assert "<p>" in content_html(result)
    assert "<strong>Wild text</strong>" in content_html(result)
    assert result.content_text == "Wild text"


def test_formatting_link_text():
    result = extract('<html><body><p><a href="">Link text</a></p></body></html>', zero_opts())
    assert etree.text_content(result.content_node) == "Link text"


def test_formatting_line_breaks():
    result = extract("<html><body><p><br/></p></body></html>", zero_opts())
    assert etree.text_content(result.content_node) == ""

    result = extract("<html><body><p><br/>Here is the text.</p></body></html>", zero_opts())
    assert etree.text_content(result.content_node) == "Here is the text."


def test_handle_formatting_tails():
    body = etree.new_element("body")
    element = etree.sub_element(body, "b")
    etree.set_text(element, "Here is the text.")
    etree.set_tail(element, "And a tail.")

    converted = handle_formatting(element, None, zero_opts())
    assert etree.tostring(converted) == "<p><b>Here is the text.</b>And a tail.</p>"


def test_empty_divs():
    result = extract(
        "<html><body><div>\t\n</div><div>There is text here.</div></body></html>",
        zero_opts(),
    )
    assert content_html(result) == "<div><p>There is text here.</p></div>"


def test_list_with_links():
    # Go: Options{IncludeLinks: true, Config: zeroConfig} — no OriginalURL
    opts = Options(config=zero_opts().config, include_links=True)
    result = extract(
        '<html><body><article><ul><li>Number 1</li><li>Number <a href="test.html">2</a></li>'
        "<li>Number 3</li><p>Test</p></article></body></html>",
        opts,
    )
    assert '<li>Number <a href="test.html">2</a></li>' in content_html(result)


def test_markdown_formatting_in_p():
    raw = (
        '<html><body><p><b>bold</b>, <i>italics</i>, <tt>tt</tt>, <strike>deleted</strike>, '
        '<u>underlined</u>, <a href="test.html">link</a> and additional text to bypass detection.</p></body></html>'
    )
    # Go: Options{IncludeLinks: false, Config: zeroConfig} — no fallback
    opts = Options(config=zero_opts().config, include_links=False)
    result = extract(raw, opts)
    assert (
        etree.text_content(result.content_node)
        == "bold, italics, tt, deleted, underlined, link and additional text to bypass detection."
    )
    assert (
        "<p><b>bold</b>, <i>italics</i>, <tt>tt</tt>, <strike>deleted</strike>, "
        "<u>underlined</u>, link and additional text to bypass detection.</p>"
    ) in etree.tostring(result.content_node)

    opts = Options(config=zero_opts().config, include_links=True)
    result = extract(raw, opts)
    assert (
        '<p><b>bold</b>, <i>italics</i>, <tt>tt</tt>, <strike>deleted</strike>, '
        '<u>underlined</u>, <a href="test.html">link</a> and additional text to bypass detection.</p>'
    ) in etree.tostring(result.content_node)


def test_double_p():
    result = extract("<html><body><p>AAA, <p>BBB</p>, CCC.</p></body></html>",
                     Options(config=zero_opts().config, include_links=True))
    assert "AAA" in result.content_text
    assert "BBB" in result.content_text
    assert "CCC" in result.content_text


def test_code_title_formatting():
    html = """
    <html><body>
        <article>
            <h4 id="1theinoperator">1) The <code>in</code> Operator</h4>
            <p>The easiest way to check if a Python string contains a substring is to use the <code>in</code> operator. The <code>in</code> operator is used to check data structures for membership in Python. It returns a Boolean (either <code>True</code> or <code>False</code>) and can be used as follows:</p>
        </article>
    </body></html>"""
    result = extract(html, zero_opts())
    h = content_html(result)
    assert "<h4>1) The <code>in</code> Operator</h4>" in h
    assert "<p>The easiest way to check if a Python string contains a substring is to use the <code>in</code> operator." in h
    assert "The <code>in</code> operator is used to check data structures for membership in Python." in h
    assert "It returns a Boolean (either <code>True</code> or <code>False</code>) and can be used as follows:" in h


# --- Test_TableProcessing (trafilatura_test.go:915-1000) -------------------

def iter_node_values(root):
    values = []
    for node in etree.iter_all(root):
        text = trim(node.text)
        values.append(node.tag + "-" + text if text else node.tag)
    return values


def test_table_simple():
    table = etree.from_string(
        "<table><tr><td>cell1</td><td>cell2</td></tr><tr><td>cell3</td><td>cell4</td></tr></table>"
    )
    processed = handle_table(table, set(TAG_CATALOG), None, default_opts())
    assert iter_node_values(processed) == [
        "table", "tr", "td-cell1", "td-cell2", "tr", "td-cell3", "td-cell4",
    ]


def test_table_cell_with_children():
    table = etree.from_string("<table><tr><td><p>text</p><p>more text</p></td></tr></table>")
    processed = handle_table(table, set(TAG_CATALOG), None, default_opts())
    assert etree.tostring(processed) == "<table><tr><td><p>text</p><p>more text</p></td></tr></table>"


def test_table_complex_page():
    html = """
    <html><body>
        <article>
            <table>
            <tbody>
                <tr>
                <td><small>text<br></small>
                    <h4>more_text</h4>
                </td>
                <td><a href='link'>linktext</a></td>
                </tr>
            </tbody>
            </table>
        </article>
    </body></html>"""
    opts = zero_opts()
    opts.include_links = True
    opts.enable_fallback = False
    result = extract(html, opts)
    assert "<table><tr><td>text<h4>more_text</h4></td></tr></table>" in etree.tostring(result.content_node)


def test_table_with_head():
    table = etree.from_string(
        """<table>
        <tr><th>Month</th><th>Days</th></tr>
        <tr><td>January</td><td>31</td></tr>
        <tr><td>February</td><td>28</td></tr>
    </table>"""
    )
    processed = handle_table(table, set(TAG_CATALOG), None, default_opts())
    rows = etree.children_of(processed)
    assert len(rows) == 3
    cells = etree.children_of(rows[0])
    assert len(cells) == 2
    assert cells[0].tag == "th" and cells[1].tag == "th"
    assert etree.text_content(cells[0]) == "Month"
    assert etree.text_content(cells[1]) == "Days"
