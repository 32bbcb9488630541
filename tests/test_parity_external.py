"""External/sanitize parity (trafilatura_test.go:542-608)."""

import os

import pytest

from go_trafilatura_spark import Config, ExtractError, Options, extract
from go_trafilatura_spark import css, etree, selectors
from go_trafilatura_spark.external import sanitize_tree

SIMPLE_DIR = "/root/reference/test-files/simple"


def default_opts():
    return Options(config=Config())


def doc_from_str(s):
    return etree.parse_html(s)


def try_extract(html, opts):
    try:
        return extract(html, opts)
    except ExtractError:
        return None


def test_sanitize_removes_unwanted():
    doc = doc_from_str("<html><body><footer>Test text</footer></body></html>")
    sanitize_tree(doc, default_opts())
    assert etree.iter_text(doc, " ") == ""

    doc = doc_from_str("<html><body><table><th>Test text</th><tr><td>Test</td></tr></table></body></html>")
    sanitize_tree(doc, default_opts())
    assert etree.iter_text(doc, " ") != ""


def test_sanitize_strips_fancy_tags():
    doc = doc_from_str('<html><body><p>Text here <fancy>Test text</fancy><a href="">with a link</a>.</p><img src="test.jpg"/></body></html>')
    sanitize_tree(doc, default_opts())
    body = selectors.query(doc, css.parse_group("body"))
    assert len(etree.children_of(body)) == 1

    opts = Options(include_links=True, include_images=True)
    doc = doc_from_str('<html><body><p>Text here <fancy>Test text</fancy><a href="">with a link</a>.</p><img src="test.jpg"/></body></html>')
    sanitize_tree(doc, opts)
    body = selectors.query(doc, css.parse_group("body"))
    assert len(etree.children_of(body)) == 2
    assert etree.get_elements_by_tag(body, "a")
    assert etree.get_elements_by_tag(body, "img")


def test_language_gate_italian():
    html = "<html><body>" + "<p>Non è inglese.</p>" * 20 + "</body></html>"
    assert try_extract(html, Options(target_language="en")) is None


@pytest.mark.skipif(not os.path.isdir(SIMPLE_DIR), reason="reference corpus absent")
def test_exclude_tables_apache():
    with open(os.path.join(SIMPLE_DIR, "apache.html"), "rb") as f:
        data = f.read()

    result = extract(data, Options(exclude_tables=False))
    assert "localhost:80" in result.content_text

    result = extract(data, Options(exclude_tables=True))
    assert "localhost:80" not in result.content_text


@pytest.mark.skipif(not os.path.isdir(SIMPLE_DIR), reason="reference corpus absent")
def test_exclude_tables_scam():
    with open(os.path.join(SIMPLE_DIR, "scam.html"), "rb") as f:
        data = f.read()

    zero = Config(min_extracted_size=0, min_output_size=0)
    result = try_extract(data, Options(exclude_tables=True, config=zero))
    assert result is None or result.content_text == ""

    result = extract(data, Options(exclude_tables=True, enable_fallback=True, config=zero))
    assert result.content_text != ""
    assert "Uncensored Hosting" not in result.content_text
    assert "ChooseBetter" not in result.content_text
