"""Parity tests: images, links, extraction options, precision/recall,
prune selector, mixed content, entities, perf.

Transcribed from /root/reference/trafilatura_test.go:610-915, 1450-1518.
"""

import os
import time

import pytest

from go_trafilatura_spark import Config, ExtractError, Options, extract
from go_trafilatura_spark import etree
from go_trafilatura_spark.main_extractor import handle_formatting, handle_image, handle_text_elem
from go_trafilatura_spark.options import BALANCED, FAVOR_PRECISION, FAVOR_RECALL
from go_trafilatura_spark.utils import is_image_file

SIMPLE_DIR = "/root/reference/test-files/simple"


def zero_config():
    return Config(min_extracted_size=0, min_output_size=0)


def zopts(**kw):
    return Options(config=zero_config(), **kw)


def zero_opts():
    return Options(config=zero_config(), enable_fallback=True,
                   original_url="https://example.org")


def try_extract(html, opts):
    try:
        return extract(html, opts)
    except ExtractError:
        return None


def content_html(result):
    return etree.tostring(result.content_node)


# --- Test_Images (trafilatura_test.go:610-695) -------------------------------

def test_is_image_file():
    assert is_image_file("test.jpg") is True
    assert is_image_file("test.txt") is False


def test_handle_image():
    assert handle_image(None) is None
    assert handle_image(etree.from_string('<img src="test.jpg"/>')) is not None
    assert handle_image(
        etree.from_string('<img data-src="test.jpg" alt="text" title="a title"/>')
    ) is not None
    assert handle_image(etree.from_string('<img other="test.jpg"/>')) is None


def test_handle_text_elem_img_not_potential():
    assert handle_text_elem(etree.new_element("img"), set(), None, Options()) is None


@pytest.mark.skipif(not os.path.isdir(SIMPLE_DIR), reason="reference corpus absent")
def test_images_include_toggle():
    with open(os.path.join(SIMPLE_DIR, "http_sample.html"), "rb") as f:
        data = f.read()

    opts = zopts()
    result = extract(data, opts)
    assert '<img src="test.jpg" title="Example image"/>' not in content_html(result)

    opts = zopts(include_images=True)
    result = extract(data, opts)
    assert '<img src="test.jpg" title="Example image"/>' in content_html(result)


def test_images_from_string():
    opts = zopts(include_images=True)

    s = '<html><body><article><p><img data-src="test.jpg" alt="text" title="a title"/></p></article></body></html>'
    result = extract(s, opts)
    assert '<img src="test.jpg" alt="text" title="a title"/>' in content_html(result)

    s = '<html><body><article><p><img other="test.jpg" alt="text" title="a title"/></p></article></body></html>'
    result = extract(s, opts)
    assert content_html(result) == "<body></body>"

    s = '<html><body><article><div><p><img data-src="test.jpg" alt="text" title="a title"/></p></div></article></body></html>'
    result = extract(s, opts)
    assert '<img src="test.jpg" alt="text" title="a title"/>' in content_html(result)

    s = '<html><body><article><div><p><img data-src-small="test.jpg" alt="text" title="a title"/></p></div></article></body></html>'
    result = extract(s, opts)
    assert '<img src="test.jpg" alt="text" title="a title"/>' in content_html(result)


# --- Test_Links (trafilatura_test.go:697-766) --------------------------------

def test_links():
    link_opts = zopts(include_links=True)

    assert handle_text_elem(etree.new_element("a"), set(), None, Options()) is None

    element = etree.from_string('<a href="testlink.html">Test link text.</a>')
    assert handle_formatting(element, None, zero_opts()) is not None

    html = '<html><body><p><a href="testlink.html">Test link text.</a>This part of the text has to be long enough.</p></body></html>'
    result = extract(html, zero_opts())
    assert "testlink.html" not in content_html(result)

    result = extract(html, link_opts)
    assert (
        '<a href="testlink.html">Test link text.</a>This part of the text has to be long enough.'
        in content_html(result)
    )

    result = extract(html, zopts(include_links=True, original_url="https://www.example.com"))
    assert (
        '<a href="https://www.example.com/testlink.html">Test link text.</a>This part of the text has to be long enough.'
        in content_html(result)
    )

    html = "<html><body><p><a>Test link text.</a>This part of the text has to be long enough.</p></body></html>"
    result = extract(html, link_opts)
    assert "<a>Test link text.</a>This part of the text has to be long enough." in content_html(result)

    html = "<html><body><article><a>Segment 1</a><h1><a>Segment 2</a></h1><p>Segment 3</p></article></body></html>"
    result = extract(html, link_opts)
    for seg in ("1", "2", "3"):
        assert seg in result.content_text

    html = '<html><body><p>Test text under <a rel="license" href="">CC BY-SA license</a>.</p></body></html>'
    result = extract(html, link_opts)
    assert "<a>CC BY-SA license</a>" in content_html(result)


def test_link_length_threshold():
    html = "<html><body><article><p><a>" + "abcd" * 20 + "</a></p></article></body></html>"

    result = try_extract(html, zopts(focus=BALANCED))
    assert result is not None and "abcd" in etree.text_content(result.content_node)

    result = try_extract(html, zopts(focus=FAVOR_PRECISION))
    assert result is None or etree.text_content(result.content_node) == ""


# --- Test_ExtractionOptions (trafilatura_test.go:768-809) --------------------

def test_extraction_options():
    html = """<html>
        <head>
            <meta http-equiv="content-language" content="EN" />
        </head>
        <body>
            <div="article-body">
                <p>Text.<!-- comment --></p>
            </div>
        </body>
    </html>"""

    assert try_extract(html, zopts()) is not None
    assert try_extract(html, zopts(has_essential_metadata=True)) is None
    assert try_extract(html, zopts(target_language="de")) is None


# --- Test_PrecisionRecall (trafilatura_test.go:811-913) ----------------------

def test_precision_recall_basic():
    html = "<html><body><p>This here is the text.</p></body></html>"
    assert try_extract(html, zopts(focus=FAVOR_PRECISION)) is not None
    assert try_extract(html, zopts(focus=FAVOR_RECALL)) is not None


def test_precision_recall_teaser():
    html = """<html><body>
        <div class="article-body">
            <div class="teaser-content">
                <p>This here is a teaser text.</p>
            </div>
            <p>This here is the text.</p>
        </div>
    </body></html>"""

    result = extract(html, zopts(focus=FAVOR_RECALL))
    assert "teaser text" in result.content_text

    result = extract(html, zopts(focus=BALANCED))
    assert "teaser text" not in result.content_text

    result = extract(html, zopts(focus=FAVOR_PRECISION))
    assert "teaser text" not in result.content_text


def test_precision_recall_link_farm_never():
    html = """<html><body><article><div><p>
        <a href="test.html">1.</a>
        <br />
        <a href="test2.html">2.</a>
    </p></div></article></body></html>"""

    result = try_extract(html, zopts(focus=FAVOR_RECALL))
    assert result is None or "1" not in result.content_text

    result = try_extract(html, zopts(focus=FAVOR_PRECISION))
    assert result is None or "1" not in result.content_text


def test_precision_recall_link_class():
    html = """<html><body>
        <div class="article-body">
            <p>content</p>
            <p class="link">Test</p>
        </div>
    </body></html>"""

    result = extract(html, zopts(focus=FAVOR_RECALL))
    assert "content" in result.content_text
    assert "Test" in result.content_text

    result = extract(html, zopts(focus=FAVOR_PRECISION))
    assert "content" in result.content_text
    assert "Test" not in result.content_text


def test_precision_recall_aside():
    html = """<html><body><article>
        <aside><p>Here is the text.</p></aside>
    </article></body></html>"""

    result = try_extract(html, zopts(focus=BALANCED))
    assert result is None or result.content_text != "Here is the text."

    result = extract(html, zopts(focus=FAVOR_RECALL))
    assert result.content_text == "Here is the text."


def test_precision_recall_span():
    html = """<html><body><div>
        <span>Text.</span>
    </div></body></html>"""

    result = try_extract(html, zopts(focus=FAVOR_PRECISION))
    assert result is None or result.content_text == ""

    result = extract(html, zopts(focus=FAVOR_RECALL))
    assert result.content_text == "Text."


# --- Test_PruneSelector (trafilatura_test.go:1450-1499) ----------------------

def _create_doc_html(content: str) -> str:
    return f"<html><body>{content}</body></html>"


def test_prune_selector():
    opts_kw = dict(enable_fallback=True)
    p, h1, h2 = "<p>abc</p>", "<h1>ABC</h1>", "<h2>42</h2>"
    doc1 = _create_doc_html(p * 50)
    doc2 = _create_doc_html(h1 + p * 50)
    doc3 = _create_doc_html(h1 + h2 + p * 50)

    assert content_html(extract(doc1, zopts(**opts_kw))) != ""
    assert content_html(extract(doc2, zopts(**opts_kw))) != ""
    assert content_html(extract(doc3, zopts(**opts_kw))) != ""

    result = extract(doc1, zopts(prune_selector="p", **opts_kw))
    assert result.content_text == ""

    result = extract(doc2, zopts(prune_selector="p", **opts_kw))
    assert result.content_text == "ABC"

    result = extract(doc2, zopts(prune_selector="p, h1", **opts_kw))
    assert result.content_text == ""

    result = extract(doc3, zopts(prune_selector="p, h1", **opts_kw))
    assert result.content_text == "42"


# A paragraph long enough that the baseline rescue would keep it, in a
# block the prune selector removes; what is left is below the default
# min_extracted_size, so the rescue fires.
PRUNED_TEXT = " ".join(["Pruned" + "x" * 63] * 4)
PRUNE_LEAK_PAGE = (f'<html><body><div class="junk"><p>{PRUNED_TEXT}</p></div>'
                   "<p>Tiny.</p></body></html>")


def test_prune_selector_applies_to_baseline_rescue():
    """The default config makes the baseline rescue fire; it must run
    on the pruned page (core.go applies the selector before cloning
    the rescue tree)."""
    result = extract(PRUNE_LEAK_PAGE, Options(prune_selector="div.junk"))
    assert "Pruned" not in result.content_text
    assert result.content_text == "Tiny."
    # Without the selector the rescue keeps the paragraph
    assert "Pruned" in extract(PRUNE_LEAK_PAGE, Options()).content_text


def test_extract_document_leaves_caller_tree_unchanged():
    from go_trafilatura_spark import extract_document

    page = _create_doc_html(
        '<div class="junk"><p>drop me</p></div>' + "<p>" + "Kept words here. " * 30 + "</p>"
        '<div class="comments"><p>A comment.</p></div>')
    doc = etree.parse_html(page)
    before = etree.tostring(doc)
    for focus in (FAVOR_PRECISION, BALANCED):
        result = extract_document(doc, Options(prune_selector="div.junk", focus=focus))
        assert "drop me" not in result.content_text
        assert etree.tostring(doc) == before


# --- Mixed content / entities / perf (trafilatura_test.go:1501-1518) ---------

def test_mixed_content():
    html = '<html><body><p>Text here</p><img src="img.jpg"/><video src="video.mp4"/></body></html>'
    result = extract(html, zero_opts())
    assert result.content_text == "Text here"


def test_non_std_entities():
    html = "<html><body><p>Text &customentity; more text</p></body></html>"
    result = extract(html, zero_opts())
    assert result.content_text == "Text &customentity; more text"


def test_large_doc_performance():
    html = "<html><body>" + "<p>Sample text</p>" * 1000 + "</body></html>"
    start = time.time()
    try_extract(html, zero_opts())
    assert time.time() - start <= 5.0


# --- Test_isAbsoluteURL (url_test.go:30-41) -----------------------------------

def test_is_absolute_url():
    from go_trafilatura_spark.utils import is_absolute_url

    assert is_absolute_url("http://www.test.org:7ERT/test")[0] is False
    assert is_absolute_url("ntp://www.test.org/test")[0] is False
    assert is_absolute_url("ftps://www.test.org/test")[0] is False
    assert is_absolute_url("http://t.g/test")[0] is True
    assert is_absolute_url("http://test.org/test")[0] is True


def _page(head: str) -> bytes:
    para = "<p>" + "This paragraph carries enough ordinary words to pass the gates. " * 8 + "</p>"
    return (f"<html><head><title>T</title>{head}</head><body><article>{para * 3}"
            "</article></body></html>").encode()


def test_extract_does_not_mutate_caller_options():
    """The metadata url backfill stays local to one page: a page without
    a canonical link extracted after one with it gets no url."""
    canonical = '<link rel="canonical" href="https://a.example/post">'
    opts = Options()
    first = extract(_page(canonical), opts)
    second = extract(_page(""), opts)
    assert first.metadata.url == "https://a.example/post"
    assert opts.original_url is None
    assert second.metadata.url == "" and second.metadata.hostname == ""
    assert second.metadata.url == extract(_page(""), Options()).metadata.url


def test_options_from_dict_rejects_unknown_keys():
    from go_trafilatura_spark.kernel import KernelOptions

    opts = Options.from_dict({"exclude_comments": True, "config": {"min_output_size": 0}})
    assert opts.exclude_comments and opts.config.min_output_size == 0
    with pytest.raises(ValueError, match="url"):
        Options.from_dict({"url": "https://a.example/"})
    with pytest.raises(ValueError, match="config.min_extract_size"):
        Options.from_dict({"config": {"min_extract_size": 0}})
    with pytest.raises(ValueError, match="exclude_coments"):
        KernelOptions({"exclude_coments": True})


@pytest.mark.parametrize("key,value", [
    ("focus", "precision"), ("focus", 3), ("focus", True), ("focus", 1.0),
    ("date_mode", "slow"), ("date_mode", None),
    ("enable_fallback", 1), ("exclude_comments", "yes"), ("deduplicate", None),
    ("has_essential_metadata", 0),
    ("max_tree_size", -1), ("max_tree_size", 2.5), ("max_tree_size", False),
    ("config.min_extracted_size", -5), ("config.cache_size", "big"),
    ("config.min_output_size", True), ("config", 5),
    ("prune_selector", 5), ("target_language", None),
    ("blacklisted_authors", "Jane Doe"), ("blacklisted_authors", ["Jane Doe", 5]),
    ("blacklisted_authors", ("Jane Doe",)),
])
def test_options_from_dict_rejects_bad_values(key, value):
    from go_trafilatura_spark.kernel import KernelOptions

    name = key.partition(".")[2]
    d = {"config": {name: value}} if name else {key: value}
    with pytest.raises(ValueError, match=f"option {key}:"):
        Options.from_dict(d)
    # a bad job option fails on the driver, before any task runs
    with pytest.raises(ValueError, match=f"option {key}:"):
        KernelOptions(d)


def test_options_from_dict_accepts_real_values():
    """The option dicts the jobs, the comparison, the benchmarks and the
    CLI's flags produce all pass the value checks."""
    import argparse
    from dataclasses import fields

    from go_trafilatura_spark.cli import build_options

    dicts = [
        {}, {"enable_fallback": True}, {"focus": FAVOR_PRECISION}, {"focus": FAVOR_RECALL},
        {"config": {"min_extracted_size": 0}}, {"config": {"min_extracted_size": 250}},
        {"config": {"min_extracted_size": 0, "min_output_size": 0}},
        {"exclude_comments": True, "exclude_tables": False, "enable_fallback": True,
         "focus": BALANCED},
        {"exclude_comments": True, "date_mode": "extensive"},
        {"date_mode": "default"}, {"date_mode": "disabled"}, {"date_mode": "fast"},
    ]
    flags = ["no_fallback", "no_comments", "no_tables", "images", "links",
             "deduplicate", "precision", "recall"]
    for on in [(), ("precision",), ("recall",), tuple(flags[:-2]) + ("recall",)]:
        args = argparse.Namespace(url="https://a.example/", language="de",
                                  prune_selector="div.ad", **{f: f in on for f in flags})
        opts = build_options(args)
        dicts.append({f.name: getattr(opts, f.name) for f in fields(Options)
                      if f.name != "config"})
    for d in dicts:
        opts = Options.from_dict(d)
        for k, v in d.items():
            if k != "config":
                assert getattr(opts, k) == v


def test_blacklisted_authors_from_a_job_dict():
    """A job's ``blacklisted_authors`` must be a list of strings: a bare
    string fails before any task runs (iterated, it would blacklist
    single characters), and a list drops the named author from the
    kernel row."""
    from go_trafilatura_spark.kernel import KernelOptions, _extract_row

    with pytest.raises(ValueError, match="option blacklisted_authors:"):
        KernelOptions({"blacklisted_authors": "Jane Doe"})
    html = ("<html><head><meta name=\"author\" content=\"Jane Doe\"></head><body><article>"
            + "<p>The harbour committee met again about the ferry timetable.</p>" * 8
            + "</article></body></html>").encode()
    author = 5  # the author column of a kernel row
    assert _extract_row("https://a.example/p", html, KernelOptions())[author] == "Jane Doe"
    row = _extract_row("https://a.example/p", html,
                       KernelOptions({"blacklisted_authors": ["Jane Doe"]}))
    assert row[author] == ""
