"""Parity tests: baseline cascade + metadata extraction.

Transcribed from /root/reference/baseline_test.go:32-165 and selected
cases of /root/reference/metadata_test.go.
"""

from go_trafilatura_spark import etree
from go_trafilatura_spark.baseline import baseline
from go_trafilatura_spark.metadata import (
    bind_metadata,
    extract_metadata,
    normalize_authors,
    title_case,
    validate_metadata_name,
)
from go_trafilatura_spark.options import Options


def doc_from_str(s: str):
    return etree.parse_html(s)


def meta(html: str, url: str | None = None):
    opts = Options(original_url=url)
    return bind_metadata(*extract_metadata(doc_from_str(html), opts), url, opts)


# --- Test_Baseline (baseline_test.go:32-165) --------------------------------

def test_baseline_blank():
    _, result = baseline(doc_from_str(""))
    assert result == ""


def test_baseline_invalid_html():
    _, result = baseline(doc_from_str("<invalid html>"))
    assert result == ""


def test_baseline_article_tag():
    doc = doc_from_str(
        "<html><body><article>"
        + "The article consists of this text." * 10
        + "</article></body></html>"
    )
    _, result = baseline(doc)
    assert result != ""

    doc = doc_from_str(
        "<html><body><article><b>The article consists of this text.</b></article></body></html>"
    )
    _, result = baseline(doc)
    assert result != ""


def test_baseline_quote():
    doc = doc_from_str(
        "<html><body><blockquote>This is only a quote but it is better than nothing.</blockquote></body></html>"
    )
    _, result = baseline(doc)
    assert result != ""


def test_baseline_invalid_json():
    doc = doc_from_str("""
        <html><body>
            <script type="application/ld+json">
                {"articleBody": "This is the article body, it has to be long enough to fool the length threshold which is set at len 100."  # invalid JSON
            </script>
        </body></html>""")
    _, result = baseline(doc)
    assert result == ""


def test_baseline_json_ok():
    doc = doc_from_str("""
        <html><body>
            <script type="application/ld+json">
                {
                    "@type": "Article",
                    "articleBody": "This is the article body, it has to be long enough to fool the length threshold which is set at len 100."
                }
            </script>
        </body></html>""")
    _, result = baseline(doc)
    assert result == (
        "This is the article body, it has to be long enough to fool the "
        "length threshold which is set at len 100."
    )


def test_baseline_json_with_html():
    doc = doc_from_str("""
        <html><body>
            <script type="application/ld+json">
                {
                    "@type": "Article",
                    "articleBody": "<p>This is the article body, it has to be long enough to fool the length threshold which is set at len 100.</p>"
                }
            </script>
        </body></html>""")
    _, result = baseline(doc)
    assert result == (
        "This is the article body, it has to be long enough to fool the "
        "length threshold which is set at len 100."
    )


def test_baseline_document_body():
    doc = doc_from_str(
        "<html><body><div>   Document body...   </div>"
        "<script> console.log('Hello world') </script></body></html>"
    )
    _, result = baseline(doc)
    assert result == "Document body..."


# --- metadata_test.go (selected cases) ---------------------------------------

def test_meta_titles():
    # metadata_test.go: titles from h1/h2/title cascade
    m = meta('<html><body><h1>First</h1><h1>Second</h1></body></html>')
    assert m.title == "First"

    m = meta('<html><body><h1>   </h1><div class="post-title">Test Title</div></body></html>')
    assert m.title == "Test Title"

    m = meta("<html><head><title>Test Title</title></head><body></body></html>")
    assert m.title == "Test Title"

    m = meta('<html><body><h2 class="block-title">Main menu</h2><h1 class="article-title">Test Title</h1></body></html>')
    assert m.title == "Test Title"


def test_meta_og():
    m = meta("""<html><head>
        <meta property="og:site_name" content="My Site"/>
        <meta property="og:title" content="My OG Title"/>
        <meta property="og:description" content="My OG Description"/>
        <meta property="og:url" content="https://example.org/article"/>
        <meta property="og:type" content="article"/>
        </head><body></body></html>""")
    assert m.title == "My OG Title"
    assert m.description == "My OG Description"
    assert m.sitename == "My Site"
    assert m.url == "https://example.org/article"
    assert m.page_type == "article"
    assert m.hostname == "example.org"


def test_meta_authors():
    # normalizeAuthors behaviors (metadata.go:686-749)
    assert normalize_authors("", "Jenny Smith") == "Jenny Smith"
    assert normalize_authors("", "Jenny Smith and John Smith") == "Jenny Smith; John Smith"
    assert normalize_authors("", "Jenny Smith, John Smith") == "Jenny Smith; John Smith"
    assert normalize_authors("", "Jenny Smith & John Smith") == "Jenny Smith; John Smith"
    assert normalize_authors("", "Jenny Smith und John Smith") == "Jenny Smith; John Smith"
    assert normalize_authors("Jenny Smith", "John Smith") == "Jenny Smith; John Smith"
    # URL-ish and emails are rejected outright
    assert normalize_authors("", "https://example.org/jenny") == ""
    assert normalize_authors("", "jenny@example.org") == ""
    # lowercase names get title-cased
    assert normalize_authors("", "jenny smith") == "Jenny Smith"
    # social handles are stripped
    assert normalize_authors("", "Jenny Smith @jsmith") == "Jenny Smith"


def test_validate_metadata_name():
    assert validate_metadata_name("") == ""
    assert validate_metadata_name("SingleWord") == ""
    assert validate_metadata_name("http://example.org") == ""
    assert validate_metadata_name("Jenny Smith") == "Jenny Smith"
    assert validate_metadata_name('{"name": "x"}') == ""


def test_title_case():
    assert title_case("jenny smith") == "Jenny Smith"
    assert title_case("JENNY SMITH") == "Jenny Smith"
    assert title_case("o'brien jones") == "O'brien Jones"
    assert title_case("jean-claude smith") == "Jean-Claude Smith"


def test_meta_url_canonical():
    m = meta("""<html><head>
        <link rel="canonical" href="https://example.org/canonical-page"/>
        </head><body></body></html>""")
    assert m.url == "https://example.org/canonical-page"
    assert m.hostname == "example.org"


def test_meta_url_relative_canonical():
    m = meta("""<html><head>
        <meta property="og:url" content="https://example.org/whatever"/>
        <link rel="canonical" href="/relative-page"/>
        </head><body></body></html>""")
    # og:url wins since OpenGraph is examined first
    assert m.url == "https://example.org/whatever"


def test_meta_license():
    m = meta("""<html><body>
        <footer><a rel="license" href="https://creativecommons.org/licenses/by-sa/4.0/">CC</a></footer>
        </body></html>""")
    assert m.license == "CC BY-SA 4.0"

    # strict footer probe returns the CC text match itself
    m = meta("""<html><body>
        <div class="site-footer"><a href="https://licenses.example.org">Creative Commons BY-SA 3.0</a></div>
        </body></html>""")
    assert m.license == "Creative Commons BY-SA 3.0"

    m = meta("""<html><body>
        <div class="footer-wrap"><a href="https://example.org">CC BY-SA 3.0</a></div>
        </body></html>""")
    assert m.license == "CC BY-SA 3.0"


def test_meta_jsonld_author_person():
    m = meta("""<html><head><script type="application/ld+json">
        {"@context": "https://schema.org", "@type": "NewsArticle",
         "author": {"@type": "Person", "name": "Jenny Smith"},
         "publisher": {"@type": "Organization", "name": "Example Org"},
         "headline": "The Headline Of This Article"}
        </script></head><body></body></html>""")
    assert m.author == "Jenny Smith"
    assert m.sitename == "Example Org"
    assert m.title == "The Headline Of This Article"
    assert m.page_type == "NewsArticle"


def test_meta_jsonld_name_composition():
    m = meta("""<html><head><script type="application/ld+json">
        {"@type": "Article",
         "author": {"@type": "Person", "givenName": "Jenny", "familyName": "Smith"}}
        </script></head><body></body></html>""")
    assert m.author == "Jenny Smith"


def test_meta_categories_tags():
    m = meta("""<html><body>
        <div class="post-info"><a href="https://example.org/category/news">News</a></div>
        <div class="tags"><a href="https://example.org/tags/sports">Sports</a></div>
        <article><p>text</p></article></body></html>""")
    assert m.categories == ["News"]
    assert m.tags == ["Sports"]


def test_meta_date_fast():
    m = meta("""<html><head>
        <meta property="article:published_time" content="2020-05-13T10:00:00Z"/>
        </head><body></body></html>""")
    assert m.date == "2020-05-13"

    m = meta("<html><head></head><body><time datetime='2019-02-03'>Feb 3</time></body></html>")
    assert m.date == "2019-02-03"

    # original_url backfills metadata.url, whose path dates the page
    m = meta("<html><head></head><body></body></html>",
             url="https://example.org/blog/2018/07/15/article-name")
    assert m.date == "2018-07-15"
