"""Metadata parity part 2: URLs, descriptions, dates, categories, tags,
sitename, license, images, OG/DC meta tags.

Transcribed from /root/reference/metadata_test.go:313-573.
"""

import pytest

from go_trafilatura_spark import etree
from go_trafilatura_spark.metadata import bind_metadata, extract_dom_url, extract_metadata
from go_trafilatura_spark.options import Options


def meta(raw_html: str, opts: Options | None = None):
    opts = opts or Options()
    return bind_metadata(*extract_metadata(etree.parse_html(raw_html), opts),
                         opts.original_url, opts)


URL_CASES = [
    '<html><head><meta property="og:url" content="https://example.org"/></head><body></body></html>',
    '<html><head><link rel="canonical" href="https://example.org"/></head><body></body></html>',
    '<html><head><meta name="twitter:url" content="https://example.org"/></head><body></body></html>',
    '<html><head><link rel="alternate" hreflang="x-default" href="https://example.org"/></head><body></body></html>',
    '<html><head><base href="https://example.org" target="_blank"/></head><body></body></html>',
]


@pytest.mark.parametrize("raw", URL_CASES)
def test_metadata_urls(raw):
    assert meta(raw).url == "https://example.org"


def test_metadata_partial_url():
    raw = (
        '<html><head><link rel="canonical" href="/article/medical-record"/>'
        '<meta name="twitter:url" content="https://example.org"/></head><body></body></html>'
    )
    assert extract_dom_url(etree.TreeIndex(etree.parse_html(raw))) == "https://example.org/article/medical-record"


def test_metadata_descriptions():
    raw = '<html><head><meta itemprop="description" content="Description"/></head><body></body></html>'
    assert meta(raw).description == "Description"

    raw = (
        '<html><head><meta property="og:description" content="&amp;#13; A Northern Territory '
        "action plan, which includes plans to support development and employment on Aboriginal "
        'land, has received an update. &amp;#13..." /></head><body></body></html>'
    )
    assert meta(raw).description == (
        "A Northern Territory action plan, which includes plans to support "
        "development and employment on Aboriginal land, has received an update. ..."
    )


def test_metadata_dates():
    raw = '<html><head><meta property="og:published_time" content="2017-09-01"/></head><body></body></html>'
    assert meta(raw).date == "2017-09-01"

    raw = '<html><head><meta property="og:url" content="https://example.org/2017/09/01/content.html"/></head><body></body></html>'
    assert meta(raw).date == "2017-09-01"

    raw = "<html><body><p>Veröffentlicht am 1.9.17</p></body></html>"
    assert meta(raw).date == "2017-09-01"


def test_metadata_categories():
    raw = """<html><body>
        <p class="entry-categories">
            <a href="https://example.org/category/cat1/">Cat1</a>,
            <a href="https://example.org/category/cat2/">Cat2</a>
        </p></body></html>"""
    assert meta(raw).categories == ["Cat1", "Cat2"]

    raw = """<html><body>
        <div class="postmeta"><a href="https://example.org/category/cat1/">Cat1</a></div>
    </body></html>"""
    assert meta(raw).categories == ["Cat1"]


def test_metadata_tags():
    raw = """<html><body>
        <p class="entry-tags">
            <a href="https://example.org/tags/tag1/">Tag1</a>,
            <a href="https://example.org/tags/tag2/">Tag2</a>
        </p></body></html>"""
    assert meta(raw).tags == ["Tag1", "Tag2"]

    raw = """<html><body>
        <p class="entry-tags">
            <a href="https://example.org/tags/tag1/">    Tag1   </a>,
            <a href="https://example.org/tags/tag2/"> 1 &amp; 2 </a>
        </p></body></html>"""
    assert meta(raw).tags == ["Tag1", "1 & 2"]

    raw = """<html><head>
        <meta name="keywords" content="sodium, salt, paracetamol, blood, pressure, high, heart, &amp;quot, intake, warning, study, &amp;quot, medicine, dissolvable, cardiovascular" />
    </head></html>"""
    assert meta(raw).tags == [
        "sodium", "salt", "paracetamol", "blood", "pressure", "high", "heart",
        "intake", "warning", "study", "medicine", "dissolvable", "cardiovascular",
    ]


def test_metadata_sitename():
    raw = '<html><head><meta name="article:publisher" content="@"/></head><body/></html>'
    assert meta(raw).sitename == ""

    raw = '<html><head><meta name="article:publisher" content="The Newspaper"/></head><body/></html>'
    assert meta(raw).sitename == "The Newspaper"

    raw = '<html><head><meta property="article:publisher" content="The Newspaper"/></head><body/></html>'
    assert meta(raw).sitename == "The Newspaper"

    raw = "<html><head><title>sitemaps.org - Home</title></head><body/></html>"
    assert meta(raw).sitename == "sitemaps.org"


def test_metadata_license_2():
    raw = '<html><body><p><a href="https://creativecommons.org/licenses/by-sa/4.0/" rel="license">CC BY-SA</a></p></body></html>'
    assert meta(raw).license == "CC BY-SA 4.0"

    raw = '<html><body><p><a href="https://licenses.org/unknown" rel="license">Unknown</a></p></body></html>'
    assert meta(raw).license == "Unknown"

    raw = '<html><body><footer><a href="https://creativecommons.org/licenses/by-sa/4.0/">CC BY-SA</a></footer></body></html>'
    assert meta(raw).license == "CC BY-SA 4.0"

    raw = """<html><body>
    <div class="footer__navigation">
        <p class="footer__licence">
            <strong>Lizenz: </strong>
            Die von uns verfassten Inhalte stehen, soweit nicht anders vermerkt, unter der Lizenz
            <a href="http://creativecommons.org/licenses/by-nc-sa/4.0/">Creative Commons BY-NC-SA 4.0.</a>
        </p>
    </div></body></html>"""
    assert meta(raw).license == "CC BY-NC-SA 4.0"

    raw = """<html><body><footer class="entry-footer">
        <span class="cat-links">Posted in <a href="https://sallysbakingaddiction.com/category/seasonal/birthday/" rel="category tag">Birthday</a></span>
    </footer></body></html>"""
    assert meta(raw).license == ""

    raw = """<html><body><footer class="entry-footer">
        <span>The license is <a href="https://example.org/1">CC BY-NC</a></span>
    </footer></body></html>"""
    assert meta(raw).license == "CC BY-NC"


IMG_OPTS = Options(original_url="http://example.org")

IMAGE_CASES = [
    ('<html><head><meta property="image" content="https://example.org/example.jpg"></html>',
     "https://example.org/example.jpg"),
    ('<html><head><meta property="og:image:url" content="example.jpg"></html>',
     "http://example.org/example.jpg"),
    ('<html><head><meta property="og:image" content="https://example.org/example-opengraph.jpg" /><body/></html>',
     "https://example.org/example-opengraph.jpg"),
    ('<html><head><meta property="twitter:image" content="https://example.org/example-twitter.jpg"></html>',
     "https://example.org/example-twitter.jpg"),
    ('<html><head><meta property="twitter:image:src" content="example-twitter.jpg"></html>',
     "http://example.org/example-twitter.jpg"),
    ('<html><head><meta name="robots" content="index, follow, max-image-preview:large" /></html>',
     ""),
]


@pytest.mark.parametrize("raw,expected", IMAGE_CASES)
def test_metadata_images(raw, expected):
    assert meta(raw, IMG_OPTS).image == expected


def test_metadata_og_full():
    raw = """<html>
        <head>
            <meta property="og:title" content="Open Graph Title" />
            <meta property="og:author" content="Jenny Smith" />
            <meta property="og:description" content="This is an Open Graph description" />
            <meta property="og:site_name" content="My first site" />
            <meta property="og:url" content="https://example.org/test" />
            <meta property="og:type" content="Open Graph Type" />
        </head>
        <body><a rel="license" href="https://creativecommons.org/">Creative Commons</a></body>
    </html>"""
    m = meta(raw)
    assert m.title == "Open Graph Title"
    assert m.author == "Jenny Smith"
    assert m.description == "This is an Open Graph description"
    assert m.sitename == "My first site"
    assert m.url == "https://example.org/test"
    assert m.license == "Creative Commons"
    assert m.page_type == "Open Graph Type"


def test_metadata_dc_tags():
    raw = """<html><head>
            <meta name="dc.title" content="Open Graph Title" />
            <meta name="dc.creator" content="Jenny Smith" />
            <meta name="dc.description" content="This is an Open Graph description" />
        </head></html>"""
    m = meta(raw)
    assert m.title == "Open Graph Title"
    assert m.author == "Jenny Smith"
    assert m.description == "This is an Open Graph description"


def test_metadata_itemprop_headline():
    raw = '<html><head><meta itemprop="headline" content="Title" /></head></html>'
    assert meta(raw).title == "Title"


def test_metadata_empty():
    for raw in ("", "<html><title></title></html>"):
        m = meta(raw)
        assert m.title == "" and m.author == "" and m.url == ""
        assert m.hostname == "" and m.description == "" and m.sitename == ""
        assert m.date == "" and m.categories == [] and m.tags == []


def test_metadata_title_from_file():
    # metadata_test.go:117-118
    import os
    path = "/root/reference/test-files/simple/metadata-title.html"
    if not os.path.exists(path):
        import pytest
        pytest.skip("reference corpus absent")
    with open(path, "rb") as f:
        doc = etree.parse_html(f.read())
    from go_trafilatura_spark.metadata import extract_metadata
    assert extract_metadata(doc, Options())[0].title == "Semantic satiation"
