"""JSON-LD metadata parity on the reference's own fixture files.

Transcribed from /root/reference/metadata-json_test.go:9-176; runs
extract_metadata on test-files/simple/json-metadata-*.html (read-only).
"""

import os

import pytest

from go_trafilatura_spark import etree
from go_trafilatura_spark.metadata import bind_metadata, extract_metadata
from go_trafilatura_spark.options import Options

SIMPLE_DIR = "/root/reference/test-files/simple"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SIMPLE_DIR), reason="reference corpus not available"
)


def meta_from_file(name: str):
    with open(os.path.join(SIMPLE_DIR, name), "rb") as f:
        doc = etree.parse_html(f.read())
    return bind_metadata(*extract_metadata(doc, Options()), None, Options())


# (file, {field: expected}) — metadata-json_test.go:12-176
CASES = [
    ("json-metadata-1-a.html", {"author": "Maggie Haberman; Shane Goldmacher; Michael Crowley", "page_type": "NewsArticle"}),
    ("json-metadata-1-b.html", {"sitename": "Safety Insurance Group, Inc."}),
    ("json-metadata-2-a.html", {"author": "Jenny Smith", "page_type": "NewsArticle"}),
    ("json-metadata-2-b.html", {"author": "Amir Vera; Seán Federico O'Murchú; Tara Subramaniam; Adam Renton; CNN", "page_type": "NewsArticle"}),
    ("json-metadata-2-c.html", {"author": "Deborah O'Donoghue", "page_type": "Article"}),
    ("json-metadata-2-d.html", {"author": "Sam McPhee; Tara Cosoleto", "page_type": "NewsArticle"}),
    ("json-metadata-3-a.html", {"author": "Jean Sévillia", "page_type": "Article"}),
    ("json-metadata-3-b.html", {"author": "John Doe", "page_type": "Article", "title": "Example Article"}),
    ("json-metadata-3-c.html", {"author": "John Doe", "page_type": "LiveBlogPosting", "title": "Example Live Blog"}),
    ("json-metadata-3-d.html", {"sitename": "https://www.example.com"}),
    ("json-metadata-4.html", {"title": "Apple Spring Forward Event Live Blog", "page_type": "LiveBlogPosting"}),
    ("json-metadata-5.html", {"title": "Apple Spring Forward Event Live Blog", "page_type": "LiveBlogPosting"}),
    ("json-metadata-5-b.html", {"title": "Apple Spring Forward Event Live Blog", "page_type": "LiveBlogPosting"}),
    ("json-metadata-6.html", {"author": "Douglas Noel Adams", "page_type": "socialmediaposting"}),
    ("json-metadata-7.html", {"categories": [], "page_type": "Article"}),
    ("json-metadata-8.html", {"title": "Mickelson comments hurt new league: Norman", "sitename": "7News", "author": "Digital Staff", "page_type": "NewsArticle"}),
    ("json-metadata-9.html", {"title": "Australians stuck in Shanghai's COVID lockdown beg consular officials to help them flee", "sitename": "ABC News", "author": "Bill Birtles", "page_type": "NewsArticle"}),
    ("json-metadata-10.html", {"title": "New York City Enters Higher Coronavirus Risk Level as Case Numbers Rise", "sitename": "The New York Times", "author": "Sharon Otterman; Emma G Fitzsimmons", "page_type": "NewsArticle"}),
    ("json-metadata-11.html", {"title": "Decreto permite que consumidor cancele serviços de empresas via WhatsApp", "sitename": "UOL", "author": "Caio Mello", "page_type": "NewsArticle"}),
    ("json-metadata-12.html", {"title": "12 words and phrases you need to survive in Hamburg", "sitename": "The Local", "author": "Alexander Johnstone", "page_type": "NewsArticle"}),
    ("json-metadata-13.html", {"sitename": "Andreessen Horowitz", "author": "", "page_type": "ProfilePage"}),
    ("json-metadata-14.html", {"sitename": "", "author": "", "page_type": ""}),
    ("json-metadata-15.html", {"sitename": "", "author": "", "page_type": "LiveBlogPosting"}),
    ("json-metadata-16.html", {"sitename": "", "author": "", "page_type": "LiveBlogPosting"}),
    ("json-metadata-17.html", {"sitename": "", "title": "Apple Spring Forward Event Live Blog", "page_type": "LiveBlogPosting"}),
    ("json-metadata-17-b.html", {"sitename": "", "title": "", "page_type": ""}),
    ("json-metadata-18.html", {"title": "EastEnders' June Brown leaves soap 'for good'", "sitename": "BBC News", "page_type": "ReportageNewsArticle"}),
    ("json-metadata-19.html", {"sitename": "BBC News", "page_type": "ReportageNewsArticle"}),
    ("json-metadata-20.html", {"author": "John Doe", "title": "How to Tie a Reef Knot", "page_type": "Article"}),
    ("json-metadata-21.html", {"author": "Bill Birtles; John Smith", "page_type": "NewsArticle"}),
    ("json-metadata-22.html", {"title": "Find perfection in these places where land meets water.", "sitename": "National Geographic", "author": "Kimberley Lovato", "page_type": "Article"}),
    ("json-metadata-23.html", {"title": "", "author": "Jaime Welton"}),
]


@pytest.mark.parametrize("fname,expected", CASES, ids=[c[0] for c in CASES])
def test_jsonld_metadata(fname, expected):
    m = meta_from_file(fname)
    for field, want in expected.items():
        got = getattr(m, field)
        assert got == want, f"{field}: {got!r} != {want!r}"
