"""Full metadata parity: main record, title cascade, author cases.

Transcribed from /root/reference/metadata_test.go:35-313.
"""

import pytest

from go_trafilatura_spark import etree
from go_trafilatura_spark.metadata import (
    bind_metadata,
    extract_metadata,
    remove_blacklisted_authors,
)
from go_trafilatura_spark.options import Options


def meta(raw_html: str, opts: Options | None = None):
    doc = etree.parse_html(raw_html)
    opts = opts or Options()
    return bind_metadata(*extract_metadata(doc, opts), opts.original_url, opts)


def test_metadata_main():
    raw = """
    <html>
    <head>
        <title>Test Title</title>
        <meta itemprop="author" content="Jenny Smith" />
        <meta property="og:url" content="https://example.org" />
        <meta itemprop="description" content="Description" />
        <meta property="og:published_time" content="2017-09-01" />
        <meta name="article:publisher" content="The Newspaper" />
        <meta property="image" content="https://example.org/example.jpg" />
    </head>
    <body>
        <p class="entry-categories">
            <a href="https://example.org/category/cat1/">Cat1</a>,
            <a href="https://example.org/category/cat2/">Cat2</a>
        </p>
        <p>
            <a href="https://creativecommons.org/licenses/by-sa/4.0/" rel="license">CC BY-SA</a>
        </p>
    </body>
    </html>"""
    m = meta(raw)
    assert m.title == "Test Title"
    assert m.author == "Jenny Smith"
    assert m.url == "https://example.org"
    assert m.description == "Description"
    assert m.sitename == "The Newspaper"
    assert m.categories == ["Cat1", "Cat2"]
    assert m.license == "CC BY-SA 4.0"
    assert m.image == "https://example.org/example.jpg"


TITLE_CASES = [
    ('<html><body><h3 class="title">T</h3><h3 id="title"></h3></body></html>', ""),
    ('<html><head><title>Test Title</title><meta property="og:title" content=" " /></head><body><h1>First</h1></body></html>', "First"),
    ('<html><head><title>Test Title</title><meta name="title" content=" " /></head><body><h1>First</h1></body></html>', "First"),
    ("<html><head><title>Test Title</title></head><body></body></html>", "Test Title"),
    ("<html><body><h1>First</h1><h1>Second</h1></body></html>", "First"),
    ('<html><body><h1>   </h1><div class="post-title">Test Title</div></body></html>', "Test Title"),
    ('<html><body><h2 class="block-title">Main menu</h2><h1 class="article-title">Test Title</h1></body></html>', "Test Title"),
    ("<html><body><h2>First</h2><h1>Second</h1></body></html>", "Second"),
    ("<html><body><h2>First</h2><h2>Second</h2></body></html>", "First"),
    ("<html><body><title></title></body></html>", ""),
    ("<html><head><title> - Home</title></head><body/></html>", "- Home"),
    ("<html><head><title>My Title » My Website</title></head><body/></html>", "My Title"),
]


@pytest.mark.parametrize("raw,expected", TITLE_CASES)
def test_metadata_titles(raw, expected):
    assert meta(raw).title == expected


def head(s: str) -> str:
    return "<html><head>" + s + "</head><body></body></html>"


def body(s: str) -> str:
    return "<html><body>" + s + "</body></html>"


AUTHOR_CASES = [
    (head('<meta itemprop="author" content="Jenny Smith"/>'), "Jenny Smith"),
    (head('<meta itemprop="author" content="Jenny Smith"/><meta itemprop="author" content="John Smith"/>'), "Jenny Smith; John Smith"),
    (head('<meta itemprop="author" content="Jenny Smith und John Smith"/>'), "Jenny Smith; John Smith"),
    (head('<meta name="author" content="Jenny Smith"/><meta name="author" content="John Smith"/>'), "Jenny Smith; John Smith"),
    (head('<meta name="author" content="Jenny Smith and John Smith"/>'), "Jenny Smith; John Smith"),
    (head('<meta name="author" content="Jenny Smith"/>'), "Jenny Smith"),
    (head('<meta name="author" content="Hank O&#39;Hop"/>'), "Hank O'Hop"),
    (head('<meta name="author" content="Jenny Smith ❤️"/>'), "Jenny Smith"),
    (head('<meta name="citation_author" content="Jenny Smith and John Smith"/>'), "Jenny Smith; John Smith"),
    (head('<meta property="author" content="Jenny Smith"/><meta property="author" content="John Smith"/>'), "Jenny Smith; John Smith"),
    (head('<meta itemprop="author" content="Jenny Smith and John Smith"/>'), "Jenny Smith; John Smith"),
    (head('<meta name="article:author" content="Jenny Smith"/>'), "Jenny Smith"),
    (body('<a href="" rel="author">Jenny Smith</a>'), "Jenny Smith"),
    (body('<a href="" rel="author">Jenny "The Author" Smith</a>'), "Jenny Smith"),
    (body('<span class="author">Jenny Smith</span>'), "Jenny Smith"),
    (body('<h4 class="author">Jenny Smith</h4>'), "Jenny Smith"),
    (body('<h4 class="author">Jenny Smith — Trafilatura</h4>'), "Jenny Smith"),
    (body('<span class="wrapper--detail__writer">Jenny Smith</span>'), "Jenny Smith"),
    (body('<span id="author-name">Jenny Smith</span>'), "Jenny Smith"),
    (body('<figure data-component="Figure"><div class="author">Jenny Smith</div></figure>'), ""),
    (body('<div class="sidebar"><div class="author">Jenny Smith</div></div>'), ""),
    (body('<div class="quote"><p>My quote here</p><p class="quote-author"><span>—</span> Jenny Smith</p></div>'), ""),
    (body('<span class="author">Jenny Smith and John Smith</span>'), "Jenny Smith; John Smith"),
    (body('<a class="author">Jenny Smith</a>'), "Jenny Smith"),
    (body('<a class="author">Jenny Smith <div class="title">Editor</div></a>'), "Jenny Smith"),
    (body('<a class="author">Jenny Smith from Trafilatura</a>'), "Jenny Smith"),
    (body('<meta itemprop="author" content="Fake Author"/><a class="author">Jenny Smith from Trafilatura</a>'), "Jenny Smith"),
    (body('<a class="username">Jenny Smith</a>'), "Jenny Smith"),
    (body('<div class="submitted-by"><a>Jenny Smith</a></div>'), "Jenny Smith"),
    (body('<div class="byline-content"><div class="byline"><a>Jenny Smith</a></div><time>July 12, 2021 08:05</time></div>'), "Jenny Smith"),
    (body('<h3 itemprop="author">Jenny Smith</h3>'), "Jenny Smith"),
    (body('<div class="article-meta article-meta-byline article-meta-with-photo article-meta-author-and-reviewer" itemprop="author" itemscope="" itemtype="http://schema.org/Person"><span class="article-meta-photo-wrap"><img src="" alt="Jenny Smith" itemprop="image" class="article-meta-photo"></span><span class="article-meta-contents"><span class="article-meta-author">By <a href="" itemprop="url"><span itemprop="name">Jenny Smith</span></a></span><span class="article-meta-date">May 18 2022</span><span class="article-meta-reviewer">Reviewed by <a href="">Robert Smith</a></span></span></div>'), "Jenny Smith"),
    (body('<div data-component="Byline">Jenny Smith</div>'), "Jenny Smith"),
    (body('<span id="author">Jenny Smith</span>'), "Jenny Smith"),
    (body('<span id="author">Jenny Smith – The Moon</span>'), "Jenny Smith"),
    (body('<span id="author">Jenny_Smith</span>'), "Jenny Smith"),
    (body('<span itemprop="author name">Shannon Deery, Mitch Clarke, Susie O’Brien, Laura Placella, Kara Irving, Jordy Atkinson, Suzan Delibasic</span>'), "Shannon Deery; Mitch Clarke; Susie O’Brien; Laura Placella; Kara Irving; Jordy Atkinson; Suzan Delibasic"),
    (body('<address class="author">Jenny Smith</address>'), "Jenny Smith"),
    (body("<author>Jenny Smith</author>"), "Jenny Smith"),
    (body('<div class="author"><span class="profile__name"> Jenny Smith </span> <a href="https://twitter.com/jenny_smith" class="profile__social" target="_blank"> @jenny_smith </a> <span class="profile__extra lg:hidden"> 11:57AM </span> </div>'), "Jenny Smith"),
    (body('<p class="author-section byline-plain">By <a class="author" rel="nofollow">Jenny Smith For Daily Mail Australia</a></p>'), "Jenny Smith"),
    (body('<div class="o-Attribution__a-Author"><span class="o-Attribution__a-Author--Label">By:</span><span class="o-Attribution__a-Author--Prefix"><span class="o-Attribution__a-Name"><a href="//web.archive.org/web/20210707074846/https://www.discovery.com/profiles/ian-shive">Ian Shive</a></span></span></div>'), "Ian Shive"),
    (body('<div class="ArticlePage-authors"><div class="ArticlePage-authorName" itemprop="name"><span class="ArticlePage-authorBy">By&nbsp;</span><a aria-label="Ben Coxworth" href="https://newatlas.com/author/ben-coxworth/"><span>Ben Coxworth</span></a></div></div>'), "Ben Coxworth"),
    (body('<div><strong><a class="d1dba0c3091a3c30ebd6" data-testid="AuthorURL" href="/by/p535y1">AUTHOR NAME</a></strong></div>'), "AUTHOR NAME"),
    ('<html><head><meta data-rh="true" property="og:author" content="By &lt;a href=&quot;/profiles/amir-vera&quot;&gt;Amir Vera&lt;/a&gt;, Seán Federico O&#x27;Murchú, &lt;a href=&quot;/profiles/tara-subramaniam&quot;&gt;Tara Subramaniam&lt;/a&gt; and Adam Renton, CNN"/></head><body>f</body></html>',
     "Amir Vera; Seán Federico O'Murchú; Tara Subramaniam; Adam Renton; CNN"),
]


@pytest.mark.parametrize("raw,expected", AUTHOR_CASES, ids=range(len(AUTHOR_CASES)))
def test_metadata_authors(raw, expected):
    assert meta(raw).author == expected


def test_blacklisted_authors():
    raw = '<html><head><meta itemprop="author" content="Jenny Smith"/></head><body></body></html>'
    m = meta(raw, Options(blacklisted_authors=["Jenny Smith"]))
    assert m.author == ""

    opts = Options(blacklisted_authors=["A", "b"])
    assert remove_blacklisted_authors("a; B; c; d", opts) == "c; d"
    assert remove_blacklisted_authors("a;B;c;d", opts) == "c; d"
