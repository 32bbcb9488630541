"""Feed/sitemap discovery parsing + CLI output formats."""

import json
import os
import re
import subprocess
import sys

import pytest

from go_trafilatura_spark.discovery import (
    find_feed_url_in_html,
    parse_feed,
    parse_sitemap,
)

RSS = b"""<?xml version="1.0"?>
<rss version="2.0"><channel>
  <title>Example</title>
  <item><title>A</title><link>https://example.org/a</link></item>
  <item><title>B</title><link>https://example.org/b</link></item>
  <item><title>dup</title><link>https://example.org/a</link></item>
  <item><title>rel</title><link>/relative</link></item>
</channel></rss>"""

ATOM = b"""<?xml version="1.0"?>
<feed xmlns="http://www.w3.org/2005/Atom">
  <entry><link href="https://example.org/x"/></entry>
  <entry><link href="https://example.org/y"/></entry>
</feed>"""

SITEMAP = b"""<?xml version="1.0"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>https://example.org/page1</loc></url>
  <url><loc>https://example.org/page2</loc></url>
</urlset>"""

SITEMAP_INDEX = b"""<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://example.org/sitemap1.xml</loc></sitemap>
  <sitemap><loc>https://example.org/sitemap2.xml</loc></sitemap>
</sitemapindex>"""


def test_parse_feed_rss():
    assert parse_feed(RSS) == ["https://example.org/a", "https://example.org/b"]


def test_parse_feed_atom():
    assert parse_feed(ATOM) == ["https://example.org/x", "https://example.org/y"]


def test_parse_feed_garbage():
    assert parse_feed(b"not xml at all") == []


def test_find_feed_url_in_html():
    html = (
        '<html><head><link rel="alternate" type="application/rss+xml" '
        'href="/feed.xml"/></head><body></body></html>'
    )
    assert find_feed_url_in_html(html, "https://example.org/") == "https://example.org/feed.xml"
    assert find_feed_url_in_html("<html><body></body></html>", None) == ""


def test_parse_sitemap():
    pages, maps = parse_sitemap(SITEMAP)
    assert pages == ["https://example.org/page1", "https://example.org/page2"]
    assert maps == []

    pages, maps = parse_sitemap(SITEMAP_INDEX)
    assert pages == []
    assert maps == ["https://example.org/sitemap1.xml", "https://example.org/sitemap2.xml"]


# --- CLI ----------------------------------------------------------------------

SAMPLE = "/root/reference/test-files/simple/http_sample.html"


@pytest.mark.skipif(not os.path.exists(SAMPLE), reason="reference corpus absent")
def test_cli_formats():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for fmt, probe in (("txt", "Herman Melville"), ("json", "contentText"), ("html", "content-body")):
        out = subprocess.run(
            [sys.executable, "-m", "go_trafilatura_spark", "-f", fmt, SAMPLE],
            capture_output=True, text=True, cwd=repo, timeout=120,
        )
        assert out.returncode == 0, out.stderr
        assert probe in out.stdout

    # json output parses and carries metadata
    out = subprocess.run(
        [sys.executable, "-m", "go_trafilatura_spark", "-f", "json", SAMPLE],
        capture_output=True, text=True, cwd=repo, timeout=120,
    )
    payload = json.loads(out.stdout)
    assert payload["metadata"]["author"] == "Herman Melville"


@pytest.mark.skipif(not os.path.exists(SAMPLE), reason="reference corpus absent")
def test_cli_rejection_exit_code():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "go_trafilatura_spark", "-l", "de", SAMPLE],
        capture_output=True, text=True, cwd=repo, timeout=120,
    )
    assert out.returncode == 1
    assert "rejected" in out.stderr


def test_cli_directory_url_does_not_leak_between_pages(tmp_path, capsys):
    """Directory mode reuses one Options for every file: a canonical url
    backfilled from one page must not become the next page's url."""
    from go_trafilatura_spark.cli import main

    para = "<p>" + "This paragraph carries enough ordinary words to pass the gates. " * 8 + "</p>"
    for name, head in (("a.html", '<link rel="canonical" href="https://a.example/post">'),
                       ("b.html", "")):
        (tmp_path / name).write_text(
            f"<html><head><title>T</title>{head}</head><body><article>{para * 3}"
            "</article></body></html>")
    assert main([str(tmp_path), "-f", "json"]) == 0
    chunks = re.split(r"==> \S+\n", capsys.readouterr().out)
    payloads = [json.loads(chunk) for chunk in chunks if chunk]
    assert [p["metadata"]["url"] for p in payloads] == ["https://a.example/post", ""]
    assert payloads[1]["metadata"]["hostname"] == ""


def test_cli_html_escapes_metadata_attributes(tmp_path, capsys):
    """-f html writes metadata into content="..." with Go
    html.EscapeString, as sinks.readable_html does."""
    from go_trafilatura_spark.cli import main

    para = "<p>" + "This paragraph carries enough ordinary words to pass the gates. " * 8 + "</p>"
    page = tmp_path / "quote.html"
    page.write_text(
        "<html><head><title>Say &quot;hi&quot; &amp; &lt;bye&gt; 'now'</title></head>"
        f"<body><article>{para * 3}</article></body></html>")
    assert main([str(page), "-f", "html"]) == 0
    out = capsys.readouterr().out
    assert ('<meta name="title" content="Say &#34;hi&#34; &amp; &lt;bye&gt; &#39;now&#39;"/>'
            in out)


def test_cli_prune_selector_applies_to_baseline_rescue(tmp_path, capsys):
    """The CLI runs core.extract: when the baseline rescue fires, it
    must run on the page the prune selector pruned."""
    from go_trafilatura_spark.cli import main

    pruned = " ".join(["Pruned" + "x" * 63] * 4)
    page = tmp_path / "junk.html"
    page.write_text(f'<html><body><div class="junk"><p>{pruned}</p></div>'
                    "<p>Tiny.</p></body></html>")
    assert main(["--prune-selector", "div.junk", str(page)]) == 0
    out = capsys.readouterr().out
    assert "Pruned" not in out
    assert "Tiny." in out


ROBOTS = b"""
# example robots file
User-agent: *
Disallow: /private/
Allow: /private/public$
Crawl-delay: 2

User-agent: goodbot
User-agent: otherbot
Disallow: /only-good/
Allow:

Sitemap: https://example.com/sitemap.xml
Sitemap: https://example.com/news-sitemap.xml
"""


def test_parse_robots_groups_and_sitemaps():
    from go_trafilatura_spark.discovery import parse_robots

    star = parse_robots(ROBOTS)
    assert star["sitemaps"] == [
        "https://example.com/sitemap.xml",
        "https://example.com/news-sitemap.xml",
    ]
    assert star["disallow"] == ["/private/"]
    assert star["allow"] == ["/private/public$"]
    assert star["crawl_delay"] == 2.0

    good = parse_robots(ROBOTS, agent="GoodBot/1.0")
    assert good["disallow"] == ["/only-good/"]
    assert good["crawl_delay"] is None


def test_parse_robots_agent_prefix_not_substring():
    """Group selection matches the crawler's PRODUCT TOKEN by prefix
    (RFC 9309), not substring containment: a 'bot' group must not
    capture 'MyGoodBot' and apply another crawler's rules."""
    from go_trafilatura_spark.discovery import parse_robots

    robots = b"""
User-agent: bot
Disallow: /bot-only/

User-agent: goodbot
Disallow: /good/

User-agent: *
Disallow: /default/
"""
    # 'bot' is not a prefix of 'mygoodbot' -> the '*' group applies
    assert parse_robots(robots, agent="MyGoodBot/2.0")["disallow"] == ["/default/"]
    # prefix of the product token matches; version/comment stripped
    assert parse_robots(robots, agent="GoodBot-News/1.0 (+https://x)")[
        "disallow"] == ["/good/"]
    # longest matching token wins over a shorter one
    assert parse_robots(robots, agent="BotXYZ")["disallow"] == ["/bot-only/"]


def test_robots_allows_longest_match():
    from go_trafilatura_spark.discovery import parse_robots, robots_allows

    rules = parse_robots(ROBOTS)
    assert robots_allows(rules, "/anything") is True
    assert robots_allows(rules, "/private/page") is False
    assert robots_allows(rules, "/private/public") is True  # $-anchored allow
    assert robots_allows(rules, "/private/public2") is False  # $ blocks suffix

    wild = {"allow": [], "disallow": ["/a/*/c"]}
    assert robots_allows(wild, "/a/b/c") is False
    assert robots_allows(wild, "/a/c") is True
