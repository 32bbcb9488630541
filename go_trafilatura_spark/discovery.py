"""URL discovery from fetched feed/sitemap payloads (offline parsing).

The reference's feed/sitemap subcommands (cmd/go-trafilatura/feed.go:292-381,
sitemap.go) download then parse RSS/Atom feeds and XML sitemaps into URL
lists. Networking is out of scope here; the *parsing* is implemented as
pure functions plus DataFrame wrappers, so a table of fetched payloads
(url, body) explodes into a frontier of page URLs — the ingestion fan-out
stage of a crawl pipeline.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as xml_etree

from . import css, etree, selectors
from .utils import create_absolute_url, is_absolute_url

FEED_CONTENT_TYPES = frozenset((
    "application/atom+xml", "application/json", "application/rss+xml",
    "application/x.atom+xml", "application/x-atom+xml", "text/atom+xml",
    "text/plain", "text/rss+xml", "text/xml",
))

_RX_LOCALNAME = re.compile(r"\{.*\}")


def _local(tag: str) -> str:
    return _RX_LOCALNAME.sub("", tag)


def parse_feed(payload: bytes | str) -> list[str]:
    """RSS <item><link>text</link> and Atom <entry><link href=…/> URLs,
    absolute-only, order-preserving unique (feed.go:292-348)."""
    if isinstance(payload, bytes):
        payload = payload.decode("utf-8", "replace")
    try:
        root = xml_etree.fromstring(payload)
    except xml_etree.ParseError:
        return []

    urls: list[str] = []
    for el in root.iter():
        name = _local(el.tag)
        if name == "item":  # RSS
            for link in el:
                if _local(link.tag) == "link":
                    href = (link.text or "").strip()
                    if is_absolute_url(href)[0]:
                        urls.append(href)
                        break
        elif name == "entry":  # Atom
            for link in el:
                if _local(link.tag) == "link":
                    href = link.get("href", "")
                    if href and is_absolute_url(href)[0]:
                        urls.append(href)
                        break

    seen: set[str] = set()
    out = []
    for u in urls:
        if u not in seen:
            seen.add(u)
            out.append(u)
    return out


def find_feed_url_in_html(payload: bytes | str, base_url: str | None) -> str:
    """<link>/<a rel=alternate type=feed> discovery (feed.go:350-375)."""
    doc = etree.parse_html(payload)
    for node in selectors.query_all(doc, css.parse_group("link, a")):
        if node.get("rel") != "alternate":
            continue
        href = node.get("href")
        if not href:
            continue
        if node.get("type") in FEED_CONTENT_TYPES:
            return create_absolute_url(href, base_url)
    return ""


def parse_sitemap(payload: bytes | str) -> tuple[list[str], list[str]]:
    """Sitemap XML → (page urls, nested sitemap urls). Handles both
    urlset and sitemapindex documents (sitemap.go)."""
    if isinstance(payload, bytes):
        payload = payload.decode("utf-8", "replace")
    try:
        root = xml_etree.fromstring(payload)
    except xml_etree.ParseError:
        return [], []

    pages: list[str] = []
    sitemaps: list[str] = []
    root_name = _local(root.tag)
    for el in root.iter():
        name = _local(el.tag)
        if name != "loc":
            continue
        loc = (el.text or "").strip()
        if not is_absolute_url(loc)[0]:
            continue
        parent_kind = root_name  # urlset → pages, sitemapindex → sitemaps
        if parent_kind == "sitemapindex":
            sitemaps.append(loc)
        else:
            pages.append(loc)
    return pages, sitemaps


# ---------------------------------------------------------------------------
# DataFrame wrappers: payload table → URL frontier
# ---------------------------------------------------------------------------

def discover_urls(df, kind: str = "feed"):
    """(source_url, body binary) → exploded (source_url, page_url) via a
    vectorized Arrow kernel; kind is 'feed' or 'sitemap'."""
    if kind not in ("feed", "sitemap"):
        raise ValueError(f"discover_urls: kind must be 'feed' or 'sitemap', not {kind!r}")
    from pyspark.sql.types import StringType, StructField, StructType

    from .kernel import map_rows

    schema = StructType([
        StructField("source_url", StringType()),
        StructField("page_url", StringType()),
    ])

    def urls(src, body):
        if body is None:
            return ()
        found = parse_feed(body) if kind == "feed" else parse_sitemap(body)[0]
        return ((src, u) for u in found)

    return map_rows(df, ["source_url", "body"], schema, urls)


# -- robots.txt ---------------------------------------------------------------

_RX_ROBOTS_LINE = re.compile(r"^\s*([A-Za-z-]+)\s*:\s*(.*?)\s*(?:#.*)?$")


def parse_robots(payload: bytes | str, agent: str = "*") -> dict:
    """Minimal robots.txt parse (REP, RFC 9309 subset): the Sitemap:
    directives (the discovery edge a crawl pipeline actually consumes —
    sitemap URLs feed parse_sitemap), plus the Allow/Disallow rule list
    and Crawl-delay for the given user-agent group ('*' or a literal
    agent token; longest-agent-match wins as per the RFC).

    Returns {"sitemaps": [...], "allow": [...], "disallow": [...],
    "crawl_delay": float|None}. Parsing only — fetching is out of scope
    (the table IS the crawl)."""
    if isinstance(payload, bytes):
        payload = payload.decode("utf-8", "replace")
    sitemaps: list[str] = []
    groups: dict[str, dict] = {}
    current: list[str] = []
    last_was_agent = False
    for line in payload.splitlines():
        m = _RX_ROBOTS_LINE.match(line)
        if not m:
            continue
        field = m.group(1).lower()
        value = m.group(2)
        if field == "sitemap":
            if value:
                sitemaps.append(value)
            continue
        if field == "user-agent":
            token = value.lower()
            if not last_was_agent:
                current = []
            current.append(token)
            for t in current:
                groups.setdefault(t, {"allow": [], "disallow": [],
                                      "crawl_delay": None})
            last_was_agent = True
            continue
        last_was_agent = False
        if field in ("allow", "disallow", "crawl-delay") and current:
            for t in current:
                g = groups[t]
                if field == "allow" and value:
                    g["allow"].append(value)
                elif field == "disallow":
                    if value:
                        g["disallow"].append(value)
                elif field == "crawl-delay" and g["crawl_delay"] is None:
                    try:
                        g["crawl_delay"] = float(value)
                    except ValueError:
                        pass

    # RFC 9309 §2.2.1: match against the crawler's product token (the
    # part before any "/" version or whitespace), case-insensitively —
    # a group token matches when it is a PREFIX of the product token
    # (longest match wins). Plain substring containment would let a
    # short group like "bot" capture "MyGoodBot/1.0" and apply another
    # crawler's rules.
    product = re.split(r"[/\s]", agent.lower(), maxsplit=1)[0]
    best = None
    for token in groups:
        if token != "*" and product.startswith(token) and (
                best is None or len(token) > len(best)):
            best = token
    group = groups.get(best if best is not None else "*",
                       {"allow": [], "disallow": [], "crawl_delay": None})
    return {"sitemaps": sitemaps, "allow": list(group["allow"]),
            "disallow": list(group["disallow"]),
            "crawl_delay": group["crawl_delay"]}


def robots_allows(rules: dict, path: str) -> bool:
    """Longest-match REP decision for a url path against a parse_robots
    group: the longest matching Allow/Disallow prefix wins; ties favor
    Allow; no match allows. '$' anchors the end, '*' matches any span."""
    def _match_len(pattern: str) -> int | None:
        # translate REP wildcards to a regex (escape the rest)
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        parts = [re.escape(p) for p in body.split("*")]
        rx = ".*".join(parts) + ("$" if anchored else "")
        m = re.match(rx, path)
        return len(pattern) if m else None

    best_len = -1
    decision = True
    for pattern in rules.get("allow", ()):
        ln = _match_len(pattern)
        if ln is not None and ln > best_len:
            best_len, decision = ln, True
    for pattern in rules.get("disallow", ()):
        ln = _match_len(pattern)
        # ties favor Allow: only a STRICTLY longer Disallow wins
        if ln is not None and ln > best_len:
            best_len, decision = ln, False
    return decision


def discover_sitemaps_from_robots(df):
    """(source_url, body binary) → exploded (source_url, sitemap_url)
    from robots.txt payloads — chains into discover_urls(kind='sitemap')
    on the fetched sitemap bodies."""
    from pyspark.sql.types import StringType, StructField, StructType

    from .kernel import map_rows

    schema = StructType([
        StructField("source_url", StringType()),
        StructField("sitemap_url", StringType()),
    ])

    def sitemaps(src, body):
        if body is None:
            return ()
        return ((src, sm) for sm in parse_robots(body)["sitemaps"])

    return map_rows(df, ["source_url", "body"], schema, sitemaps)
