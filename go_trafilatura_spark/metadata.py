"""Metadata extraction cascade: meta tags → OpenGraph → JSON-LD → DOM
selectors → URL/hostname → publish date (fast subset) → sitename →
categories/tags → license.

Transcribed semantics from /root/reference/metadata.go:121-774 and
/root/reference/metadata-json.go:23-486. Publish-date extraction is a
"fast mode" subset of go-htmldate (meta tags, <time> elements, JSON-LD,
URL patterns) — Extensive mode's multilingual free-text parsing is out
of scope (SURVEY.md §7.4).
"""

from __future__ import annotations

import html as html_mod
import itertools
import json
import re as stdlib_re
from dataclasses import dataclass, field, replace

import regex

from . import css, etree, selectors
from .etree import Element
from .htmlprocessing import prune_unwanted_nodes
from .utils import (
    get_base_url,
    get_domain_url,
    is_absolute_url,
    str_or,
    str_word_count,
    trim,
    uniquify_lists,
    validate_url,
)

RX_COMMA_SEPARATOR = stdlib_re.compile(r"\s*[,;]\s*")
RX_TITLE_CLEANER = stdlib_re.compile(r"(?i)^(.+)?\s+[–•·—|⁄*⋆~‹«<›»>:-]\s+(.+)$")
RX_JSON_SYMBOL = stdlib_re.compile(r"[{\\}]")
RX_NAME_JSON = stdlib_re.compile(r'(?i)"name\\?":\s*\\?"([^"\\]+)')
RX_URL_CHECK = stdlib_re.compile(r"(?i)https?://")
RX_SITENAME_FINDER = stdlib_re.compile(r"(?i)https?://(?:www\.|w[0-9]+\.)?([^/]+)")
RX_HTML_STRIP_TAG = stdlib_re.compile(r"(?i)(<!--.*?-->|<[^>]*>)")
RX_CATEGORY_HREF = stdlib_re.compile(r"(?i)/categor(?:y|ies)/")
RX_TAG_HREF = stdlib_re.compile(r"(?i)/tags?/")

RX_CC_LICENSE = stdlib_re.compile(
    r"(?i)/(by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero)/([1-9]\.[0-9])"
)
RX_CC_LICENSE_TEXT = stdlib_re.compile(
    r"(?i)(cc|creative commons) (by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero) ?([1-9]\.[0-9])?"
)

RX_AUTHOR_PREFIX = regex.compile(r"(?i)^([a-zäöüß]+(ed|t))? ?(written by|words by|words|by|von|from) ")
RX_AUTHOR_DIGITS = regex.compile(r"(?i)\p{N}.+?$")
RX_AUTHOR_SOCIAL = regex.compile(r"(?i)@\S+")
RX_AUTHOR_SPACE_CHARS = regex.compile(r"(?i)[._+]")
RX_AUTHOR_NICKNAME = regex.compile(r"(?i)[\"‘({\[’'][^\"]+?[‘’\"')\]}]")
RX_AUTHOR_SPECIAL = regex.compile(r"(?i)[^\p{L}\p{M}\p{N}_]+$|[:()?*$#!%/<>{}~¿]")
RX_AUTHOR_PREPOSITION = regex.compile(r"(?i)\b\s+(am|on|for|at|in|to|from|of|via|with|—|-|–)\s+(.*)")
RX_AUTHOR_EMAIL = regex.compile(r"(?i)\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b")
RX_AUTHOR_SEPARATOR = regex.compile(r"(?i)/|;|,|\||&|(?:^|[^\p{L}\p{M}\p{N}_])[u|a]nd(?:$|[^\p{L}\p{M}\p{N}_])")
RX_AUTHOR_HTML = stdlib_re.compile(r"(?i)<[^>]+>")

_EMOJI_RANGES = (
    (0x1F000, 0x1FAFF), (0x2600, 0x27BF), (0x2B00, 0x2BFF),
    (0xFE00, 0xFE0F), (0x1F1E6, 0x1F1FF), (0x2190, 0x21FF),
    (0x2300, 0x23FF), (0x25A0, 0x25FF), (0x2000, 0x200F),
)


def remove_emojis(s: str) -> str:
    return "".join(
        ch for ch in s
        if not any(lo <= ord(ch) <= hi for lo, hi in _EMOJI_RANGES)
    )


META_NAME_AUTHOR = frozenset((
    "article:author", "atc-metaauthor", "author", "authors", "byl",
    "citation_author", "creator", "dc.creator", "dc.creator.aut",
    "dc:creator", "dcterms.creator", "dcterms.creator.aut", "dcsext.author",
    "parsely-author", "rbauthors", "sailthru.author",
    "shareaholic:article_author_name",
))
META_NAME_TITLE = frozenset((
    "citation_title", "dc.title", "dcterms.title", "fb_title", "headline",
    "parsely-title", "sailthru.title", "shareaholic:title", "rbtitle",
    "title", "twitter:title",
))
META_NAME_DESCRIPTION = frozenset((
    "dc.description", "dc:description", "dcterms.abstract",
    "dcterms.description", "description", "sailthru.description",
    "twitter:description",
))
META_NAME_PUBLISHER = frozenset((
    "article:publisher", "citation_journal_title", "copyright",
    "dc.publisher", "dc:publisher", "dcterms.publisher", "publisher",
    "sailthru.publisher", "rbpubname", "twitter:site",
))
META_NAME_TAG = frozenset((
    "citation_keywords", "dcterms.subject", "keywords", "parsely-tags",
    "shareaholic:keywords", "tags",
))
META_NAME_IMAGE = frozenset((
    "image", "og:image", "og:image:url", "og:image:secure_url",
    "twitter:image", "twitter:image:src",
))

_URL_SELECTORS = tuple(map(css.parse_group, (
    'head link[rel="canonical"]',
    "head base",
    'head link[rel="alternate"][hreflang="x-default"]',
)))


@dataclass
class Metadata:
    title: str = ""
    author: str = ""
    url: str = ""
    hostname: str = ""
    description: str = ""
    sitename: str = ""
    date: str = ""  # yyyy-MM-dd ("" = unknown; the Go zero time)
    categories: list[str] = field(default_factory=list)
    tags: list[str] = field(default_factory=list)
    id: str = ""
    fingerprint: str = ""
    license: str = ""
    language: str = ""
    image: str = ""
    page_type: str = ""


@dataclass(frozen=True)
class UrlTail:
    """What a page says about the metadata fields that depend on its
    url (url, hostname, image, date, sitename); ``bind_metadata`` derives
    them from it and the url the page was fetched from."""
    url: str = ""  # the page's own url (canonical link, og:url, ...), unvalidated
    image: str = ""  # the page's image url, unresolved
    sitename: str = ""  # the page's own sitename, normalized; "" when it names none
    dates: tuple = ()  # ``page_dates``: the page's (tier, date) candidates


# UAX#29 word-break classes of the ASCII/quote joiners x/text honors:
# MidNumLetQ = MidNumLet ∪ Single_Quote → '.' and U+0027 join
# letter·letter (WB6/7) OR digit·digit (WB11/12); MidLetter → U+2019
# and ':' join letter·letter only; ExtendNumLet → '_' chains words
# through underscore runs (WB13a/b).
_TC_MIDNUMLETQ = "'."
_TC_MIDLETTER = "’:"


def title_case(s: str) -> str:
    """x/text cases.Title(language.English) semantics (UAX#29 word
    segmentation): titlecase the first cased character of each word,
    lowercase the rest. Mid-word joiners continue a word only per their
    UAX#29 class: "u.s. army" → "U.s. Army", "don't" → "Don't", but the
    mixed-side "x'3rd" breaks → "X'3Rd" (MidNumLetQ needs letter·letter
    or digit·digit); '’'/':' (MidLetter) join letters only, so "1’5" →
    "1’5" with a break; '_' (ExtendNumLet) chains through runs
    ("foo__bar" → "Foo__bar"). Hyphens break words ("jean-pierre" →
    "Jean-Pierre"); digits don't consume the titlecase slot ("3rd" →
    "3Rd"). Verified against the Go library's published behavior
    (reference metadata.go:234,737)."""
    out = []
    new_word = True
    n = len(s)
    for i, ch in enumerate(s):
        if ch.isalpha():
            out.append(ch.upper() if new_word else ch.lower())
            new_word = False
        elif ch.isdigit():
            # part of the word; the first cased LETTER still titlecases
            out.append(ch)
        else:
            p = s[i - 1] if i > 0 else ""
            q = s[i + 1] if i < n - 1 else ""
            if ch in _TC_MIDNUMLETQ:
                joiner = (p.isalpha() and q.isalpha()) or (
                    p.isdigit() and q.isdigit()
                )
            elif ch in _TC_MIDLETTER:
                joiner = p.isalpha() and q.isalpha()
            elif ch == "_":
                # WB13a: a word followed by '_' keeps extending, through
                # whole underscore runs; output-visible only mid-word.
                joiner = p.isalnum() or p == "_"
            else:
                joiner = False
            if not joiner:
                new_word = True
            out.append(ch)
    return "".join(out)


def validate_metadata_name(name: str) -> str:
    """metadata.go:411-426."""
    if name == "":
        return name
    if " " not in name or name.startswith("http"):
        return ""
    if RX_JSON_SYMBOL.search(name):
        return ""
    return name


def normalize_authors(authors: str, input_str: str) -> str:
    """metadata.go:686-749."""
    if RX_URL_CHECK.search(input_str) or RX_AUTHOR_EMAIL.search(input_str):
        return authors

    s = trim(input_str)
    s = html_mod.unescape(s)
    s = remove_emojis(s)
    s = RX_AUTHOR_DIGITS.sub("", s)
    s = RX_AUTHOR_SOCIAL.sub("", s)
    s = RX_AUTHOR_SPACE_CHARS.sub(" ", s)

    if "&#" in s or "&amp;" in s:
        s = html_mod.unescape(s)

    s = RX_AUTHOR_HTML.sub("", s)

    list_author = authors.split("; ")
    if len(list_author) == 1 and list_author[0] == "":
        list_author = []
    tracker = set(list_author)

    for a in RX_AUTHOR_SEPARATOR.split(s):
        if a is None:
            continue
        a = RX_AUTHOR_NICKNAME.sub("", a)
        a = RX_AUTHOR_SPECIAL.sub("", a)
        a = RX_AUTHOR_PREFIX.sub("", a)
        a = RX_AUTHOR_PREPOSITION.sub("", a)
        a = trim(a)

        length = len(a)
        has_dash = "-" in a
        has_space = " " in a
        if length == 0 or (not has_dash and not has_space and length >= 50):
            continue

        if not a[0].isupper() or a.lower() == a:
            a = title_case(a)

        if a not in authors and a not in tracker:
            tracker.add(a)
            list_author.append(a)

    return "; ".join(list_author)


def remove_blacklisted_authors(current: str, options) -> str:
    """metadata.go:751-774."""
    if current == "":
        return current
    blacklisted = {b.lower() for b in options.blacklisted_authors}
    allowed = [
        a.strip() for a in current.split(";") if a.strip().lower() not in blacklisted
    ]
    if allowed:
        return "; ".join(allowed)
    return ""


# ---------------------------------------------------------------------------
# Meta tag examination (metadata.go:268-409)
# ---------------------------------------------------------------------------

_OG_SELECTOR = css.parse_group('meta[property^="og:"]')
_HEAD_META_CONTENT = css.parse_group("head meta[content]")
_SECTION_META = css.parse_group(
    'head meta[property="article:section"], head meta[name*="subject"]')


def extract_open_graph_meta(index: etree.TreeIndex) -> Metadata:
    """metadata.go:368-409."""
    metadata = Metadata()
    for node in selectors.query_all(index, _OG_SELECTOR):
        prop = trim(node.get("property"))
        content = trim(html_mod.unescape(node.get("content")))
        if content == "":
            continue
        if prop == "og:site_name":
            metadata.sitename = content
        elif prop == "og:title":
            metadata.title = content
        elif prop == "og:description":
            metadata.description = content
        elif prop in ("og:author", "og:article:author"):
            metadata.author = normalize_authors("", content)
        elif prop in ("og:image", "og:image:url", "og:image:secure_url"):
            metadata.image = content
        elif prop == "og:url":
            if is_absolute_url(content)[0]:
                metadata.url = content
        elif prop == "og:article:tag":
            metadata.tags = uniquify_lists(content)
        elif prop == "og:type":
            metadata.page_type = content
    return metadata


def examine_meta(index: etree.TreeIndex) -> Metadata:
    """metadata.go:268-365."""
    metadata = extract_open_graph_meta(index)
    if (
        metadata.title and metadata.author and metadata.url
        and metadata.description and metadata.sitename and metadata.image
        and metadata.page_type
    ):
        return metadata

    tmp_sitename = ""
    for node in selectors.query_all(index, _HEAD_META_CONTENT):
        content = node.get("content")
        content = RX_HTML_STRIP_TAG.sub("", content)
        content = html_mod.unescape(content)
        content = trim(content)
        if content == "":
            continue

        prop = trim(node.get("property"))
        if prop != "":
            if prop.startswith("og:"):
                pass
            elif prop == "article:tag":
                metadata.tags.append(content)
            elif prop in ("author", "article:author"):
                metadata.author = normalize_authors(metadata.author, content)
            elif prop == "article:publisher":
                metadata.sitename = str_or(metadata.sitename, content)
            elif prop in META_NAME_IMAGE:
                metadata.image = str_or(metadata.image, content)
            continue

        name = trim(node.get("name").lower())
        if name != "":
            if name in META_NAME_AUTHOR:
                content = RX_HTML_STRIP_TAG.sub("", content)
                metadata.author = normalize_authors(metadata.author, content)
            elif name in META_NAME_TITLE:
                metadata.title = str_or(metadata.title, content)
            elif name in META_NAME_DESCRIPTION:
                metadata.description = str_or(metadata.description, content)
            elif name in META_NAME_PUBLISHER:
                metadata.sitename = str_or(metadata.sitename, content)
            elif name in ("twitter:site", "application-name") or "twitter:app:name" in name:
                tmp_sitename = content
            elif name == "twitter:url":
                if metadata.url == "" and is_absolute_url(content)[0]:
                    metadata.url = content
            elif name in META_NAME_TAG:
                metadata.tags.append(content)
            continue

        itemprop = trim(node.get("itemprop"))
        if itemprop != "":
            if itemprop == "author":
                metadata.author = normalize_authors(metadata.author, content)
            elif itemprop == "description":
                metadata.description = str_or(metadata.description, content)
            elif itemprop == "headline":
                metadata.title = str_or(metadata.title, content)
            continue

    if metadata.sitename == "" and tmp_sitename != "":
        metadata.sitename = tmp_sitename

    metadata.author = validate_metadata_name(metadata.author)
    metadata.categories = uniquify_lists(*metadata.categories)
    metadata.tags = uniquify_lists(*metadata.tags)
    return metadata


# ---------------------------------------------------------------------------
# JSON-LD (metadata-json.go)
# ---------------------------------------------------------------------------

class SchemaData:
    __slots__ = ("types", "data", "importance", "parent")

    def __init__(self, types, data, parent):
        self.types = types
        self.data = data
        self.importance = 0.0
        self.parent = parent


def get_string_values(obj: dict, key: str) -> list[str]:
    value = obj.get(key)
    if isinstance(value, str):
        clean = trim(value)
        return [clean] if clean else []
    if isinstance(value, list):
        out = []
        for item in value:
            if isinstance(item, str):
                clean = trim(item)
                if clean:
                    out.append(clean)
        return out
    return []


def get_single_string_value(obj: dict, key: str) -> str:
    values = get_string_values(obj, key)
    return values[0] if values else ""


def get_schema_types(schema: dict, to_lower: bool) -> list[str]:
    types = get_string_values(schema, "@type")
    if to_lower:
        types = [t.lower() for t in types]
    return types


def get_schema_names(v, *expected_types: str) -> list[str]:
    """metadata-json.go:302-399."""
    if isinstance(v, str):
        parts = RX_NAME_JSON.search(v)
        if RX_JSON_SYMBOL.search(v) and parts:
            v = parts.group(1)
        v = trim(v)
        return [v] if v else []

    if isinstance(v, dict):
        schema_types = get_schema_types(v, True)
        if expected_types:
            if not schema_types:
                return []
            if not any(t in expected_types for t in schema_types):
                return []

        names = get_string_values(v, "name")

        if not names and "person" in schema_types:
            given = get_single_string_value(v, "givenName")
            additional = get_single_string_value(v, "additionalName")
            family = get_single_string_value(v, "familyName")
            full = trim(given + " " + additional + " " + family)
            names = [full]

        if not names:
            names = get_string_values(v, "legalName")
        if not names:
            names = get_string_values(v, "alternateName")
        if names:
            return names

        child = v.get("name")
        if isinstance(child, (dict, list)):
            return get_schema_names(child, *expected_types)
        return []

    if isinstance(v, list):
        names = []
        for item in v:
            names.extend(get_schema_names(item, *expected_types))
        return names

    return []


def schema_in_article(data: SchemaData, wanted_type: str) -> bool:
    """metadata-json.go:445-486."""
    if data.parent is None:
        return True

    parent_is_person = False
    parent_is_org = False
    for st in data.parent.types:
        st = st.lower()
        parent_is_person = parent_is_person or st == "person"
        parent_is_org = parent_is_org or st == "website" or "organization" in st

    parent_types = data.parent.types
    if (wanted_type == "person" and parent_is_person) or (
        wanted_type == "organization" and parent_is_org
    ):
        if data.parent.parent is None:
            return True
        parent_types = data.parent.parent.types

    for st in parent_types:
        st = st.lower()
        if (
            "article" in st or "posting" in st or st == "report" or st == "blog"
            or "page" in st or "listing" in st
        ):
            return True
    return False


_JSONLD_SELECTORS = css.parse_group(
    'script[type="application/ld+json"], script[type="application/settings+json"]'
)


def decode_json_ld(index: etree.TreeIndex) -> tuple[list, list, list]:
    """metadata-json.go:151-300."""
    persons: list[SchemaData] = []
    organizations: list[SchemaData] = []
    articles: list[SchemaData] = []

    def find_important(obj: dict, parent: SchemaData | None) -> None:
        schema_types = get_schema_types(obj, False)

        is_person = is_website = is_org = False
        is_article = is_posting = is_report = is_blog = is_page = is_listing = False
        for st in schema_types:
            st = st.lower()
            is_person = is_person or st == "person"
            is_website = is_website or st == "website"
            is_org = is_org or "organization" in st
            is_article = is_article or "article" in st
            is_posting = is_posting or "posting" in st
            is_report = is_report or st == "report"
            is_blog = is_blog or st == "blog"
            is_page = is_page or "page" in st
            is_listing = is_listing or "listing" in st

        schema_data = SchemaData(schema_types, obj, parent)

        if is_person:
            persons.append(schema_data)
        if is_website or is_org:
            schema_data.importance = 2 if is_org else 1
            organizations.append(schema_data)
        if is_article or is_posting or is_report or is_blog or is_page or is_listing:
            if is_article or is_posting or is_report:
                schema_data.importance = 3
            elif is_blog:
                schema_data.importance = 2
            else:
                schema_data.importance = 1
            articles.append(schema_data)

        for value in obj.values():
            if isinstance(value, dict):
                find_important(value, schema_data)
            elif isinstance(value, list):
                for item in value:
                    if isinstance(item, dict):
                        find_important(item, schema_data)

    for script in selectors.query_all(index, _JSONLD_SELECTORS):
        json_text = etree.text_content(script).strip()
        json_text = html_mod.unescape(json_text)
        if not json_text:
            continue
        try:
            decoded = json.loads(json_text)
        except ValueError:
            continue
        if isinstance(decoded, list):
            data_list = [d for d in decoded if isinstance(d, dict)]
            if len(data_list) != len(decoded):
                continue
        elif isinstance(decoded, dict):
            data_list = [decoded]
        else:
            continue
        for data in data_list:
            find_important(data, None)

    organizations.sort(key=lambda s: -s.importance)  # stable in Python
    articles.sort(key=lambda s: -s.importance)

    article_persons = [p for p in persons if schema_in_article(p, "person")]
    if article_persons:
        persons = article_persons

    article_orgs = [o for o in organizations if schema_in_article(o, "organization")]
    if article_orgs:
        organizations = article_orgs

    return persons, organizations, articles


def extract_json_ld(original: Metadata, index: etree.TreeIndex) -> Metadata:
    """metadata-json.go:23-149."""
    metadata = Metadata()
    persons, organizations, articles = decode_json_ld(index)

    for article in articles:
        if metadata.author == "":
            author_names = ""
            for author in get_schema_names(article.data.get("author"), "person"):
                author = validate_metadata_name(author)
                author_names = normalize_authors(author_names, author)
            if author_names != "":
                metadata.author = author_names

        if metadata.sitename == "":
            sitenames = get_schema_names(article.data.get("publisher"))
            if sitenames:
                metadata.sitename = sitenames[0]

        categories = get_string_values(article.data, "articleSection")
        if categories:
            metadata.categories.extend(categories)

        tags = get_schema_names(article.data.get("keywords"))
        if tags:
            metadata.tags.extend(tags)

        if metadata.title == "":
            metadata.title = get_single_string_value(article.data, "name")

        if metadata.title == "" or str_word_count(metadata.title) == 1:
            for attr in article.data:
                if "headline" not in attr.lower():
                    continue
                title = get_single_string_value(article.data, attr)
                if title != "" and "..." not in title:
                    metadata.title = title
                    break

        if metadata.page_type == "" and metadata.title != "" and article.types:
            metadata.page_type = article.types[0]

    if metadata.author == "":
        author_names = ""
        for person in persons:
            for name in get_schema_names(person.data):
                name = validate_metadata_name(name)
                author_names = normalize_authors(author_names, name)
        if author_names != "":
            metadata.author = author_names

    if metadata.sitename == "":
        names = []
        for org in organizations:
            for name in get_schema_names(org.data):
                name = validate_metadata_name(name)
                if name != "":
                    names.append(name)
        if names:
            metadata.sitename = "; ".join(names)

    if metadata.page_type == "" and articles and articles[0].types:
        metadata.page_type = articles[0].types[0]

    metadata.tags = uniquify_lists(*metadata.tags)
    metadata.categories = uniquify_lists(*metadata.categories)

    original.title = str_or(original.title, metadata.title)
    original.page_type = str_or(original.page_type, metadata.page_type)
    original.author = str_or(metadata.author, original.author)
    if metadata.categories:
        original.categories = metadata.categories
    if metadata.tags:
        original.tags = metadata.tags
    if len(metadata.sitename) > len(original.sitename):
        original.sitename = metadata.sitename

    return original


# ---------------------------------------------------------------------------
# DOM-based extraction (metadata.go:428-684)
# ---------------------------------------------------------------------------

def examine_title_element(doc: Element) -> tuple[str, str, str]:
    """metadata.go:428-442."""
    title = first = second = ""
    title_node = None
    for head in etree.get_elements_by_tag(doc, "head"):
        for child in etree.children_of(head):
            if child.tag == "title":
                title_node = child
                break
        break
    if title_node is not None:
        title = trim(etree.text_content(title_node))
        if title:
            m = RX_TITLE_CLEANER.match(title)
            if m:
                first, second = m.group(1) or "", m.group(2) or ""
    return title, first, second


def extract_dom_meta_selectors(limit: int, rules, index: etree.TreeIndex) -> str:
    """metadata.go:626-640."""
    for rule in rules:
        for node in selectors.query_all(index, rule):
            text = trim(etree.iter_text(node, " "))
            if 2 < len(text) < limit:
                return text
    return ""


def extract_dom_title(doc: Element, index) -> str:
    """metadata.go:445-487."""
    h1_nodes = index.of_tag("h1")
    if len(h1_nodes) == 1:
        title = trim(etree.text_content(h1_nodes[0]))
        if title:
            return title

    title = extract_dom_meta_selectors(200, selectors.META_TITLE, index)
    if title:
        return title

    title, first, second = examine_title_element(doc)
    if first != "" and "." not in first:
        title = first
    elif second != "" and "." not in second:
        title = second
    if title:
        return title

    if h1_nodes:
        return trim(etree.text_content(h1_nodes[0]))
    h2_nodes = index.of_tag("h2")
    if h2_nodes:
        return trim(etree.text_content(h2_nodes[0]))
    return ""


def _is_under(node: Element, root: Element) -> bool:
    p = node.parent
    while p is not None:
        if p is root:
            return True
        p = p.parent
    return False


def extract_dom_author(index: etree.TreeIndex) -> str:
    """metadata.go:490-500. Observationally identical to the reference's
    prune-a-full-clone shape, but prunes only the matched candidate's
    subtree: META_AUTHOR_DISCARD rules are per-element predicates, so
    (a) a candidate inside a discarded subtree simply doesn't exist in
    the pruned document — skipped via an ancestor check; (b) a
    candidate whose own subtree holds discard matches reads its text
    from a pruned clone of just that subtree (tail reattachment inside
    the subtree is identical, and both iter_text and clone exclude the
    root's tail, so the bytes match the document-wide prune)."""
    # The discard set is only consulted once an author rule actually
    # matches a node — most pages have no DOM author candidate, so the
    # META_AUTHOR_DISCARD queries are deferred until first use
    # (identical results: the tree is unchanged between the two scans).
    discards: list[Element] | None = None
    discard_ids: set[int] = set()

    for rule in selectors.META_AUTHOR:
        for node in selectors.query_iter(index, rule):
            if discards is None:
                discards = []
                for drule in selectors.META_AUTHOR_DISCARD:
                    discards.extend(selectors.query_all(index, drule))
                discard_ids = {id(d) for d in discards}
            skip = False
            anc = node
            while anc is not None:
                if id(anc) in discard_ids:
                    skip = True
                    break
                anc = anc.parent
            if skip:
                continue
            sub = node
            if discards and any(_is_under(d, node) for d in discards):
                sub = prune_unwanted_nodes(etree.clone(node, True),
                                           selectors.META_AUTHOR_DISCARD)
            text = trim(etree.iter_text(sub, " "))
            if 2 < len(text) < 120:
                return normalize_authors("", text)
    return ""


def extract_dom_url(index: etree.TreeIndex) -> str:
    """metadata.go:503-540."""
    url = ""
    for rule in _URL_SELECTORS:
        element = selectors.query(index, rule)
        if element is None:
            continue
        href = trim(element.get("href"))
        if href:
            url = href
            break

    if url.startswith("/"):
        for node in selectors.query_all(index, _HEAD_META_CONTENT):
            name = trim(node.get("name"))
            prop = trim(node.get("property"))
            attr_type = str_or(name, prop)
            if not attr_type:
                continue
            if attr_type.startswith(("og:", "twitter:")):
                base = get_base_url(trim(node.get("content")))
                if base:
                    url = base + url
                    break

    return url


def extract_dom_sitename(doc: Element) -> str:
    """metadata.go:543-552."""
    _, first, second = examine_title_element(doc)
    if first != "" and "." in first:
        return first
    if second != "" and "." in second:
        return second
    return ""


def extract_dom_categories(index: etree.TreeIndex) -> list[str]:
    """metadata.go:555-589."""
    categories: list[str] = []
    for rule in selectors.META_CATEGORIES:
        for node in selectors.anchors_by_ancestor(index, rule):
            href = trim(node.get("href"))
            if href and RX_CATEGORY_HREF.search(href):
                text = trim(etree.text_content(node))
                if text:
                    categories.append(text)
        if categories:
            break

    if not categories:
        for node in selectors.query_all(index, _SECTION_META):
            content = trim(node.get("content"))
            if content:
                categories.append(content)

    return uniquify_lists(*categories)


def extract_dom_tags(index) -> list[str]:
    """metadata.go:592-612."""
    tags: list[str] = []
    for rule in selectors.META_TAGS:
        for node in selectors.anchors_by_ancestor(index, rule):
            href = trim(node.get("href"))
            if href and RX_TAG_HREF.search(href):
                text = trim(etree.text_content(node))
                if text:
                    tags.append(text)
        if tags:
            break
    return uniquify_lists(*tags)


def clean_cat_tags(cat_tags: list[str]) -> list[str]:
    """metadata.go:614-624."""
    cleaned = []
    for entry in cat_tags:
        for item in RX_COMMA_SEPARATOR.split(entry):
            item = trim(item)
            if item:
                cleaned.append(item)
    return cleaned


def parse_license_element(node: Element, strict: bool) -> str:
    """metadata.go:664-684."""
    href = trim(node.get("href"))
    if href:
        parts = RX_CC_LICENSE.search(href)
        if parts:
            return f"CC {parts.group(1).upper()} {parts.group(2)}"
    text = trim(node.text)
    if text:
        if not strict:
            return text
        parts = RX_CC_LICENSE_TEXT.search(text)
        if parts:
            return parts.group(0)
    return ""


def extract_license(index) -> str:
    """metadata.go:643-660: the first rel=license anchor's license, else
    the first strict one among the anchors under a footer
    (``selectors.license_footer_rule``)."""
    for a in index.of_tag("a"):
        if a.get("rel") == "license" and "href" in a.attrib:
            result = parse_license_element(a, False)
            if result:
                return result
    for a in selectors.anchors_by_ancestor(index, selectors.license_footer_rule):
        result = parse_license_element(a, True)
        if result:
            return result
    return ""


# ---------------------------------------------------------------------------
# Publish date (fast-mode subset of go-htmldate; metadata.go:184-220)
# ---------------------------------------------------------------------------

# Published/original date keys vs modified/updated keys: go-htmldate runs
# with UseOriginalDate=true (reference metadata.go:98-99), so published
# sources win and modified ones are only a reserve.
# Meta keys naming the publication date (htmldate's attribute list;
# first hit in document order wins — experiments with key-precedence
# classes were net-negative on the comparison corpus: generic slots
# like "date" are the curated value as often as the explicit
# published keys).
_DATE_META_PUBLISHED = frozenset((
    "article:published_time", "article:published", "og:article:published_time",
    "og:published_time", "rnews:datepublished", "datecreated",
    "article.published", "datepublished", "date_published", "published-date",
    "published_time", "publishdate", "pubdate", "publication_date",
    "date", "dc.date", "dc.date.issued", "dc.date.created", "dcterms.date",
    "dcterms.created", "dcterms.issued", "sailthru.date", "parsely-pub-date",
    "citation_publication_date", "citation_date", "article_date_original",
    "originalpublicationdate", "datefirstpublished", "article.created",
    "published", "release_date", "publication-date", "cxenseparse:recs:publishtime",
))
_DATE_META_MODIFIED = frozenset((
    "article:modified_time", "og:article:modified_time", "og:updated_time",
    "updated_time", "lastmod", "last-modified", "datemodified",
    "dc.date.modified", "dcterms.modified", "revised", "lastdate",
    "last-published", "modified_time", "revision_date",
))

_RX_ISO_DATE = stdlib_re.compile(r"(\d{4})-(\d{2})-(\d{2})")
_RX_URL_DATE = stdlib_re.compile(r"/(\d{4})/(\d{1,2})/(\d{1,2})(?:/|$)")
_RX_DMY_DATE = stdlib_re.compile(r"\b(\d{1,2})\.(\d{1,2})\.(\d{4})\b")
_RX_MDY_DATE = stdlib_re.compile(r"\b(\d{1,2})/(\d{1,2})/(\d{4})\b")
_RX_DMY2_DATE = stdlib_re.compile(r"\b(\d{1,2})\.(\d{1,2})\.(\d{2})\b")
# CJK: 2019年6月24日
_RX_CJK_DATE = stdlib_re.compile(r"(\d{4})年(\d{1,2})月(\d{1,2})日")
# Compact 20190624 (extensive frequency scan only — IDs are protected by
# the word boundaries and the frequency vote)
_RX_COMPACT_DATE = stdlib_re.compile(r"\b(20\d{2})(0[1-9]|1[0-2])([0-2]\d|3[01])\b")

_MONTHS = {
    # en
    "january": 1, "february": 2, "march": 3, "april": 4, "may": 5,
    "june": 6, "july": 7, "august": 8, "september": 9, "october": 10,
    "november": 11, "december": 12,
    "jan": 1, "feb": 2, "mar": 3, "apr": 4, "jun": 6, "jul": 7, "aug": 8,
    "sep": 9, "sept": 9, "oct": 10, "nov": 11, "dec": 12,
    # de
    "januar": 1, "jänner": 1, "februar": 2, "märz": 3, "mai": 5, "juni": 6,
    "juli": 7, "oktober": 10, "dezember": 12, "okt": 10, "dez": 12,
    # fr
    "janvier": 1, "février": 2, "mars": 3, "avril": 4, "juin": 6,
    "juillet": 7, "août": 8, "septembre": 9, "octobre": 10,
    "novembre": 11, "décembre": 12,
    # it
    "gennaio": 1, "febbraio": 2, "marzo": 3, "aprile": 4, "maggio": 5,
    "giugno": 6, "luglio": 7, "agosto": 8, "settembre": 9, "ottobre": 10,
    "dicembre": 12,
    # es/pt
    "enero": 1, "febrero": 2, "abril": 4, "mayo": 5, "junio": 6,
    "julio": 7, "septiembre": 9, "octubre": 10, "noviembre": 11,
    "diciembre": 12, "janeiro": 1, "fevereiro": 2, "março": 3, "maio": 5,
    "junho": 6, "julho": 7, "setembro": 9, "outubro": 10, "novembro": 11,
    "dezembro": 12,
    # nl
    "januari": 1, "februari": 2, "maart": 3, "mei": 5, "augustus": 8,
}
_MONTH_ALT = "|".join(sorted(_MONTHS, key=len, reverse=True))
# C-substring triggers for the month-name patterns: a name match implies
# its first three letters appear (case-folded) — ~30 memmem scans gate
# the two big IGNORECASE alternations on month-less text.
_MONTH_TRIGGERS = tuple(sorted({m[:3] for m in _MONTHS}))
# A month name's first letter, as a class: the lookahead fails fast at
# a word start that no name can begin, before the alternation is tried.
_MONTH_INITIALS = "".join(sorted({m[0] for m in _MONTHS}))
# "January 20, 2020" / "Jan 20 2020"
_RX_MDY_NAME = stdlib_re.compile(
    rf"(?i)\b(?=[{_MONTH_INITIALS}])({_MONTH_ALT})\.?\s+(\d{{1,2}})"
    rf"(?:st|nd|rd|th)?,?\s+(\d{{4}})\b"
)
# "20. Januar 2020" / "20 janvier 2020" / "14 de enero de 2020"
_RX_DMY_NAME = stdlib_re.compile(
    rf"(?i)\b(\d{{1,2}})(?:st|nd|rd|th)?\.?\s+(?:de\s+|del\s+|di\s+)?({_MONTH_ALT})\.?"
    rf"(?:\s+de)?\s+(\d{{4}})\b"
)


# (?i) also matches I through İ and ı and S through ſ, which str.lower()
# does not fold to i and s ("APRİL".lower() is "apri̇l"): fold them
# first, so every month-name match reads a month.
_MONTH_FOLD = str.maketrans({"\u0130": "i", "\u0131": "i", "\u017f": "s"})


def _month(name: str) -> int:
    return _MONTHS[name.translate(_MONTH_FOLD).lower()]


def _valid_date(y: int, m: int, d: int) -> str:
    if 1995 <= y <= 2040 and 1 <= m <= 12 and 1 <= d <= 31:
        return f"{y:04d}-{m:02d}-{d:02d}"
    return ""


@dataclass(frozen=True, slots=True)
class _DateForm:
    """One date form: its pattern and the reader that turns a match of it
    into YYYY-MM-DD, or "" when a part is out of range."""

    rx: stdlib_re.Pattern
    read: object

    def first(self, s: str, bound: int | None = None) -> str:
        """The first valid date among the first ``bound`` matches in ``s``
        (all of them when ``bound`` is None): an invalid match falls
        through to the next."""
        for m in itertools.islice(self.rx.finditer(s), bound):
            date = self.read(m)
            if date:
                return date
        return ""

    def all(self, s: str) -> list[str]:
        """Every valid date in ``s``, in match order."""
        return [d for d in map(self.read, self.rx.finditer(s)) if d]


def _read_ymd(m) -> str:
    return _valid_date(int(m[1]), int(m[2]), int(m[3]))


def _read_dmy(m) -> str:
    return _valid_date(int(m[3]), int(m[2]), int(m[1]))


def _read_mdy(m) -> str:
    mo, d = int(m[1]), int(m[2])
    if mo > 12 and d <= 12:
        mo, d = d, mo  # 14/01/2020 can only be day-first
    return _valid_date(int(m[3]), mo, d)


_ISO_DATE = _DateForm(_RX_ISO_DATE, _read_ymd)
_DMY_DATE = _DateForm(_RX_DMY_DATE, _read_dmy)
_MDY_DATE = _DateForm(_RX_MDY_DATE, _read_mdy)
_MDY_NAME = _DateForm(
    _RX_MDY_NAME, lambda m: _valid_date(int(m[3]), _month(m[1]), int(m[2])))
_DMY_NAME = _DateForm(
    _RX_DMY_NAME, lambda m: _valid_date(int(m[3]), _month(m[2]), int(m[1])))
_CJK_DATE = _DateForm(_RX_CJK_DATE, _read_ymd)
_DMY2_DATE = _DateForm(
    _RX_DMY2_DATE, lambda m: _valid_date(2000 + int(m[3]), int(m[2]), int(m[1])))
_COMPACT_DATE = _DateForm(_RX_COMPACT_DATE, _read_ymd)
_URL_DATE = _DateForm(_RX_URL_DATE, _read_ymd)
_URL_DASH_YMD = _DateForm(stdlib_re.compile(r"/(\d{4})-(\d{2})-(\d{2})(?:[/.]|$)"), _read_ymd)
_URL_DASH_DMY = _DateForm(stdlib_re.compile(r"/(\d{2})-(\d{2})-(\d{4})(?:[/.]|$)"), _read_dmy)


def _has_month_name(text: str) -> bool:
    """The C-level screen of the two month-name forms."""
    low = text.lower()
    return any(t in low for t in _MONTH_TRIGGERS)


_RX_YEAR_QUICK = stdlib_re.compile(r"(?:19|20)\d{2}")

# camelCase class names ("liveArticleAuthorDateBlock") hide the word
# boundaries the date-class tokens rely on; split before matching.
_RX_CAMEL_SPLIT = stdlib_re.compile(r"(?<=[a-z])(?=[A-Z])")

# "comments-open"/"comments-closed" are WordPress per-post STATUS
# classes on the article container itself, and "kommentar" singular
# appears in category slugs (category-der-kommentar = op-ed) — only
# the section forms count as a comment area.
_RX_COMMENT_AREA = stdlib_re.compile(
    r"(?i)(?<![a-z0-9])(comment|comments(?!-open|-closed)|respond|reply|"
    r"kommentare|kommentarbereich|discussion|disqus)(?![a-z0-9])")


def _in_comment_area(node) -> bool:
    anc = node.parent
    depth = 0
    while anc is not None and depth < 30:
        attrib = anc.attrib
        if attrib:
            idclass = attrib.get("class", "") + " " + attrib.get("id", "")
            if len(idclass) > 1 and _RX_COMMENT_AREA.search(idclass):
                return True
        anc = anc.parent
        depth += 1
    return False


# Explicit publication announcements in visible text (multilingual;
# strong verbs only — weak markers like bare "am"/"Datum" false-match
# navigation and event listings).
_RX_PUB_MARKER = stdlib_re.compile(
    r"(?i)(?:ver[öo]ffentlicht(?:\s+am)?|erschienen\s+am|erstellt\s+am|"
    r"publiziert\s+am|published(?:\s+on|\s+at)?|posted\s+on|"
    r"publi[ée]\s+le|publicado\s+el|pubblicato\s+il|notizia\s+del)\s*:?\s*")

# Announced modification stamps in visible text (reserve-grade).
_RX_MOD_MARKER = stdlib_re.compile(
    r"(?i)(?:letzte\s+[äa]nderung|zuletzt\s+(?:aktualisiert|ge[äa]ndert)|"
    r"aktualisiert\s+am|(?:last\s+)?updated\s+on|last\s+updated|"
    r"mis\s+[àa]\s+jour|[uú]ltima\s+actualizaci[óo]n)\s*:?\s*")

# C-level substring triggers gating the marker regex scans: every
# regex branch contains one of these literals, so "no trigger in the
# lowercased text" proves "no match" without running the alternation.
_PUB_MARKER_KEYS = ("veröffentlicht", "veroffentlicht", "erschienen",
                    "erstellt", "publi", "pubbli", "posted", "notizia")
_MOD_MARKER_KEYS = ("letzte", "zuletzt", "aktualisiert", "updated",
                    "jour", "actualizaci")


_RX_DIGIT_RUN = stdlib_re.compile(r"\d+")


def _digit_neighborhoods(s: str, margin: int = 24) -> str:
    """Reduce a large blob to ±margin-char windows around every digit
    run, joined by NUL — no supported date pattern matches across NUL.
    Windows merge when they overlap OR when the text between them is
    pure whitespace (matches may span arbitrarily long \\s+ runs —
    "DOMINGO 8\\n<40 spaces>de mayo de 2022" is a real corpus case), so
    this is candidate-exact for the pinned pattern set: every pattern's
    match contains a digit, and its non-whitespace interior between /
    beyond digit runs is ≤ ~19 chars (month name + de/del/di + ordinal
    suffix + dots) < margin. Word-boundary contexts survive because
    each window keeps ≥1 original char beyond any possible match edge.
    Bails to the original text when windows cover most of it
    (digit-dense blobs), so this is never slower than the direct scan
    by more than the one \\d pass."""
    spans: list[list[int]] = []
    for m in _RX_DIGIT_RUN.finditer(s):
        start = m.start()
        a, b = start - margin, m.end() + margin
        if a > 0 and s[a:start].isspace():
            # Month-name prefixes ("May\n<30 ws>\n28 2006" — Wayback
            # toolbar, real corpus case) sit past an arbitrarily long
            # whitespace run: jump the run (bounded walk) and keep a
            # margin of the content before it. Over-inclusion is safe —
            # every included char exists in the original text.
            k, limit = a, start - 4096
            while k > limit and k > 0 and s[k - 1].isspace():
                k -= 1
            a = k - margin
        if spans:
            prev_end = spans[-1][1]
            if a <= prev_end or s[prev_end:a].isspace():
                if b > prev_end:
                    spans[-1][1] = b
                continue
        spans.append([a if a > 0 else 0, b])
    if not spans:
        return ""
    n = len(s)
    total = sum(min(b, n) - a for a, b in spans)
    if total * 10 >= n * 6:
        return s
    return "\x00".join(s[a:b] for a, b in spans)


def _parse_date_string(s: str) -> str:
    """First VALID date in the string, trying patterns in priority
    order. A pattern hit that fails validation (e.g. a version number
    shaped like d/m/y with an out-of-range part) falls through to the
    pattern's later matches and then the next pattern — an invalid
    candidate must not abort the scan.

    Large blobs (the bounded visible-text tiers pass up to 300 KB) are
    reduced to digit neighborhoods instead of trimmed: one C-level \\d
    scan replaces both the whitespace-collapse pass (~2 ms at 300 KB)
    and up to six full-text regex passes, with an identical candidate
    stream — whitespace collapse cannot create or destroy a candidate
    (patterns either allow \\s+ runs or require adjacency, and collapse
    preserves both) — see _digit_neighborhoods."""
    if not s:
        return ""
    if len(s) > 4096:
        s = _digit_neighborhoods(s)
    else:
        s = trim(s)
    # Every supported pattern needs a \d match, so one C-level \d search
    # is an exact screen (str.isdigit also accepts ² or ①, which no
    # pattern matches); the expensive month-name alternations
    # additionally need a plausible year nearby.
    if not s or _RX_DIGIT_RUN.search(s) is None:
        return ""
    # Every 4-digit-year pattern (1900-2099) necessarily contains the
    # substring "19" or "20" — two C-level scans gate five finditer
    # passes on year-less text (the common case on date-free pages).
    if "20" not in s and "19" not in s:
        return _DMY2_DATE.first(s) if "." in s else ""
    # Per-pattern C-substring gates: each regex needs a literal its
    # match must contain, so a failed `in` proves no match without the
    # full regex scan (the expensive case is a 100 KB+ dateless blob).
    # The M/D/Y walk is bounded for digit-dense blobs.
    has_dot = "." in s
    return (("-" in s and _ISO_DATE.first(s))
            or (has_dot and _DMY_DATE.first(s))
            or ("/" in s and _MDY_DATE.first(s, 25))
            or (_RX_YEAR_QUICK.search(s) is not None and _has_month_name(s)
                and (_MDY_NAME.first(s) or _DMY_NAME.first(s)))
            or ("年" in s and _CJK_DATE.first(s))
            or (has_dot and _DMY2_DATE.first(s))
            or "")


# Containers whose id/class signals a visible publication date
# (htmldate's DATE_EXPRESSIONS selector family, compacted).
# Word boundaries here must treat "_" as a separator too (CSS naming
# like meta__date / published_at), so the \b of stdlib re — which
# counts _ as a word char — is replaced with explicit lookarounds.
_RX_DATE_CLASS = stdlib_re.compile(
    r"(?i)(?<![a-z0-9])(date|datum|time|timestamp|post-?meta|byline|published|"
    r"posted-?on|entry-?meta|dateline|submitted|created)(?![a-z0-9])"
)


def _scan_all_dates(text: str) -> list[str]:
    """All plausible dates in a text blob, form by form in priority order."""
    # C-substring gates (same exactness argument as _parse_date_string:
    # a pattern match must contain the literal) — the extensive
    # frequency scan runs seven regexes over up-to-400 KB blobs.
    out = _ISO_DATE.all(text) if "-" in text else []
    if "." in text:
        out += _DMY_DATE.all(text)
    if _has_month_name(text):
        out += _MDY_NAME.all(text)
        out += _DMY_NAME.all(text)
    if "/" in text:
        out += _MDY_DATE.all(text)
    if "年" in text:
        out += _CJK_DATE.all(text)
    out += _COMPACT_DATE.all(text)
    return out


def _first_parsed(tier: str, texts):
    """Yield (``tier``, date) for the first of ``texts`` that holds a valid
    date; ``texts`` is drawn lazily, so candidates after it cost nothing."""
    for text in texts:
        date = _parse_date_string(text)
        if date:
            yield tier, date
            return


def _date_tier_candidates(doc: Element, extensive: bool, index):
    """Yield the page's (tier, date) pairs in cascade priority order —
    each tier's FIRST valid candidate, lazily (fast mode stops at the
    first yield, so tier cost is only paid when every earlier tier came
    up empty). The url's two tiers are not here: ``_bind_date`` merges
    them in at their slots. Tier semantics are the round-3 cascade
    unchanged."""
    reserve = ""

    # published meta tags; modified keys feed the reserve
    meta_pub = ""
    for node in index.of_tag("meta"):
        key = (node.get("property") or node.get("name") or node.get("itemprop")).lower()
        if key in _DATE_META_PUBLISHED and not meta_pub:
            meta_pub = _parse_date_string(node.get("content"))
            if meta_pub:
                yield "meta_pub", meta_pub
        elif not reserve and key in _DATE_META_MODIFIED:
            reserve = _parse_date_string(node.get("content"))

    # <time> and <abbr> elements (published markers first)
    time_nodes = index.of_tag("time")
    yield from _first_parsed("time_pub", (
        node.get("datetime") or etree.text_content(node) for node in time_nodes
        if node.get("itemprop").lower() in ("datepublished", "datecreated")
        or node.get("pubdate")))
    # A bare <time> inside the comment section is a comment timestamp,
    # not the article date (htmldate's selectors skip comment containers
    # for the same reason).
    yield from _first_parsed("time_bare", (
        node.get("datetime") or etree.text_content(node) for node in time_nodes
        if not _in_comment_area(node)))
    yield from _first_parsed("abbr", (
        node.get("title") or etree.text_content(node) for node in index.of_tag("abbr")
        if _RX_DATE_CLASS.search(node.get("class"))))

    # Microdata on arbitrary elements (htmldate's itemprop scan is not
    # limited to <time>); modified stamps feed the reserve. The
    # date-classed CONTAINER scan (its tier slot is after jsonld/marker
    # below) is fused into this same element pass — both tiers would
    # otherwise walk every element; the tree is static, so computing the
    # container candidate early and yielding it at its slot is
    # observationally identical.
    body = etree.body_of(doc)
    container_hit = ""
    container_done = body is None
    scanned = 0
    micro = ""
    for node in index.of_tag("*"):
        itemprop = node.get("itemprop")
        if itemprop:
            key = itemprop.lower()
            if key in ("datepublished", "datecreated") and not micro:
                micro = _parse_date_string(
                    node.get("content") or node.get("datetime"))
                if micro:
                    yield "micro", micro
            elif not reserve and key in ("datemodified", "dateupdate"):
                reserve = _parse_date_string(
                    node.get("content") or node.get("datetime"))
        if container_done:
            continue
        # -- fused date-classed container branch (tier yields below) --
        attrib = node.attrib
        if not attrib or node.tag in ("script", "style"):
            continue
        idclass = attrib.get("class", "") + " " + attrib.get("id", "")
        if len(idclass) > 1 and _RX_DATE_CLASS.search(
                _RX_CAMEL_SPLIT.sub(" ", idclass)):
            if _in_comment_area(node):
                continue
            blob = trim(etree.iter_text(node, " "))[:512]
            date = _parse_date_string(blob)
            if date:
                container_hit = date
                container_done = True
                continue
            scanned += 1
            if scanned >= 200:
                container_done = True

    # JSON-LD datePublished / dateCreated (dateModified as reserve)
    jsonld = ""
    for script in selectors.query_all(index, _JSONLD_SELECTORS):
        text = etree.text_content(script)
        m = stdlib_re.search(
            r'"(?:datePublished|dateCreated)"\s*:\s*"([^"]+)"', text
        )
        if m and not jsonld:
            jsonld = _parse_date_string(m.group(1))
            if jsonld:
                yield "jsonld", jsonld
        if not reserve:
            m = stdlib_re.search(r'"dateModified"\s*:\s*"([^"]+)"', text)
            if m:
                reserve = _parse_date_string(m.group(1))

    # Explicit publication announcements in visible text
    # ("Veroeffentlicht am 16.08.2019", "Publie le ...")
    marker_text = ""
    marker_low = ""
    if body is not None:
        # iter_text: element boundaries become separators, so a date
        # glued to a neighboring element's text keeps its word
        # boundaries. The 300 KB cap bounds worst-case cost.
        marker_text = etree.iter_text(body, "\n")[:300000]
        marker_low = marker_text.lower()
        if any(k in marker_low for k in _PUB_MARKER_KEYS):
            yield from _first_parsed("marker_pub", (
                marker_text[m.end():m.end() + 48]
                for m in _RX_PUB_MARKER.finditer(marker_text)))

    # Date-classed visible containers (htmldate DATE_EXPRESSIONS),
    # found by the fused element pass above.
    if container_hit:
        yield "container", container_hit

    # Modified-date reserve
    if reserve:
        yield "reserve", reserve

    # Bounded visible-text scan (htmldate's search_page behaviour).
    # An announced modification stamp still names the article better
    # than the first bare date in reading order.
    if marker_text:
        if any(k in marker_low for k in _MOD_MARKER_KEYS):
            yield from _first_parsed("marker_mod", (
                marker_text[m.end():m.end() + 48]
                for m in _RX_MOD_MARKER.finditer(marker_text)))
        date = _parse_date_string(marker_text)
        if date:
            yield "text_scan", date

    if extensive:
        # Description/title meta content
        yield from _first_parsed("desc_meta", (
            node.get("content") for node in index.of_tag("meta")
            if (node.get("property") or node.get("name")).lower()
            in ("description", "og:description", "og:title", "twitter:description")))
        # Embedded-JSON keys anywhere in the document
        whole = etree.iter_text(doc, "\n")[:400000]
        m = stdlib_re.search(
            r'(?i)"(?:published_at|datePublished|publishedDate|datePosted|'
            r'published_time|pubdate|publishdate)"\s*:\s*"([^"]+)"',
            whole,
        )
        if m:
            date = _parse_date_string(m.group(1))
            if date:
                yield "embedded_json", date
        # (the url's dash-separated path date has its slot here)
        # Whole-document frequency pick over the SERIALIZED html,
        # earliest on ties (original-date preference).
        found = _scan_all_dates(whole)
        if not found:
            found = _scan_all_dates(etree.tostring(doc)[:400000])
        if found:
            from collections import Counter

            counts = Counter(found)
            top_n = max(counts.values())
            yield "freq_scan", sorted(
                d for d, n in counts.items() if n == top_n)[0]


def _url_dates(url: str, extensive: bool) -> tuple[str, str]:
    """The url's two date tiers: a full /YYYY/MM/DD/ path date, which
    outranks every page tier (go-htmldate checks meta first; measured:
    92.5% tier reliability vs 89.2% on the comparison corpus, and 4 of 6
    contested pages favor the URL), and, in extensive mode only, a
    dash-separated path date just before the frequency scan (yyyy-mm-dd
    first, dd-mm-yyyy as fallback — the fallback also applies when the
    first form matched but failed date validation)."""
    if not url:
        return "", ""
    # bound 1: each url form reads its first match only
    dash = (_URL_DASH_YMD.first(url, 1) or _URL_DASH_DMY.first(url, 1)) if extensive else ""
    return _URL_DATE.first(url, 1), dash


def page_dates(doc: Element, extensive: bool, index: etree.TreeIndex) -> tuple:
    """The page's date candidates for ``_bind_date``: every (tier, date)
    pair in extensive mode, only the first in fast mode. ``index`` is a
    TreeIndex of ``doc``."""
    gen = _date_tier_candidates(doc, extensive, index)
    if extensive:
        return tuple(gen)
    return tuple(itertools.islice(gen, 1))


def _bind_date(dates: tuple, url: str, extensive: bool) -> str:
    """htmldate-style publish-date cascade with original-date preference
    (go-htmldate runs with UseOriginalDate=true — metadata.go:98):
    url full date → published meta → time/abbr elements → JSON-LD →
    date-classed containers → modified-date reserve → (extensive only)
    full-document scan choosing the most frequent, earliest candidate.
    ``dates`` are the page's tiers (``page_dates``); the url's tiers
    are merged in at their slots.

    Fast mode returns the first tier hit. Extensive mode takes every
    tier and applies ONE per-page arbitration on top of cascade order:
    when the cascade winner and an alternative candidate differ by
    EXACTLY one calendar day (the timezone-skew signature: a meta
    datetime stamped in another zone renders a different day than the
    visible date) and at least two more tiers agree on the alternative,
    the majority day wins (ties in support break by cascade order).
    Measured on the comparison corpus: +4 exact (643 → 647 of 733);
    broader voting/reordering rules all measured net-negative (NOTES.md
    round-4 log)."""
    full, dash = _url_dates(url, extensive)
    if not extensive:
        return full or (dates[0][1] if dates else "")
    cands = list(dates)
    if dash:
        freq = len(cands) - (1 if cands and cands[-1][0] == "freq_scan" else 0)
        cands.insert(freq, ("url_dash", dash))
    if full:
        cands.insert(0, ("url", full))
    if not cands:
        return ""
    first = cands[0][1]
    import datetime

    try:
        f = datetime.date.fromisoformat(first)
    except ValueError:
        return first
    support: dict = {}
    order: list = []
    for _t, v in cands:
        if v not in support:
            order.append(v)
        support[v] = support.get(v, 0) + 1
    best = None
    for v in order:
        if v == first:
            continue
        try:
            dv = datetime.date.fromisoformat(v)
        except ValueError:
            continue
        if abs((dv - f).days) == 1 and support[v] - support[first] >= 2:
            if best is None or support[v] > support[best]:
                best = v
    return best if best is not None else first


def extract_date_fast(doc: Element, url: str, extensive: bool = False) -> str:
    """The publish date of ``doc`` served under ``url`` (``_bind_date``)."""
    return _bind_date(page_dates(doc, extensive, etree.TreeIndex(doc)), url, extensive)


# ---------------------------------------------------------------------------
# Orchestrator (metadata.go:121-265)
# ---------------------------------------------------------------------------

def _date_mode(options) -> bool | None:
    """None when date extraction is disabled, else whether it runs
    extensive. Default mode follows the reference (metadata.go:195-200):
    extensive when fallback is enabled, fast otherwise."""
    if options.date_mode == "disabled":
        return None
    return options.date_mode == "extensive" or (
        options.date_mode == "default" and options.enable_fallback)


def extract_metadata(doc: Element, options) -> tuple[Metadata, UrlTail]:
    """The page's metadata, computed without its url: the url-dependent
    fields are left empty and their inputs returned as the ``UrlTail``
    that ``bind_metadata`` completes them from."""
    # One doc-order tag index shared by every meta/DOM selector scan in
    # the cascade (the tree is not mutated between them).
    index = etree.TreeIndex(doc)

    metadata = examine_meta(index)
    metadata.author = remove_blacklisted_authors(metadata.author, options)

    metadata = extract_json_ld(metadata, index)
    metadata.author = remove_blacklisted_authors(metadata.author, options)

    if metadata.title == "":
        metadata.title = extract_dom_title(doc, index)

    if metadata.author == "":
        metadata.author = extract_dom_author(index)
        metadata.author = remove_blacklisted_authors(metadata.author, options)

    if metadata.url == "":
        metadata.url = extract_dom_url(index)

    extensive = _date_mode(options)
    dates = () if extensive is None else page_dates(doc, extensive, index)

    if metadata.sitename == "":
        metadata.sitename = extract_dom_sitename(doc)

    if metadata.sitename != "":
        if metadata.sitename.startswith("@"):
            metadata.sitename = metadata.sitename[1:]
        first = metadata.sitename[:1]
        if "." not in metadata.sitename and first and not first.isupper():
            metadata.sitename = title_case(metadata.sitename)

    if not metadata.categories:
        metadata.categories = extract_dom_categories(index)
    if metadata.categories:
        metadata.categories = clean_cat_tags(metadata.categories)

    if not metadata.tags:
        metadata.tags = extract_dom_tags(index)
    if metadata.tags:
        metadata.tags = clean_cat_tags(metadata.tags)

    metadata.license = extract_license(index)

    tail = UrlTail(metadata.url, metadata.image, metadata.sitename, dates)
    metadata.url = metadata.image = metadata.sitename = ""
    return metadata, tail


def page_url(own: str, url: str | None) -> str:
    """The page's url: its own url resolved against ``url`` when that
    gives an absolute url, else ``url`` itself ("" when unknown)."""
    if own != "":
        valid_url, is_abs = validate_url(own, url)
        if valid_url != "" and is_abs:
            return valid_url
    return url or ""


def bind_metadata(metadata: Metadata, tail: UrlTail, url: str | None, options) -> Metadata:
    """``metadata`` with its url-dependent fields derived from ``tail``
    for a page fetched from ``url`` (None or "" when unknown). It reads
    nothing else of the page, so one url-free ``extract_metadata``
    result binds to any number of urls."""
    bound = page_url(tail.url, url)
    image = ""
    if tail.image != "":
        valid_url, is_abs = validate_url(tail.image, url)
        if valid_url != "" and is_abs:
            image = valid_url
    extensive = _date_mode(options)
    date = "" if extensive is None else _bind_date(tail.dates, bound, extensive)
    sitename = tail.sitename
    if sitename == "" and bound:
        m = RX_SITENAME_FINDER.search(bound)
        if m:
            sitename = m.group(1)
    return replace(metadata, url=bound, hostname=get_domain_url(bound) if bound else "",
                   image=image, date=date, sitename=sitename)
