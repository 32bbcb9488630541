"""Scalar helpers: whitespace, boilerplate filters, URL ops, language ID.

Reference anchors: trim (/root/reference/utils-common.go:31-34), textFilter
(/root/reference/utils-extractor.go:112-133 + internal/re2go), duplicate
test (/root/reference/utils-extractor.go:136-149), image checks
(/root/reference/utils-common.go:54-74), URL helpers
(/root/reference/url.go:31-120), language classifier
(/root/reference/utils-extractor.go:96-109 — whatlanggo; re-specified here
as the trigram detector in lang.py).
"""

from __future__ import annotations

import mimetypes
import posixpath
import re
from urllib.parse import urlparse, urljoin

from . import etree
from .etree import Element


def trim(s: str) -> str:
    """Collapse all whitespace runs to single spaces and strip, matching
    Go strings.Join(strings.Fields(s), " ") (utils-common.go:31). Soft
    hyphens are kept: the reference never strips them and its comparison
    expectations (scripts/comparison/data.go) contain 47 of them."""
    if not s:
        return ""
    return " ".join(s.split())


# Go html.EscapeString's replacements, in the order they are applied.
HTML_ESCAPES = (("&", "&amp;"), ("'", "&#39;"), ("<", "&lt;"), (">", "&gt;"),
                ('"', "&#34;"))


def html_escape(s: str) -> str:
    """Go html.EscapeString (attribute-safe)."""
    for raw, rep in HTML_ESCAPES:
        s = s.replace(raw, rep)
    return s


def str_word_count(s: str) -> int:
    return len(s.split())


def str_or(*args: str) -> str:
    for a in args:
        if a != "":
            return a
    return ""


# re2go/utils-extractor.re:4-31 — RE_FILTER (share-button boilerplate)
RE_FILTER = re.compile(
    r"(?i)\W*(Drucken|E-?Mail|Facebook|Flipboard|Google|Instagram|"
    r"Linkedin|Mail|PDF|Pinterest|Pocket|Print|QQ|Reddit|Twitter|"
    r"WeChat|WeiBo|Whatsapp|Xing|Mehr zum Thema:?|More on this\.{0,8})$"
)


def text_chars_test(s: str) -> bool:
    """True if the string has any non-space content."""
    return trim(s) != ""


# Cheap lowercase keyword screen that must hit before the (expensive)
# anchored regex can possibly match.
_FILTER_KEYWORDS = (
    "drucken", "mail", "facebook", "flipboard", "google", "instagram",
    "linkedin", "pdf", "pinterest", "pocket", "print", "qq", "reddit",
    "twitter", "wechat", "weibo", "whatsapp", "xing", "mehr zum thema",
    "more on this",
)


def text_filter(el: Element) -> bool:
    """True → drop the node (boilerplate or blank).
    Reference: utils-extractor.go:112-127."""
    text = el.text
    test_text = text if text != "" else el.tail
    if not text_chars_test(test_text):
        return True
    lowered = test_text.lower()
    if not any(k in lowered for k in _FILTER_KEYWORDS):
        return False
    return any(RE_FILTER.search(line) for line in test_text.split("\n"))


def duplicate_test(el: Element, cache, options) -> bool:
    """LRU segment dedup (utils-extractor.go:136-149): a segment longer
    than MinDuplicateCheckSize runes becomes a duplicate once seen more
    than MaxDuplicateCount times."""
    is_dup = False
    test_string = trim(etree.iter_text(el, " "))
    if len(test_string) > options.config.min_duplicate_check_size:
        val = cache.get(test_string)
        if val > options.config.max_duplicate_count:
            is_dup = True
        cache.put(test_string, val + 1)
    return is_dup


def is_image_file(image_src: str) -> bool:
    if not image_src:
        return False
    # strip query/fragment like Go's filepath.Ext on a URL path would not,
    # but mime.TypeByExtension sees the raw extension — match that.
    ext = posixpath.splitext(image_src)[1]
    mime = mimetypes.guess_type("x" + ext)[0] or ""
    return mime.startswith("image")


def is_image_element(el: Element) -> bool:
    for key, val in el.attrib.items():
        if key == "src" or key.startswith("data-src"):
            if is_image_file(val):
                return True
    return False


def uniquify_lists(*currents: str) -> list[str]:
    """Order-preserving distinct over split category/tag strings.
    Reference: utils-common.go:76-99."""
    final: list[str] = []
    seen: set[str] = set()
    for current in currents:
        separator = ";" if current.count(";") > current.count(",") else ","
        for entry in current.split(separator):
            entry = trim(entry).replace('"', "").replace("'", "")
            if entry and entry not in seen:
                final.append(entry)
                seen.add(entry)
    return final


# ---------------------------------------------------------------------------
# URL helpers (url.go:31-120)
# ---------------------------------------------------------------------------

def is_absolute_url(url: str) -> tuple:
    """url.go:31-44 — http(s) only; invalid ports reject the URL (Go's
    ParseRequestURI errors on them; Python defers until .port)."""
    try:
        parsed = urlparse(url)
        parsed.port  # raises ValueError on non-numeric/out-of-range port
    except ValueError:
        return False, None
    if parsed.scheme not in ("http", "https") or not parsed.netloc:
        return False, parsed
    return True, parsed


def create_absolute_url(url: str, base) -> str:
    """Resolve url against base; hash/data:/javascript: pass through.
    base may be a string or a ParseResult-ish or None."""
    if not url:
        return url
    if url.startswith(("#", "data:", "javascript:", "mailto:")):
        return url
    if base is None:
        return url
    base_str = base if isinstance(base, str) else base.geturl()
    try:
        return urljoin(base_str, url)
    except ValueError:
        return url


def get_base_url(url: str) -> str:
    try:
        p = urlparse(url)
        if not p.scheme or not p.netloc:
            return ""
        return f"{p.scheme}://{p.netloc}"
    except ValueError:
        return ""


def get_domain_url(url: str) -> str:
    """url.go:88-95 — the full hostname of an absolute URL."""
    ok, parsed = is_absolute_url(url)
    if not ok:
        return ""
    return parsed.hostname or ""


def validate_url(url: str, base=None) -> tuple[str, bool]:
    """url.go:106-120 — absolute URLs pass through; relative URLs are
    resolved against base (the original url) when possible."""
    ok, _ = is_absolute_url(url)
    if ok:
        return url, True
    new_url = create_absolute_url(url, base)
    ok, _ = is_absolute_url(new_url)
    if ok:
        return new_url, True
    return url, False


def language_classifier(content_text: str, comments_text: str) -> str:
    """utils-extractor.go:96-109 — classify the longer of the two texts
    with the trigram detector (whatlanggo shape: a best guess for any
    real text, not just stopword hits)."""
    from .lang import detect

    lang_test = comments_text if len(comments_text) > len(content_text) else content_text
    return detect(lang_test)


_RX_HTML_LANG = re.compile(r"(?i)[a-z]{2}")


def check_html_language(doc: Element, options, strict: bool) -> bool:
    """utils-extractor.go:44-93 — meta content-language / og:locale, then
    (strict) <html lang>."""
    from . import css

    html_node = doc if doc.tag == "html" else None
    if html_node is None:
        nodes = etree.get_elements_by_tag(doc, "html")
        if nodes:
            html_node = nodes[0]

    target = options.target_language
    for selector in (
        'meta[http-equiv="content-language"][content]',
        'meta[property="og:locale"][content]',
    ):
        meta_nodes = css.query_all(doc, selector)
        if not meta_nodes:
            continue
        for meta in meta_nodes:
            content = meta.get("content")
            for lang in _RX_HTML_LANG.findall(content):
                if lang.lower() == target:
                    return True
        return False

    if strict and html_node is not None and "lang" in html_node.attrib:
        for lang in _RX_HTML_LANG.findall(html_node.get("lang")):
            if lang.lower() == target:
                return True
        return False

    return True
