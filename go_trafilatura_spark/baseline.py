"""Baseline (salvage) extraction cascade.

Transcribed semantics from /root/reference/baseline.go:13-152:
JSON-LD articleBody → <article> text → unique quote/pre/q/code/p
paragraphs → whole <body> text → whole document text.
"""

from __future__ import annotations

import html as html_mod
import json

from . import css, etree, selectors
from .etree import Element
from .utils import trim

_BASIC_CLEANING_SELECTOR = css.parse_group(
    'aside, footer, div[id*="footer"], div[class*="footer"], script, style'
)

_JSONLD_SELECTOR = css.parse_group('script[type="application/ld+json"]')


def basic_cleaning(doc: Element) -> Element:
    """baseline.go:22-28."""
    for el in reversed(selectors.query_all(doc, _BASIC_CLEANING_SELECTOR)):
        etree.remove(el)
    return doc


def _find_article_body(obj: dict) -> str:
    """Recursive articleBody lookup (baseline.go:57-88)."""
    for key, value in obj.items():
        if isinstance(value, str):
            v = trim(value)
            if key.lower() == "articlebody" and v != "":
                if "<p>" in v:
                    tmp = etree.parse_html(v)
                    return trim(etree.text_content(tmp))
                return v
        elif isinstance(value, dict):
            found = _find_article_body(value)
            if found:
                return found
        elif isinstance(value, list):
            for item in value:
                if isinstance(item, dict):
                    found = _find_article_body(item)
                    if found:
                        return found
    return ""


def baseline(doc: Element | None) -> tuple[Element, str]:
    """baseline.go:31-152."""
    post_body = etree.new_element("body")
    if doc is None:
        return post_body, ""

    tmp_text = ""

    # 1. JSON-LD articleBody
    for script in selectors.query_all(doc, _JSONLD_SELECTOR):
        json_text = etree.text_content(script).strip()
        json_text = html_mod.unescape(json_text)
        if not json_text:
            continue
        try:
            data = json.loads(json_text)
        except ValueError:
            continue
        if not isinstance(data, dict):
            continue
        article_body = _find_article_body(data)
        if article_body:
            p = etree.sub_element(post_body, "p")
            etree.set_text(p, article_body)
            tmp_text += " " + article_body

    tmp_text = trim(tmp_text)
    if len(tmp_text) > 100:
        return post_body, tmp_text

    # 2. Basic cleaning, then <article> text
    doc = basic_cleaning(doc)

    article = selectors.query(doc, css.parse_group("article"))
    if article is not None:
        article_text = trim(etree.text_content(article))
        if len(article_text) > 100:
            p = etree.sub_element(post_body, "p")
            etree.set_text(p, article_text)
            tmp_text += " " + article_text

    if etree.children_of(post_body):
        return post_body, trim(tmp_text)

    # 3. Unique text paragraphs
    seen: set[str] = set()
    for element in etree.iter_all(doc, "blockquote", "pre", "q", "code", "p"):
        entry = trim(etree.text_content(element))
        if entry not in seen:
            p = etree.sub_element(post_body, "p")
            etree.set_text(p, entry)
            tmp_text += " " + entry
            seen.add(entry)

    tmp_text = trim(tmp_text)
    if len(tmp_text) > 100:
        return post_body, tmp_text

    # 4. Whole body text
    body = etree.body_of(doc)
    if body is not None:
        text = trim(etree.iter_text(body, "\n"))
        if len(text) > 100:
            elem = etree.sub_element(post_body, "p")
            etree.set_text(elem, text)
            return post_body, text

    # 5. Whole document text
    text = trim(etree.text_content(doc))
    elem = etree.sub_element(post_body, "p")
    etree.set_text(elem, text)
    return post_body, text
