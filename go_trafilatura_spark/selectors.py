"""Priority-ordered selector rule lists (first match wins).

Every element query is one ``Rule``: a predicate ``match`` with its
declaration, stated once where the rule is defined — the tags it can
match and whether it needs an attribute. The rule lists here, the
container rules of ``anchors_by_ancestor`` and the selector groups of
``css.parse_group`` all take this form.

``query``, ``query_all`` and ``query_iter`` are the only evaluation
path, over the descendants of a tree or its ``etree.TreeIndex`` in
document order: one candidate scan surfaces the elements of the
declared tags (only those with an attribute when the rule needs one)
and ``match`` decides them. So a body never restates the tag test of
its declaration. An element's attributes are parsed on the first read
(``etree.Element``), so only the candidates a rule body reads pay for
the parse.

Transcribed semantics from the reference's internal/selector/*.go
(content.go:29-234, content-discard-overall.go:29-227, comments.go,
teaser/image/precision discards, comments-discard.go,
comments-removed.go, meta-*.go) and the footer query of metadata.go:643-660.
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple

from .etree import Element, TreeIndex, _collect_tags, get_elements_by_tag, has_attrs


class Rule(NamedTuple):
    """One element query. ``match`` decides the elements that the
    declaration lets through:

    - ``tags``: the tags it can match; None for any.
    - ``needs_attrs``: it can only match an element carrying at least
      one attribute."""

    name: str
    match: Callable[[Element], bool]
    tags: frozenset | None = None
    needs_attrs: bool = False


def declare(tags=None, needs_attrs=False):
    """The decorated predicate as a Rule of its name, declared by these
    fields."""
    def build(match) -> Rule:
        return Rule(match.__name__, match, None if tags is None else frozenset(tags),
                    needs_attrs)
    return build


def _candidates(scope, rule: Rule) -> list[Element]:
    """The descendants ``rule`` can match, in document order: those of
    its declared tags, with an attribute when it needs one. ``scope`` is
    an Element, which is walked, or an ``etree.TreeIndex`` of an
    unchanged tree, which is looked up."""
    tags = rule.tags
    if isinstance(scope, TreeIndex):
        out = scope.candidates(tags)
    elif tags is None:
        out = get_elements_by_tag(scope)
    else:
        out = []
        _collect_tags(scope, tags, out)
    if rule.needs_attrs:
        return [el for el in out if has_attrs(el)]
    return out


def query_iter(scope, rule: Rule):
    """The descendants of ``scope`` (an Element or a TreeIndex, see
    _candidates) that ``rule`` matches, lazily in document order, so
    callers that stop at the first usable hit skip rule evaluation on
    the rest."""
    match = rule.match
    for el in _candidates(scope, rule):
        if match(el):
            yield el


def query_all(scope, rule: Rule) -> list[Element]:
    """Every match of query_iter, as a list."""
    match = rule.match
    return [el for el in _candidates(scope, rule) if match(el)]


def query(scope, rule: Rule) -> Element | None:
    """The first match of query_iter, or None
    (internal/selector/selector.go:31-38)."""
    return next(query_iter(scope, rule), None)


def _idc(el: Element):
    a = el.attrib
    id_ = a.get("id", "")
    class_ = a.get("class", "")
    return id_, class_, id_ + class_


# ---------------------------------------------------------------------------
# Content rules (content.go:29-234)
# ---------------------------------------------------------------------------

_CONTENT_TAGS = ("article", "div", "main", "section")


@declare(_CONTENT_TAGS, needs_attrs=True)
def content_rule_1(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    lc, li = class_.lower(), id_.lower()
    return (
        class_ in ("post", "entry")
        or any(
            m in class_
            for m in (
                "post-text", "post_text", "post-body", "post-entry", "postentry",
                "post-content", "post_content", "post_inner_wrapper",
                "article-text", "entry-content", "article-content",
                "article__content", "article-body", "article__body",
                "ArticleContent", "page-content", "text-content", "body-text",
                "article__container", "art-content",
            )
        )
        or "postcontent" in lc
        or "articletext" in lc
        or any(m in id_ for m in (
            "entry-content", "article-content", "article__content",
            "article-body", "article__body", "body-text", "art-content",
        ))
        or n.get("itemprop") == "articleBody"
        or "articlebody" in li
        or "articlebody" in lc
        or id_ == "articleContent"
    )


# A rule whose declared tags are its whole test matches every candidate.
content_rule_2 = Rule("content_rule_2", lambda n: True, frozenset(("article",)))


@declare(_CONTENT_TAGS, needs_attrs=True)
def content_rule_3(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return (
        any(
            m in class_
            for m in (
                "post-bodycopy", "storycontent", "story-content", "theme-content",
                "blog-content", "section-content", "single-content", "single-post",
                "main-column", "wpb_text_column", "story-body", "field-body",
            )
        )
        or class_ in ("postarea", "art-postcontent", "text", "cell", "story")
        or id_.startswith("primary")
        or class_.startswith("article")
        or id_ in ("article", "story")
        or "story-body" in id_
        or "fulltext" in class_.lower()
        or n.get("role") == "article"
    )


@declare(_CONTENT_TAGS, needs_attrs=True)
def content_rule_4(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return (
        any(m in id_ for m in ("content-main", "content-body", "contentBody"))
        or any(m in class_ for m in ("content-main", "content_main", "content-body", "content__body"))
        or "main-content" in id_.lower()
        or "main-content" in class_.lower()
        or "page-content" in class_.lower()
        or id_ == "content"
        or class_ == "content"
    )


# a bare <main> matches on its tag alone
@declare(_CONTENT_TAGS)
def content_rule_5(n: Element) -> bool:
    if n.tag == "main":
        return True
    id_, class_, _ = _idc(n)
    return (
        class_.startswith("main")
        or id_.startswith("main")
        or n.get("role").startswith("main")
    )


CONTENT = [content_rule_1, content_rule_2, content_rule_3, content_rule_4, content_rule_5]


# ---------------------------------------------------------------------------
# Overall discarded content (content-discard-overall.go:29-227)
# ---------------------------------------------------------------------------

_DISCARD_TAGS = frozenset("div dd dt li ul ol dl p section span".split())

_DISCARD1_CLASS_CONTAINS = (
    "elated", "share-", "sociable", "embedded", "embed", "subnav", "tag-list",
    "bar", "meta", "menu", "avigation", "navbar", "navbox", "rating",
    "widget", "attachment", "timestamp", "user-info", "user-profile",
    "-ad-", "-icon", "article-infos", "nfoline", "outbrain", "taboola",
    "criteo", "options", "expand", "consent", "modal-content", " ad ",
    "permission", "next-", "-stories", "most-popular", "mol-factbox",
    "yin", "zlylin", "xg1", "slide", "viewport", "overlay",
    "paid-content", "paidcontent", "obfuscated", "blurred",
)
_DISCARD1_IDCLASS_CONTAINS = (
    "viral", "social", "syndication", "newsletter", "cookie", "tags",
    "sidebar", "banner", "breadcrumb", "bread-crumb", "author", "button",
    "message-container",
)


# The substring kill-lists compiled to literal-alternation regexes: one
# C-level scan replaces a Python `any(m in s)` loop over ~30 literals.
# Semantics identical (any literal substring match).
_RX_DISCARD1_CLASS = re.compile("|".join(map(re.escape, _DISCARD1_CLASS_CONTAINS)))
_RX_DISCARD1_IDCLASS = re.compile("|".join(map(re.escape, _DISCARD1_IDCLASS_CONTAINS)))


@declare(_DISCARD_TAGS, needs_attrs=True)
def overall_discarded_rule_1(n: Element) -> bool:
    id_, class_, idclass = _idc(n)
    lid, lclass = id_.lower(), class_.lower()
    if "footer" in lid or "footer" in lclass:
        return True
    if "related" in id_ or "share" in lid or "menu" in id_ or "bmdh" in id_ or "premium" in id_:
        return True
    if "nav" in lid or "nav" in n.get("role").lower():
        return True
    if idclass.startswith("shar") or id_.startswith(("jp-", "dpsp-content")):
        return True
    if class_.startswith(("nav", "post-nav", "ZendeskForm")):
        return True
    if "byline" in lclass:
        return True
    if _RX_DISCARD1_CLASS.search(class_):
        return True
    if _RX_DISCARD1_IDCLASS.search(idclass):
        return True
    if "MostPopularStories" in n.get("data-component"):
        return True
    if "data-lp-replacement-content" in n.attrib:
        return True
    return False


@declare(needs_attrs=True)
def overall_discarded_rule_2(n: Element) -> bool:
    id_, class_, idclass = _idc(n)
    style = n.get("style")
    return (
        "comments-title" in class_
        or "nocomments" in class_
        or idclass.startswith("reply-")
        or "-reply-" in class_
        or "message" in class_
        or "reader-comments" in id_
        or "akismet" in id_
        or "akismet" in class_
        or "suggest-links" in class_
        or class_.startswith("hide-")
        or "-hide-" in class_
        or "hide-print" in class_
        or "hidden" in id_ + style
        or " hidden" in class_
        or " hide" in class_
        or "noprint" in class_
        or "display:none" in style
        or "display: none" in style
        or n.get("aria-hidden") == "true"
        or "notloaded" in class_
    )


OVERALL_DISCARDED_CONTENT = [overall_discarded_rule_1, overall_discarded_rule_2]


precision_discarded_rule_1 = Rule("precision_discarded_rule_1", lambda n: True,
                                  frozenset(("header",)))


@declare(_DISCARD_TAGS, needs_attrs=True)
def precision_discarded_rule_2(n: Element) -> bool:
    id_, class_, idclass = _idc(n)
    return "bottom" in idclass or "link" in idclass or "border" in n.get("style")


PRECISION_DISCARDED_CONTENT = [precision_discarded_rule_1, precision_discarded_rule_2]


@declare(_DISCARD_TAGS, needs_attrs=True)
def discarded_teaser_rule(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return "teaser" in id_.lower() or "teaser" in class_.lower()


DISCARDED_TEASER = [discarded_teaser_rule]


@declare(_DISCARD_TAGS, needs_attrs=True)
def discarded_image_rule(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return "caption" in id_ or "caption" in class_


DISCARDED_IMAGE = [discarded_image_rule]


# ---------------------------------------------------------------------------
# Comments rules (comments.go, comments-discard.go, comments-removed.go)
# ---------------------------------------------------------------------------

_COMMENTS_TAGS = frozenset("div ol ul dl section".split())


@declare(_COMMENTS_TAGS, needs_attrs=True)
def comments_rule_1(n: Element) -> bool:
    id_, class_, idclass = _idc(n)
    return (
        "commentlist" in idclass
        or "comment-page" in class_
        or "comment-list" in idclass
        or "comments-content" in class_
        or "post-comments" in class_
    )


@declare(_COMMENTS_TAGS, needs_attrs=True)
def comments_rule_2(n: Element) -> bool:
    id_, class_, idclass = _idc(n)
    return (
        idclass.startswith("comments")
        or class_.startswith("Comments")
        or idclass.startswith("comment-")
        or "article-comments" in class_
    )


@declare(_COMMENTS_TAGS, needs_attrs=True)
def comments_rule_3(n: Element) -> bool:
    return n.get("id").startswith(("comol", "disqus_thread", "dsq_comments"))


@declare(("div", "section"), needs_attrs=True)
def comments_rule_4(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return id_.startswith("social") or "comment" in class_


COMMENTS = [comments_rule_1, comments_rule_2, comments_rule_3, comments_rule_4]


@declare(("div", "section"), needs_attrs=True)
def discarded_comments_rule_1(n: Element) -> bool:
    return n.get("id").startswith("respond")


# not cite: doc_cleaning strips every cite (settings.TAGS_TO_STRIP) before this prunes
discarded_comments_rule_2 = Rule("discarded_comments_rule_2", lambda n: True,
                                 frozenset(("quote",)))


@declare(needs_attrs=True)
def discarded_comments_rule_3(n: Element) -> bool:
    id_, class_, idclass = _idc(n)
    style = n.get("style")
    return (
        "comments-title" in class_
        or "nocomments" in class_
        or idclass.startswith("reply-")
        or "-reply-" in class_
        or "message" in class_
        or "signin" in class_
        or "akismet" in idclass
        or "display:none" in style
    )


DISCARDED_COMMENTS = [
    discarded_comments_rule_1,
    discarded_comments_rule_2,
    discarded_comments_rule_3,
]


@declare(_COMMENTS_TAGS, needs_attrs=True)
def removed_comments_rule(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return (
        id_.lower().startswith("comment")
        or class_.lower().startswith("comment")
        or "article-comments" in class_
        or "post-comments" in class_
        or id_.startswith(("comol", "disqus_thread", "dsq-comments"))
    )


REMOVED_COMMENTS = [removed_comments_rule]


# ---------------------------------------------------------------------------
# Metadata selectors (meta-title.go, meta-author.go, meta-author-discard.go)
# ---------------------------------------------------------------------------

@declare(("h1", "h2"), needs_attrs=True)
def meta_title_rule_1(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return (
        any(m in class_ for m in ("post-title", "entry-title", "headline", "post__title", "article-title"))
        or "headline" in id_
        or "headline" in n.get("itemprop")
    )


@declare(needs_attrs=True)
def meta_title_rule_2(n: Element) -> bool:
    return n.get("class") in ("entry-title", "post-title")


@declare(("h1", "h2", "h3"), needs_attrs=True)
def meta_title_rule_3(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return "title" in class_ or "title" in id_


META_TITLE = [meta_title_rule_1, meta_title_rule_2, meta_title_rule_3]


# a bare <author> matches on its tag alone
@declare(("author", "a", "address", "div", "link", "p", "span", "strong"))
def meta_author_rule_1(n: Element) -> bool:
    if n.tag == "author":
        return True
    id_, class_, _ = _idc(n)
    rel = n.get("rel")
    data_testid = n.get("data-testid")
    return (
        rel in ("author", "me")
        or id_ == "author"
        or class_ == "author"
        or n.get("itemprop") == "author name"
        or any(m in class_ for m in ("author-name", "AuthorName", "authorName", "author name"))
        or data_testid in ("AuthorCard", "AuthorURL")
    )


@declare(("a", "div", "h3", "h4", "p", "span"), needs_attrs=True)
def meta_author_rule_2(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return (
        "author" in class_
        or "author" in id_
        or "author" in n.get("itemprop")
        or class_ in ("byline", "username", "byl", "BBL")
        or "channel-name" in class_
        or any(m in id_ for m in ("zuozhe", "bianji", "xiaobian"))
        or any(m in class_ for m in ("zuozhe", "bianji", "xiaobian", "submitted-by", "posted-by", "journalist-name"))
    )


@declare(needs_attrs=True)
def meta_author_rule_3(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return (
        "author" in id_.lower()
        or "author" in class_.lower()
        or "screenname" in class_
        or "byline" in n.get("data-component").lower()
        or "author" in n.get("itemprop")
        or "writer" in class_
        or "byline" in class_.lower()
    )


META_AUTHOR = [meta_author_rule_1, meta_author_rule_2, meta_author_rule_3]


@declare(("a", "div", "section", "span"), needs_attrs=True)
def meta_author_discard_rule_1(n: Element) -> bool:
    id_, class_, _ = _idc(n)
    return (
        id_ == "comments"
        or class_ in ("comments", "title", "date")
        or "commentlist" in id_ + class_
        or any(
            m in class_
            for m in (
                "sidebar", "is-hidden", "quote", "comment-list", "embedly-instagram",
                "article-share", "article-support", "print", "category",
                "meta-date", "meta-reviewer",
            )
        )
        or "comment-list" in id_
        or "ProductReviews" in id_
        or id_.startswith("comments")
        or "Figure" in n.get("data-component")
        or class_.startswith(("comments", "Comments"))
    )


meta_author_discard_rule_2 = Rule("meta_author_discard_rule_2", lambda n: True,
                                  frozenset(("time", "figure")))


META_AUTHOR_DISCARD = [meta_author_discard_rule_1, meta_author_discard_rule_2]


# ---------------------------------------------------------------------------
# Container rules (meta-categories.go, meta-tags.go, metadata.go:643-660):
# a link rule is "a[href] with an ancestor that this container rule
# matches", evaluated by anchors_by_ancestor.
# ---------------------------------------------------------------------------

@declare(("div",), needs_attrs=True)
def meta_categories_rule_1(n: Element) -> bool:
    return n.get("class").startswith(
        ("post-info", "postinfo", "post-meta", "postmeta", "meta",
         "entry-meta", "entry-info", "entry-utility")
    ) or n.get("id").startswith("postpath")


@declare(("p",), needs_attrs=True)
def meta_categories_rule_2(n: Element) -> bool:
    class_ = n.get("class")
    return (class_.startswith(("postmeta", "entry-categories")) or class_ == "postinfo"
            or n.get("id") == "filedunder")


@declare(("footer",), needs_attrs=True)
def meta_categories_rule_3(n: Element) -> bool:
    return n.get("class").startswith(("entry-meta", "entry-footer"))


@declare(("li", "span"), needs_attrs=True)
def meta_categories_rule_4(n: Element) -> bool:
    class_ = n.get("class")
    return class_ in ("post-category", "postcategory", "entry-category") or "cat-links" in class_


@declare(("header",), needs_attrs=True)
def meta_categories_rule_5(n: Element) -> bool:
    return n.get("class") == "entry-header"


@declare(("div",), needs_attrs=True)
def meta_categories_rule_6(n: Element) -> bool:
    return n.get("class") in ("row", "tags")


META_CATEGORIES = [
    meta_categories_rule_1, meta_categories_rule_2, meta_categories_rule_3,
    meta_categories_rule_4, meta_categories_rule_5, meta_categories_rule_6,
]


@declare(("div",), needs_attrs=True)
def meta_tags_rule_1(n: Element) -> bool:
    return n.get("class") == "tags"


@declare(("p",), needs_attrs=True)
def meta_tags_rule_2(n: Element) -> bool:
    return n.get("class").startswith("entry-tags")


@declare(("div",), needs_attrs=True)
def meta_tags_rule_3(n: Element) -> bool:
    class_ = n.get("class")
    return class_ in ("row", "jp-relatedposts", "entry-utility") or class_.startswith(
        ("tag", "postmeta", "meta"))


@declare(needs_attrs=True)
def meta_tags_rule_4(n: Element) -> bool:
    class_ = n.get("class")
    return class_ == "entry-meta" or "topics" in class_ or "tags-links" in class_


META_TAGS = [meta_tags_rule_1, meta_tags_rule_2, meta_tags_rule_3, meta_tags_rule_4]


# License footers: any <footer>, bare or not, or a div with "footer" in
# its class or id
@declare(("footer", "div"))
def license_footer_rule(n: Element) -> bool:
    return n.tag == "footer" or "footer" in n.get("class") or "footer" in n.get("id")


@declare(("a",), needs_attrs=True)
def _a_href(n: Element) -> bool:
    return "href" in n.attrib


def anchors_by_ancestor(index: TreeIndex, container: Rule) -> list[Element]:
    """The ``a[href]`` descendants with an ancestor that ``container``
    matches, in document order. Containers are rare and anchors
    plentiful, so the containers are queried first and each anchor's
    parent chain is checked against them: zero anchor work on the common
    no-container page."""
    ids = {id(el) for el in query_all(index, container)}
    if not ids:
        return []
    out = []
    for a in query_all(index, _a_href):
        anc = a.parent
        while anc is not None:
            if id(anc) in ids:
                out.append(a)
                break
            anc = anc.parent
    return out
