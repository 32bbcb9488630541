"""Priority-ordered selector rule lists (first match wins).

Each rule is a predicate Element -> bool; query/query_all/query_iter
run a rule, or a CSS group parsed by ``css.parse_group``, over the
descendants of a tree or its ``etree.TreeIndex`` in document order.
Transcribed semantics from the reference's internal/selector/*.go
(content.go:29-234, content-discard-overall.go:29-227, comments.go,
teaser/image/precision discards, comments-discard.go,
comments-removed.go, meta-*.go).
"""

from __future__ import annotations

from .etree import (Element, TreeIndex, _collect_tags, attr_source,
                    attrs_may_contain, get_elements_by_tag, has_attrs)


def _candidates(scope, rule) -> list[Element]:
    """The descendants ``rule`` can match, in document order. ``scope``
    is an Element, which is walked, or an ``etree.TreeIndex`` of an
    unchanged tree, which is looked up. Rules declare the tags they can
    match (``rule.tags``), so only those surface — the predicate's own
    tag guard made ~95% of calls trivially false; this removes the
    calls. Rules that can only match an element carrying at least one
    attribute declare ``needs_attrs`` and skip bare elements too."""
    tags = getattr(rule, "tags", None)
    if isinstance(scope, TreeIndex):
        out = scope.candidates(tags)
    elif tags is None:
        out = get_elements_by_tag(scope)
    else:
        out = []
        _collect_tags(scope, tags, out)
    if getattr(rule, "needs_attrs", False):
        return [el for el in out if has_attrs(el)]
    return out


import re as _re_screen

_RX_SCREEN_ID = _re_screen.compile(r"id\s*=")
_RX_SCREEN_CS = _re_screen.compile(r"class\s*=|style\s*=")


def _screened(elements: list, rule) -> list:
    """Raw-attribute prescreen: a rule whose every attribute condition
    requires some literal substring in an attribute VALUE declares
    ``raw_screen`` — a tuple of LOWERCASE literals, at least one of
    which must appear in the element's unparsed attribute substring for
    the rule to possibly match. Elements failing all of them skip the
    attribute parse AND the rule body. Checks are plain ``in`` over the
    lowercased raw (C memmem) — NOT a regex alternation, whose
    backtracking costs more than the parse it avoids.

    Exactness: ``etree.attr_source`` (the screen over-passes, never
    under). Further bypasses that force a full evaluation: the
    element's tag is in ``screen_exempt`` (tag-only disjunct), or — for
    rules with id+class / id+style CONCATENATION semantics
    (``screen_concat``) — both attrs present, where a match could span
    the value boundary."""
    screen = getattr(rule, "raw_screen", None)
    if screen is None:
        return elements
    exempt = getattr(rule, "screen_exempt", None)
    concat = getattr(rule, "screen_concat", False)
    rx = getattr(rule, "raw_screen_rx", None)
    out = []
    append = out.append
    for el in elements:
        lraw = attr_source(el)
        if lraw is None:
            append(el)
            continue
        for p in screen:
            if p in lraw:
                append(el)
                break
        else:
            if exempt is not None and el.tag in exempt:
                append(el)
            elif rx is not None and rx.search(lraw) is not None:
                append(el)
            elif concat and _RX_SCREEN_ID.search(lraw) \
                    and _RX_SCREEN_CS.search(lraw):
                append(el)
    return out


def query_iter(scope, rule):
    """The descendants of ``scope`` (an Element or a TreeIndex, see
    _candidates) that ``rule`` matches, lazily in document order, so
    callers that stop at the first usable hit skip rule evaluation on
    the rest."""
    for el in _screened(_candidates(scope, rule), rule):
        if rule(el):
            yield el


def query_all(scope, rule) -> list[Element]:
    """Every match of query_iter, as a list."""
    return [el for el in _screened(_candidates(scope, rule), rule) if rule(el)]


def query(scope, rule) -> Element | None:
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


def content_rule_1(n: Element) -> bool:
    if n.tag not in _CONTENT_TAGS:
        return False
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


def content_rule_2(n: Element) -> bool:
    return n.tag == "article"


def content_rule_3(n: Element) -> bool:
    if n.tag not in _CONTENT_TAGS:
        return False
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


def content_rule_4(n: Element) -> bool:
    if n.tag not in _CONTENT_TAGS:
        return False
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


def content_rule_5(n: Element) -> bool:
    if n.tag == "main":
        return True
    if n.tag not in ("article", "div", "section"):
        return False
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
import re as _re

_RX_DISCARD1_CLASS = _re.compile("|".join(map(_re.escape, _DISCARD1_CLASS_CONTAINS)))
_RX_DISCARD1_IDCLASS = _re.compile("|".join(map(_re.escape, _DISCARD1_IDCLASS_CONTAINS)))


def overall_discarded_rule_1(n: Element) -> bool:
    if n.tag not in _DISCARD_TAGS:
        return False
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


def precision_discarded_rule_1(n: Element) -> bool:
    return n.tag == "header"


def precision_discarded_rule_2(n: Element) -> bool:
    if n.tag not in _DISCARD_TAGS:
        return False
    id_, class_, idclass = _idc(n)
    return "bottom" in idclass or "link" in idclass or "border" in n.get("style")


PRECISION_DISCARDED_CONTENT = [precision_discarded_rule_1, precision_discarded_rule_2]


def discarded_teaser_rule(n: Element) -> bool:
    if n.tag not in _DISCARD_TAGS:
        return False
    id_, class_, _ = _idc(n)
    return "teaser" in id_.lower() or "teaser" in class_.lower()


DISCARDED_TEASER = [discarded_teaser_rule]


def discarded_image_rule(n: Element) -> bool:
    if n.tag not in _DISCARD_TAGS:
        return False
    id_, class_, _ = _idc(n)
    return "caption" in id_ or "caption" in class_


DISCARDED_IMAGE = [discarded_image_rule]


# ---------------------------------------------------------------------------
# Comments rules (comments.go, comments-discard.go, comments-removed.go)
# ---------------------------------------------------------------------------

_COMMENTS_TAGS = frozenset("div ol ul dl section".split())


def comments_rule_1(n: Element) -> bool:
    if n.tag not in _COMMENTS_TAGS:
        return False
    id_, class_, idclass = _idc(n)
    return (
        "commentlist" in idclass
        or "comment-page" in class_
        or "comment-list" in idclass
        or "comments-content" in class_
        or "post-comments" in class_
    )


def comments_rule_2(n: Element) -> bool:
    if n.tag not in _COMMENTS_TAGS:
        return False
    id_, class_, idclass = _idc(n)
    return (
        idclass.startswith("comments")
        or class_.startswith("Comments")
        or idclass.startswith("comment-")
        or "article-comments" in class_
    )


def comments_rule_3(n: Element) -> bool:
    if n.tag not in _COMMENTS_TAGS:
        return False
    id_ = n.get("id")
    return id_.startswith(("comol", "disqus_thread", "dsq_comments"))


def comments_rule_4(n: Element) -> bool:
    if n.tag not in ("div", "section"):
        return False
    id_, class_, _ = _idc(n)
    return id_.startswith("social") or "comment" in class_


COMMENTS = [comments_rule_1, comments_rule_2, comments_rule_3, comments_rule_4]


def discarded_comments_rule_1(n: Element) -> bool:
    return n.tag in ("div", "section") and n.get("id").startswith("respond")


def discarded_comments_rule_2(n: Element) -> bool:
    return n.tag in ("cite", "quote")


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


# ---------------------------------------------------------------------------
# Metadata selectors (meta-title.go, meta-author.go, meta-author-discard.go,
# meta-categories.go, meta-tags.go)
# ---------------------------------------------------------------------------

def _ancestors(n: Element, tag: str) -> list[Element]:
    out = []
    p = n.parent
    while p is not None:
        if p.tag == tag:
            out.append(p)
        p = p.parent
    return out


def meta_title_rule_1(n: Element) -> bool:
    if n.tag not in ("h1", "h2"):
        return False
    id_, class_, _ = _idc(n)
    return (
        any(m in class_ for m in ("post-title", "entry-title", "headline", "post__title", "article-title"))
        or "headline" in id_
        or "headline" in n.get("itemprop")
    )


def meta_title_rule_2(n: Element) -> bool:
    return n.get("class") in ("entry-title", "post-title")


def meta_title_rule_3(n: Element) -> bool:
    if n.tag not in ("h1", "h2", "h3"):
        return False
    id_, class_, _ = _idc(n)
    return "title" in class_ or "title" in id_


META_TITLE = [meta_title_rule_1, meta_title_rule_2, meta_title_rule_3]


def meta_author_rule_1(n: Element) -> bool:
    if n.tag == "author":
        return True
    if n.tag not in ("a", "address", "div", "link", "p", "span", "strong"):
        return False
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


def meta_author_rule_2(n: Element) -> bool:
    if n.tag not in ("a", "div", "h3", "h4", "p", "span"):
        return False
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


def meta_author_discard_rule_1(n: Element) -> bool:
    if n.tag not in ("a", "div", "section", "span"):
        return False
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


def meta_author_discard_rule_2(n: Element) -> bool:
    return n.tag in ("time", "figure")


META_AUTHOR_DISCARD = [meta_author_discard_rule_1, meta_author_discard_rule_2]


def _href_a(n: Element) -> bool:
    return n.tag == "a" and "href" in n.attrib


def meta_categories_rule_1(n: Element) -> bool:
    if not _href_a(n):
        return False
    for anc in _ancestors(n, "div"):
        id_ = anc.get("id")
        class_ = anc.get("class")
        if class_.startswith(
            ("post-info", "postinfo", "post-meta", "postmeta", "meta",
             "entry-meta", "entry-info", "entry-utility")
        ) or id_.startswith("postpath"):
            return True
    return False


def meta_categories_rule_2(n: Element) -> bool:
    if not _href_a(n):
        return False
    for anc in _ancestors(n, "p"):
        id_ = anc.get("id")
        class_ = anc.get("class")
        if class_.startswith(("postmeta", "entry-categories")) or class_ == "postinfo" or id_ == "filedunder":
            return True
    return False


def meta_categories_rule_3(n: Element) -> bool:
    if not _href_a(n):
        return False
    return any(
        anc.get("class").startswith(("entry-meta", "entry-footer"))
        for anc in _ancestors(n, "footer")
    )


def meta_categories_rule_4(n: Element) -> bool:
    if not _href_a(n):
        return False
    ancestors = _ancestors(n, "li") + _ancestors(n, "span")
    for anc in ancestors:
        class_ = anc.get("class")
        if class_ in ("post-category", "postcategory", "entry-category") or "cat-links" in class_:
            return True
    return False


def meta_categories_rule_5(n: Element) -> bool:
    if not _href_a(n):
        return False
    return any(anc.get("class") == "entry-header" for anc in _ancestors(n, "header"))


def meta_categories_rule_6(n: Element) -> bool:
    if not _href_a(n):
        return False
    return any(anc.get("class") in ("row", "tags") for anc in _ancestors(n, "div"))


META_CATEGORIES = [
    meta_categories_rule_1, meta_categories_rule_2, meta_categories_rule_3,
    meta_categories_rule_4, meta_categories_rule_5, meta_categories_rule_6,
]


def meta_tags_rule_1(n: Element) -> bool:
    if not _href_a(n):
        return False
    return any(anc.get("class") == "tags" for anc in _ancestors(n, "div"))


def meta_tags_rule_2(n: Element) -> bool:
    if not _href_a(n):
        return False
    return any(anc.get("class").startswith("entry-tags") for anc in _ancestors(n, "p"))


def meta_tags_rule_3(n: Element) -> bool:
    if not _href_a(n):
        return False
    for anc in _ancestors(n, "div"):
        class_ = anc.get("class")
        if class_ in ("row", "jp-relatedposts", "entry-utility") or class_.startswith(
            ("tag", "postmeta", "meta")
        ):
            return True
    return False


def meta_tags_rule_4(n: Element) -> bool:
    if not _href_a(n):
        return False
    p = n.parent
    while p is not None:
        class_ = p.get("class")
        if class_ == "entry-meta" or "topics" in class_ or "tags-links" in class_:
            return True
        p = p.parent
    return False


META_TAGS = [meta_tags_rule_1, meta_tags_rule_2, meta_tags_rule_3, meta_tags_rule_4]


def removed_comments_rule(n: Element) -> bool:
    if n.tag not in _COMMENTS_TAGS:
        return False
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
# Tag declarations: each rule's opening tag guard, hoisted so the
# traversal can pre-filter (see _candidates). A rule with
# no tag guard carries no declaration and scans every element.
# ---------------------------------------------------------------------------

_CONTENT_TAGSET = frozenset(_CONTENT_TAGS)
content_rule_1.tags = _CONTENT_TAGSET
content_rule_2.tags = frozenset(("article",))
content_rule_3.tags = _CONTENT_TAGSET
content_rule_4.tags = _CONTENT_TAGSET
content_rule_5.tags = frozenset(("main", "article", "div", "section"))

overall_discarded_rule_1.tags = _DISCARD_TAGS
precision_discarded_rule_1.tags = frozenset(("header",))
precision_discarded_rule_2.tags = _DISCARD_TAGS
discarded_teaser_rule.tags = _DISCARD_TAGS
discarded_image_rule.tags = _DISCARD_TAGS

comments_rule_1.tags = _COMMENTS_TAGS
comments_rule_2.tags = _COMMENTS_TAGS
comments_rule_3.tags = _COMMENTS_TAGS
comments_rule_4.tags = frozenset(("div", "section"))
discarded_comments_rule_1.tags = frozenset(("div", "section"))
discarded_comments_rule_2.tags = frozenset(("cite", "quote"))
removed_comments_rule.tags = _COMMENTS_TAGS

meta_title_rule_1.tags = frozenset(("h1", "h2"))
meta_title_rule_3.tags = frozenset(("h1", "h2", "h3"))
meta_author_rule_1.tags = frozenset(
    ("author", "a", "address", "div", "link", "p", "span", "strong")
)
meta_author_rule_2.tags = frozenset(("a", "div", "h3", "h4", "p", "span"))
meta_author_discard_rule_1.tags = frozenset(("a", "div", "section", "span"))
meta_author_discard_rule_2.tags = frozenset(("time", "figure"))
for _r in META_CATEGORIES + META_TAGS:
    _r.tags = frozenset(("a",))
del _r

# needs_attrs: the rule can only match an element carrying >=1 attribute
# (every condition reads id/class/style/rel/itemprop/...). Rules that
# match on tag alone (article, main, header, cite/quote, time/figure,
# the author tag in meta_author_rule_1) are deliberately absent.
for _r in (
    content_rule_1, content_rule_3, content_rule_4,
    overall_discarded_rule_1, overall_discarded_rule_2,
    precision_discarded_rule_2, discarded_teaser_rule, discarded_image_rule,
    comments_rule_1, comments_rule_2, comments_rule_3, comments_rule_4,
    discarded_comments_rule_1, discarded_comments_rule_3,
    removed_comments_rule,
    meta_title_rule_1, meta_title_rule_2, meta_title_rule_3,
    meta_author_rule_2, meta_author_rule_3, meta_author_discard_rule_1,
):
    _r.needs_attrs = True
for _r in META_CATEGORIES + META_TAGS:
    _r.needs_attrs = True
del _r


# raw_screen: see _screened. Each tuple is the set of lowercase
# literals, at least one of which an attribute VALUE must contain for
# the rule to match. Rules using id+class or id+style concatenation set
# screen_concat so both-attr elements bypass the screen (a match could
# span the value boundary); rules with a tag-only disjunct list those
# tags in screen_exempt. overall_discarded_rule_1 deliberately carries
# NO screen: its ~55-literal union costs more to check than the
# attribute parse it would avoid.

content_rule_1.raw_screen = (
    "post", "entry", "articl", "page-content", "text-content", "body-text",
    "art-content")
content_rule_3.raw_screen = (
    "post", "story", "theme-content", "blog-content", "section-content",
    "single-", "main-", "wpb", "field-body", "text", "cell", "primary",
    "articl")
content_rule_4.raw_screen = ("content",)
content_rule_5.raw_screen = ("main",)
content_rule_5.screen_exempt = frozenset(("main",))

overall_discarded_rule_2.raw_screen = (
    "comments-title", "nocomment", "reply-", "message", "reader-comments",
    "akismet", "suggest-links", "hid", "display", "noprint", "notloaded")
overall_discarded_rule_2.screen_concat = True
discarded_teaser_rule.raw_screen = ("teaser",)
discarded_image_rule.raw_screen = ("caption",)

# "comm"/"ment" cover every id+class boundary split of commentlist /
# comments* / comment-* (prefix ⊇ "comm" for splits ≥4, suffix ⊇ "ment"
# for splits ≤3) — no both-attrs bypass needed.
comments_rule_1.raw_screen = ("comm", "ment")
comments_rule_2.raw_screen = ("comm", "ment")
comments_rule_3.raw_screen = ("comol", "disqus_thread", "dsq_comments")
comments_rule_4.raw_screen = ("social", "comment")
discarded_comments_rule_1.raw_screen = ("respond",)
discarded_comments_rule_3.raw_screen = (
    "comments-title", "nocomment", "reply-", "message", "signin",
    "akismet", "display")
discarded_comments_rule_3.screen_concat = True
removed_comments_rule.raw_screen = (
    "comment", "comol", "disqus_thread", "dsq-comments")

meta_title_rule_1.raw_screen = (
    "post-title", "entry-title", "headline", "post__title", "article-title")
meta_title_rule_2.raw_screen = ("entry-title", "post-title")
meta_title_rule_3.raw_screen = ("title",)

# rel in ("author","me"): rel=author carries the "author" literal;
# rel=me alone needs the regex tier (a bare "me"/"rel" literal would
# re-admit every rel-carrying link and most attribute soup).
meta_author_rule_1.raw_screen = ("author",)
meta_author_rule_1.raw_screen_rx = _re.compile(r"rel\s*=\s*[\"']?me\b")
meta_author_rule_1.screen_exempt = frozenset(("author",))
meta_author_rule_2.raw_screen = (
    "author", "byl", "username", "bbl", "channel-name", "zuozhe", "bianji",
    "xiaobian", "submitted-by", "posted-by", "journalist-name")
meta_author_rule_3.raw_screen = ("author", "screenname", "byl", "writer")
# "commen"/"ntlist" cover every id+class split of "commentlist"
# (suffix ⊇ "ntlist" for splits ≤5, prefix ⊇ "commen" for ≥6).
meta_author_discard_rule_1.raw_screen = (
    "commen", "ntlist", "title", "date", "sidebar", "is-hidden", "quote",
    "embedly", "article-sh", "article-su", "print", "category", "meta-date",
    "meta-reviewer", "productreviews", "figure")


# ---------------------------------------------------------------------------
# Inverted evaluation for the "a[href] under container X" meta rules:
# each rule's ancestor test, restated as (container_tags, container_pred).
# Containers are rare, anchors are plentiful — finding containers first
# and walking each anchor's parent chain against that id-set yields the
# identical match set in identical document order at a fraction of the
# work (and zero work on the common no-container page).
# ---------------------------------------------------------------------------

meta_categories_rule_1.containers = (("div",), lambda el: (
    el.get("class").startswith(
        ("post-info", "postinfo", "post-meta", "postmeta", "meta",
         "entry-meta", "entry-info", "entry-utility")
    ) or el.get("id").startswith("postpath")
))
meta_categories_rule_2.containers = (("p",), lambda el: (
    el.get("class").startswith(("postmeta", "entry-categories"))
    or el.get("class") == "postinfo" or el.get("id") == "filedunder"
))
meta_categories_rule_3.containers = (("footer",), lambda el:
    el.get("class").startswith(("entry-meta", "entry-footer")))
meta_categories_rule_4.containers = (("li", "span"), lambda el: (
    el.get("class") in ("post-category", "postcategory", "entry-category")
    or "cat-links" in el.get("class")
))
meta_categories_rule_5.containers = (("header",), lambda el:
    el.get("class") == "entry-header")
meta_categories_rule_6.containers = (("div",), lambda el:
    el.get("class") in ("row", "tags"))
meta_tags_rule_1.containers = (("div",), lambda el: el.get("class") == "tags")
meta_tags_rule_2.containers = (("p",), lambda el:
    el.get("class").startswith("entry-tags"))
meta_tags_rule_3.containers = (("div",), lambda el: (
    el.get("class") in ("row", "jp-relatedposts", "entry-utility")
    or el.get("class").startswith(("tag", "postmeta", "meta"))
))
meta_tags_rule_4.containers = (None, lambda el: (
    el.get("class") == "entry-meta" or "topics" in el.get("class")
    or "tags-links" in el.get("class")
))

# containers_screen: raw-attr prescreen tuples for the container
# predicates (same exactness argument as raw_screen; container preds
# read single attributes only, so no concatenation bypass is needed).
meta_categories_rule_1.containers_screen = ("post", "meta", "entry")
meta_categories_rule_2.containers_screen = (
    "post", "entry-categories", "filedunder")
meta_categories_rule_3.containers_screen = ("entry-",)
meta_categories_rule_4.containers_screen = ("categor", "cat-links")
meta_categories_rule_5.containers_screen = ("entry-header",)
meta_categories_rule_6.containers_screen = ("row", "tags")
meta_tags_rule_1.containers_screen = ("tags",)
meta_tags_rule_2.containers_screen = ("entry-tags",)
meta_tags_rule_3.containers_screen = (
    "row", "jp-relatedposts", "entry-utility", "tag", "meta")
meta_tags_rule_4.containers_screen = ("entry-meta", "topics", "tags-links")


def anchors_by_ancestor(index: TreeIndex, rule) -> list[Element]:
    """Evaluate an a[href]-under-container rule (every META_CATEGORIES
    and META_TAGS rule) through its inverted ``containers`` spec."""
    tags, pred = rule.containers
    ids = set()
    pool = index.candidates() if tags is None else [
        el for t in tags for el in index.of_tag(t)
    ]
    cscreen = getattr(rule, "containers_screen", None)
    for el in pool:
        if not has_attrs(el) or (
                cscreen is not None and not attrs_may_contain(el, cscreen)):
            continue
        if pred(el):
            ids.add(id(el))
    if not ids:
        return []
    out = []
    for a in index.of_tag("a"):
        if "href" not in a.attrib:
            continue
        anc = a.parent
        while anc is not None:
            if id(anc) in ids:
                out.append(a)
                break
            anc = anc.parent
    return out
