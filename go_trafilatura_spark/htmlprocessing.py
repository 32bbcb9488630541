"""Tree cleaning, pruning, link-density heuristics and node probing.

Transcribed semantics from /root/reference/html-processing.go — the
projection/predicate-pushdown analogue of the extraction pipeline (see
SURVEY.md §2.3/§2.6). All functions are pure tree ops inside the Spark
kernel; nothing here touches the DataFrame layer.
"""

from __future__ import annotations

from bisect import bisect_right

from . import css, etree, selectors
from .etree import Element
from .options import FAVOR_PRECISION, FAVOR_RECALL
from .settings import (
    ALLOWED_ATTRIBUTES,
    ELEMENT_WITH_SIZE_ATTR,
    EMPTY_TAGS_TO_REMOVE,
    SET_GRAPHIC_TAGS,
    SET_LB_TAGS,
    LIST_TAGS,
    QUOTE_TAGS,
    TAGS_TO_CLEAN,
    TAGS_TO_STRIP,
)
from .utils import duplicate_test, is_image_element, text_chars_test, text_filter, trim

_PRESENTATIONAL_ATTRS = frozenset(
    (
        "id", "class", "align", "background", "bgcolor", "border",
        "cellpadding", "cellspacing", "frame", "hspace", "rules", "style",
        "valign", "vspace",
    )
)

_HLJS_SELECTOR = css.parse_group('span[class*=" hljs"], span[class^="hljs"]')


def doc_cleaning(doc: Element, options) -> None:
    """html-processing.go:37-97 — discard noise subtrees, strip wrappers,
    keep paragraphs in recall mode."""
    cleaning_list = set(TAGS_TO_CLEAN)
    stripping_list = set(TAGS_TO_STRIP)

    if options.exclude_tables:
        cleaning_list.update(("table", "td", "th", "tr"))
    else:
        # A figure that holds a table is a table wrapper → make it a div
        for figure in selectors.query_all(doc, css.parse_group("figure")):
            if etree.get_elements_by_tag(figure, "table"):
                figure.tag = "div"

    if options.include_images:
        cleaning_list.discard("figure")
        cleaning_list.discard("picture")
        cleaning_list.discard("source")
        stripping_list.discard("img")

    # One traversal per phase instead of one per tag (the strip/remove
    # operations commute across tags; see etree.collect_by_tags).
    by_tag = etree.collect_by_tags(doc, stripping_list)
    for tag in stripping_list:
        for el in reversed(by_tag[tag]):
            etree.strip_element(el)

    def _remove_cleaning_list() -> None:
        groups = etree.collect_by_tags(doc, cleaning_list)
        for tag in cleaning_list:
            for el in reversed(groups[tag]):
                if el.parent is not None:
                    etree.remove(el, False)

    if options.focus == FAVOR_RECALL and etree.get_elements_by_tag(doc, "p"):
        backup = etree.clone(doc, True)
        _remove_cleaning_list()
        if not etree.get_elements_by_tag(doc, "p"):
            etree.replace_content(doc, backup)
    else:
        _remove_cleaning_list()

    remove_html_comment_nodes(doc)
    prune_html(doc, options)


def remove_html_comment_nodes(doc: Element) -> None:
    """html-processing.go:100-121. In the text/tail model the comment's
    tail must be merged back into the surrounding text flow (equivalent
    to the DOM where adjacent text nodes simply remain)."""
    for c in etree.iter_descendants(doc, etree.COMMENT):
        etree.remove(c, keep_tail=True)


def prune_html(doc: Element, options) -> None:
    """html-processing.go:124-138 — delete selected empty elements."""
    keep_tail = options.focus != FAVOR_PRECISION
    elements = etree.get_elements_by_tag(doc, "*")
    for el in reversed(elements):
        if el.tag in EMPTY_TAGS_TO_REMOVE and not etree.has_child_nodes(el):
            if el.parent is not None:
                etree.remove(el, keep_tail)


def prune_unwanted_nodes(tree: Element, rules) -> Element:
    """html-processing.go:141-188 — remove the nodes matching each rule
    from ``tree`` itself (keeping their tail text attached to the
    previous node) and return ``tree``. A caller that must keep its
    tree passes ``etree.clone(tree, True)``; the reference's optional
    revert on a >6/7 text loss lives in prune_unwanted_sections, its
    only user."""
    for rule in rules:
        for sub in reversed(selectors.query_all(tree, rule)):
            if sub.parent is None:
                continue
            tail = sub.tail
            if tail:
                # The previous sibling, else the parent: the reference
                # calls SetTail on the parent too, which writes after
                # the *parent* element. Mirror that.
                prev = etree.prev_element_sibling(sub)
                if prev is None:
                    prev = sub.parent
                prev_tail = prev.tail
                etree.set_tail(prev, prev_tail + " " + tail if prev_tail else tail)
            etree.remove(sub)
    return tree


def handle_text_node(
    node: Element, cache, fix_comments: bool, preserve_spaces: bool, options
) -> Element | None:
    """html-processing.go:191-242 — convert/format/probe a text element."""
    tag = node.tag
    if tag in SET_GRAPHIC_TAGS and is_image_element(node):
        return node

    text = node.text
    tail = node.tail
    children = etree.children_of(node)
    if tag == "done" or (not children and text == "" and tail == ""):
        return None

    # Line-break bypass
    if not fix_comments and tag in SET_LB_TAGS:
        if not preserve_spaces:
            etree.set_tail(node, trim(tail))
        return node

    if text == "" and not children:
        text, tail = tail, ""
        etree.set_text(node, text)
        etree.set_tail(node, tail)
        if fix_comments and tag in SET_LB_TAGS:
            node.tag = "p"

    if not preserve_spaces:
        text, tail = trim(text), trim(tail)
        etree.set_text(node, text)
        etree.set_tail(node, tail)

    if text == "" and text_filter(node):
        return None

    if options.deduplicate and cache is not None and duplicate_test(node, cache, options):
        return None

    return node


def link_density_test(element: Element, options) -> bool:
    """html-processing.go:246-308, returning only whether the link
    density is high (the reference's non-empty link list feeds nothing
    but the unreachable backtrack in deleteByLinkDensity)."""
    links = etree.get_elements_by_tag(element, "a")
    if not links:
        return False

    text = trim(etree.text_content(element))
    text_length = len(text)

    if len(links) == 1:
        threshold = 10 if options.focus == FAVOR_PRECISION else 100
        link_text = trim(etree.text_content(links[0]))
        lt_len = len(link_text)
        if lt_len > threshold and lt_len > text_length * 0.9:
            return True

    if element.tag == "p":
        limit = 60 if etree.next_element_sibling(element) is None else 30
    else:
        limit = 300 if etree.next_element_sibling(element) is None else 100

    if text_length < limit:
        link_length, n_short, non_empty = collect_link_info(links)
        n_non_empty = len(non_empty)
        if n_non_empty == 0:
            return True
        if link_length > text_length * 0.8 or (
            n_non_empty > 1 and n_short / n_non_empty > 0.8
        ):
            return True

    return False


def link_density_test_tables(table: Element, options) -> bool:
    """html-processing.go:312-340."""
    links = etree.get_elements_by_tag(table, "a")
    if not links:
        return False
    text = trim(etree.text_content(table))
    text_length = len(text)
    if text_length < 200:
        return False
    link_length, _, non_empty = collect_link_info(links)
    if not non_empty:
        return True
    if text_length < 1000:
        return link_length > text_length * 0.8
    return link_length > text_length * 0.5


def collect_link_info(links: list[Element]) -> tuple[int, int, list[Element]]:
    """html-processing.go:343-360."""
    link_length = 0
    n_short = 0
    non_empty: list[Element] = []
    for link in links:
        text = trim(etree.text_content(link))
        tl = len(text)
        if tl == 0:
            continue
        link_length += tl
        if tl < 10:
            n_short += 1
        non_empty.append(link)
    return link_length, n_short, non_empty


def process_node(element: Element, cache, options) -> Element | None:
    """html-processing.go:363-396 — light version of handle_text_node."""
    text = element.text
    tail = element.tail
    tag = element.tag
    children = etree.children_of(element)
    if tag == "done" or (not children and text == "" and tail == ""):
        return None

    text, tail = trim(text), trim(tail)
    etree.set_text(element, text)
    etree.set_tail(element, tail)

    if tag not in SET_LB_TAGS and text == "" and tail != "":
        text, tail = tail, ""
        etree.set_text(element, text)
        etree.set_tail(element, tail)

    if text != "" or tail != "":
        if text_filter(element):
            return None
        if cache is not None and options.deduplicate and duplicate_test(element, cache, options):
            return None

    return element


def post_cleaning(doc: Element | None) -> None:
    """html-processing.go:401-448 — strip empty elements bottom-up and
    drop presentational/unsafe attributes."""
    if doc is None:
        return

    children = etree.get_elements_by_tag(doc, "*")
    for child in reversed(children):
        if (
            not etree.children_of(child)
            and not text_chars_test(child.text)
            and not etree.is_void(child)
        ):
            etree.strip_element(child)

    for element in etree.iter_all(doc):
        allowed_size = element.tag in ELEMENT_WITH_SIZE_ATTR
        new_attrs = {}
        for key, val in element.attrib.items():
            if key in _PRESENTATIONAL_ATTRS:
                continue
            if key in ("width", "height") and not allowed_size:
                continue
            if key not in ALLOWED_ATTRIBUTES:
                continue
            new_attrs[key] = val
        element.attrib = new_attrs


def _link_density_test_indexed(elem: Element, options, index) -> bool:
    """link_density_test over a text_index — identical decisions (all
    quantities are the same exact integers), no per-element walks."""
    tl, enter, lastd, anchors, apos = index
    lo = bisect_right(apos, enter[id(elem)])
    hi = bisect_right(apos, lastd[id(elem)])
    if lo == hi:
        return False

    text_length = tl[id(elem)]

    if hi - lo == 1:
        threshold = 10 if options.focus == FAVOR_PRECISION else 100
        lt_len = tl[id(anchors[lo])]
        if lt_len > threshold and lt_len > text_length * 0.9:
            return True

    if elem.tag == "p":
        limit = 60 if etree.next_element_sibling(elem) is None else 30
    else:
        limit = 300 if etree.next_element_sibling(elem) is None else 100

    if text_length < limit:
        link_length = 0
        n_short = 0
        n_non_empty = 0
        for i in range(lo, hi):
            alen = tl[id(anchors[i])]
            if alen == 0:
                continue
            link_length += alen
            if alen < 10:
                n_short += 1
            n_non_empty += 1
        if n_non_empty == 0:
            return True
        if link_length > text_length * 0.8 or (
            n_non_empty > 1 and n_short / n_non_empty > 0.8
        ):
            return True

    return False


def delete_by_link_density(subtree: Element, options, *tags: str) -> None:
    """html-processing.go:452-479, without the reference's backtracking
    branch: it runs only for a non-empty link list with a low density,
    and the reference's density test returns a non-empty list only
    together with a high density, so the branch is unreachable. The
    tree is stable while candidates are collected (removals happen at
    the end), so one text_index pass serves every element's density
    test."""
    elems = etree.iter_all(subtree, *tags)
    # The one-pass index costs O(subtree); per-element walks cost
    # O(Σ element subtrees). Few candidates → walks win; many (nested
    # list/div farms, where the naive cost is quadratic) → index wins.
    if len(elems) > 25:
        index = etree.text_index(subtree)
        to_delete = [e for e in elems if _link_density_test_indexed(e, options, index)]
    else:
        to_delete = [e for e in elems if link_density_test(e, options)]
    for elem in reversed(to_delete):
        etree.remove(elem)


_PROTECTED_LINK_SELECTOR = css.parse_group("div a, ul a, ol a, dl a, p a")
_PROTECTED_LINK_SELECTOR_TABLES = css.parse_group(
    "div a, ul a, ol a, dl a, p a, table a"
)


def convert_tags(tree: Element, options) -> None:
    """html-processing.go:485-557 — strip/absolutize links; detect code."""
    if not options.include_links:
        sel = (
            _PROTECTED_LINK_SELECTOR
            if options.exclude_tables
            else _PROTECTED_LINK_SELECTOR_TABLES
        )
        important = selectors.query_all(tree, sel)
        for el in important:
            el.tag = "protected-a"
        etree.strip_tags(tree, "a")
        for el in important:
            el.tag = "a"
    else:
        from .utils import create_absolute_url

        for el in selectors.query_all(tree, css.parse_group("a")):
            href = trim(el.get("href"))
            target = trim(el.get("target"))
            el.attrib = {}
            if href:
                el.set("href", create_absolute_url(href, options.original_url))
            if target:
                el.set("target", create_absolute_url(target, options.original_url))

    for elem in etree.iter_all(tree, *QUOTE_TAGS):
        code_flag = False
        if elem.tag == "pre":
            kids = etree.children_of(elem)
            if len(kids) == 1 and kids[0].tag == "span":
                code_flag = True
        hljs_elems = selectors.query_all(elem, _HLJS_SELECTOR)
        if hljs_elems:
            code_flag = True
            for h in hljs_elems:
                h.attrib = {}
        if code_flag:
            elem.tag = "code"


def prune_unwanted_sections(subtree: Element, potential_tags: set, options) -> Element:
    """main-extractor.go:611-662 — composition of discard rules and
    link-density deletion passes."""
    from .settings import SET_HEAD_TAGS, HEAD_TAGS

    # Prune a clone: the caller's subtree is still attached to the
    # document, which later rules re-query. Keep an unpruned clone
    # instead when pruning removed more than 6/7 of the text.
    old_len = etree.text_len(subtree)
    pruned = prune_unwanted_nodes(etree.clone(subtree, True),
                                  selectors.OVERALL_DISCARDED_CONTENT)
    subtree = pruned if etree.text_len(pruned) > old_len // 7 else etree.clone(subtree, True)

    if not options.include_images:
        prune_unwanted_nodes(subtree, selectors.DISCARDED_IMAGE)

    if options.focus != FAVOR_RECALL:
        prune_unwanted_nodes(subtree, selectors.DISCARDED_TEASER)
        if options.focus == FAVOR_PRECISION:
            prune_unwanted_nodes(subtree, selectors.PRECISION_DISCARDED_CONTENT)

    for _ in range(2):
        delete_by_link_density(subtree, options, "div")
        delete_by_link_density(subtree, options, *LIST_TAGS)
        delete_by_link_density(subtree, options, "p")

    if "table" in potential_tags or options.focus == FAVOR_PRECISION:
        tables = etree.iter_all(subtree, "table")
        for table in reversed(tables):
            if link_density_test_tables(table, options):
                etree.remove(table)

    if options.focus == FAVOR_PRECISION:
        children = etree.children_of(subtree)
        for child in reversed(children):
            if child.tag in SET_HEAD_TAGS:
                etree.remove(child)
                continue
            break
        delete_by_link_density(subtree, options, *HEAD_TAGS)
        delete_by_link_density(subtree, options, *QUOTE_TAGS)

    return subtree
