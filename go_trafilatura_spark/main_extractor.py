"""Per-element handlers and the content/comments extraction drivers.

Transcribed semantics from /root/reference/main-extractor.go (handlers at
:16-564, drivers at :566-852). These run per document inside the Spark
kernel (SURVEY.md §2.5/§2.7).
"""

from __future__ import annotations

from . import css, etree, selectors
from .etree import Element
from .htmlprocessing import (
    handle_text_node,
    process_node,
    prune_unwanted_nodes,
    prune_unwanted_sections,
)
from .options import FAVOR_PRECISION, FAVOR_RECALL
from .settings import (
    LB_TAGS,
    LIST_TAGS,
    QUOTE_TAGS,
    SET_CELL_TAGS,
    SET_GRAPHIC_TAGS,
    SET_HEAD_TAGS,
    SET_HI_TAGS,
    SET_ITEM_TAGS,
    SET_LB_TAGS,
    SET_LIST_TAGS,
    SET_QUOTE_TAGS,
    SET_REF_TAGS,
    TAG_CATALOG,
)
from .utils import is_image_file, text_chars_test, trim


def handle_titles(element: Element, cache, options) -> Element | None:
    """main-extractor.go:16-58."""
    if element.tag == "summary":
        element.tag = "b"

    if not etree.children_of(element):
        title = process_node(element, cache, options)
    else:
        # Rebuild the heading from its child nodes (text nodes pass
        # through; element children go through handle_text_node).
        title = etree.clone(element, False)
        title.text = ""
        # DOM ChildNodes: [text?, child, tail, child, tail ...]
        if element.text:
            etree.append_text(title, element.text)
        for child in list(element.children):
            cloned = etree.clone(child, True)  # clone drops the tail
            processed = handle_text_node(cloned, cache, False, False, options)
            etree.append_child(title, processed if processed is not None else cloned)
            if child.tail:
                etree.append_text(title, child.tail)
            if child.tag != etree.COMMENT:
                child.tag = "done"

    if title is not None and text_chars_test(etree.iter_text(title, "")):
        return title
    return None


def handle_formatting(element: Element, cache, options) -> Element | None:
    """main-extractor.go:62-89 — wrap orphan formatting in <p>."""
    formatting = process_node(element, cache, options)
    if not etree.children_of(element) and formatting is None:
        return None

    parent = element.parent
    if parent is None:
        parent = etree.prev_element_sibling(element)

    parent_tag = parent.tag if parent is not None else ""
    if parent is None or (
        parent_tag not in SET_CELL_TAGS
        and parent_tag not in SET_HEAD_TAGS
        and parent_tag not in SET_HI_TAGS
        and parent_tag not in SET_ITEM_TAGS
        and parent_tag not in SET_QUOTE_TAGS
        and parent_tag != "p"
    ):
        processed = etree.new_element("p")
        etree.append(processed, formatting)
    else:
        processed = formatting

    return processed


def add_sub_element(new_child: Element, sub_element: Element, processed: Element) -> Element:
    """main-extractor.go:92-98."""
    sub_child = etree.sub_element(new_child, processed.tag)
    etree.set_text(sub_child, processed.text)
    etree.set_tail(sub_child, processed.tail)
    if sub_element.attrib:
        sub_child.attrib = dict(sub_element.attrib)
    return sub_child


def process_nested_element(child: Element, new_child: Element, cache, options) -> None:
    """main-extractor.go:101-117."""
    etree.set_text(new_child, child.text)
    for sub in etree.get_elements_by_tag(child):
        if sub.tag in SET_LIST_TAGS:
            processed = handle_lists(sub, cache, options)
            if processed is not None:
                etree.append_child(new_child, processed)
        else:
            processed = handle_text_node(sub, cache, False, False, options)
            if processed is not None:
                add_sub_element(new_child, sub, processed)
        sub.tag = "done"


def is_text_element(element: Element | None) -> bool:
    return element is not None and text_chars_test(etree.iter_text(element, ""))


def define_new_element(processed: Element | None, original: Element) -> None:
    """main-extractor.go:125-131."""
    if processed is not None:
        child = etree.sub_element(original, processed.tag)
        etree.set_text(child, processed.text)
        etree.set_tail(child, processed.tail)


def handle_lists(element: Element, cache, options) -> Element | None:
    """main-extractor.go:134-195."""
    processed_element = etree.new_element(element.tag)

    if element.text.strip():
        li = etree.sub_element(processed_element, "li")
        etree.set_text(li, element.text.strip())

    for child in etree.get_elements_by_tag(element, *SET_ITEM_TAGS):
        new_child = etree.new_element(child.tag)

        if not etree.children_of(child):
            processed_child = process_node(child, cache, options)
            if processed_child is not None:
                new_text = processed_child.text
                tail = processed_child.tail.strip()
                if tail:
                    new_text += " " + tail
                etree.set_text(new_child, new_text)
                etree.append(processed_element, new_child)
        else:
            process_nested_element(child, new_child, cache, options)
            if child.tail.strip():
                kids = [el for el in etree.children_of(new_child) if el.tag != "done"]
                if kids:
                    last = kids[-1]
                    if not last.tail.strip():
                        etree.set_tail(last, child.tail)
                    else:
                        etree.set_tail(last, last.tail + " " + child.tail)

        if new_child.text != "" or etree.children_of(new_child):
            etree.append(processed_element, new_child)

        child.tag = "done"

    element.tag = "done"

    if is_text_element(processed_element):
        return processed_element
    return None


def is_code_block_element(element: Element) -> bool:
    """main-extractor.go:198-217."""
    if element.get("lang") or element.tag == "code":
        return True
    parent = element.parent
    if parent is not None and "highlight" in parent.get("class"):
        return True
    code = selectors.query(element, css.parse_group("code"))
    if code is not None and len(etree.children_of(element)) == 1:
        return True
    return False


def handle_code_blocks(element: Element) -> Element:
    """main-extractor.go:220-232."""
    processed = etree.clone(element, True)
    for child in etree.iter_all(element):
        child.tag = "done"
    processed.tag = "code"
    for child in etree.iter_all(processed):
        child.attrib = {}
    return processed


def handle_quotes(element: Element, cache, options) -> Element | None:
    """main-extractor.go:235-254."""
    if is_code_block_element(element):
        return handle_code_blocks(element)

    processed_element = etree.new_element(element.tag)
    for child in etree.iter_all(element):
        processed_child = process_node(child, cache, options)
        define_new_element(processed_child, processed_element)
        child.tag = "done"

    if is_text_element(processed_element):
        etree.strip_tags(processed_element, *QUOTE_TAGS)
        return processed_element
    return None


def handle_other_elements(element: Element, potential_tags: set, cache, options) -> Element | None:
    """main-extractor.go:257-287."""
    tag = element.tag
    if tag == "div" and "w3-code" in element.get("class"):
        return handle_code_blocks(element)

    if tag not in potential_tags:
        return None

    if tag in ("div", "details"):
        processed = handle_text_node(element, cache, False, True, options)
        if processed is not None and text_chars_test(processed.text):
            processed.attrib = {}
            if processed.tag == "div":
                processed.tag = "p"
            return processed

    return None


def handle_paragraphs(element: Element, potential_tags: set, cache, options) -> Element | None:
    """main-extractor.go:290-395."""
    element.attrib = {}

    if not etree.children_of(element):
        return process_node(element, cache, options)

    unwanted: list[Element] = []
    processed_set: list[Element] = []
    for child in etree.get_elements_by_tag(element, "*"):
        child_tag = child.tag

        if child_tag not in potential_tags and child_tag != "done":
            unwanted.append(child)
            continue

        processed_child = handle_text_node(child, cache, False, True, options)
        if processed_child is None:
            child.tag = "done"
            continue
        child = processed_child

        if child_tag == "p":
            # nested <p>: merge into parent
            child_text = child.text
            parent_text = child.parent.text if child.parent is not None else ""
            if parent_text != "" and child_text != "":
                etree.set_text(child, " " + child.text)
            etree.strip_element(child)
        elif child_tag in SET_REF_TAGS:
            href = trim(child.get("href"))
            target = trim(child.get("target"))
            child.attrib = {}
            if href:
                child.set("href", href)
            if target:
                child.set("target", target)
        elif child_tag in SET_GRAPHIC_TAGS:
            image_elem = handle_image(child)
            if image_elem is not None and child.parent is not None:
                etree.replace_child(child.parent, image_elem, child)
                child = image_elem

        processed_set.append(child)

    for child in reversed(unwanted):
        etree.remove(child)

    # Strip empty elements bottom-up
    children = etree.get_elements_by_tag(element, "*")
    for child in reversed(children):
        if not text_chars_test(child.text) and not etree.is_void(child):
            etree.strip_element(child)

    # Clean trailing line breaks (a br/hr with no tail text carries nothing)
    line_breaks = selectors.query_all(element, css.parse_group("br,hr"))
    for br in reversed(line_breaks):
        if br.tail == "":
            etree.remove(br)

    processed_element = etree.clone(element, True)
    # NOTE: the reference calls SetTail on this detached clone
    # (main-extractor.go:379) which is a no-op — the paragraph tail is
    # intentionally not carried over. Keep that behavior for parity.
    etree.set_tail(processed_element, element.tail)

    for el in processed_set:
        el.tag = "done"

    if etree.children_of(processed_element) or processed_element.text != "":
        return processed_element
    return None


def handle_table(table_element: Element, potential_tags: set, cache, options) -> Element | None:
    """main-extractor.go:398-479."""
    new_table = etree.new_element("table")
    new_row = etree.new_element("tr")

    potential_with_div = set(potential_tags)
    potential_with_div.add("div")

    etree.strip_tags(table_element, "thead", "tbody", "tfoot")

    for sub_element in etree.get_elements_by_tag(table_element):
        sub_tag = sub_element.tag
        if sub_tag == "tr":
            if etree.children_of(new_row):
                etree.append(new_table, new_row)
                new_row = etree.new_element("tr")
        elif sub_tag in ("td", "th"):
            new_child = etree.new_element(sub_tag)

            if not etree.children_of(sub_element):
                processed_cell = process_node(sub_element, cache, options)
                if processed_cell is not None:
                    etree.set_text(new_child, processed_cell.text)
                    etree.set_tail(new_child, processed_cell.tail)
            else:
                etree.set_text(new_child, sub_element.text)
                etree.set_tail(new_child, sub_element.tail)
                sub_element.tag = "done"

                for child in etree.get_elements_by_tag(sub_element):
                    child_tag = child.tag
                    processed_sub = None
                    if child_tag in SET_CELL_TAGS or child_tag in SET_HI_TAGS:
                        processed_sub = handle_text_node(child, cache, True, False, options)
                    elif child_tag in SET_LIST_TAGS and options.focus == FAVOR_RECALL:
                        processed_sub = handle_lists(child, cache, options)
                        if processed_sub is not None:
                            etree.append(new_child, etree.clone(processed_sub, True))
                            processed_sub = None
                    else:
                        processed_sub = handle_text_elem(child, potential_with_div, cache, options)

                    define_new_element(processed_sub, new_child)
                    child.tag = "done"

            if new_child.text != "" or etree.children_of(new_child):
                etree.append_child(new_row, new_child)
        elif sub_tag == "table":
            break

        sub_element.tag = "done"

    if etree.children_of(new_row):
        etree.append(new_table, new_row)

    if etree.children_of(new_table):
        return new_table
    return None


def handle_image(element: Element | None) -> Element | None:
    """main-extractor.go:482-529."""
    if element is None:
        return None

    processed = etree.new_element(element.tag)

    src = element.get("src")
    data_src = element.get("data-src")
    if is_image_file(data_src):
        processed.set("src", data_src)
    elif is_image_file(src):
        processed.set("src", src)
    else:
        for key, val in element.attrib.items():
            if key.startswith("data-src") and is_image_file(val):
                processed.set("src", val)
                break

    alt = element.get("alt")
    if alt:
        processed.set("alt", alt)
    title = element.get("title")
    if title:
        processed.set("title", title)

    if not processed.attrib or not processed.get("src"):
        return None

    url = processed.get("src")
    if url.startswith("//"):
        processed.set("src", "http://" + url[2:])

    return processed


def handle_text_elem(element: Element, potential_tags: set, cache, options) -> Element | None:
    """main-extractor.go:532-564 — dispatcher."""
    tag = element.tag

    if tag in SET_LIST_TAGS:
        return handle_lists(element, cache, options)
    if tag in SET_QUOTE_TAGS or tag == "code":
        return handle_quotes(element, cache, options)
    if tag in SET_HEAD_TAGS:
        return handle_titles(element, cache, options)
    if tag == "p":
        return handle_paragraphs(element, potential_tags, cache, options)
    if tag in SET_LB_TAGS:
        if text_chars_test(element.tail):
            processed_lb = process_node(element, cache, options)
            if processed_lb is not None:
                new_element = etree.new_element("p")
                etree.set_text(new_element, processed_lb.tail)
                return new_element
        return None
    if tag in SET_HI_TAGS or tag in SET_REF_TAGS or tag == "span":
        return handle_formatting(element, cache, options)
    if tag == "table":
        if "table" in potential_tags:
            return handle_table(element, potential_tags, cache, options)
        return None
    if tag in SET_GRAPHIC_TAGS:
        if "img" in potential_tags:
            return handle_image(element)
        return None

    return handle_other_elements(element, potential_tags, cache, options)


_WILD_SELECTOR_BASE = "blockquote, pre, q, code, p, table, " + 'div[class*="w3-code"]'
_WILD_RULE_BASE = css.parse_group(_WILD_SELECTOR_BASE)
_WILD_RULE_RECALL = css.parse_group(
    _WILD_SELECTOR_BASE + ", div, " + ", ".join(LB_TAGS[:2]) + ", " + ", ".join(LIST_TAGS)
)


def recover_wild_text(doc: Element, result_body: Element, potential_tags: set, cache, options) -> None:
    """main-extractor.go:569-608."""
    if options.focus == FAVOR_RECALL:
        potential_tags = set(potential_tags)
        potential_tags.add("div")
        potential_tags.update(LB_TAGS)
        rule = _WILD_RULE_RECALL
    else:
        rule = _WILD_RULE_BASE

    search_doc = prune_unwanted_sections(doc, potential_tags, options)

    if "a" not in potential_tags:
        etree.strip_tags(search_doc, "a", "ref", "span")
    else:
        etree.strip_tags(search_doc, "span")

    processed_elems = []
    for element in selectors.query_all(search_doc, rule):
        processed = handle_text_elem(element, potential_tags, cache, options)
        if processed is not None:
            processed_elems.append(processed)

    etree.extend(result_body, processed_elems)


def extract_content(doc: Element, cache, options,
                    index: etree.TreeIndex) -> tuple[Element, str]:
    """main-extractor.go:666-788 — the main content driver. ``index`` is
    the caller's TreeIndex of ``doc``.

    The reference snapshots backupDoc upfront; here the rule loop is
    provably non-mutating on ``doc`` (prune_unwanted_sections clones the
    matched subtree before any mutation, and every handler operates on
    that clone), so recover_wild_text reads ``doc`` directly — clone
    elision only, no semantic change (pinned by the fixture byte-parity
    hashes)."""
    result_body = etree.new_element("body")

    potential_tags = set(TAG_CATALOG)
    if not options.exclude_tables:
        potential_tags.update(("table", "tr", "th", "td"))
    if options.include_images:
        potential_tags.add("img")
    if options.include_links:
        potential_tags.add("a")

    # One doc-order walk serves all five content rules (the matched
    # subtree is cloned before any mutation, so doc stays unchanged
    # across iterations).
    for rule in selectors.CONTENT:
        subtree = selectors.query(index, rule)
        if subtree is None:
            continue

        subtree = prune_unwanted_sections(subtree, potential_tags, options)
        if not etree.children_of(subtree):
            continue

        # Check if there are enough <p> with text (note: reference checks
        # the whole doc here, not the subtree — main-extractor.go:710)
        paragraph_text = "".join(
            etree.text_content(p) for p in etree.get_elements_by_tag(doc, "p")
        )
        factor = 1 if options.focus == FAVOR_PRECISION else 3
        if not paragraph_text or len(paragraph_text) < options.config.min_extracted_size * factor:
            potential_tags.add("div")

        if "a" not in potential_tags:
            etree.strip_tags(subtree, "a")
        if "span" not in potential_tags:
            etree.strip_tags(subtree, "span")

        sub_elements = etree.get_elements_by_tag(subtree, "*")

        # If all subelements are line breaks, process the subtree itself
        sub_tags = {el.tag for el in sub_elements}
        if sub_tags == {"br"}:
            sub_elements = [subtree]

        processed_elems = []
        for elem in sub_elements:
            processed = handle_text_elem(elem, potential_tags, cache, options)
            if processed is not None:
                processed_elems.append(processed)
        etree.extend(result_body, processed_elems)

        # Remove trailing titles
        final_children = etree.children_of(result_body)
        for child in reversed(final_children):
            if child.tag in SET_HEAD_TAGS or child.tag in SET_REF_TAGS:
                etree.remove(child)
                continue
            break

        if len(etree.children_of(result_body)) > 1:
            break

    tmp_text = trim(etree.iter_text(result_body, " "))

    if not etree.children_of(result_body) or len(tmp_text) < options.config.min_extracted_size:
        result_body = etree.new_element("body")
        recover_wild_text(doc, result_body, potential_tags, cache, options)
        tmp_text = trim(etree.iter_text(result_body, " "))

    etree.strip_elements(result_body, False, "done")
    etree.strip_tags(result_body, "div")

    return result_body, tmp_text


def process_comments_node(elem: Element, potential_tags: set, cache, options) -> Element | None:
    """main-extractor.go:791-805."""
    if elem.tag not in potential_tags:
        return None
    processed = handle_text_node(elem, cache, True, False, options)
    if processed is not None:
        processed.attrib = {}
        return processed
    return None


def extract_comments(cache, options, index: etree.TreeIndex) -> tuple[Element | None, str]:
    """main-extractor.go:808-852, over the document ``index`` indexes (the
    caller's TreeIndex, shared with extract_content). The document is
    never mutated: prune works on a clone."""
    comments_body = etree.new_element("body")
    potential_tags = set(TAG_CATALOG)

    # One doc-order walk serves all four comment rules
    for rule in selectors.COMMENTS:
        subtree = selectors.query(index, rule)
        if subtree is None:
            continue

        subtree = prune_unwanted_nodes(etree.clone(subtree, True),
                                       selectors.DISCARDED_COMMENTS)
        etree.strip_tags(subtree, "a", "span")

        processed_elems = []
        for elem in etree.get_elements_by_tag(subtree, "*"):
            processed = process_comments_node(elem, potential_tags, cache, options)
            if processed is not None:
                processed_elems.append(processed)
        etree.extend(comments_body, processed_elems)

        if etree.children_of(comments_body):
            # NOTE: the reference calls etree.Remove on the pruned *clone*
            # here (main-extractor.go:841), which is detached and thus a
            # no-op — the original comment section stays in the document.
            # We faithfully keep that behavior.
            break

    tmp_comments = etree.iter_text(comments_body, " ")
    if tmp_comments != "":
        return comments_body, tmp_comments
    return None, ""
