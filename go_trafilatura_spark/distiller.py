"""DOM-Distiller-grade fallback extractor (the reference's second
fallback slot, /root/reference/external.go:141-158, which delegates to
github.com/markusmobius/go-domdistiller — itself a port of Chromium's
dom-distiller, whose article pipeline descends from boilerpipe's
ArticleExtractor).

This module re-implements that public lineage natively:

1.  A DOM → text-block conversion (dom-distiller's DomConverter /
    WebDocumentBuilder): the page is flattened into TextBlocks at
    block-level element boundaries; inline elements keep text flowing
    in the same block, anchor text is tallied for link density, and
    every block remembers the cloned DOM nodes it was built from so
    the kept blocks can be re-emitted as a tree.
2.  The ArticleExtractor filter cascade (boilerpipe lineage with
    dom-distiller's additions), in pipeline order:
    TerminatingBlocksFinder → DocumentTitleMatchClassifier →
    NumWordsRulesClassifier → IgnoreBlocksAfterContentFilter(60) →
    TrailingHeadlineToBoilerplateFilter → LabelToBoilerplateFilter →
    SimilarSiblingContentExpansion ×2 → HeadingFusion →
    BlockProximityFusion(1) → BoilerplateBlockFilter(keep TITLE) →
    BlockProximityFusion(1, content-only, same-tag-level) →
    KeepLargestBlockFilter(expand-to-same-tag-level) →
    ExpandTitleToContentFilter →
    LargeBlockSameTagLevelToContentFilter → ListAtEndFilter.

Documented reductions vs the Chromium original: word counting is
whitespace-based (no CJK-specific word counter), visibility is decided
from markup (hidden/aria-hidden/style attrs) rather than computed CSS,
and boilerpipe's text-density (wrapped-line) feature — which
dom-distiller also dropped — is absent; getNumFullTextWords == numWords.
"""

from __future__ import annotations

import re

from . import etree
from .etree import COMMENT, Element
from .utils import trim

# --------------------------------------------------------------------------
# Labels (boilerpipe DefaultLabels)
# --------------------------------------------------------------------------

TITLE = "de.l3s.boilerpipe/TITLE"
MIGHT_BE_CONTENT = "de.l3s.boilerpipe/MIGHT_BE_CONTENT"
VERY_LIKELY_CONTENT = "de.l3s.boilerpipe/VERY_LIKELY_CONTENT"
STRICTLY_NOT_CONTENT = "de.l3s.boilerpipe/STRICTLY_NOT_CONTENT"
INDICATES_END_OF_TEXT = "de.l3s.boilerpipe/INDICATES_END_OF_TEXT"
HEADING = "de.l3s.boilerpipe/HEADING"
LI = "de.l3s.boilerpipe/LI"

# --------------------------------------------------------------------------
# DOM conversion (DomConverter / WebDocumentBuilder)
# --------------------------------------------------------------------------

# Elements whose subtree never contributes text (dom-distiller's
# non-visible / embedded set).
_SKIP_TAGS = frozenset(
    "applet area base basefont button datalist embed frame frameset head "
    "iframe input link map meta noframes noscript object optgroup option "
    "param script select source style svg math template textarea track "
    "video audio canvas".split()
)

# Phrasing-content elements: text keeps flowing through them inside one
# block (everything else is a block boundary).
_INLINE_TAGS = frozenset(
    "a abbr acronym b bdi bdo big br cite code data del dfn em font i img "
    "ins kbd mark q rp rt ruby s samp small span strike strong sub sup "
    "time tt u var wbr".split()
)

_HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
_LIST_ITEM_TAGS = frozenset(("li", "dd", "dt"))
# Containers whose blocks are strictly boilerplate for the article body.
_BOILER_ANCESTORS = frozenset(("nav", "aside", "footer", "form"))
# Output tags preserved on emission; anything else becomes p (or li
# inside a list item).
_KEEP_OUT_TAGS = frozenset(
    ("p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre")
)

_RX_HIDDEN_STYLE = re.compile(
    r"display\s*:\s*none|visibility\s*:\s*(?:hidden|collapse)", re.I)


def _is_hidden(el: Element) -> bool:
    a = el.attrib
    if not a:
        return False
    if "hidden" in a or a.get("aria-hidden") == "true":
        return True
    style = a.get("style")
    return bool(style) and _RX_HIDDEN_STYLE.search(style) is not None


def _count_words(s: str) -> int:
    return len(s.split())


def _contains_block(el: Element) -> bool:
    for c in el.children:
        if c.tag is not COMMENT and c.tag not in _INLINE_TAGS:
            return True
        if c.children and _contains_block(c):
            return True
    return False


def _anchor_words(el: Element) -> int:
    n = 0
    for a in etree.get_elements_by_tag(el, "a"):
        n += _count_words(etree.text_content(a))
    return n


class TextBlock:
    """boilerpipe TextBlock: text stats + labels + the cloned output
    nodes the block was materialized from."""

    __slots__ = ("text", "num_words", "num_anchor_words", "tag_level",
                 "offset_start", "offset_end", "labels", "is_content",
                 "out_elements", "parent_key", "container_tag")

    def __init__(self, text, num_words, num_anchor_words, tag_level,
                 offset, out_elements, parent_key, container_tag):
        self.text = text
        self.num_words = num_words
        self.num_anchor_words = num_anchor_words
        self.tag_level = tag_level
        self.offset_start = offset
        self.offset_end = offset
        self.labels: set[str] = set()
        self.is_content = False
        self.out_elements = out_elements
        self.parent_key = parent_key
        self.container_tag = container_tag

    @property
    def link_density(self) -> float:
        if self.num_words == 0:
            return 0.0
        return self.num_anchor_words / self.num_words

    def has_label(self, label: str) -> bool:
        return label in self.labels

    def merge_next(self, other: "TextBlock") -> None:
        """boilerpipe TextBlock.mergeNext."""
        self.text = self.text + "\n" + other.text
        self.num_words += other.num_words
        self.num_anchor_words += other.num_anchor_words
        self.offset_end = other.offset_end
        self.is_content = self.is_content or other.is_content
        self.labels |= other.labels
        self.tag_level = min(self.tag_level, other.tag_level)
        self.out_elements = self.out_elements + other.out_elements


_EMPTY_BLOCK = TextBlock("", 0, 0, -1, -1, [], None, "")


class _Builder:
    """Walks the DOM, flushing a TextBlock at every block-level
    boundary (WebDocumentBuilder semantics)."""

    def __init__(self):
        self.blocks: list[TextBlock] = []
        self.parts: list = []          # str | Element, in flow order
        self.n_words = 0
        self.n_anchor = 0
        self.tag_level = 0
        self.link_depth = 0
        self.li_depth = 0
        self.heading_depth = 0
        self.boiler_depth = 0
        self.container_stack: list[Element] = []
        self.offset = 0

    # -- block assembly ---------------------------------------------------
    def _add_text(self, s: str) -> None:
        if not s:
            return
        self.parts.append(s)
        w = _count_words(s)
        self.n_words += w
        if self.link_depth:
            self.n_anchor += w

    def _add_inline(self, el: Element) -> None:
        self.parts.append(etree.clone(el, True))
        t = etree.text_content(el)
        w = _count_words(t)
        self.n_words += w
        if self.link_depth or el.tag == "a":
            self.n_anchor += w
        else:
            self.n_anchor += _anchor_words(el)

    def _flush(self) -> None:
        parts, self.parts = self.parts, []
        n_words, self.n_words = self.n_words, 0
        n_anchor, self.n_anchor = self.n_anchor, 0
        if not parts:
            return
        container = self.container_stack[-1] if self.container_stack else None
        ctag = container.tag if container is not None else "p"
        if ctag in _KEEP_OUT_TAGS:
            out_tag = ctag
        elif self.li_depth:
            out_tag = "li"
        else:
            out_tag = "p"
        el = Element(out_tag)
        for p in parts:
            etree.append_part(el, p)
        text = trim(etree.iter_text(el, " "))
        if not text:
            return
        block = TextBlock(
            text, n_words, n_anchor, self.tag_level, self.offset, [el],
            id(container.parent) if container is not None else None, ctag)
        self.offset += 1
        if self.li_depth:
            block.labels.add(LI)
        if self.heading_depth or ctag in _HEADING_TAGS:
            block.labels.add(HEADING)
        if self.boiler_depth:
            block.labels.add(STRICTLY_NOT_CONTENT)
        self.blocks.append(block)

    # -- traversal --------------------------------------------------------
    def walk(self, el: Element) -> None:
        tag = el.tag
        if tag is COMMENT or tag in _SKIP_TAGS or _is_hidden(el):
            return
        if tag == "br":
            self._add_text("\n")
            return
        if tag in _INLINE_TAGS and not _contains_block(el):
            self._add_inline(el)
            return
        # block boundary
        self._flush()
        self.tag_level += 1
        is_link = tag == "a"
        is_li = tag in _LIST_ITEM_TAGS
        is_heading = tag in _HEADING_TAGS
        is_boiler = tag in _BOILER_ANCESTORS
        if is_link:
            self.link_depth += 1
        if is_li:
            self.li_depth += 1
        if is_heading:
            self.heading_depth += 1
        if is_boiler:
            self.boiler_depth += 1
        self.container_stack.append(el)
        if el.text:
            self._add_text(el.text)
        for c in el.children:
            self.walk(c)
            if c.tail:
                self._add_text(c.tail)
        self._flush()
        self.container_stack.pop()
        if is_link:
            self.link_depth -= 1
        if is_li:
            self.li_depth -= 1
        if is_heading:
            self.heading_depth -= 1
        if is_boiler:
            self.boiler_depth -= 1
        self.tag_level -= 1


# --------------------------------------------------------------------------
# Filters (boilerpipe / dom-distiller cascade)
# --------------------------------------------------------------------------

_TERMINATING_STARTS = ("comments", "© reuters", "please rate this",
                       "post a comment")
_TERMINATING_CONTAINS = ("what you think...", "add your comment",
                         "add comment", "reader views", "have your say",
                         "reader comments", "rätta artikeln")
_TERMINATING_EQUALS = (
    "thanks for your comments - this feedback is now closed",)
_RX_NUMBER_PREFIX = re.compile(r"^\d+\s+(comments|users responded in)")


def terminating_blocks_finder(blocks: list[TextBlock]) -> bool:
    """dom-distiller TerminatingBlocksFinder: short comment-section /
    footer markers get INDICATES_END_OF_TEXT."""
    changed = False
    for tb in blocks:
        if tb.num_words >= 15:
            continue
        text = tb.text.strip()
        if len(text) >= 8:
            low = text.lower()
            if (low.startswith(_TERMINATING_STARTS)
                    or any(s in low for s in _TERMINATING_CONTAINS)
                    or low in _TERMINATING_EQUALS
                    or _RX_NUMBER_PREFIX.match(low)):
                tb.labels.add(INDICATES_END_OF_TEXT)
                changed = True
        elif tb.link_density == 1.0 and text == "Comment":
            tb.labels.add(INDICATES_END_OF_TEXT)
            changed = True
    return changed


def _longest_part(title: str, pattern: str) -> str | None:
    parts = re.split(pattern, title)
    if len(parts) == 1:
        return None
    longest = ""
    for p in parts:
        if ".com" in p:
            continue
        if len(p) > len(longest):
            longest = p
    return longest.strip() or None


def potential_titles(title: str) -> set[str]:
    """boilerpipe DocumentTitleMatchClassifier candidate generation."""
    out = {title.strip()}
    for pattern in (
        r"\s*[\|»:]\s*",
        r"\s*[\|»:()]\s*",
        r"\s*[\|»:()\-]\s*",
        r"\s*[\|»,:()\-]\s*",
        r"\s*[\|»,:()\- ]\s*",
    ):
        p = _longest_part(title, pattern)
        if p:
            out.add(p)
    for pattern in (r"\s+[\|]\s+", r"\s+[\-]\s+"):
        for part in re.split(pattern, title):
            part = part.strip()
            if _count_words(part) >= 4:
                out.add(part)
    out.add(re.sub(r" - [^\-]+$", "", title).strip())
    out.add(re.sub(r"^[^\-]+ - ", "", title).strip())
    out.discard("")
    return out


def document_title_match(blocks: list[TextBlock], titles) -> bool:
    candidates = set()
    for t in titles:
        if t:
            candidates |= {c.casefold() for c in potential_titles(t)}
    if not candidates:
        return False
    changed = False
    for tb in blocks:
        if tb.text.strip().casefold() in candidates:
            tb.labels.add(TITLE)
            changed = True
    return changed


def num_words_rules_classifier(blocks: list[TextBlock]) -> bool:
    """boilerpipe NumWordsRulesClassifier (decision-tree constants are
    the published classifier)."""
    changed = False
    n = len(blocks)
    for i, curr in enumerate(blocks):
        prev = blocks[i - 1] if i > 0 else _EMPTY_BLOCK
        nxt = blocks[i + 1] if i + 1 < n else _EMPTY_BLOCK
        if curr.link_density > 0.333333:
            is_content = False
        elif prev.link_density <= 0.555556:
            is_content = (curr.num_words > 16 or nxt.num_words > 15
                          or prev.num_words > 4)
        else:
            is_content = curr.num_words > 40 or nxt.num_words > 17
        if is_content != curr.is_content:
            curr.is_content = is_content
            changed = True
    return changed


def ignore_blocks_after_content(blocks: list[TextBlock],
                                min_num_words: int = 60) -> bool:
    """boilerpipe IgnoreBlocksAfterContentFilter(60); dom-distiller
    drops the text-density feature so full-text words == numWords."""
    changed = False
    num_words = 0
    found_end = False
    for tb in blocks:
        if tb.has_label(INDICATES_END_OF_TEXT) and num_words >= min_num_words:
            found_end = True
        if tb.is_content:
            num_words += tb.num_words
        if found_end and tb.is_content:
            tb.is_content = False
            changed = True
    return changed


def trailing_headline_to_boilerplate(blocks: list[TextBlock]) -> bool:
    """boilerpipe TrailingHeadlineToBoilerplateFilter: headings at the
    tail of the document are not content."""
    changed = False
    for tb in reversed(blocks):
        if not tb.is_content:
            continue
        if tb.has_label(HEADING):
            tb.is_content = False
            changed = True
        else:
            break
    return changed


def label_to_boilerplate(blocks: list[TextBlock],
                         label: str = STRICTLY_NOT_CONTENT) -> bool:
    changed = False
    for tb in blocks:
        if tb.is_content and tb.has_label(label):
            tb.is_content = False
            changed = True
    return changed


def similar_sibling_content_expansion(
        blocks: list[TextBlock], *, allow_cross_titles: bool = False,
        allow_cross_headings: bool = False, allow_mixed_tags: bool = False,
        max_link_density: float = 0.0, max_block_distance: int = 0) -> bool:
    """dom-distiller SimilarSiblingContentExpansion: promote a
    non-content block when a nearby content DOM-sibling with the same
    container tag exists, without crossing titles/headings unless
    allowed."""

    def can_cross(tb: TextBlock) -> bool:
        if tb.has_label(TITLE):
            return allow_cross_titles
        if tb.has_label(HEADING):
            return allow_cross_headings
        return True

    def similar(target: TextBlock, sibling: TextBlock) -> bool:
        if not sibling.is_content:
            return False
        if sibling.parent_key != target.parent_key:
            return False
        return allow_mixed_tags or sibling.container_tag == target.container_tag

    changed = False
    n = len(blocks)
    for i, tb in enumerate(blocks):
        if tb.is_content or tb.link_density > max_link_density:
            continue
        if tb.has_label(TITLE) or tb.has_label(STRICTLY_NOT_CONTENT):
            continue
        promoted = False
        for j in range(i - 1, max(i - 1 - max_block_distance, -1), -1):
            if similar(tb, blocks[j]):
                promoted = True
                break
            if not can_cross(blocks[j]):
                break
        if not promoted:
            for j in range(i + 1, min(i + 1 + max_block_distance, n)):
                if similar(tb, blocks[j]):
                    promoted = True
                    break
                if not can_cross(blocks[j]):
                    break
        if promoted:
            tb.is_content = True
            changed = True
    return changed


def heading_fusion(blocks: list[TextBlock]) -> tuple[list[TextBlock], bool]:
    """dom-distiller HeadingFusion: a heading fuses into the following
    content block; a heading before boilerplate is boilerplate."""
    changed = False
    out: list[TextBlock] = []
    i = 0
    n = len(blocks)
    while i < n:
        tb = blocks[i]
        if (i + 1 < n and tb.has_label(HEADING) and not tb.has_label(TITLE)
                and not tb.has_label(STRICTLY_NOT_CONTENT)):
            nxt = blocks[i + 1]
            if nxt.is_content:
                tb.is_content = True
                tb.merge_next(nxt)
                out.append(tb)
                i += 2
                changed = True
                continue
            if tb.is_content:
                tb.is_content = False
                changed = True
        out.append(tb)
        i += 1
    return out, changed


def block_proximity_fusion(blocks: list[TextBlock], max_blocks_distance: int,
                           content_only: bool, same_tag_level_only: bool
                           ) -> tuple[list[TextBlock], bool]:
    """boilerpipe BlockProximityFusion."""
    if len(blocks) < 2:
        return blocks, False
    changed = False
    if content_only:
        start = next((i for i, tb in enumerate(blocks) if tb.is_content), None)
        if start is None:
            return blocks, False
    else:
        start = 0
    out = blocks[:start + 1]
    prev = blocks[start]
    for tb in blocks[start + 1:]:
        if not tb.is_content:
            prev = tb
            out.append(tb)
            continue
        diff = tb.offset_start - prev.offset_end - 1
        ok = diff <= max_blocks_distance
        if ok and content_only and not (prev.is_content and tb.is_content):
            ok = False
        if ok and same_tag_level_only and prev.tag_level != tb.tag_level:
            ok = False
        if ok and (prev.has_label(STRICTLY_NOT_CONTENT)
                   != tb.has_label(STRICTLY_NOT_CONTENT)):
            ok = False  # dom-distiller: never fuse across the boilerplate edge
        if ok and (prev.has_label(TITLE) != tb.has_label(TITLE)):
            ok = False
        if ok:
            prev.merge_next(tb)
            changed = True
        else:
            prev = tb
            out.append(tb)
    return out, changed


def boilerplate_block_filter(blocks: list[TextBlock],
                             keep_label: str | None = TITLE
                             ) -> tuple[list[TextBlock], bool]:
    """boilerpipe BoilerplateBlockFilter (keep-title variant)."""
    kept = [tb for tb in blocks
            if tb.is_content or (keep_label and tb.has_label(keep_label))]
    return kept, len(kept) != len(blocks)


def keep_largest_block(blocks: list[TextBlock],
                       expand_to_same_level: bool = True) -> bool:
    """boilerpipe/dom-distiller KeepLargestBlockFilter with
    expand-to-same-tag-level."""
    if len(blocks) < 2:
        return False
    largest = None
    largest_idx = -1
    max_words = -1
    for i, tb in enumerate(blocks):
        if tb.is_content and tb.num_words > max_words:
            largest, largest_idx, max_words = tb, i, tb.num_words
    for tb in blocks:
        if tb is largest:
            tb.is_content = True
            tb.labels.add(VERY_LIKELY_CONTENT)
        else:
            tb.is_content = False
            tb.labels.add(MIGHT_BE_CONTENT)
    if expand_to_same_level and largest is not None:
        tl = largest.tag_level
        for i in range(largest_idx - 1, -1, -1):
            t = blocks[i].tag_level
            if t < tl:
                break
            if t == tl:
                blocks[i].is_content = True
        for i in range(largest_idx + 1, len(blocks)):
            t = blocks[i].tag_level
            if t < tl:
                break
            if t == tl:
                blocks[i].is_content = True
    return True


def expand_title_to_content(blocks: list[TextBlock]) -> bool:
    """boilerpipe ExpandTitleToContentFilter."""
    title = -1
    content_start = -1
    for i, tb in enumerate(blocks):
        if content_start == -1 and tb.has_label(TITLE):
            title = i
        if content_start == -1 and tb.is_content:
            content_start = i
    if content_start <= title or title == -1:
        return False
    changed = False
    for tb in blocks[title:content_start]:
        if tb.has_label(MIGHT_BE_CONTENT) and not tb.is_content:
            tb.is_content = True
            changed = True
    return changed


def large_block_same_tag_level_to_content(blocks: list[TextBlock],
                                          min_words: int = 100) -> bool:
    """boilerpipe LargeBlockSameTagLevelToContentFilter."""
    tag_level = -1
    for tb in blocks:
        if tb.is_content and tb.has_label(VERY_LIKELY_CONTENT):
            tag_level = tb.tag_level
            break
    if tag_level == -1:
        return False
    changed = False
    for tb in blocks:
        if (not tb.is_content and tb.num_words >= min_words
                and tb.tag_level == tag_level):
            tb.is_content = True
            changed = True
    return changed


def list_at_end_filter(blocks: list[TextBlock]) -> bool:
    """boilerpipe ListAtEndFilter."""
    changed = False
    tag_level = None
    for tb in blocks:
        if tb.is_content and tb.has_label(VERY_LIKELY_CONTENT):
            tag_level = tb.tag_level
        elif (tag_level is not None and tb.tag_level > tag_level
                and tb.has_label(MIGHT_BE_CONTENT) and tb.has_label(LI)
                and tb.link_density == 0):
            tb.is_content = True
            changed = True
        else:
            tag_level = None
    return changed


# --------------------------------------------------------------------------
# Entry point
# --------------------------------------------------------------------------

def _title_candidates(doc: Element) -> list[str]:
    out = []
    for t in etree.get_elements_by_tag(doc, "title"):
        out.append(trim(etree.text_content(t)))
    for m in etree.get_elements_by_tag(doc, "meta"):
        if m.get("property") == "og:title" and m.get("content"):
            out.append(trim(m.get("content")))
    for h in etree.get_elements_by_tag(doc, "h1"):
        out.append(trim(etree.text_content(h)))
    return out


def distill(doc: Element) -> Element | None:
    """Run the full article pipeline; returns a <div> of the kept
    blocks' cloned nodes (the go-domdistiller result.Node analogue), or
    None when nothing survives."""
    body = etree.body_of(doc) or doc
    builder = _Builder()
    builder.walk(body)
    blocks = builder.blocks
    if not blocks:
        return None

    terminating_blocks_finder(blocks)
    document_title_match(blocks, _title_candidates(doc))
    num_words_rules_classifier(blocks)
    ignore_blocks_after_content(blocks, 60)
    trailing_headline_to_boilerplate(blocks)
    label_to_boilerplate(blocks, STRICTLY_NOT_CONTENT)
    similar_sibling_content_expansion(
        blocks, allow_cross_headings=True,
        max_link_density=0.5, max_block_distance=10)
    similar_sibling_content_expansion(
        blocks, allow_cross_headings=True, allow_mixed_tags=True,
        max_link_density=0.0, max_block_distance=10)
    blocks, _ = heading_fusion(blocks)
    blocks, _ = block_proximity_fusion(blocks, 1, False, False)
    blocks, _ = boilerplate_block_filter(blocks, TITLE)
    blocks, _ = block_proximity_fusion(blocks, 1, True, True)
    keep_largest_block(blocks, expand_to_same_level=True)
    expand_title_to_content(blocks)
    large_block_same_tag_level_to_content(blocks, 100)
    list_at_end_filter(blocks)

    kept = [tb for tb in blocks if tb.is_content]
    if not kept:
        return None
    out = etree.new_element("div")
    for tb in kept:
        for el in tb.out_elements:
            etree.append_part(out, el)
    return out
