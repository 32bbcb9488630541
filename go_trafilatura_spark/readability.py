"""Faithful readability port for the fallback candidate slot.

The reference delegates its first fallback candidate to go-readability
(/root/reference/external.go:134-139, dep go.mod:13), which is a Go port
of Mozilla/arc90 readability.js (Apache-2.0 public lineage). This module
re-implements that algorithm's semantics on the in-kernel text/tail tree:

- grabArticle traversal: visibility check, unlikely-role pruning, byline
  removal, unlikely-candidate stripping (flag-gated), empty-container
  removal, phrasing-run wrapping, div→p conversions
- scoring: tags-to-score (section, h2-h6, p, td, pre), contentScore =
  1 + commas + min(floor(len/100), 3) propagated to 5 ancestor levels
  with divisors 1 / 2 / level*3; class and id weighted ±25 EACH
- candidate selection: top-5 by score×(1−linkDensity) (hash-href links
  count 0.3), alternative-ancestor promotion (≥3 of the ≥0.75-score
  runners-up share an ancestor), parent score climb, only-child climb
- sibling aggregation with the same-class content bonus
- prepArticle: conditional cleaning of form/fieldset/table/ul/div with
  data-table marking, share-element pruning, header cleaning, embed
  removal with the video allowlist, single-cell-table unwrap
- retry pipeline: STRIP_UNLIKELYS → WEIGHT_CLASSES → CLEAN_CONDITIONALLY
  flags dropped in order while the article stays under 500 chars,
  longest attempt kept

DOM-only behaviours with no effect on extracted text (style attribute
scrubbing, lazy-image src rewriting, noscript image unwrapping) are
deliberately omitted; the h1/h2-duplicates-title check is omitted
because the candidate pipeline does not carry the page title.
"""

from __future__ import annotations

import re

from . import etree
from .etree import Element
from .utils import trim

# --- regexes (readability.js REGEXPS, public) -------------------------------

RX_UNLIKELY = re.compile(
    r"(?i)-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|"
    r"disqus|extra|footer|gdpr|header|legends|menu|related|remark|replies|"
    r"rss|shoutbox|sidebar|skyscraper|social|sponsor|supplemental|ad-break|"
    r"agegate|pagination|pager|popup|yom-remote"
)
RX_MAYBE = re.compile(r"(?i)and|article|body|column|content|main|shadow")
RX_POSITIVE = re.compile(
    r"(?i)article|body|content|entry|hentry|h-entry|main|page|pagination|post|"
    r"text|blog|story"
)
RX_NEGATIVE = re.compile(
    r"(?i)-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact|"
    r"foot|footer|footnote|gdpr|masthead|media|meta|outbrain|promo|related|"
    r"scroll|share|shoutbox|sidebar|skyscraper|sponsor|shopping|tags|tool|widget"
)
RX_BYLINE = re.compile(r"(?i)byline|author|dateline|writtenby|p-author")
RX_SHARE = re.compile(r"(?i)(\b|_)(share|sharedaddy)(\b|_)")
RX_VIDEOS = re.compile(
    r"(?i)//(www\.)?((dailymotion|youtube|youtube-nocookie|player\.vimeo|"
    r"v\.qq)\.com|(archive|upload\.wikimedia)\.org|player\.twitch\.tv)"
)
RX_COMMAS = re.compile("[,،﹐︐︑、，､]")
RX_HASH_URL = re.compile(r"^#.+")
RX_SENTENCE_END = re.compile(r"\.( |$)")

TAGS_TO_SCORE = frozenset("section h2 h3 h4 h5 h6 p td pre".split())
UNLIKELY_ROLES = frozenset(
    "menu menubar complementary navigation alert alertdialog dialog".split()
)
DIV_TO_P_ELEMS = frozenset("blockquote dl div img ol p pre table ul".split())
ALTER_TO_DIV_EXCEPTIONS = frozenset("div article section p".split())
PHRASING_ELEMS = frozenset(
    "abbr audio b bdo br button cite code data datalist dfn em embed i img "
    "input kbd label mark math meter noscript object output progress q ruby "
    "samp script select small span strong sub sup textarea time var wbr".split()
)
PRESERVE_LINK_DENSITY_COEFF = 0.3
CHAR_THRESHOLD = 500
MINIMUM_TOPCANDIDATES = 3

TAG_WEIGHT = {
    "div": 5, "pre": 3, "td": 3, "blockquote": 3,
    "address": -3, "ol": -3, "ul": -3, "dl": -3, "dd": -3, "dt": -3,
    "li": -3, "form": -3,
    "h1": -5, "h2": -5, "h3": -5, "h4": -5, "h5": -5, "h6": -5, "th": -5,
}

_STOP_TAGS = ("body", "html", etree.DOCUMENT)


def inner_text(node: Element) -> str:
    return trim(etree.text_content(node))


def _match_string(el: Element) -> str:
    return el.get("class") + " " + el.get("id")


def _is_probably_visible(el: Element) -> bool:
    attrib = el.attrib
    if not attrib:
        return True
    style = attrib.get("style")
    if style:
        style = style.lower().replace(" ", "")
        if "display:none" in style or "visibility:hidden" in style:
            return False
    if "hidden" in attrib:
        return False
    if attrib.get("aria-hidden") == "true" and "fallback-image" not in attrib.get("class", ""):
        return False
    return True


def _text_len(el: Element) -> int:
    return len(inner_text(el))


def _density(text_len: int, anchors, alen) -> float:
    """Link density: the ``alen`` of ``anchors``, a hash link weighted by
    PRESERVE_LINK_DENSITY_COEFF, summed in document order, over
    ``text_len``. Walked or indexed lengths are the same integers, so
    the float is bit-identical either way."""
    if text_len == 0:
        return 0.0
    link_len = 0.0
    for a in anchors:
        coeff = PRESERVE_LINK_DENSITY_COEFF if RX_HASH_URL.match(a.get("href")) else 1.0
        link_len += alen(a) * coeff
    return link_len / text_len


def _link_density(el: Element) -> float:
    return _density(_text_len(el), etree.get_elements_by_tag(el, "a"), _text_len)


def _is_phrasing(el: Element) -> bool:
    """isPhrasingContent for element nodes (text handled by callers)."""
    if el.tag in PHRASING_ELEMS:
        return True
    if el.tag in ("a", "del", "ins"):
        # child text nodes are always phrasing: only the element
        # children decide
        return all(_is_phrasing(c) or c.tag == etree.COMMENT
                   for c in el.children)
    return False


def _is_element_without_content(el: Element) -> bool:
    if etree.has_nonspace_text(el):
        return False
    kids = etree.children_of(el)
    return len(kids) == 0 or all(c.tag in ("br", "hr") for c in kids)


def _has_child_block_element(el: Element) -> bool:
    for c in etree.children_of(el):
        if c.tag in DIV_TO_P_ELEMS or _has_child_block_element(c):
            return True
    return False


def _has_single_tag_inside(el: Element, tag: str) -> bool:
    kids = etree.children_of(el)
    if len(kids) != 1 or kids[0].tag != tag:
        return False
    if el.text and el.text.strip():
        return False
    return not (kids[0].tail and kids[0].tail.strip())


def _get_node_ancestors(el: Element, max_depth: int = 0) -> list[Element]:
    out = []
    node = el.parent
    i = 0
    while node is not None:
        out.append(node)
        i += 1
        if max_depth and i == max_depth:
            break
        node = node.parent
    return out


# --- element-order traversal with removal ------------------------------------

def _first_element_child(el: Element):
    for c in el.children:
        if c.tag != etree.COMMENT:
            return c
    return None


def _get_next_node(el: Element, ignore_self_and_kids: bool = False):
    if not ignore_self_and_kids:
        child = _first_element_child(el)
        if child is not None:
            return child
    sib = etree.next_element_sibling(el)
    if sib is not None:
        return sib
    node = el.parent
    while node is not None:
        sib = etree.next_element_sibling(node)
        if sib is not None:
            return sib
        node = node.parent
    return None


def _remove_and_get_next(el: Element):
    nxt = _get_next_node(el, ignore_self_and_kids=True)
    etree.remove(el, keep_tail=True)
    return nxt


# --- prepDocument -------------------------------------------------------------

def prep_document(base: Element) -> None:
    """removeScripts + prepDocument: drop script/style machinery, font →
    span, double-br runs → paragraph breaks."""
    etree.strip_elements(base, False, "script", "style", "noscript", "template",
                         "iframe")
    for f in etree.get_elements_by_tag(base, "font"):
        f.tag = "span"
    _replace_double_brs(base)


# --- grabArticle ---------------------------------------------------------------


class _Grab:
    def __init__(self, strip_unlikely: bool, weight_classes: bool,
                 clean_conditionally: bool):
        self.strip_unlikely = strip_unlikely
        self.weight_classes = weight_classes
        self.clean_conditionally = clean_conditionally
        self.scores: dict[int, float] = {}
        self.by_id: dict[int, Element] = {}
        self.byline_found = False

    # -- class weight (class and id weighted SEPARATELY, ±25 each) --

    def class_weight(self, el: Element) -> float:
        if not self.weight_classes:
            return 0.0
        w = 0.0
        cls = el.get("class")
        if cls:
            if RX_NEGATIVE.search(cls):
                w -= 25
            if RX_POSITIVE.search(cls):
                w += 25
        nid = el.get("id")
        if nid:
            if RX_NEGATIVE.search(nid):
                w -= 25
            if RX_POSITIVE.search(nid):
                w += 25
        return w

    def _init_node(self, node: Element) -> int:
        key = id(node)
        if key not in self.scores:
            self.scores[key] = self.class_weight(node) + TAG_WEIGHT.get(node.tag, 0)
            self.by_id[key] = node
        return key

    def _check_byline(self, el: Element, match_string: str) -> bool:
        if self.byline_found:
            return False
        if (el.get("rel") == "author" or "author" in el.get("itemprop")
                or RX_BYLINE.search(match_string)):
            text = etree.text_content(el).strip()
            if 0 < len(text) < 100:
                self.byline_found = True
                return True
        return False

    # -- traversal + scoring --

    def run(self, page: Element) -> Element | None:
        elements_to_score: list[Element] = []
        node = page

        while node is not None:
            tag = node.tag
            if tag == etree.COMMENT:
                node = _get_next_node(node)
                continue
            match_string = _match_string(node)

            if node is not page:
                if not _is_probably_visible(node):
                    node = _remove_and_get_next(node)
                    continue
                if node.get("role") in UNLIKELY_ROLES:
                    node = _remove_and_get_next(node)
                    continue
                if self._check_byline(node, match_string):
                    node = _remove_and_get_next(node)
                    continue
                if self.strip_unlikely:
                    if (RX_UNLIKELY.search(match_string)
                            and not RX_MAYBE.search(match_string)
                            and not _has_ancestor_tag(node, "table")
                            and not _has_ancestor_tag(node, "code")
                            and tag not in ("body", "a")):
                        node = _remove_and_get_next(node)
                        continue
                if (tag in ("div", "section", "header",
                            "h1", "h2", "h3", "h4", "h5", "h6")
                        and _is_element_without_content(node)):
                    node = _remove_and_get_next(node)
                    continue

            if tag in TAGS_TO_SCORE:
                elements_to_score.append(node)

            if tag == "div":
                _wrap_phrasing_runs(node)
                if (_has_single_tag_inside(node, "p")
                        and _link_density(node) < 0.25):
                    child = etree.children_of(node)[0]
                    _replace_node(node, child)
                    node = child
                    elements_to_score.append(node)
                elif not _has_child_block_element(node):
                    node.tag = "p"
                    elements_to_score.append(node)

            node = _get_next_node(node)

        for el in elements_to_score:
            if el.parent is None:
                continue
            text = inner_text(el)
            if len(text) < 25:
                continue
            ancestors = _get_node_ancestors(el, 5)
            if not ancestors:
                continue
            score = 1.0
            score += len(RX_COMMAS.findall(text))
            score += min(len(text) // 100, 3)
            for level, ancestor in enumerate(ancestors):
                if ancestor.tag == etree.DOCUMENT or ancestor.parent is None:
                    continue
                divisor = 1.0 if level == 0 else (2.0 if level == 1 else level * 3.0)
                key = self._init_node(ancestor)
                self.scores[key] += score / divisor

        # top-5 candidates by score × (1 − link density); the adjusted
        # score REPLACES the candidate's content score (readability.js
        # does the same, and the sibling threshold reads the new value)
        top_candidates: list[Element] = []
        # No mutation happens between here and the top-candidate pick,
        # so one TreeIndex serves every candidate's density (candidates
        # are nested ancestors — per-candidate walks would read the page
        # text once per ancestry level).
        index = etree.TreeIndex(page) if self.scores else None
        for key in list(self.scores):
            cand = self.by_id[key]
            density = _density(index.text_len(cand), index.anchors(cand), index.text_len)
            adjusted = self.scores[key] * (1.0 - density)
            self.scores[key] = adjusted
            for i, tc in enumerate(top_candidates):
                if adjusted > self.scores[id(tc)]:
                    top_candidates.insert(i, cand)
                    break
            else:
                top_candidates.append(cand)
            if len(top_candidates) > 5:
                top_candidates.pop()

        top = top_candidates[0] if top_candidates else None
        needed_to_create = False

        if top is None or top.tag == "body":
            top = etree.new_element("div")
            for child in list(page.children):
                etree.append(top, child)
            etree.append_child(page, top)
            self._init_node(top)
            needed_to_create = True
        else:
            # alternative-ancestor promotion: if ≥3 of the close
            # runners-up (score ≥ 0.75 × top) share an ancestor, that
            # ancestor is the better top candidate
            top_score = self.scores[id(top)] or 1.0
            alt_ancestors = [
                _get_node_ancestors(c)
                for c in top_candidates[1:]
                if top_score and self.scores[id(c)] / top_score >= 0.75
            ]
            if len(alt_ancestors) >= MINIMUM_TOPCANDIDATES:
                parent = top.parent
                while parent is not None and parent.tag not in _STOP_TAGS:
                    containing = sum(
                        1 for lst in alt_ancestors if any(a is parent for a in lst)
                    )
                    if containing >= MINIMUM_TOPCANDIDATES:
                        top = parent
                        break
                    parent = parent.parent
            if id(top) not in self.scores:
                self._init_node(top)

            # parent score climb: a parent scoring higher than the
            # candidate (thanks to the ancestor bonus system) is the
            # real container; stop when scores fall under top/3
            parent = top.parent
            last_score = self.scores[id(top)]
            score_threshold = last_score / 3.0
            while parent is not None and parent.tag not in _STOP_TAGS:
                pscore = self.scores.get(id(parent))
                if pscore is None:
                    parent = parent.parent
                    continue
                if pscore < score_threshold:
                    break
                if pscore > last_score:
                    top = parent
                    break
                last_score = pscore
                parent = parent.parent

            # only-child climb
            parent = top.parent
            while (parent is not None and parent.tag not in _STOP_TAGS
                   and len(etree.children_of(parent)) == 1):
                top = parent
                parent = top.parent
            if id(top) not in self.scores:
                self._init_node(top)

        # sibling aggregation
        article = etree.new_element("div")
        sibling_threshold = max(10.0, self.scores[id(top)] * 0.2)
        parent = top.parent
        siblings = etree.children_of(parent) if parent is not None else [top]
        top_class = top.get("class")

        for sibling in list(siblings):
            append_it = False
            if sibling is top:
                append_it = True
            else:
                bonus = 0.0
                if top_class and sibling.get("class") == top_class:
                    bonus += self.scores[id(top)] * 0.2
                sib_score = self.scores.get(id(sibling))
                if sib_score is not None and sib_score + bonus >= sibling_threshold:
                    append_it = True
                elif sibling.tag == "p":
                    density = _link_density(sibling)
                    content = inner_text(sibling)
                    n = len(content)
                    if n > 80 and density < 0.25:
                        append_it = True
                    elif (0 < n <= 80 and density == 0
                          and RX_SENTENCE_END.search(content)):
                        append_it = True
            if append_it:
                if sibling.tag not in ALTER_TO_DIV_EXCEPTIONS:
                    sibling.tag = "div"
                etree.append(article, sibling)

        prep_article(article, self)

        # The returned node is the single "page" div: when the top
        # candidate was synthesized from the whole page it IS that div
        # (readability sets readability-page-1 on it); otherwise the
        # sibling container plays the role of the page div.
        if needed_to_create and top.parent is article:
            return top
        return article


def _has_ancestor_tag(el: Element, tag: str, max_depth: int = 3,
                      pred=None) -> bool:
    depth = 0
    node = el.parent
    while node is not None:
        if max_depth > 0 and depth > max_depth:
            return False
        if node.tag == tag and (pred is None or pred(node)):
            return True
        node = node.parent
        depth += 1
    return False


def _replace_node(old: Element, new: Element) -> None:
    """DOM replaceChild(new, old) with text/tail bookkeeping: new takes
    old's position and old's tail."""
    parent = old.parent
    if parent is None:
        return
    idx = parent.children.index(old)
    if new.parent is not None and new in new.parent.children:
        new.parent.children.remove(new)
    new.tail = old.tail
    new.parent = parent
    parent.children[idx] = new
    old.parent = None


def _wrap_phrasing_runs(node: Element) -> None:
    """readability.js grabArticle div handling: wrap each run of phrasing
    content (text + inline elements) into a synthetic <p>; trailing
    whitespace/brs are trimmed off the paragraph end."""
    p: Element | None = None

    def close_p():
        nonlocal p
        if p is None:
            return
        # trim trailing whitespace text / brs off the paragraph
        kids = p.children
        while kids:
            last = kids[-1]
            if last.tag == "br" and not last.tail.strip():
                etree.remove(last, keep_tail=True)
            elif last.tail and not last.tail.strip():
                last.tail = ""
            else:
                break
        if not kids and not p.text.strip():
            p.text = ""
        p = None

    for part in etree.detach_content(node):
        is_text = type(part) is str
        if not (is_text or part.tag == etree.COMMENT or _is_phrasing(part)):
            close_p()
            etree.append_part(node, part)
            continue
        # whitespace-only text / stray brs don't open a paragraph
        if p is None and (not part.strip() if is_text
                          else part.tag in ("br", etree.COMMENT)):
            etree.append_part(node, part)
            continue
        if p is None:
            p = etree.sub_element(node, "p")
        etree.append_part(p, part)
    close_p()


# --- prepArticle ---------------------------------------------------------------

def _mark_data_tables(root: Element) -> set:
    """readability.js _markDataTables."""
    data = set()
    for t in etree.get_elements_by_tag(root, "table"):
        if t.get("role") == "presentation" or t.get("datatable") == "0":
            continue
        if t.get("summary"):
            data.add(id(t))
            continue
        caps = etree.get_elements_by_tag(t, "caption")
        if caps and (caps[0].text or caps[0].children):
            data.add(id(t))
            continue
        if any(
            etree.get_elements_by_tag(t, tag)
            for tag in ("col", "colgroup", "tfoot", "thead", "th")
        ):
            data.add(id(t))
            continue
        if etree.get_elements_by_tag(t, "table"):
            continue
        rows = etree.get_elements_by_tag(t, "tr")
        ncols = max(
            (len(etree.get_elements_by_tag(r, "td")) for r in rows), default=0
        )
        if len(rows) >= 10 or ncols > 4 or len(rows) * ncols > 10:
            data.add(id(t))
    return data


def _is_allowed_video(el: Element) -> bool:
    for v in el.attrib.values():
        if RX_VIDEOS.search(v or ""):
            return True
    return False


def _clean(article: Element, tag: str) -> None:
    is_embed = tag in ("object", "embed", "iframe")
    for node in reversed(etree.get_elements_by_tag(article, tag)):
        if node.parent is None:
            continue
        if is_embed:
            if _is_allowed_video(node):
                continue
            if RX_VIDEOS.search(etree.inner_html(node)):
                continue
        etree.remove(node, keep_tail=True)


def _clean_matched(root: Element, pred) -> None:
    """cleanMatchedNodes: remove descendants whose class/id matches."""
    end = _get_next_node(root, ignore_self_and_kids=True)
    node = _get_next_node(root)
    while node is not None and node is not end:
        if node.tag != etree.COMMENT and pred(node, _match_string(node)):
            node = _remove_and_get_next(node)
        else:
            node = _get_next_node(node)


# Tags the fused _clean_conditionally walk collects in one pass.
_CC_TAGS = frozenset((
    "p", "img", "li", "input", "h1", "h2", "h3", "h4", "h5", "h6",
    "object", "embed", "iframe", "ul", "ol", "a",
))
_P_MEDIA_TAGS = frozenset(("img", "embed", "object", "iframe"))


def _clean_conditionally(grab: _Grab, article: Element, tag: str,
                         data_tables: set) -> None:
    if not grab.clean_conditionally:
        return
    for node in reversed(etree.get_elements_by_tag(article, tag)):
        if node.parent is None:
            continue
        is_data_table = lambda n: id(n) in data_tables
        if tag == "table" and id(node) in data_tables:
            continue
        if _has_ancestor_tag(node, "table", -1, is_data_table):
            continue
        if _has_ancestor_tag(node, "code", -1):
            continue
        weight = grab.class_weight(node)
        if weight < 0:
            etree.remove(node, keep_tail=True)
            continue
        text = inner_text(node)
        if len(RX_COMMAS.findall(text)) >= 10:
            continue
        # One fused subtree walk replaces the 10+ per-tag walks of the
        # literal readability.js sequence — counts and densities are
        # order-independent, so the grouped collection is equivalent.
        by = etree.collect_by_tags(node, _CC_TAGS)
        p = len(by["p"])
        img = len(by["img"])
        li = len(by["li"]) - 100
        inputs = len(by["input"])
        clen = len(text)
        if clen == 0:
            heading_density = 0.0
        else:
            heading_density = sum(
                len(inner_text(h))
                for t in ("h1", "h2", "h3", "h4", "h5", "h6")
                for h in by[t]
            ) / clen
        embed_count = 0
        keep_for_video = False
        for et in ("object", "embed", "iframe"):
            for emb in by[et]:
                if _is_allowed_video(emb):
                    keep_for_video = True
                    break
                embed_count += 1
            if keep_for_video:
                break
        if keep_for_video:
            continue
        # _link_density(node) over the collected anchors and the clen
        # already computed from the same tree
        density = _density(clen, by["a"], _text_len)
        is_list = tag in ("ul", "ol")
        if not is_list:
            list_len = sum(
                len(inner_text(n)) for t in ("ul", "ol") for n in by[t]
            )
            if clen and list_len / clen > 0.9:
                is_list = True
        to_remove = (
            (img > 1 and p / img < 0.5 and not _has_ancestor_tag(node, "figure"))
            or (not is_list and li > p)
            or (inputs > p // 3)
            or (
                not is_list and heading_density < 0.9 and clen < 25
                and (img == 0 or img > 2)
                and not _has_ancestor_tag(node, "figure")
            )
            or (not is_list and weight < 25 and density > 0.2)
            or (weight >= 25 and density > 0.5)
            or ((embed_count == 1 and clen < 75) or embed_count > 1)
        )
        # image-gallery exception: a list whose items are single images
        if is_list and to_remove:
            fancy = any(
                len(etree.children_of(c)) > 1 for c in etree.children_of(node)
            )
            if not fancy and img == len(by["li"]):
                continue
        if to_remove:
            etree.remove(node, keep_tail=True)


def prep_article(article: Element, grab: _Grab) -> None:
    data_tables = _mark_data_tables(article)

    _clean_conditionally(grab, article, "form", data_tables)
    _clean_conditionally(grab, article, "fieldset", data_tables)
    _clean(article, "object")
    _clean(article, "embed")
    _clean(article, "footer")
    _clean(article, "link")
    _clean(article, "aside")

    for child in list(article.children):
        if child.tag == etree.COMMENT:
            continue
        _clean_matched(
            child,
            lambda n, ms: RX_SHARE.search(ms)
            and len(etree.text_content(n)) < CHAR_THRESHOLD,
        )

    _clean(article, "iframe")
    _clean(article, "input")
    _clean(article, "textarea")
    _clean(article, "select")
    _clean(article, "button")

    # cleanHeaders: h1/h2 with negative class weight
    for h in reversed(etree.get_elements_by_tag(article, "h1")
                      + etree.get_elements_by_tag(article, "h2")):
        if h.parent is not None and grab.class_weight(h) < 0:
            etree.remove(h, keep_tail=True)

    _clean_conditionally(grab, article, "table", data_tables)
    _clean_conditionally(grab, article, "ul", data_tables)
    _clean_conditionally(grab, article, "div", data_tables)

    # h1 → h2 (readability reserves h1 for the article title)
    for h in etree.get_elements_by_tag(article, "h1"):
        h.tag = "h2"

    # single-cell tables → their cell's content
    for t in reversed(etree.get_elements_by_tag(article, "table")):
        if t.parent is None:
            continue
        body = t
        kids = etree.children_of(body)
        if len(kids) == 1 and kids[0].tag == "tbody":
            body = kids[0]
            kids = etree.children_of(body)
        if len(kids) == 1 and kids[0].tag == "tr":
            row = kids[0]
            cells = etree.children_of(row)
            if len(cells) == 1 and cells[0].tag in ("td", "th"):
                cell = cells[0]
                cell.tag = "p" if all(
                    _is_phrasing(c) or c.tag == etree.COMMENT
                    for c in etree.children_of(cell)
                ) else "div"
                _replace_node(t, cell)

    # empty paragraphs (early-exit presence checks — equivalent to the
    # four per-tag collections plus the full inner_text materialization)
    for pnode in reversed(etree.get_elements_by_tag(article, "p")):
        if pnode.parent is None:
            continue
        if (not etree.has_any_tag(pnode, _P_MEDIA_TAGS)
                and not etree.has_nonspace_text(pnode)):
            etree.remove(pnode, keep_tail=True)

    # <br> immediately before a <p>
    for br in reversed(etree.get_elements_by_tag(article, "br")):
        if br.parent is None:
            continue
        if br.tail and br.tail.strip():
            continue
        nxt = etree.next_element_sibling(br)
        if nxt is not None and nxt.tag == "p":
            etree.remove(br, keep_tail=True)


# --- replaceBrs (prepDocument) -------------------------------------------------

def _is_br(part) -> bool:
    return type(part) is not str and part.tag == "br"


def _is_gap(part) -> bool:
    """What go-readability's nextNode steps over: whitespace text, and
    comments (its prepDocument removes them)."""
    if type(part) is str:
        return not part.strip()
    return part.tag == etree.COMMENT


def _next_br(parts: list, i: int) -> int:
    """The index of the br that follows parts[i] across gaps, or -1."""
    i += 1
    while i < len(parts) and _is_gap(parts[i]):
        i += 1
    return i if i < len(parts) and _is_br(parts[i]) else -1


def _replace_double_brs(root: Element) -> None:
    """go-readability replaceBrs (readability.js _replaceBrs): a chain of
    two or more sibling <br>, with only gaps between them, is replaced
    by one <p>. The gaps and the phrasing siblings after the chain move
    into it, up to the next chain or the first non-phrasing node; the
    <p> then drops its trailing whitespace and brs, and a <p> parent
    becomes a <div>. A chain involves one parent's children only, so
    each parent is rebuilt once, in the document order of its brs."""
    seen: set[int] = set()
    for br in etree.get_elements_by_tag(root, "br"):
        node = br.parent
        if node is None or id(node) in seen:  # None: a dropped chain br
            continue
        seen.add(id(node))
        if sum(c.tag == "br" for c in node.children) < 2:
            continue
        parts = etree.detach_content(node)
        out: list = []
        i = 0
        while i < len(parts):
            j = _next_br(parts, i) if _is_br(parts[i]) else -1
            if j < 0:
                out.append(parts[i])
                i += 1
                continue
            para: list = []
            while j >= 0:
                para += parts[i + 1:j]
                i, j = j, _next_br(parts, j)
            i += 1
            while i < len(parts):
                part = parts[i]
                if _is_br(part) and _next_br(parts, i) >= 0 or not (
                        type(part) is str or _is_phrasing(part)
                        or part.tag == etree.COMMENT):
                    break
                para.append(part)
                i += 1
            while para and (_is_gap(para[-1]) or _is_br(para[-1])):
                para.pop()
            p = etree.new_element("p")
            for part in para:
                etree.append_part(p, part)
            out.append(p)
            if node.tag == "p":
                node.tag = "div"
        for part in out:
            etree.append_part(node, part)


# --- entry point ----------------------------------------------------------------

def readability_parse(doc: Element, exclude_tables: bool = False) -> Element | None:
    """go-readability FromDocument equivalent: prepDocument + grabArticle
    with the flag-relaxation retry loop; returns the article tree (or
    the longest under-threshold attempt)."""
    body = etree.body_of(doc)
    if body is None:
        return None

    def _fresh_base() -> Element:
        b = etree.clone(body, True)
        prep_document(b)
        if exclude_tables:
            # tables are sanitized out of whichever candidate wins; a
            # table-farm page must not crowd out the prose it also
            # carries
            etree.strip_elements(b, False, "table")
        return b

    best: Element | None = None
    best_len = -1
    for strip_unlikely, weight_classes, clean_cond in (
        (True, True, True), (False, True, True),
        (False, False, True), (False, False, False),
    ):
        # Each attempt needs a pristine prepped tree; building it fresh
        # per attempt (clone(body) + prep) instead of cloning a kept
        # prepped copy saves one full-tree clone on the ~80% of pages
        # that succeed on the first attempt.
        grab = _Grab(strip_unlikely, weight_classes, clean_cond)
        out = grab.run(_fresh_base())
        if out is None:
            continue
        out_len = len(trim(etree.text_content(out)))
        if out_len >= CHAR_THRESHOLD:
            return out
        if out_len > best_len:
            best, best_len = out, out_len
    return best
