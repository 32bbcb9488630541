"""lxml-style element tree with text/tail semantics + an HTML5-lite parser.

This is the in-kernel document model for the PySpark extraction engine.
The reference implementation (go-trafilatura) emulates Python lxml's
text/tail model on top of Go's x/net/html DOM
(see /root/reference/internal/etree/element.go:96,138); we implement the
same model natively.  All whitespace-producing functions (``iter_text``)
follow the reference semantics exactly
(/root/reference/internal/etree/element.go:221-249) because the bytes of
the extracted text depend on them.

No third-party HTML parser exists in this runtime, so parsing is done
with ``html.parser.HTMLParser`` plus a tree-construction layer that
covers the HTML5 behaviours the extraction cascade relies on: implied
html/head/body, void elements, auto-closing p/li/dd/dt/tr/td/th/option,
raw-text script/style, comment nodes and entity decoding.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from html import unescape as _unescape
from html.parser import HTMLParser
from itertools import chain

COMMENT = "#comment"
DOCUMENT = "#document"

# HTML void elements (cannot have children) — mirrors dom.IsVoidElement.
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Start tags that implicitly close an open <p> (HTML5 "in body" rules).
_P_CLOSERS = frozenset(
    (
        "address article aside blockquote center details dialog dir div dl "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
        "hgroup hr main menu nav ol p plaintext pre section summary table ul "
        "li dd dt"
    ).split()
)

# Scope barriers: auto-close search never crosses these.
_SCOPE_BARRIERS = frozenset(
    "html body table td th caption marquee object template".split()
)

_HEAD_ONLY = frozenset(
    "title base basefont bgsound link meta style".split()
)

# HTML5 "formatting" category — tracked in the list of active formatting
# elements for reconstruction and the adoption agency algorithm.
_FORMATTING = frozenset("a b big code em font i nobr s small strike strong tt u".split())

# HTML5 "special" category (the subset that can occur in body content) —
# used as the furthest-block test in the adoption agency algorithm and as
# the stop condition for "any other end tag".
_SPECIAL = frozenset(
    (
        "address applet area article aside base basefont bgsound blockquote "
        "body br button caption center col colgroup dd details dir div dl dt "
        "embed fieldset figcaption figure footer form frame frameset h1 h2 "
        "h3 h4 h5 h6 head header hgroup hr html iframe img input li link "
        "listing main marquee menu meta nav noembed noframes noscript object "
        "ol p param plaintext pre script section select source style summary "
        "table tbody td template textarea tfoot th thead title tr track ul "
        "wbr xmp"
    ).split()
)

# Start tags whose "in body" spec rule has no reconstruct step.
_NO_RECONSTRUCT = frozenset(
    (
        "address article aside blockquote center details dialog dir div dl "
        "dd dt fieldset figcaption figure footer form frame frameset h1 h2 "
        "h3 h4 h5 h6 header hgroup hr html head body iframe li link listing "
        "main menu meta nav noembed noframes noscript ol p plaintext pre "
        "script section style summary table title ul caption col colgroup "
        "tbody td tfoot th thead tr base basefont bgsound template textarea "
        "xmp"
    ).split()
)

# End tags closed with in-scope rules (stop only at scope barriers); all
# other end tags use the "any other end tag" rule (stop at any special).
_BLOCK_END = frozenset(
    (
        "address article aside blockquote button center details dialog dir "
        "div dl dd dt fieldset figcaption figure footer form h1 h2 h3 h4 h5 "
        "h6 header hgroup li listing main menu nav ol p pre section summary ul"
    ).split()
)

# Insertion points where non-table content must be foster-parented
# (HTML5 "in table": text/elements misplaced inside table structure are
# re-inserted immediately before the table).
_TABLE_CONTEXT = frozenset("table tbody thead tfoot tr".split())
_IN_TABLE_OK = frozenset(
    "caption colgroup col tbody tfoot thead tr td th script style template form".split()
)

# Elements that push a marker onto the active formatting list (formatting
# never reconstructs across these boundaries).
_AFE_MARKER_TAGS = frozenset("td th caption applet object marquee template".split())


_EMPTY_ATTRIB: dict = {}


class Element:
    """One HTML element. ``text`` is the text before the first child,
    ``tail`` is the text between this element's end tag and the next
    sibling (the lxml model).

    Attributes parse LAZILY: the fast tokenizer stores the raw
    attribute substring (``_rawattrs``) and the dict materializes on
    first access — attribute parsing is ~45% of tokenizer cost and most
    elements' attributes are never read by the cascade."""

    __slots__ = ("tag", "_attrib", "_rawattrs", "_lraw", "text", "tail",
                 "children", "parent")

    def __init__(self, tag: str, attrib: dict | None = None):
        self.tag = tag
        # Attribute-less elements share one frozen-by-convention dict;
        # set() rebinds before the first mutation (saves one dict
        # allocation per node — most nodes have no attributes).
        self._attrib = attrib if attrib is not None else _EMPTY_ATTRIB
        self._rawattrs: str | None = None
        self._lraw: str | None = None  # lowercased raw, cached by screens
        self.text = ""
        self.tail = ""
        self.children: list[Element] = []
        self.parent: Element | None = None
        t = _TRACK_ELEMENTS
        if t is not None:
            t.append(self)

    @property
    def attrib(self) -> dict:
        raw = self._rawattrs
        if raw is not None:
            self._rawattrs = None
            self._attrib = _parse_simple_attrs(raw)
        return self._attrib

    @attrib.setter
    def attrib(self, value: dict) -> None:
        self._rawattrs = None
        self._attrib = value

    # -- convenience ------------------------------------------------------
    def get(self, key: str, default: str = "") -> str:
        raw = self._rawattrs
        if raw is not None:
            self._rawattrs = None
            self._attrib = _parse_simple_attrs(raw)
        return self._attrib.get(key, default)

    def set(self, key: str, value: str) -> None:
        raw = self._rawattrs
        if raw is not None:
            self._rawattrs = None
            self._attrib = _parse_simple_attrs(raw)
        if self._attrib is _EMPTY_ATTRIB:
            self._attrib = {}
        self._attrib[key] = value

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Element {self.tag} attrib={self.attrib} text={self.text!r}>"


# -- raw-attribute prescreens ---------------------------------------------
# A screen skips the attribute parse (and the predicate it guards) when a
# literal the predicate needs is absent from the element's unparsed
# attribute text. It is sound only as a necessary condition of the
# predicate on the PARSED attributes: parsing lowercases names and keeps
# values, so a lowercase literal in a parsed name or value is a literal
# substring of the lowercased raw text — unless an entity could decode
# into it ('&' in raw), where the screen must pass.

def attr_source(el: Element) -> str | None:
    """The element's lowercased unparsed attribute text (cached), or
    None when a screen can prove nothing: the attributes are already
    parsed, or the text contains '&'."""
    raw = el._rawattrs
    if raw is None or "&" in raw:
        return None
    lraw = el._lraw
    if lraw is None:
        lraw = el._lraw = raw.lower()
    return lraw


def attrs_may_contain(el: Element, literals) -> bool:
    """False only when none of the LOWERCASE ``literals`` can occur in
    any parsed attribute name or value of ``el``."""
    lraw = attr_source(el)
    if lraw is None:
        return True
    # explicit loop: a genexpr per element costs more than the checks
    for p in literals:
        if p in lraw:
            return True
    return False


def has_attrs(el: Element) -> bool:
    """Whether ``el`` carries any attribute, without parsing them."""
    return bool(el._attrib or el._rawattrs)


def new_element(tag: str) -> Element:
    return Element(tag)


def sub_element(parent: Element, tag: str) -> Element:
    el = Element(tag)
    el.parent = parent
    parent.children.append(el)
    return el


def is_void(el: Element) -> bool:
    return el.tag in VOID_ELEMENTS


# ---------------------------------------------------------------------------
# Tree accessors (mirror go-shiori/dom + internal/etree helpers)
# ---------------------------------------------------------------------------

def children_of(el: Element) -> list[Element]:
    """Element children only (dom.Children) — comments excluded."""
    return [c for c in el.children if c.tag != COMMENT]


def has_child_nodes(el: Element) -> bool:
    """True if the element has any child node (text or element),
    mirroring len(dom.ChildNodes(el)) > 0."""
    return bool(el.children) or el.text != ""


def iter_all(root: Element, *tags: str) -> list[Element]:
    """etree.Iter — self + descendants in document order, optionally
    filtered by tag (self included only when it matches / no tags given).
    Reference: internal/etree/element.go:31-77."""
    if not tags:
        out = [] if root.tag == COMMENT else [root]
        _walk_all(root, out)
        return out
    tagset = frozenset(tags)
    out = [root] if root.tag in tagset else []
    _collect_tags(root, tagset, out)
    return out


def _collect_tags(el: Element, tagset: frozenset, out: list) -> None:
    # Iterative doc-order walk (explicit stack): ~30% faster than the
    # recursive form on deep real-world pages, and depth-safe.
    append = out.append
    stack = el.children[::-1]
    pop = stack.pop
    while stack:
        node = pop()
        if node.tag in tagset:
            append(node)
        kids = node.children
        if kids:
            stack.extend(kids[::-1])


def collect_by_tags(root: Element, tags) -> dict:
    """One traversal collecting descendants grouped by tag (document
    order per tag). Strip/remove passes over many tags use this instead
    of one full traversal per tag — the operations commute, so grouped
    collection preserves the per-tag semantics of repeated
    GetElementsByTagName calls."""
    tagset = frozenset(tags)
    out: dict[str, list[Element]] = {t: [] for t in tagset}
    found: list[Element] = []
    _collect_tags(root, tagset, found)
    for node in found:
        out[node.tag].append(node)
    return out


def has_any_tag(root: Element, tagset) -> bool:
    """True if any DESCENDANT's tag is in tagset — the early-exit form
    of ``bool(get_elements_by_tag(...))`` presence checks."""
    stack = root.children[::-1]
    pop = stack.pop
    while stack:
        node = pop()
        if node.tag in tagset:
            return True
        kids = node.children
        if kids:
            stack.extend(kids[::-1])
    return False


def has_nonspace_text(el: Element) -> bool:
    """True iff trim(text_content(el)) is non-empty, without building
    the string: early-exits on the first non-whitespace character.
    Same accounting as text_content (comment text skipped, every
    child's tail counted)."""
    t = el.text
    if el.tag != COMMENT and t and not t.isspace():
        return True
    stack = el.children[::-1]
    pop = stack.pop
    while stack:
        node = pop()
        t = node.tail
        if t and not t.isspace():
            return True
        if node.tag != COMMENT:
            t = node.text
            if t and not t.isspace():
                return True
            kids = node.children
            if kids:
                stack.extend(kids[::-1])
    return False


def _walk_all(el: Element, out: list) -> None:
    append = out.append
    stack = el.children[::-1]
    pop = stack.pop
    while stack:
        node = pop()
        if node.tag != COMMENT:
            append(node)
        kids = node.children
        if kids:
            stack.extend(kids[::-1])


def get_elements_by_tag(root: Element, *tags: str) -> list[Element]:
    """dom.GetElementsByTagName and etree.IterDescendants: the
    descendants of ``root`` (root excluded) whose tag is in ``tags``, in
    document order; ``"*"`` or no tags means every non-comment element.
    Reference: internal/etree/element.go:80-92."""
    out: list[Element] = []
    if not tags or "*" in tags:
        _walk_all(root, out)
    else:
        _collect_tags(root, frozenset(tags), out)
    return out


def set_text(el: Element, text: str) -> None:
    if el is None or is_void(el):
        return
    el.text = text


def set_tail(el: Element, tail: str) -> None:
    if el is None or el.parent is None or is_void(el.parent):
        return
    el.tail = tail


def text_content(el: Element) -> str:
    """dom.TextContent — all text in the subtree, concatenated, no
    separators; comments skipped (their tails still count).

    Iterative: the stack holds Elements to expand and raw strings
    (tails) to emit after their element's subtree — one loop instead of
    one Python call per node (this is the hottest function in the
    readability fallback's scoring phase)."""
    parts: list[str] = []
    append = parts.append
    if el.tag != COMMENT and el.text:
        append(el.text)
    stack: list = el.children[::-1]
    pop = stack.pop
    while stack:
        node = pop()
        if type(node) is str:
            append(node)
            continue
        tail = node.tail
        if tail:
            stack.append(tail)
        if node.tag != COMMENT:
            if node.text:
                append(node.text)
            kids = node.children
            if kids:
                stack.extend(kids[::-1])
    return "".join(parts)


def text_len(el: Element) -> int:
    """len(text_content(el)) without materializing the string (the
    prune backup's 6/7-loss checks only need the length). Same
    accounting as _collect_text: comment text skipped, every child's
    tail counted."""
    n = len(el.text) if el.tag != COMMENT else 0
    stack = el.children[:]
    while stack:
        node = stack.pop()
        n += len(node.tail)
        if node.tag != COMMENT:
            n += len(node.text)
            stack.extend(node.children)
    return n


class TreeIndex:
    """The facts about an UNCHANGED tree that repeated queries share.

    Built eagerly: ``elements``, the descendants of ``root`` (root
    excluded, comments skipped) in document order, and each tag's
    positions in it — so a tag lookup is a list read instead of a walk.
    Built lazily, by one bottom-up pass on the first ``text_len`` or
    ``anchors`` call: every element's pre-order interval and its
    trimmed text length. Any write to the tree makes the index stale;
    nothing checks that, so build it after the last mutation."""

    __slots__ = ("root", "elements", "_by_tag", "_pos", "_last", "_tl")

    def __init__(self, root: Element):
        self.root = root
        self.elements: list[Element] = get_elements_by_tag(root)
        by: dict[str, list[int]] = {}
        for i, el in enumerate(self.elements):
            by.setdefault(el.tag, []).append(i)
        self._by_tag = by
        self._tl = None

    def candidates(self, tags=None) -> list[Element]:
        """``get_elements_by_tag(root, *tags)``: the descendants whose
        tag is in ``tags`` (every one when None), in document order."""
        if tags is None:
            return self.elements
        by, els = self._by_tag, self.elements
        lists = [by[t] for t in tags if t in by]
        pos = lists[0] if len(lists) == 1 else sorted(chain.from_iterable(lists))
        return [els[i] for i in pos]

    def of_tag(self, tag: str) -> list[Element]:
        """``get_elements_by_tag(root, tag)``, ``"*"`` included."""
        if tag == "*":
            return self.elements
        els = self.elements
        return [els[i] for i in self._by_tag.get(tag, ())]

    def text_len(self, el: Element) -> int:
        """``len(trim(text_content(el)))`` for ``root`` or a descendant."""
        if self._tl is None:
            self._text_pass()
        return self._tl[id(el)]

    def anchors(self, el: Element) -> list[Element]:
        """``get_elements_by_tag(el, "a")`` for ``root`` or a descendant:
        one bisect range of the ``a`` positions."""
        if self._tl is None:
            self._text_pass()
        apos = self._by_tag.get("a", ())
        lo = bisect_right(apos, self._pos[id(el)])
        hi = bisect_right(apos, self._last[id(el)], lo)
        els = self.elements
        return [els[i] for i in apos[lo:hi]]

    def _text_pass(self) -> None:
        """Pre-order intervals (the descendants of the element at
        position p are the positions in (p, last]; root is at -1) and
        trimmed text lengths, bottom-up in one pass. trim(s) is
        " ".join(s.split()), whose length composes under concatenation
        when each subtree carries (chars in words, word count, first,
        last), first/last being 0 for no text, 1 for whitespace and 2
        for any other character: two pieces whose touching characters
        are both non-whitespace merge into one word."""
        root = self.root
        pos = {id(el): i for i, el in enumerate(self.elements)}
        pos[id(root)] = -1
        sums: dict[int, tuple] = {}
        tl: dict[int, int] = {}
        lastd: dict[int, int] = {}
        for node in chain(reversed(self.elements), (root,)):
            key = id(node)
            nch = nw = first = last = 0
            t = node.text
            if t:
                w = t.split()
                nch = sum(map(len, w))
                nw = len(w)
                first = 2 if not t[0].isspace() else 1
                last = 2 if not t[-1].isspace() else 1
            end = pos[key]
            for c in node.children:
                if c.tag != COMMENT:
                    ck = id(c)
                    end = lastd[ck]
                    pch, pn, pf, pl = sums[ck]
                    if pf:
                        if last == 2 and pf == 2:
                            nw -= 1
                        nch += pch
                        nw += pn
                        if not first:
                            first = pf
                        if pl:
                            last = pl
                t = c.tail
                if t:
                    w = t.split()
                    pf = 2 if not t[0].isspace() else 1
                    if last == 2 and pf == 2:
                        nw -= 1
                    nch += sum(map(len, w))
                    nw += len(w)
                    if not first:
                        first = pf
                    last = 2 if not t[-1].isspace() else 1
            sums[key] = (nch, nw, first, last)
            tl[key] = nch + (nw - 1 if nw > 1 else 0)
            lastd[key] = end
        self._pos, self._last, self._tl = pos, lastd, tl


def _collect_text(el: Element, parts: list[str]) -> None:
    if el.tag == COMMENT:
        return
    if el.text:
        parts.append(el.text)
    for child in el.children:
        _collect_text(child, parts)
        if child.tail:
            parts.append(child.tail)


def prev_element_sibling(el: Element) -> Element | None:
    if el.parent is None:
        return None
    prev = None
    for sib in el.parent.children:
        if sib is el:
            return prev
        if sib.tag != COMMENT:
            prev = sib
    return None


def next_element_sibling(el: Element) -> Element | None:
    if el.parent is None:
        return None
    seen = False
    for sib in el.parent.children:
        if seen and sib.tag != COMMENT:
            return sib
        if sib is el:
            seen = True
    return None


# --- element-release machinery (kernel hot path) ---------------------------
# Element trees are cyclic (parent <-> children), so a dropped tree is
# invisible to refcounting and waits for the cycle collector — whose
# mid-parse generational sweeps cost a measured 7-13% of kernel CPU,
# and pruned/detached subtrees leak ~900 cyclic objects per page even
# when the visible roots are walked. The kernel disables auto-GC per
# batch and instead registers EVERY Element at creation (opt-in, one
# list append) and flat-clears parent+children for all of them when the
# row is done — no tree walks, robust to detachment/re-attachment, and
# afterwards the whole row's garbage dies by pure refcounting.

_TRACK_ELEMENTS: list | None = None


def track_elements(lst: list | None) -> None:
    """Install (or remove, with None) the list every new Element
    appends itself to. Kernel-scoped: default off, so library callers
    keep fully usable trees.

    NOT re-entrant and process-global: exactly one extraction may track
    at a time. Two concurrent trackers in one process would register
    elements into the wrong list, and ``release_elements`` would then
    flat-clear live trees of the other extraction. This is safe under
    Spark's worker model (one task per worker process, the kernel loop
    is single-threaded); library users driving extraction from threads
    must serialize calls or leave tracking off. Installing over an
    already-installed tracker raises rather than silently corrupting
    both extractions."""
    global _TRACK_ELEMENTS
    if lst is not None and _TRACK_ELEMENTS is not None:
        raise RuntimeError(
            "track_elements: a tracker is already installed — element "
            "tracking is process-global and single-extraction; nested or "
            "concurrent tracked extractions are not supported")
    _TRACK_ELEMENTS = lst


def release_elements(lst: list) -> None:
    """Break the parent/children cycles of every tracked element. The
    elements must not be used afterwards."""
    for el in lst:
        el.parent = None
        el.children.clear()


def clone(el: Element, deep: bool = True) -> Element:
    """dom.Clone — the clone is detached: no parent and no tail (in the
    DOM model a tail is a sibling text node and never travels with the
    node)."""
    dup = Element(el.tag)
    raw = el._rawattrs
    if raw is not None:
        dup._rawattrs = raw  # copy unparsed — both sides parse on demand
    elif el._attrib:
        dup._attrib = dict(el._attrib)
    if deep:
        dup.text = el.text
        for child in el.children:
            cc = _clone_with_tail(child)
            cc.parent = dup
            dup.children.append(cc)
    return dup


def _clone_with_tail(el: Element) -> Element:
    # __new__ + direct slot writes: ~35% faster than Element() on the
    # deep-clone hot path (prune backups clone whole candidate subtrees).
    dup = Element.__new__(Element)
    dup.tag = el.tag
    raw = el._rawattrs
    dup._rawattrs = raw
    dup._lraw = el._lraw
    if raw is not None:
        dup._attrib = _EMPTY_ATTRIB
    else:
        a = el._attrib
        dup._attrib = dict(a) if a else a
    dup.text = el.text
    dup.tail = el.tail
    dup.parent = None
    kids = el.children
    if kids:
        cloned = [_clone_with_tail(c) for c in kids]
        for c in cloned:
            c.parent = dup
        dup.children = cloned
    else:
        dup.children = []
    t = _TRACK_ELEMENTS
    if t is not None:
        t.append(dup)
    return dup


def replace_content(dst: Element, src: Element) -> None:
    """Equivalent of Go's ``*doc = *docBackup`` — replace dst's identity
    in place with src's content."""
    dst.tag = src.tag
    dst.attrib = dict(src.attrib)
    dst.text = src.text
    dst.children = src.children
    for child in dst.children:
        child.parent = dst


def append_text(el: Element, text: str) -> None:
    """Add ``text`` at the end of el's content: the last child's tail,
    or el's own text when it has no children."""
    kids = el.children
    if kids:
        kids[-1].tail += text
    else:
        el.text += text


def detach_content(el: Element) -> list:
    """Take el's content apart into its DOM child nodes, in document
    order: non-empty text strings, and the children, detached, each
    child's tail moved into the text part after it. el is left empty;
    ``append_part`` of every part puts the content back unchanged."""
    parts: list = []
    if el.text:
        parts.append(el.text)
        el.text = ""
    for child in el.children:
        child.parent = None
        parts.append(child)
        if child.tail:
            parts.append(child.tail)
            child.tail = ""
    el.children = []
    return parts


def append_part(el: Element, part) -> None:
    """Append one ``detach_content`` part (a text string or a tail-less
    detached element) at the end of el's content."""
    if type(part) is str:
        append_text(el, part)
    else:
        part.parent = el
        el.children.append(part)


def _merge_text_before(el: Element, text: str) -> None:
    """Attach ``text`` at el's current position (used when a node is
    removed but its text must stay put, DOM-style)."""
    if not text:
        return
    parent = el.parent
    if parent is None:
        return
    idx = parent.children.index(el)
    if idx > 0:
        parent.children[idx - 1].tail += text
    else:
        parent.text += text


def remove(el: Element, keep_tail: bool = False) -> None:
    """etree.Remove — detach element; tail text is dropped unless
    keep_tail (then it stays in place, merged into the previous node).
    Reference: internal/etree/etree.go:73-85."""
    parent = el.parent
    if parent is None:
        return
    if keep_tail and el.tail:
        _merge_text_before(el, el.tail)
    parent.children.remove(el)
    el.parent = None
    el.tail = ""


def strip_element(el: Element) -> None:
    """etree.Strip — remove the element but merge its text and children
    into the parent at its position. Tail stays in place.
    Reference: internal/etree/etree.go:89-102."""
    parent = el.parent
    if parent is None:
        return
    idx = parent.children.index(el)
    # Text before first child merges into previous position
    new_children = el.children
    lead_text = el.text
    tail_text = el.tail
    if lead_text:
        if idx > 0:
            parent.children[idx - 1].tail += lead_text
        else:
            parent.text += lead_text
    if tail_text:
        if new_children:
            new_children[-1].tail += tail_text
        elif lead_text and idx > 0:
            parent.children[idx - 1].tail += tail_text
        elif lead_text:
            parent.text += tail_text
        elif idx > 0:
            parent.children[idx - 1].tail += tail_text
        else:
            parent.text += tail_text
    parent.children[idx : idx + 1] = new_children
    for child in new_children:
        child.parent = parent
    el.parent = None
    el.children = []
    el.tail = ""


def strip_tags(tree: Element, *tags: str) -> None:
    """etree.StripTags — drop the tags, keep content (merged up).
    Reference: internal/etree/etree.go:46-54."""
    for tag in tags:
        for el in reversed(get_elements_by_tag(tree, tag)):
            strip_element(el)


def strip_elements(tree: Element, keep_tail: bool, *tags: str) -> None:
    """etree.StripElements — drop tags with their whole subtree.
    Reference: internal/etree/etree.go:60-68."""
    for tag in tags:
        for el in reversed(get_elements_by_tag(tree, tag)):
            remove(el, keep_tail)


def append(node: Element, sub: Element) -> None:
    """etree.Append — move sub (with its tail) into node.
    Reference: internal/etree/element.go:195-205."""
    if node is None or sub is None:
        return
    if sub.parent is not None:
        sub.parent.children.remove(sub)
    sub.parent = node
    node.children.append(sub)


def extend(node: Element, subelements: list[Element]) -> None:
    for sub in subelements:
        append(node, sub)


def append_child(parent: Element, child: Element) -> None:
    """dom.AppendChild — move the node only; its tail text stays at the
    old position (DOM semantics: tails are sibling text nodes)."""
    if child.parent is not None:
        if child.tail:
            _merge_text_before(child, child.tail)
            child.tail = ""
        child.parent.children.remove(child)
    child.parent = parent
    parent.children.append(child)


def replace_child(parent: Element, new_child: Element, old_child: Element) -> None:
    """dom.ReplaceChild — swap in place; old child's tail stays."""
    idx = parent.children.index(old_child)
    new_child.tail = old_child.tail
    new_child.parent = parent
    old_child.parent = None
    old_child.tail = ""
    parent.children[idx] = new_child


def iter_text(node: Element, separator: str) -> str:
    """etree.IterText — flatten all text, inserting ``separator`` when
    the element nesting level changes and at void elements; the result
    is stripped.  This function defines the whitespace of the extracted
    text: byte parity depends on it.
    Reference: internal/etree/element.go:221-249."""
    if node is None:
        return ""
    buf: list[str] = []
    append = buf.append
    last_level = 0

    # Emulate the DOM traversal: an element's text/child tails are text
    # nodes one level below the element itself. Iterative (explicit
    # stack) rather than a recursive closure: this is a hot path
    # (~350k calls/960 pages as a closure), and a self-referencing
    # closure is a reference cycle the kernel's explicit element
    # release can't break. Stack items are (Element, level) to enter,
    # or (tail_str, level) to emit at that level.
    stack: list = [(node, 0)]
    pop = stack.pop
    while stack:
        el, level = pop()
        if type(el) is str:
            # a child's tail, emitted at the child's level
            if level != last_level:
                append(separator)
            append(el)
            last_level = level
            continue
        tag = el.tag
        if tag == COMMENT:
            # Comment nodes emit nothing but still update the level
            # tracker, exactly like the reference traversal.
            last_level = level
            continue
        if tag in VOID_ELEMENTS:
            append(separator)
        last_level = level
        child_level = level + 1
        if el.text:
            if child_level != last_level:
                append(separator)
            append(el.text)
            last_level = child_level
        for child in reversed(el.children):
            t = child.tail
            if t:
                stack.append((t, child_level))
            stack.append((child, child_level))
    return "".join(buf).strip()


def tostring(tree: Element) -> str:
    """Serialize an element (without its tail) to HTML."""
    if tree is None:
        return ""
    out: list[str] = []
    _serialize(tree, out)
    return "".join(out)


def inner_html(el: Element) -> str:
    out: list[str] = []
    if el.text:
        out.append(_escape_text(el.text))
    for child in el.children:
        _serialize(child, out)
        if child.tail:
            out.append(_escape_text(child.tail))
    return "".join(out)


def _escape_text(s: str) -> str:
    # Same escape set as x/net/html's Render: & ' < > "
    return (
        s.replace("&", "&amp;")
        .replace("'", "&#39;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&#34;")
    )


_escape_attr = _escape_text


def _serialize(el: Element, out: list[str]) -> None:
    if el.tag == COMMENT:
        out.append(f"<!--{el.text}-->")
        return
    attrs = "".join(f' {k}="{_escape_attr(v)}"' for k, v in el.attrib.items())
    if el.tag in VOID_ELEMENTS:
        out.append(f"<{el.tag}{attrs}/>")
        return
    out.append(f"<{el.tag}{attrs}>")
    if el.tag in ("script", "style"):
        out.append(el.text)
    elif el.text:
        out.append(_escape_text(el.text))
    for child in el.children:
        _serialize(child, out)
        if child.tail:
            out.append(_escape_text(child.tail))
    out.append(f"</{el.tag}>")


# ---------------------------------------------------------------------------
# HTML parsing (HTML5-lite tree construction)
# ---------------------------------------------------------------------------

class _FmtEntry:
    """Active-formatting-elements entry: the tag plus the currently-open
    element for it. ``attrib`` (used only on reconstruction/adoption,
    both rare) defers to the element's lazy attributes — pushing a
    formatting tag must not force an attribute parse."""

    __slots__ = ("tag", "el")

    def __init__(self, tag: str, el):
        self.tag = tag
        self.el = el

    @property
    def attrib(self) -> dict:
        return self.el.attrib


def _attrs_equal(x: "Element", y: "Element") -> bool:
    """Attribute equality without forcing a parse when both sides carry
    the identical raw substring (identical raw ⇒ identical dict; raws
    that differ may still normalize equal, so fall through to dicts)."""
    rx = x._rawattrs
    if rx is not None and rx == y._rawattrs:
        return True
    return (x.attrib or {}) == (y.attrib or {})


_AFE_MARKER = object()

# Per-tag behaviour flag bits (see _TreeBuilder.handle_starttag).
_F_TOPLEVEL = 1        # html / head / body
_F_HEADISH = 2         # head-only tags + raw-text head machinery
_F_RAWHEAD = 4         # script/style/noscript/template (always stacked)
_F_A = 8
_F_TABLE = 16
_F_AUTOCLOSE = 32      # tag participates in _autoclose
_F_VOID = 64
_F_FORMATTING = 128
_F_AFE_MARKER = 256
_F_NO_RECONSTRUCT = 512
_F_TABLE_OK = 1024     # allowed directly inside table context
_F_P = 2048            # <p> itself (open-p counter maintenance)
_F_FOREIGN_ROOT = 4096  # svg / math (foreign-content counter)


def _build_tag_flags() -> dict:
    flags: dict[str, int] = {}

    def add(tags, bit):
        for t in tags:
            flags[t] = flags.get(t, 0) | bit

    add(("html", "head", "body"), _F_TOPLEVEL)
    add(_HEAD_ONLY, _F_HEADISH)
    add(("script", "style", "noscript", "template"), _F_HEADISH | _F_RAWHEAD)
    add(("a",), _F_A)
    add(("table",), _F_TABLE)
    add(_P_CLOSERS, _F_AUTOCLOSE)
    add(("tr", "td", "th", "li", "dd", "dt", "option", "optgroup",
         "thead", "tbody", "tfoot"), _F_AUTOCLOSE)
    add(VOID_ELEMENTS, _F_VOID)
    add(_FORMATTING, _F_FORMATTING)
    add(_AFE_MARKER_TAGS, _F_AFE_MARKER)
    add(_NO_RECONSTRUCT, _F_NO_RECONSTRUCT)
    add(_IN_TABLE_OK, _F_TABLE_OK)
    add(("p",), _F_P)
    add(("svg", "math"), _F_FOREIGN_ROOT)
    return flags


_TAG_FLAGS = _build_tag_flags()

# Grouped masks for _start_fast: one test decides whether any of the
# mid-section (implied end tags) or tail-section (formatting list)
# branches can apply, so plain tags skip the individual bit tests.
_START_MID_MASK = _F_A | _F_TABLE | _F_AUTOCLOSE
_START_TAIL_MASK = _F_FORMATTING | _F_AFE_MARKER

# End-tag dispatch codes (handle_endtag): 1 html/head, 2 body, 3 br,
# 4 formatting (adoption agency), 5 cell/caption, 6 table, 7 block end.
_END_CODE: dict[str, int] = {}
_END_CODE.update({t: 7 for t in _BLOCK_END})
_END_CODE.update({t: 4 for t in _FORMATTING})
_END_CODE.update({"html": 1, "head": 1, "body": 2, "br": 3,
                  "td": 5, "th": 5, "caption": 5, "table": 6})

# HTML5 "in foreign content" breakout start tags: seeing one of these
# inside svg/math pops the whole foreign subtree and reprocesses the
# tag as HTML (x/net/html implements the same list; font only breaks
# out when it carries color/face/size).
_FOREIGN_BREAKOUT = frozenset(
    ("b big blockquote body br center code dd div dl dt em embed h1 h2 h3 "
     "h4 h5 h6 head hr i img li listing menu meta nobr ol p pre ruby s "
     "small span strong strike sub sup table tt u ul var").split()
)
# HTML integration points: HTML parsing rules resume under these even
# inside a foreign subtree.
_INTEGRATION_POINTS = frozenset(("foreignobject", "desc", "title", "annotation-xml"))


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element(DOCUMENT)
        self.html = Element("html")
        self.html.attrib = {}
        self.html.parent = self.root
        self.root.children.append(self.html)
        self.head = Element("head")
        self.head.attrib = {}
        self.head.parent = self.html
        self.html.children.append(self.head)
        self.body = Element("body")
        self.body.attrib = {}
        self.body.parent = self.html
        self.html.children.append(self.body)
        self.stack: list[Element] = []  # open elements below body
        self.n_open_p = 0   # open <p> count: skips the p-closer stack walk
        self.in_body = False
        # List of active formatting elements (_FmtEntry | _AFE_MARKER).
        self.afe: list = []
        # Open svg/math elements (foreign content; breakout + honored
        # self-closing per HTML5 "in foreign content")
        self.foreign = 0

    # -- helpers ----------------------------------------------------------
    def updatepos(self, i: int, j: int) -> int:
        # We never read getpos(); skipping _markupbase's line counting
        # saves ~3% of parse time on big pages.
        return j

    def _current(self) -> Element:
        if self.stack:
            return self.stack[-1]
        return self.body if self.in_body else self.head

    def _pop_to(self, i: int) -> None:
        """Pop stack[i:]; leaving a table cell/caption clears the active
        formatting list to its marker (spec 'close the cell')."""
        dropped = self.stack[i:]
        del self.stack[i:]
        for el in dropped:
            t = el.tag
            if t == "p":
                self.n_open_p -= 1
            elif t in ("td", "th", "caption"):
                self._clear_afe_to_marker()
            elif t in ("svg", "math"):
                self.foreign -= 1

    def _close_upto(self, targets: tuple, stops: tuple) -> None:
        for i in range(len(self.stack) - 1, -1, -1):
            t = self.stack[i].tag
            if t in targets:
                self._pop_to(i)
                return
            if t in stops:
                return

    # -- active formatting elements -----------------------------------------
    def _clear_afe_to_marker(self) -> None:
        afe = self.afe
        while afe:
            if afe.pop() is _AFE_MARKER:
                return

    def _in_stack(self, el) -> bool:
        for n in self.stack:
            if n is el:
                return True
        return False

    def _push_formatting(self, el: Element) -> None:
        # Noah's Ark clause: at most 3 identical (tag, attrib) entries
        # since the last marker — bounds afe growth on wild HTML with
        # thousands of unclosed formatting tags.
        afe = self.afe
        count = 0
        for k in range(len(afe) - 1, -1, -1):
            e = afe[k]
            if e is _AFE_MARKER:
                break
            if e.tag == el.tag and _attrs_equal(e.el, el):
                count += 1
                if count == 3:
                    del afe[k]
                    break
        afe.append(_FmtEntry(el.tag, el))

    def _reconstruct(self) -> None:
        """Reconstruct active formatting elements: formatting tags left
        open when a block boundary popped them re-open at the current
        insertion point (HTML5 'reconstruct the active formatting
        elements')."""
        afe = self.afe
        if not afe or len(self.stack) >= 400:
            return
        last = afe[-1]
        if last is _AFE_MARKER or self._in_stack(last.el):
            return
        i = len(afe) - 1
        while i > 0:
            prev = afe[i - 1]
            if prev is _AFE_MARKER or self._in_stack(prev.el):
                break
            i -= 1
        for j in range(i, len(afe)):
            entry = afe[j]
            parent = self._current()
            el = Element(entry.tag, dict(entry.attrib) if entry.attrib else None)
            el.parent = parent
            parent.children.append(el)
            if len(self.stack) < 400:
                self.stack.append(el)
            entry.el = el

    def _any_other_end(self, tag: str) -> None:
        """HTML5 'any other end tag': walk up, close at a match, ignore
        the token if a special element is hit first."""
        for i in range(len(self.stack) - 1, -1, -1):
            t = self.stack[i].tag
            if t == tag:
                self._pop_to(i)
                return
            if t in _SPECIAL:
                return

    def _adoption(self, tag: str) -> None:
        """Adoption agency algorithm (single-pass form) for a formatting
        end tag. Matches browser trees for the canonical misnesting cases
        (<b>1<i>2</b>3</i>, <b>1<p>2</b>3</p>, re-opened <a>). Documented
        deviation from the spec's 8-iteration loop: after adopting across
        a furthest block the formatting entry is considered closed (the
        end tag was explicit) instead of re-entering the list."""
        afe, stack = self.afe, self.stack
        entry = None
        for e in reversed(afe):
            if e is _AFE_MARKER:
                break
            if e.tag == tag:
                entry = e
                break
        if entry is None:
            self._any_other_end(tag)
            return
        fe = entry.el
        fe_idx = -1
        for i in range(len(stack) - 1, -1, -1):
            if stack[i] is fe:
                fe_idx = i
                break
        if fe_idx < 0:
            afe.remove(entry)
            return
        fb_idx = -1
        for i in range(fe_idx + 1, len(stack)):
            if stack[i].tag in _SPECIAL:
                fb_idx = i
                break
        if fb_idx < 0:
            # No furthest block: plain pop through the formatting element;
            # formatting opened above it stays in afe for reconstruction.
            self._pop_to(fe_idx)
            afe.remove(entry)
            return
        fb = stack[fb_idx]
        common = stack[fe_idx - 1] if fe_idx > 0 else self.body
        # Wrap the furthest block's current children in a clone of the
        # formatting element ("2" stays bold) ...
        cl = Element(fe.tag, dict(fe.attrib) if fe.attrib else None)
        cl.text = fb.text
        fb.text = ""
        cl.children = fb.children
        for c in cl.children:
            c.parent = cl
        cl.parent = fb
        fb.children = [cl]
        # ... and reparent the furthest block out of the formatting element
        # to the common ancestor ("3" after </b> is not bold).
        if fb.parent is not common:
            if fb.parent is not None:
                if fb.tail:
                    _merge_text_before(fb, fb.tail)
                    fb.tail = ""
                fb.parent.children.remove(fb)
            fb.parent = common
            common.children.append(fb)
        afe.remove(entry)
        # Drop the formatting element and intermediates; the furthest
        # block (and anything inside it) stays open.
        for dropped in stack[fe_idx:fb_idx]:
            if dropped.tag in ("svg", "math"):
                self.foreign -= 1
        del stack[fe_idx:fb_idx]

    # -- foster parenting -----------------------------------------------------
    def _foster_target(self):
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].tag == "table":
                table = self.stack[i]
                parent = table.parent
                if parent is None:
                    parent = self.stack[i - 1] if i > 0 else self.body
                return parent, table
        return self.body, None

    def _foster_insert(self, el: Element) -> None:
        parent, table = self._foster_target()
        if table is not None:
            for idx, child in enumerate(parent.children):
                if child is table:
                    parent.children.insert(idx, el)
                    el.parent = parent
                    return
        el.parent = parent
        parent.children.append(el)

    def _foster_text(self, data: str) -> None:
        parent, table = self._foster_target()
        if table is not None:
            for idx, child in enumerate(parent.children):
                if child is table:
                    if idx > 0:
                        parent.children[idx - 1].tail += data
                    else:
                        parent.text += data
                    return
        append_text(parent, data)

    _AUTOCLOSE_MAP = {
        "tr": (("tr",), ("table",)),
        "td": (("td", "th"), ("table", "tr")),
        "th": (("td", "th"), ("table", "tr")),
        "li": (("li",), ("ul", "ol", "table")),
        "dd": (("dd", "dt"), ("dl", "table")),
        "dt": (("dd", "dt"), ("dl", "table")),
        "option": (("option",), ("select", "table")),
        "optgroup": (("optgroup",), ("select", "table")),
        "thead": (("thead", "tbody", "tfoot"), ("table",)),
        "tbody": (("thead", "tbody", "tfoot"), ("table",)),
        "tfoot": (("thead", "tbody", "tfoot"), ("table",)),
    }
    _P_STOPS = tuple(_SCOPE_BARRIERS)

    def _autoclose(self, tag: str) -> None:
        # n_open_p == 0 means the p-closer walk cannot pop anything —
        # skip the whole-stack scan (the common nested-div case).
        if self.n_open_p and tag in _P_CLOSERS:
            self._close_upto(("p",), self._P_STOPS)
        spec = self._AUTOCLOSE_MAP.get(tag)
        if spec is not None:
            self._close_upto(spec[0], spec[1])

    # -- HTMLParser callbacks ----------------------------------------------
    # Per-tag behaviour flags: one dict lookup replaces ~10 frozenset
    # membership tests per start tag (the hottest parse callback).
    def handle_starttag(self, tag: str, attrs) -> None:
        attrib: dict[str, str] | None = None
        if attrs:
            attrib = {}
            for k, v in attrs:
                if k not in attrib:
                    attrib[k] = v if v is not None else ""
        self._start_fast(tag, attrib)

    def _start_fast(self, tag: str, attrib: dict | None,
                    raw: str | None = None) -> None:
        # Fast-tokenizer entry: attrib is a ready dict (first
        # occurrence wins, None values already mapped to "") OR raw is
        # the unparsed attribute substring (lazy path — parsed only if
        # this element's attributes are ever read). Branch order is
        # perf-tuned for the dominant case (plain in-body tag, no
        # foreign content): one flags fetch, grouped mask tests, and
        # the cold blocks (toplevel/head-phase/foreign) behind single
        # guards — measured ~15% off builder cost vs the flat version.
        flags = _TAG_FLAGS.get(tag, 0)
        if flags & _F_TOPLEVEL:
            if raw is not None:
                attrib = _parse_simple_attrs(raw)
            if tag == "html":
                target = self.html
            elif tag == "head":
                target = self.head
            else:  # body
                self.in_body = True
                target = self.body
            for k, v in (attrib or {}).items():
                target.attrib.setdefault(k, v)
            return
        if not self.in_body:
            if flags & _F_HEADISH:
                el = Element.__new__(Element)
                el.tag = tag
                el._attrib = attrib if attrib is not None else _EMPTY_ATTRIB
                el._rawattrs = raw
                el._lraw = None
                el.text = ""
                el.tail = ""
                el.children = []
                el.parent = self.head
                t = _TRACK_ELEMENTS
                if t is not None:
                    t.append(el)
                self.head.children.append(el)
                if (flags & _F_RAWHEAD) or not (flags & _F_VOID):
                    self.stack.append(el)
                return
            self.in_body = True
        if self.foreign:
            if tag == "font" and raw is not None:
                attrib = _parse_simple_attrs(raw)
                raw = None
            if (
                tag in _FOREIGN_BREAKOUT
                or (tag == "font" and attrib is not None
                    and ("color" in attrib or "face" in attrib
                         or "size" in attrib))
            ) and self._in_pure_foreign():
                # breakout: close the whole foreign subtree, then
                # process the tag as ordinary HTML content
                for i, el in enumerate(self.stack):
                    if el.tag in ("svg", "math"):
                        self._pop_to(i)
                        break
        if flags & _START_MID_MASK:
            if flags & _F_A:
                # Spec: a new <a> with an <a> still in the formatting
                # list implies the old one's end tag (adoption agency),
                # then drops its entry.
                for e in reversed(self.afe):
                    if e is _AFE_MARKER:
                        break
                    if e.tag == "a":
                        self._adoption("a")
                        if e in self.afe:
                            self.afe.remove(e)
                        for i in range(len(self.stack) - 1, -1, -1):
                            if self.stack[i] is e.el:
                                del self.stack[i]
                                break
                        break
            elif flags & _F_TABLE:
                # A <table> start inside an open table (outside any
                # cell) implies </table> first.
                self._close_upto(("table",), ("td", "th", "caption"))
            if flags & _F_AUTOCLOSE:
                # _autoclose inlined (hot: every block-level start tag)
                if self.n_open_p and tag in _P_CLOSERS:
                    self._close_upto(("p",), self._P_STOPS)
                spec = self._AUTOCLOSE_MAP.get(tag)
                if spec is not None:
                    self._close_upto(spec[0], spec[1])
        stack = self.stack
        parent = stack[-1] if stack else self.body
        fostered = parent.tag in _TABLE_CONTEXT and not (flags & _F_TABLE_OK)
        if self.afe and not fostered and not (flags & _F_NO_RECONSTRUCT):
            self._reconstruct()
            parent = self._current()
        el = Element.__new__(Element)
        el.tag = tag
        el._attrib = attrib if attrib is not None else _EMPTY_ATTRIB
        el._rawattrs = raw
        el._lraw = None
        el.text = ""
        el.tail = ""
        el.children = []
        t = _TRACK_ELEMENTS
        if t is not None:
            t.append(el)
        if fostered:
            el.parent = None
            self._foster_insert(el)
        else:
            el.parent = parent
            parent.children.append(el)
        # Depth cap: pathological nesting (100 TB of wild HTML contains
        # everything) must not push recursion limits in later tree ops.
        if not (flags & _F_VOID) and len(stack) < 400:
            stack.append(el)
            if flags & _F_P:
                self.n_open_p += 1
            elif flags & _F_FOREIGN_ROOT:
                self.foreign += 1
        if flags & _START_TAIL_MASK:
            if flags & _F_FORMATTING:
                self._push_formatting(el)
            else:
                self.afe.append(_AFE_MARKER)

    def _in_pure_foreign(self) -> bool:
        """True when the current node is genuine foreign content (not
        under an HTML integration point like foreignObject/desc/title/
        annotation-xml)."""
        for el in reversed(self.stack):
            t = el.tag
            if t in _INTEGRATION_POINTS:
                return False
            if t in ("svg", "math"):
                return True
        return False

    def handle_startendtag(self, tag: str, attrs) -> None:
        attrib: dict | None = None
        if attrs:
            attrib = {}
            for k, v in attrs:
                if k not in attrib:
                    attrib[k] = v if v is not None else ""
        self._startend_fast(tag, attrib)

    def _startend_fast(self, tag: str, attrib: dict | None,
                       raw: str | None = None) -> None:
        # Foreign content honors the self-closing flag (<path/>, <svg/>
        # stay empty); in HTML content "/>" on a non-void element is
        # just a start tag.
        if tag in ("svg", "math") or (
            self.foreign and tag not in VOID_ELEMENTS
            and tag not in _FOREIGN_BREAKOUT and self._in_pure_foreign()
        ):
            if tag in ("svg", "math"):
                self.in_body = True
            parent = self._current()
            el = Element(tag, attrib)
            if raw is not None:
                el._rawattrs = raw
            el.parent = parent
            parent.children.append(el)
            return
        self._start_fast(tag, attrib, raw)

    def handle_endtag(self, tag: str) -> None:
        # Fast path: the overwhelmingly common well-nested case — the
        # open element is on top of the stack AND the tag has no
        # special end-tag rule beyond popping (codes 0/7; formatting
        # tags must run the adoption agency so their AFE entry is
        # removed, html/head/body/br/td/table have their own rules).
        code = _END_CODE.get(tag, 0)
        stack = self.stack
        if (code == 0 or code == 7) and stack and stack[-1].tag == tag:
            stack.pop()
            if tag == "p":
                self.n_open_p -= 1
            elif tag in ("svg", "math"):
                self.foreign -= 1
            return
        if code:
            if code == 1:  # html / head
                return
            if code == 2:  # body
                self.stack.clear()
                self.n_open_p = 0
                self.foreign = 0
                self.in_body = True
                return
            if code == 3:  # </br> acts as a <br> start tag (spec)
                self.handle_starttag("br", [])
                return
            if code == 4:  # formatting → adoption agency
                self._adoption(tag)
                return
            if code == 5:  # td / th / caption
                self._close_upto((tag,), ("table",))
                return
            if code == 6:  # table
                self._close_upto(("table",), ())
                return
            stops = _SCOPE_BARRIERS  # code == 7: block end tags
        else:
            stops = _SPECIAL
        for i in range(len(self.stack) - 1, -1, -1):
            t = self.stack[i].tag
            if t == tag:
                self._pop_to(i)
                return
            if t in stops:
                return
        # ignore unmatched end tag

    def handle_data(self, data: str) -> None:
        stack = self.stack
        if not self.in_body and not stack:
            if data.strip() == "":
                return
            self.in_body = True
        cur = stack[-1] if stack else (self.body if self.in_body else self.head)
        if cur.tag in _TABLE_CONTEXT:
            # Foster-parent non-whitespace text out of table structure;
            # whitespace between rows/sections stays put.
            if data.strip() == "":
                append_text(cur, data)
            else:
                self._foster_text(data)
            return
        if self.in_body and self.afe:
            self._reconstruct()
            append_text(self._current(), data)
            return
        # common path: append_text(cur, data), inlined because it runs
        # once per text node of every parse
        if cur.children:
            cur.children[-1].tail += data
        else:
            cur.text += data

    def handle_comment(self, data: str) -> None:
        parent = self._current()
        el = Element(COMMENT)
        el.text = data
        el.parent = parent
        parent.children.append(el)

    def handle_decl(self, decl: str) -> None:  # doctype — ignore
        pass

    def handle_pi(self, data: str) -> None:  # processing instruction — ignore
        pass

    def unknown_decl(self, data: str) -> None:
        pass


# ---------------------------------------------------------------------------
# Fast tokenizer: a markup scanner with html.parser-compatible callbacks.
# ~2-3× faster than HTMLParser's goahead loop on large pages; tree
# equality with the HTMLParser path is asserted over the fixture corpus,
# the reference's 960 comparison pages and property tests
# (tests/test_fast_tokenizer.py).
# ---------------------------------------------------------------------------

# html.parser's tolerant tag-name charset (tagfind_tolerant): anything
# until whitespace, "/", ">" — names like "div!--" DO occur in the wild
# and the stdlib keeps them, so equality requires the same behavior.
_RX_TAGNAME = re.compile(r"[a-zA-Z][^\t\n\r\f />\x00]*")
# Strict end-tag form (stdlib endtagfind) — the tolerant path only
# applies when this fails.
_RX_ENDTAG_STRICT = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
# Mirrors html.parser's attrfind_tolerant: the name may start with any
# non-space/slash/gt char (wild pages carry names like '="x"'), "=+"
# runs are consumed, quoted values must close.
_RX_ATTR = re.compile(
    r"""\s*([^\s/>][^\s/=>]*)(\s*=+\s*('[^']*'|"[^"]*"|(?!['"])[^>\s]*))?"""
)
# Fast path for the overwhelmingly common start-tag shape: plain name,
# well-formed attributes (quoted, or unquoted from a conservative
# charset), single "=", ">" or "/>" close. Anything unusual (=+ runs,
# junk attr names, stray quotes/slashes) falls back to the tolerant
# per-attribute loop, which defines the semantics.
_RX_SIMPLE_STARTTAG = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9-]*)"
    r"((?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[a-zA-Z0-9_%.,:;#+\-]+))?)*)"
    r"\s*(/?)>"
)
_RX_SIMPLE_ATTR = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[a-zA-Z0-9_%.,:;#+\-]+))?"
)


def _parse_simple_attrs(raw: str) -> dict:
    """Materialize the attribute dict from a raw simple-start-tag
    attribute substring (Element lazy-attrib path). Semantics identical
    to the former inline loop: lowercase names, first occurrence wins,
    valueless → "", quotes stripped, entities decoded."""
    attrib: dict = {}
    for name, rawval in _RX_SIMPLE_ATTR.findall(raw):
        name = name.lower()
        if name in attrib:
            continue
        if rawval == "":
            attrib[name] = ""
            continue
        if rawval[:1] in ("'", '"'):
            rawval = rawval[1:-1]
        attrib[name] = _unescape(rawval) if "&" in rawval else rawval
    return attrib
# cdata mode ends ONLY at a full close tag (stdlib set_cdata_mode):
# "</script foo>" does NOT end a script element.
_RX_RAWTEXT_END = {
    t: re.compile(r"</\s*%s\s*>" % t, re.I) for t in ("script", "style")
}
_RX_COMMENT_CLOSE = re.compile(r"--\s*>")          # _markupbase._commentclose
# _markupbase: standard sections (cdata/temp/...) close at "]]>", the
# MS-Office conditionals (if/else/endif) at "]>"
_RX_SECT_CLOSE = re.compile(r"\]\s*\]\s*>")
_RX_MS_SECT_CLOSE = re.compile(r"\]\s*>")
_RX_SECT_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*")
_STD_SECTS = frozenset(("temp", "cdata", "ignore", "include", "rcdata"))
_MS_SECTS = frozenset(("if", "else", "endif"))


# The master-regex scan loop: one C-level finditer drives the three hot
# constructs (simple start tag, strict end tag, complete comment); the
# text between matches is data. Cold constructs (tolerant tags, bogus
# comments, doctype, marked sections, PIs, EOF-truncated anything) fall
# back to _feed_one, which processes exactly one construct and returns
# the resume position — the iterator restarts there (restarts also
# follow every script/style rawtext skip). Byte-equality with the
# per-construct loop is pinned by test_fast_tokenizer over the
# reference's 960 pages plus differential fuzz.
_RX_MASTER = re.compile(
    r"<(?:"
    # simple start tag (identical to _RX_SIMPLE_STARTTAG sans "<")
    r"([a-zA-Z][a-zA-Z0-9-]*)"
    r"((?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[a-zA-Z0-9_%.,:;#+\-]+))?)*)"
    r"\s*(/?)>"
    # strict end tag (identical to _RX_ENDTAG_STRICT sans "<")
    r"|/\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    # complete comment (close regex mirrors _RX_COMMENT_CLOSE)
    r"|!--(.*?)--\s*>"
    # anything else construct-shaped: zero-width marker -> _feed_one
    r"|(?=[!?/a-zA-Z])"
    r")", re.S)


def _feed_one(text: str, lt: int, builder: "_TreeBuilder") -> int:
    """Process ONE construct at text[lt] == '<' that the master regex
    could not match whole (tolerant end/start tags, bogus comments,
    doctype, marked sections, PIs, EOF-truncated constructs). Returns
    the next scan position; n both for clean end-of-input and for the
    stdlib's raise-on-malformed-marked-section, where the feed stops
    with the partial tree (parse_html keeps it either way)."""
    n = len(text)
    handle_data = builder.handle_data
    handle_comment = builder.handle_comment
    find = text.find

    def incomplete() -> int:
        # stdlib goahead EOF fallback for an unterminated construct:
        # emit data through the first '>', else to the next '<', else
        # one char.
        k = find(">", lt + 1)
        if k < 0:
            k = find("<", lt + 1)
            if k < 0:
                k = lt + 1
        else:
            k += 1
        chunk = text[lt:k]
        handle_data(_unescape(chunk) if "&" in chunk else chunk)
        return k

    c = text[lt + 1:lt + 2]
    if c == "/":
        # the strict form already failed in the master regex
        gt_any = find(">", lt + 1)
        if gt_any < 0:
            return incomplete()
        m = _RX_TAGNAME.match(text, lt + 2)
        if m is None:
            if text[lt:lt + 3] == "</>":
                return lt + 3
            # "</" + junk -> bogus comment (stdlib parse_bogus_comment)
            handle_comment(text[lt + 2:gt_any])
            return gt_any + 1
        tag = m.group(0).lower()
        gt = find(">", m.end())
        builder.handle_endtag(tag)
        return (gt + 1) if gt >= 0 else n
    if c == "!":
        if text[lt + 2:lt + 4] == "--":
            # only EOF-incomplete comments reach here (master matched
            # every closed one)
            endm = _RX_COMMENT_CLOSE.search(text, lt + 4)
            if endm is None:
                return incomplete()
            handle_comment(text[lt + 4:endm.start()])
            return endm.end()
        if text[lt + 2:lt + 3] == "[":
            # marked section (stdlib parse_marked_section): standard
            # sections close at "]]>", MS conditionals at "]>".
            # A section head cut off by EOF ("<![", "<![CDATA") is
            # *incomplete* — the stdlib flushes it as literal data at
            # close(). A head whose next char is definitively not a
            # name char ("<![/junk>", "<![ if ...") makes the stdlib
            # RAISE, so parse_html keeps the partial tree — the fast
            # path must abort the feed there too, not keep parsing.
            secm = _RX_SECT_NAME.match(text, lt + 3)
            if secm is None:
                if lt + 3 >= n:
                    return incomplete()
                return n  # abort: stdlib raises
            if secm.end() >= n:
                return incomplete()
            sect = secm.group(0).lower()
            if sect in _MS_SECTS:
                endm = _RX_MS_SECT_CLOSE.search(text, lt + 3)
            elif sect in _STD_SECTS:
                endm = _RX_SECT_CLOSE.search(text, lt + 3)
            else:
                return n  # abort: stdlib raises
            if endm is None:
                return incomplete()
            return endm.end()
        gt = find(">", lt + 2)
        if gt < 0:
            return incomplete()
        body = text[lt + 2:gt]
        if body[:7].lower() != "doctype":
            # bogus comment: handle_comment for any "<!...>" that is
            # not a doctype/marked section (stdlib)
            handle_comment(body)
        return gt + 1
    if c == "?":
        gt = find(">", lt + 2)
        if gt < 0:
            return incomplete()
        return gt + 1
    # tolerant start tag (the simple form already failed in the master
    # regex; the lookahead guarantees a letter follows)
    m = _RX_TAGNAME.match(text, lt + 1)
    tag = m.group(0).lower()
    # attributes until ">" (respecting quotes)
    j = m.end()
    attrib2: dict | None = None
    selfclose = False
    while j < n:
        ch = text[j]
        if ch == ">":
            break
        if ch == "/" and text[j + 1:j + 2] == ">":
            selfclose = True
            j += 1
            break
        am = _RX_ATTR.match(text, j)
        if am is None or am.end() == j:
            j += 1
            continue
        name = am.group(1).lower()
        rawval = am.group(3)
        if rawval is None:
            val = ""
        else:
            if rawval[:1] in ("'", '"'):
                rawval = rawval[1:-1]
            val = _unescape(rawval) if "&" in rawval else rawval
        if attrib2 is None:
            attrib2 = {name: val}
        elif name not in attrib2:
            attrib2[name] = val
        j = am.end()
    gt = find(">", j)
    if gt < 0:
        return incomplete()
    if selfclose and gt == j:
        # "<script/>" is a startend tag in stdlib: no cdata mode
        builder._startend_fast(tag, attrib2)
        return gt + 1
    builder._start_fast(tag, attrib2)
    i = gt + 1
    if tag in ("script", "style"):
        # rawtext: no entity decoding; ends only at a full close tag;
        # unterminated rawtext at EOF is dropped (stdlib cdata mode)
        endm = _RX_RAWTEXT_END[tag].search(text, i)
        if endm is None:
            return n
        if endm.start() > i:
            builder.handle_data(text[i:endm.start()])
        builder.handle_endtag(tag)
        return endm.end()
    return i


def _fast_feed(text: str, builder: "_TreeBuilder") -> None:
    n = len(text)
    pos = 0
    handle_data = builder.handle_data
    handle_start = builder._start_fast
    handle_end = builder.handle_endtag
    handle_comment = builder.handle_comment

    def emit_gap(chunk: str) -> None:
        # Reproduce the per-construct loop's data chunking exactly:
        # each bare "<" was emitted as its own one-char data call (the
        # builder's foster-parenting and pre-body whitespace decisions
        # are per-call, so merging chunks could move bytes).
        if "<" not in chunk:
            handle_data(_unescape(chunk) if "&" in chunk else chunk)
            return
        start = 0
        while True:
            p = chunk.find("<", start)
            if p < 0:
                rest = chunk[start:]
                if rest:
                    handle_data(_unescape(rest) if "&" in rest else rest)
                return
            if p > start:
                piece = chunk[start:p]
                handle_data(_unescape(piece) if "&" in piece else piece)
            handle_data("<")
            start = p + 1

    while pos < n:
        resume = -1
        for m in _RX_MASTER.finditer(text, pos):
            start = m.start()
            if start > pos:
                chunk = text[pos:start]
                if "<" not in chunk:
                    handle_data(_unescape(chunk) if "&" in chunk else chunk)
                else:
                    emit_gap(chunk)
            g = m.lastindex
            if g == 3:  # simple start tag
                # one C call for all three groups (vs three .group()s)
                tag, rawattrs, close = m.group(1, 2, 3)
                tag = tag.lower()
                rawattrs = rawattrs or None
                if close:
                    builder._startend_fast(tag, None, rawattrs)
                    pos = m.end()
                    continue
                handle_start(tag, None, rawattrs)
                pos = m.end()
                if tag in ("script", "style"):
                    endm = _RX_RAWTEXT_END[tag].search(text, pos)
                    if endm is None:
                        return  # unterminated rawtext at EOF: dropped
                    if endm.start() > pos:
                        handle_data(text[pos:endm.start()])
                    handle_end(tag)
                    resume = endm.end()
                    break  # restart the iterator past the rawtext
                continue
            if g == 4:  # strict end tag
                handle_end(m.group(4).lower())
                pos = m.end()
                continue
            if g == 5:  # complete comment
                handle_comment(m.group(5))
                pos = m.end()
                continue
            # zero-width marker: one cold construct, then restart
            resume = _feed_one(text, start, builder)
            break
        else:
            if pos < n:
                emit_gap(text[pos:])
            return
        if resume < 0:
            return
        pos = resume


def _parse(data: bytes | str, feed) -> Element:
    if isinstance(data, (bytes, bytearray)):
        text = _decode_html_bytes(bytes(data))
    else:
        text = data
    builder = _TreeBuilder()
    feed(text, builder)
    return builder.root


def _stdlib_feed(text: str, builder: "_TreeBuilder") -> None:
    try:
        builder.feed(text)
        builder.close()
    except AssertionError:
        # _markupbase rejects a malformed declaration: keep the tree
        # built so far (_fast_feed stops at the same point)
        pass


def parse_html(data: bytes | str) -> Element:
    """Parse an HTML document → #document root containing html>head+body.

    Equivalent entry point to dom.Parse (go-trafilatura core.go:73).
    """
    return _parse(data, _fast_feed)


def parse_html_stdlib(data: bytes | str) -> Element:
    """HTMLParser-tokenized parse (the reference path for the fast
    tokenizer's equality tests)."""
    return _parse(data, _stdlib_feed)


def _decode_html_bytes(raw: bytes) -> str:
    """Best-effort charset sniffing: BOM > meta charset > utf-8 > latin-1."""
    if raw.startswith(b"\xef\xbb\xbf"):
        return raw[3:].decode("utf-8", "replace")
    if raw.startswith(b"\xff\xfe"):
        return raw.decode("utf-16-le", "replace")
    if raw.startswith(b"\xfe\xff"):
        return raw.decode("utf-16-be", "replace")
    head = raw[:2048].lower()
    enc = None
    idx = head.find(b"charset=")
    if idx >= 0:
        val = head[idx + 8 : idx + 40].strip(b'"\' ')
        end = min(
            (val.find(c) for c in (b'"', b"'", b" ", b"/", b">") if val.find(c) >= 0),
            default=len(val),
        )
        enc = val[:end].decode("ascii", "ignore") or None
    for candidate in (enc, "utf-8", "latin-1"):
        if not candidate:
            continue
        try:
            return raw.decode(candidate)
        except (LookupError, UnicodeDecodeError):
            continue
    return raw.decode("utf-8", "replace")


def body_of(root: Element) -> Element | None:
    """Find the <body> element under a document root."""
    if root.tag == "body":
        return root
    found = get_elements_by_tag(root, "body")
    return found[0] if found else None


def from_string(html_str: str) -> Element | None:
    """etree.FromString — parse a fragment, return the first body child.
    Reference: internal/etree/etree.go:131-139."""
    root = parse_html(html_str)
    body = body_of(root)
    if body is None:
        return None
    kids = children_of(body)
    return clone(kids[0], True) if kids else None
