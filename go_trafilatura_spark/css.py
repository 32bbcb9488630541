"""Minimal CSS selector parser over the etree model: ``parse_group``
turns a selector group into a ``selectors.Rule`` that
``selectors.query``, ``query_all`` and ``query_iter`` run.

Supports the selector subset the extraction cascade needs (the reference
uses cascadia for the same subset, e.g. /root/reference/baseline.go:13-20,
/root/reference/html-processing.go:489,544):

- selector groups: ``a, b``
- descendant combinator: ``div a``
- compound simple selectors: ``tag``, ``*``, ``#id``, ``.class``,
  ``[attr]``, ``[attr=v]``, ``[attr^=v]``, ``[attr$=v]``, ``[attr*=v]``,
  ``[attr~=v]`` with optional quotes around v.

Matching is done over element attributes; class matching uses the
whitespace-separated class list for ``.class`` and substring semantics
for ``[class*=...]`` (same as real CSS).
"""

from __future__ import annotations

import functools
import re

from .etree import Element
from .selectors import Rule

_TOKEN = re.compile(
    r"""
    (?P<tag>[a-zA-Z][a-zA-Z0-9-]*|\*)
    | \#(?P<id>[\w-]+)
    | \.(?P<class>[\w-]+)
    | \[(?P<attr>[\w-]+)(?:(?P<op>[\^\$\*~|]?=)(?P<q>["']?)(?P<val>[^\]"']*)(?P=q))?\]
    """,
    re.VERBOSE,
)


class SimpleSelector:
    __slots__ = ("tag", "conds")

    def __init__(self) -> None:
        self.tag: str | None = None
        self.conds: list[tuple[str, str, str]] = []  # (attr, op, value)

    def matches(self, el: Element) -> bool:
        if self.tag is not None and self.tag != "*" and el.tag != self.tag:
            return False
        if not self.conds:
            return True
        for attr, op, val in self.conds:
            actual = el.attrib.get(attr)
            if actual is None:
                return False
            if op == "":
                continue
            if op == "=":
                if actual != val:
                    return False
            elif op == "^=":
                if not actual.startswith(val):
                    return False
            elif op == "$=":
                if not actual.endswith(val):
                    return False
            elif op == "*=":
                if val not in actual:
                    return False
            elif op == "~=":
                if val not in actual.split():
                    return False
            else:
                return False
        return True


class CompoundSelector:
    """A chain of simple selectors joined by descendant combinators.
    The last/ancestor split is precomputed — matches() runs millions of
    times per batch and a per-call slice allocation dominates it."""

    __slots__ = ("_last", "_ancestors")

    def __init__(self, parts: list[SimpleSelector]):
        self._last = parts[-1]
        self._ancestors = parts[:-1]

    def matches(self, el: Element) -> bool:
        if not self._last.matches(el):
            return False
        remaining = self._ancestors
        idx = len(remaining) - 1
        node = el.parent
        while idx >= 0 and node is not None:
            if remaining[idx].matches(node):
                idx -= 1
            node = node.parent
        return idx < 0


def _parse_simple(token: str) -> SimpleSelector:
    sel = SimpleSelector()
    pos = 0
    while pos < len(token):
        m = _TOKEN.match(token, pos)
        if m is None:
            raise ValueError(f"bad selector: {token!r}")
        if m.group("tag"):
            sel.tag = m.group("tag").lower()
        elif m.group("id"):
            sel.conds.append(("id", "=", m.group("id")))
        elif m.group("class"):
            sel.conds.append(("class", "~=", m.group("class")))
        elif m.group("attr"):
            op = m.group("op") or ""
            val = m.group("val") or ""
            sel.conds.append((m.group("attr").lower(), op, val))
        pos = m.end()
    return sel


def _split_outside_brackets(s: str, sep_ws: bool) -> list[str]:
    """Split on commas (sep_ws=False) or whitespace (sep_ws=True), but
    never inside [...] or quotes."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    quote = ""
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = ""
            continue
        if ch in "\"'":
            quote = ch
            buf.append(ch)
            continue
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
        if depth == 0 and ((sep_ws and ch.isspace()) or (not sep_ws and ch == ",")):
            if buf:
                parts.append("".join(buf))
                buf = []
            continue
        buf.append(ch)
    if buf:
        parts.append("".join(buf))
    return parts


@functools.lru_cache(maxsize=256)
def parse_group(selector: str) -> Rule:
    """A selector group as a ``selectors.Rule`` named by the group: it
    matches an element that any of the group's compound selectors
    matches (cascadia group match). Its ``tags`` is the set of final
    tags when every compound names one and None otherwise. An
    unparsable selector raises ValueError."""
    sels = []
    for part in _split_outside_brackets(selector, sep_ws=False):
        part = part.strip()
        if part:
            sels.append(CompoundSelector(
                [_parse_simple(tok) for tok in _split_outside_brackets(part, sep_ws=True)]))
    matchers = tuple(s.matches for s in sels)

    def match(el: Element) -> bool:
        for matches in matchers:
            if matches(el):
                return True
        return False

    final = {s._last.tag for s in sels}
    return Rule(selector, match, None if None in final or "*" in final else frozenset(final))
