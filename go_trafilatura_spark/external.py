"""Fallback candidate arbitration (transcribed from
/root/reference/external.go:38-242).

Candidate order mirrors the reference (external.go:103-161): user
candidates (``options.fallback_candidates``, the Others slot) → the
faithful readability port (readability.py, the go-readability slot) →
the boilerpipe-style block classifier below (the go-domdistiller slot,
consulted only while extraction stays under MinExtractedSize).
Arbitration (candidate_is_usable) and sanitize_tree are byte-parity
transcriptions.
"""

from __future__ import annotations

from . import etree, selectors
from .etree import Element
from .htmlprocessing import doc_cleaning, prune_unwanted_nodes
from .options import FAVOR_PRECISION, FAVOR_RECALL
from .settings import VALID_TAG_CATALOG
from .utils import trim

TAGS_TO_SANITIZE = frozenset(
    (
        "aside audio button fieldset figure footer iframe "
        "input label link nav noindex noscript "
        "object option select source svg time"
    ).split()
)


def compare_external_extraction(
    original_doc: Element, extracted_doc: Element, options
) -> tuple[Element, str]:
    """external.go:50-101."""
    extracted_text = trim(etree.iter_text(extracted_doc, " "))
    len_extracted = len(extracted_text)
    if options.focus == FAVOR_RECALL and len_extracted > options.config.min_extracted_size * 10:
        return extracted_doc, extracted_text

    # The defensive clone is only needed when precision pruning will
    # mutate it: readability_parse clones the body itself and
    # distill() is read-only, so in balanced/recall focus the original
    # tree can be handed over as-is (external.go:66 clones always —
    # identical candidates either way, one full-tree copy saved).
    if options.focus == FAVOR_PRECISION:
        cleaned_doc = prune_unwanted_nodes(
            etree.clone(original_doc, True), selectors.OVERALL_DISCARDED_CONTENT)
    else:
        cleaned_doc = original_doc

    for candidate_doc in _candidates(cleaned_doc, options):
        if candidate_doc is None:
            continue
        candidate_text = trim(etree.iter_text(candidate_doc, " "))
        len_candidate = len(candidate_text)

        if candidate_is_usable(candidate_doc, extracted_doc, len_candidate, len_extracted, options):
            extracted_doc, len_extracted = candidate_doc, len_candidate

        if len_extracted >= options.config.min_extracted_size:
            break

    sanitize_tree(extracted_doc, options)
    extracted_text = trim(etree.iter_text(extracted_doc, " "))
    return extracted_doc, extracted_text


def _candidates(cleaned_doc: Element, options):
    """external.go:103-161 — user candidates (Others) first, then the
    readability slot, then the distiller slot; a pre-computed
    Readability/Distiller candidate replaces the built-in extractor in
    its slot (external.go:129-137/:143-148)."""
    from .readability import readability_parse

    if options.fallback_candidates:
        for candidate in options.fallback_candidates:
            if candidate is not None:
                yield candidate
    if options.fallback_readability is not None:
        yield options.fallback_readability
    else:
        yield readability_parse(cleaned_doc, exclude_tables=options.exclude_tables)
    if options.fallback_distiller is not None:
        yield options.fallback_distiller
        return
    # Built-in distiller slot (external.go:141-158) — consulted only
    # while the extraction is still below MinExtractedSize.
    yield distiller_candidate(cleaned_doc)


def candidate_is_usable(
    candidate_doc: Element, extracted_doc: Element,
    len_candidate: int, len_extracted: int, options,
) -> bool:
    """external.go:164-202."""
    if len_candidate == 0 or len_candidate == len_extracted:
        usable = False
    elif len_extracted == 0 and len_candidate > 0:
        usable = True
    elif len_extracted > 2 * len_candidate:
        usable = False
    elif len_candidate > 2 * len_extracted:
        usable = True
    else:
        heads = etree.get_elements_by_tag(extracted_doc, "head")
        tables = etree.get_elements_by_tag(extracted_doc, "table")
        paragraphs = etree.get_elements_by_tag(extracted_doc, "p")
        headings = [
            el for tag in ("h2", "h3", "h4")
            for el in etree.get_elements_by_tag(candidate_doc, tag)
        ]

        p_text_length = sum(len(trim(etree.iter_text(p, " "))) for p in paragraphs)

        if p_text_length == 0 and len_candidate > options.config.min_extracted_size * 2:
            usable = True
        elif len(tables) > len(paragraphs) and len_candidate > options.config.min_extracted_size * 2:
            usable = True
        elif (
            options.focus == FAVOR_RECALL and not heads and headings
            and len_candidate > len_extracted
        ):
            usable = True
        else:
            usable = False

    must_favor_recall = (
        len_extracted < options.config.min_extracted_size and options.focus == FAVOR_RECALL
    )
    return usable or must_favor_recall


def sanitize_tree(tree: Element, options) -> None:
    """external.go:206-242."""
    doc_cleaning(tree, options)

    for el in reversed(etree.get_elements_by_tag(tree, "*")):
        if el.tag in TAGS_TO_SANITIZE:
            etree.remove(el)

    if not options.include_links:
        etree.strip_tags(tree, "a")
    etree.strip_tags(tree, "span")

    sanitization_list = []
    seen = set()
    for node in etree.get_elements_by_tag(tree, "*"):
        tag = node.tag
        if tag in seen:
            continue
        seen.add(tag)
        if tag not in VALID_TAG_CATALOG:
            sanitization_list.append(tag)
    if sanitization_list:
        etree.strip_tags(tree, *sanitization_list)


# ---------------------------------------------------------------------------
# Second candidate slot: DOM-Distiller article pipeline
# (the reference's distiller position, external.go:141-158)
# ---------------------------------------------------------------------------


def distiller_candidate(doc: Element) -> Element | None:
    """go-domdistiller slot (external.go:150-156): the full
    boilerpipe/dom-distiller article filter cascade in distiller.py.
    The reference clones before distiller.Apply because the Go
    distiller mutates its input; distill() is read-only (it clones the
    kept nodes into a fresh tree), so no defensive copy is needed."""
    from .distiller import distill

    return distill(doc)
