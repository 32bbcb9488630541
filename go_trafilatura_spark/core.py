"""Top-level extraction cascade: HTML bytes → (content, comments, metadata).

Transcribed semantics from /root/reference/core.go:71-219. This is the
pure per-document function executed for each row inside the Spark
kernel; it never touches Spark itself.

The cascade runs in two parts. ``_extract`` computes everything the
page decides without reading the url the page was fetched from; the
pure ``bind_url`` then derives the url-dependent metadata and applies
the gates that read it. Both entry points run both, so there is one
path; the kernel reuses one url-free result for every copy of a page.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from . import css, etree, selectors
from .baseline import baseline
from .etree import Element
from .htmlprocessing import (
    convert_tags,
    doc_cleaning,
    post_cleaning,
    prune_unwanted_nodes,
)
from .lru import LRUCache
from .main_extractor import extract_comments, extract_content
from .metadata import Metadata, UrlTail, bind_metadata, extract_metadata, page_url
from .options import FAVOR_PRECISION, Options
from .settings import FORMAT_TAG_CATALOG
from .utils import check_html_language, duplicate_test, language_classifier


class ExtractError(Exception):
    """Document rejected by one of the gates (core.go's error returns)."""

    def __init__(self, reason: str, detail: str = ""):
        super().__init__(f"{reason}: {detail}" if detail else reason)
        self.reason = reason


@dataclass
class ExtractResult:
    content_node: Element | None
    comments_node: Element | None
    content_text: str
    comments_text: str
    metadata: Metadata
    # The inputs of the url-dependent metadata (``bind_url``)
    tail: UrlTail
    # A reject of the content phase, raised by ``bind_url`` after the
    # url gates it ranks below
    error: ExtractError | None = None


def extract(html_input: bytes | str, options: Options | None = None) -> ExtractResult:
    """Extract — parse + run the document cascade (core.go:71-79) for
    a page fetched from ``options.original_url``."""
    options = options or Options()
    return bind_url(_extract(lambda: etree.parse_html(html_input), options),
                    options.original_url, options)


def extract_document(doc: Element, options: Options) -> ExtractResult:
    """ExtractDocument (core.go:82-219) on a clone of ``doc``; the
    caller's tree is left unchanged."""
    return bind_url(_extract(lambda: etree.clone(doc, True), options),
                    options.original_url, options)


def bind_url(result: ExtractResult, url: str | None, options: Options) -> ExtractResult:
    """The url tail of the cascade: ``result`` (from ``_extract``) with
    its url-dependent metadata derived for a page fetched from ``url``,
    then the gates that read it. Gates raise in the reference's order:
    missing_title (raised by ``_extract``), missing_url, missing_date,
    then the content phase's reject. Pure, so one result binds to any
    number of urls."""
    metadata = bind_metadata(result.metadata, result.tail, url, options)
    if options.has_essential_metadata:
        if metadata.url == "":
            raise ExtractError("missing_url")
        if metadata.date == "":
            raise ExtractError("missing_date")
    if result.error is not None:
        raise result.error
    return replace(result, metadata=metadata)


def _prune_selected(doc: Element, options: Options) -> Element:
    """Remove the nodes matching the user's prune selector from ``doc``
    (an unparsable selector prunes nothing)."""
    if options.prune_selector:
        try:
            rule = css.parse_group(options.prune_selector)
        except ValueError:
            return doc
        prune_unwanted_nodes(doc, [rule])
    return doc


def _extract(fresh, options: Options) -> ExtractResult:
    """The url-free document cascade. ``fresh`` is a zero-arg callable
    returning a new tree of the input on every call, which the cascade
    owns: the working tree and, only when the baseline rescue fires, the
    rescue tree (the reference's docBackup2, core.go:135). Re-building
    that tree for the few pages that need it beats cloning every page.

    Nothing here reads ``options.original_url`` except link
    absolutization under ``include_links``. A gate of the content phase
    returns its reject in ``error`` instead of raising it: ``bind_url``
    ranks the url gates above it."""
    doc = fresh()

    # Language gate (non-strict)
    if options.target_language and not check_html_language(doc, options, False):
        raise ExtractError("language_mismatch", options.target_language)

    # Metadata (on the uncleaned tree)
    metadata, tail = extract_metadata(doc, options)

    if options.has_essential_metadata and metadata.title == "":
        raise ExtractError("missing_title")

    # Backfill the original URL from the page's own into a copy: the
    # caller's Options may serve further pages (go-trafilatura passes it
    # by value)
    if options.original_url is None:
        own = page_url(tail.url, None)
        if own != "":
            options = replace(options, original_url=own)

    try:
        post_body, comments_body, tmp_body_text, tmp_comments, lang = _extract_content(
            doc, fresh, options)
    except ExtractError as e:
        return ExtractResult(None, None, "", "", metadata, tail, e)

    if lang != "":
        metadata.language = lang

    return ExtractResult(
        content_node=post_body,
        comments_node=comments_body,
        content_text=tmp_body_text,
        comments_text=tmp_comments,
        metadata=metadata,
        tail=tail,
    )


def _extract_content(doc: Element, fresh, options: Options) -> tuple:
    """The content phase of ``_extract`` on the metadata-extracted
    ``doc``: (content, comments, content text, comments text, language)."""
    cache = LRUCache(options.config.cache_size)
    _prune_selected(doc, options)

    # The fallback's backup clone (core.go:134) is taken only when the
    # fallback runs
    doc_backup1 = etree.clone(doc, True) if options.enable_fallback else None

    # Clean and convert
    doc_cleaning(doc, options)
    convert_tags(doc, options)

    if options.exclude_comments and options.focus == FAVOR_PRECISION:
        prune_unwanted_nodes(doc, selectors.REMOVED_COMMENTS)
    # One TagIndex serves both comment and content rule cascades:
    # extract_comments never mutates doc (prune works on a clone).
    index = selectors.TagIndex(doc)

    # Comments
    tmp_comments = ""
    len_comments = 0
    comments_body: Element | None = None
    if not options.exclude_comments:
        comments_body, tmp_comments = extract_comments(doc, cache, options, index)
        len_comments = len(tmp_comments)

    # Content
    post_body, tmp_body_text = extract_content(doc, cache, options, index)

    # Fallback comparison (external.go:50-101)
    if options.enable_fallback:
        from .external import compare_external_extraction

        post_body, tmp_body_text = compare_external_extraction(
            doc_backup1, post_body, tmp_body_text, options
        )

    # Baseline rescue, on a fresh tree pruned like the working one
    len_text = len(tmp_body_text)
    if len_text < options.config.min_extracted_size and options.focus != FAVOR_PRECISION:
        post_body, tmp_body_text = baseline(_prune_selected(fresh(), options))

    # Tree size sanity check
    if options.max_tree_size > 0:
        if len(etree.children_of(post_body)) > options.max_tree_size:
            for tag in FORMAT_TAG_CATALOG:
                etree.strip_tags(post_body, tag)
            n_children = len(etree.children_of(post_body))
            if n_children > options.max_tree_size:
                raise ExtractError("tree_too_big", str(n_children))

    # Size gates
    len_text = len(tmp_body_text)
    if (
        len_text < options.config.min_output_size
        and len_comments < options.config.min_output_comment_size
    ):
        raise ExtractError("too_short", f"{len_text} {len_comments}")

    # Body-level duplicate gate
    if options.deduplicate and duplicate_test(post_body, cache, options):
        raise ExtractError("duplicate")

    # Language sanity (core.go:196-201: any classifier answer that is
    # not the target rejects — the round-2 stopword classifier only
    # gated on a positive detection; the trigram detector restores the
    # reference's exact condition)
    lang = language_classifier(tmp_body_text, tmp_comments)
    if options.target_language and lang != options.target_language:
        raise ExtractError("wrong_language", f"want {options.target_language} got {lang}")

    # Post cleaning
    post_cleaning(post_body)
    post_cleaning(comments_body)

    return post_body, comments_body, tmp_body_text, tmp_comments, lang
