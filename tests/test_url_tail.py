"""The url tail and the kernel's page memo, in process (no Spark).

The cascade (``core._extract``) reads nothing of the url a page was
fetched from; ``core.bind_url`` derives the url-dependent columns. The
kernel runs the cascade once per run of equal pages and only the tail
for the later copies. These tests hold the kernel, memo and all, to
``core.extract`` run for each row's own url.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from go_trafilatura_spark import core, etree
from go_trafilatura_spark.fixtures import ensure_fixtures
from go_trafilatura_spark.kernel import (
    OUTPUT_COLUMNS,
    KernelOptions,
    compute_spans,
    make_arrow_kernel,
)

COMPUTED = [c for c in OUTPUT_COLUMNS if c not in ("url", "warc_ts", "lang")]

_BODY = "".join(f"<p>Paragraph {i} of a page that is long enough to be kept by every "
                "gate of the cascade, with some more words in it.</p>" for i in range(6))
# The page's own url (a relative canonical link; a relative og:url is
# ignored) resolves against the row url, and so does its image. The only
# date is in the DOM.
OWN_URL_PAGE = (
    '<html><head><title>Own url page</title>'
    '<link rel="canonical" href="/own/story">'
    '<meta property="og:url" content="/own/og">'
    '<meta property="og:image" content="/img/lead.png"></head>'
    '<body><article><time datetime="2020-02-05">5 Feb</time>'
    f'{_BODY}</article></body></html>').encode()
# No date anywhere but a dated url; a DOM sitename.
SITENAME_PAGE = (
    '<html><head><title>Sitename page</title>'
    '<meta property="og:site_name" content="The Daily"></head>'
    f'<body><article>{_BODY}</article></body></html>').encode()
# No title and no text: rejected by missing_title under
# has_essential_metadata, by too_short otherwise.
UNTITLED_EMPTY_PAGE = b"<html><head></head><body></body></html>"
# A title and a little text: with a raised min_output_size,
# has_essential_metadata ranks the url gates above too_short, so the
# reason depends on the url.
TITLED_SHORT_PAGE = b"<html><head><title>Short</title></head><body><p>x</p></body></html>"
ESSENTIAL = {"has_essential_metadata": True, "config": {"min_output_size": 100}}

OPTION_SETS = {
    "default": {},
    "enable_fallback": {"enable_fallback": True},
    "extensive": {"date_mode": "extensive"},
    "has_essential_metadata": ESSENTIAL,
    "include_links": {"include_links": True},
}


def _urls(url: str) -> list:
    path = url.split("/", 3)[3] if url.count("/") >= 3 else ""
    return [url, url, "https://mirror.example.org/" + path,
            "https://news.example.com/2021/03/04/" + path.replace("/", "-"), None]


@pytest.fixture(scope="module")
def pages() -> list[tuple]:
    """(url, html) rows: every page under several urls, copies adjacent."""
    smoke = pq.read_table(os.path.join(ensure_fixtures("smoke"), "pages.parquet"))
    sample = smoke.select(["url", "html"]).to_pylist()[:6]
    crafted = [("https://site.example.com/a/own", OWN_URL_PAGE),
               ("https://site.example.com/a/sitename", SITENAME_PAGE),
               ("https://site.example.com/a/untitled", UNTITLED_EMPTY_PAGE),
               ("https://site.example.com/a/titled", TITLED_SHORT_PAGE)]
    rows = []
    for url, html in [(r["url"], r["html"]) for r in sample] + crafted:
        rows += [(u, html) for u in _urls(url)]
    return rows


def _reference(url, html, opts_dict) -> tuple:
    """The 19 computed columns from ``core.extract`` for this row's url."""
    try:
        res = core.extract(html, KernelOptions(opts_dict).make_options(url))
    except core.ExtractError as e:
        return (None,) * 17 + (e.reason, None)
    m = res.metadata
    return (res.content_text, res.comments_text,
            etree.tostring(res.content_node) if res.content_node is not None else "",
            etree.tostring(res.comments_node) if res.comments_node is not None else "",
            m.title, m.author, m.url, m.hostname, m.description, m.sitename, m.date,
            m.categories, m.tags, m.license, m.language, m.image, m.page_type, None,
            compute_spans(res.content_node, res.content_text))


def _run_kernel(rows, opts_dict, monkeypatch) -> tuple[list[tuple], int]:
    calls = []
    extract = core.extract

    def counted(html, options=None):
        calls.append(1)
        return extract(html, options)

    monkeypatch.setattr(core, "extract", counted)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([u for u, _ in rows], pa.string()), pa.array([h for _, h in rows], pa.binary())],
        names=["url", "html"])
    kernel = make_arrow_kernel(KernelOptions(opts_dict))
    # Two batches: the memo outlives a batch boundary inside a run of copies.
    out = list(kernel(iter([batch.slice(0, 13), batch.slice(13)])))
    monkeypatch.setattr(core, "extract", extract)
    table = pa.Table.from_batches(out)
    got = list(zip(*(table.column(c).to_pylist() for c in COMPUTED)))
    return got, len(calls)


def _expected_calls(rows, refs, opts_dict) -> int:
    """Cascade runs of a one-entry memo: a row runs the cascade unless
    its key equals the memo's. Under has_essential_metadata a reject is
    not kept, so the memo keeps the page before it."""
    n, memo = 0, None
    for (url, html), ref in zip(rows, refs):
        key = (html, url) if opts_dict.get("include_links") else html
        if key != memo:
            n += 1
            if ref[17] is None or not opts_dict.get("has_essential_metadata"):
                memo = key
    return n


@pytest.mark.parametrize("name", list(OPTION_SETS))
def test_kernel_rows_equal_extract_for_their_own_url(name, pages, monkeypatch):
    opts_dict = OPTION_SETS[name]
    refs = [_reference(u, h, opts_dict) for u, h in pages]
    got, calls = _run_kernel(pages, opts_dict, monkeypatch)
    for (url, _), ref, row in zip(pages, refs, got):
        assert row == ref, (name, url)
    assert calls == _expected_calls(pages, refs, opts_dict)
    # The url reaches the output: the copies of a page differ in their
    # url columns, so equal rows are not an artefact of the memo.
    meta_urls = {r[COMPUTED.index("meta_url")] for r in got}
    assert "https://mirror.example.org/own/story" in meta_urls
    assert len(meta_urls) > len({h for _, h in pages})


def test_url_columns_follow_the_row_url():
    """Spot values of the tail: a relative own url and image resolve
    against the row url, a dated url outranks the DOM date in fast mode,
    and without any url the page keeps its DOM date and no url columns."""
    opts = KernelOptions({})
    bound = core.extract(OWN_URL_PAGE, opts.make_options("https://news.example.com/2021/03/04/x"))
    m = bound.metadata
    assert (m.url, m.hostname, m.image, m.date, m.sitename) == (
        "https://news.example.com/own/story", "news.example.com",
        "https://news.example.com/img/lead.png", "2020-02-05", "news.example.com")
    m = core.extract(OWN_URL_PAGE, opts.make_options(None)).metadata
    assert (m.url, m.hostname, m.image, m.date) == ("", "", "", "2020-02-05")
    m = core.extract(SITENAME_PAGE, opts.make_options("https://a.example/2021/03/04/s")).metadata
    assert (m.date, m.sitename) == ("2021-03-04", "The Daily")


def test_essential_metadata_gate_order():
    """missing_title, then missing_url, then missing_date, then the
    content phase's reject — as before the url was bound last."""
    opts = KernelOptions(ESSENTIAL)

    def reason(html, url):
        with pytest.raises(core.ExtractError) as exc:
            core.extract(html, opts.make_options(url))
        return exc.value.reason

    assert reason(UNTITLED_EMPTY_PAGE, "https://a.example/2021/03/04/s") == "missing_title"
    assert reason(TITLED_SHORT_PAGE, None) == "missing_url"
    assert reason(TITLED_SHORT_PAGE, "https://a.example/s") == "missing_date"
    assert reason(TITLED_SHORT_PAGE, "https://a.example/2021/03/04/s") == "too_short"
