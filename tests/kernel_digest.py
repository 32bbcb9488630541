"""The identity digest of the extraction kernel.

A digest is the sha256 of the 19 kernel-computed columns (every output
column but the pass-through url, warc_ts and lang) of a page set, run
in process through ``kernel._extract_row`` with its page memo on, in
the set's order. Equal digests before and after a change show that the
change moved no byte of kernel output on that set under that option
set.

Page sets:

- ``fixtures``: the 800 ``fixtures/correctness`` pages.
- ``crawl``: the seed-1 ``extract_crawl`` benchmark rows, sorted by
  html the way the exchange delivers them to the kernel.
- ``fallback``: the seed-1 ``extract_fallback`` benchmark rows.
- ``br_chain``: the first 200 ``fallback`` pages with every paragraph
  break ``</p><p>`` written as ``<br>\\n<br>``, the form
  ``readability._replace_double_brs`` turns back into paragraphs.

``kernel_digests.json``, next to this file, pins every case's digest.
Run ``python tests/kernel_digest.py`` to print one line per case: page
set, option set, digest, and ``ok`` or ``MOVED`` against its pin. A
change that moves kernel output on purpose re-pins the moved cases and
names them. ``test_kernel_digest.py`` checks a fast subset in the suite.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

OPTION_SETS = {
    "default": {},
    "enable_fallback": {"enable_fallback": True},
    "focus_precision": {"focus": 2},
    "focus_recall": {"focus": 1},
    "tables_links_images": {"exclude_tables": True, "include_links": True,
                            "include_images": True},
    "prune_junk": {"prune_selector": "div.junk, .sidebar a"},
    "prune_five_tags": {"prune_selector":
                        "div.teaser, .post-content p, nav a, section h2, [class*=block] li"},
    "prune_untagged": {"prune_selector": ".cookie-banner, section h2, *[class=teaser]"},
    "date_extensive": {"date_mode": "extensive"},
}

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "kernel_digests.json")

_PARAGRAPH_BREAK = re.compile(rb"</p>\s*<p>")


def _generator_params(workload: str) -> dict:
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        return json.load(f)["workloads"][workload]["generator"]


def fixture_rows() -> list[tuple]:
    import pyarrow.parquet as pq

    from go_trafilatura_spark.fixtures import ensure_fixtures

    table = pq.read_table(os.path.join(ensure_fixtures("correctness"), "pages.parquet"),
                          columns=["url", "html"])
    return list(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))


def crawl_rows() -> list[tuple]:
    from perfbench import gen

    rows, _ = gen.crawl_pages(1, _generator_params("extract_crawl"))
    rows = sorted(rows, key=lambda r: (r["html"] is not None, r["html"] or b"", r["url"]))
    return [(r["url"], r["html"]) for r in rows]


def fallback_rows() -> list[tuple]:
    from perfbench import gen

    return [(r["url"], r["html"])
            for r in gen.fallback_pages(1, _generator_params("extract_fallback"))]


def br_chain_rows() -> list[tuple]:
    return [(url, _PARAGRAPH_BREAK.sub(b"<br>\n<br>", html))
            for url, html in fallback_rows()[:200]]


PAGE_SETS = {
    "fixtures": fixture_rows,
    "crawl": crawl_rows,
    "fallback": fallback_rows,
    "br_chain": br_chain_rows,
}


def digest(rows: list[tuple], opts_dict: dict) -> str:
    """sha256 over the kernel-computed columns of every (url, html) row."""
    from go_trafilatura_spark.kernel import KernelOptions, _extract_row, _PageMemo

    options = KernelOptions(opts_dict)
    memo = _PageMemo()
    h = hashlib.sha256()
    for url, html in rows:
        h.update(repr(_extract_row(url, html, options, memo)).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def pinned() -> dict:
    with open(PINS) as f:
        return json.load(f)


def main() -> None:
    pins = pinned()
    for set_name, load in PAGE_SETS.items():
        rows = load()
        for opt_name, opts in OPTION_SETS.items():
            got = digest(rows, opts)
            state = "ok" if got == pins[set_name][opt_name] else "MOVED"
            print(set_name, opt_name, got, state, flush=True)


if __name__ == "__main__":
    main()
