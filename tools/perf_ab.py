"""In-process perf harness for the extraction kernel (round-5 ledger).

Measures CPU time (``time.process_time``) over the reference's 960
comparison pages — the same corpus bench.py's realpage section times —
or, when that corpus is absent, over the 800-page
``fixtures/correctness/pages.parquet`` template corpus.
Wall-clock on this shared host swings +-30% between minutes; process
time is steadier but still moves +-8% across processes, so treat
cross-process numbers as indicative and trust same-process A/B ratios
(NOTES.md round-4/5 measurement discipline).

Usage:
    python tools/perf_ab.py            # full Arrow kernel, 3 reps, best
    python tools/perf_ab.py parse     # parse_html only
    python tools/perf_ab.py date      # date cascade only (pre-parsed)
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from go_trafilatura_spark.comparison import (  # noqa: E402
    DATA_GO,
    load_comparison_entries,
    resolve_file,
)

FIXTURE_PAGES = os.path.join(ROOT, "fixtures", "correctness", "pages.parquet")


def load_pages():
    if not os.path.exists(DATA_GO):
        import pyarrow.parquet as pq

        table = pq.read_table(FIXTURE_PAGES, columns=["url", "html"])
        return list(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))
    pages = []
    for e in load_comparison_entries():
        p = resolve_file(e["file"])
        if p:
            with open(p, "rb") as f:
                pages.append((e["url"], f.read()))
    return pages


def best_of(fn, reps=3):
    best = None
    for _ in range(reps):
        c0 = time.process_time()
        fn()
        d = time.process_time() - c0
        best = d if best is None or d < best else best
    return best


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "full"
    pages = load_pages()
    n = len(pages)

    if which == "parse":
        from go_trafilatura_spark import etree

        def run():
            for _, h in pages:
                etree.parse_html(h)

    elif which == "date":
        from go_trafilatura_spark import etree, selectors
        from go_trafilatura_spark.metadata import extract_date_fast

        idxs = [(u, t, selectors.TagIndex(t))
                for u, t in ((u, etree.parse_html(h)) for u, h in pages)]

        def run():
            for u, t, ix in idxs:
                extract_date_fast(t, u, extensive=False, index=ix)

    elif which == "meta":
        from go_trafilatura_spark import etree
        from go_trafilatura_spark.metadata import extract_metadata
        from go_trafilatura_spark.options import Options

        trees = [(u, etree.parse_html(h)) for u, h in pages]
        opts = Options()

        def run():
            for u, t in trees:
                o = Options()
                o.original_url = u
                extract_metadata(t, o)

    else:
        import pyarrow as pa

        from go_trafilatura_spark.kernel import make_arrow_kernel
        from go_trafilatura_spark.pipeline import ARROW_BATCH_SIZE

        # The shipped kernel itself (its batch loop and GC regime) over
        # Arrow batches of the executor's size.
        table = pa.table({"url": [u for u, _ in pages],
                          "html": pa.array([h for _, h in pages], pa.binary())})
        batches = table.to_batches(max_chunksize=ARROW_BATCH_SIZE)
        kernel = make_arrow_kernel()

        def run():
            for _ in kernel(iter(batches)):
                pass

    run()  # warm
    d = best_of(run)
    print(f"{which}: {d:.3f}s CPU best-of-3 = {n / d:.1f} pages/s ({n} pages)")


if __name__ == "__main__":
    main()
