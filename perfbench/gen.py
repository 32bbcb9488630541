"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, params)``: the same seed
gives byte-identical parquet. Inputs are written with pyarrow only, so
the program under test sees nothing but the files. Each generator also
returns the expectations the output checks need (goldens, the expected
reject reason of every junk row), which never enter the parquet.
"""

from __future__ import annotations

import datetime
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from go_trafilatura_spark.fixtures import generate_pages
from go_trafilatura_spark.kernel import DEFAULT_MAX_HTML_BYTES

PAGE_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("url", pa.string()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

_BASE_TS = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def write_parts(rows: list[dict], schema: pa.Schema, out_dir: str,
                n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet parts (contiguous slices),
    so the scan has more than one split, as a real table would."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        part = rows[i * step:(i + 1) * step]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:03d}.parquet"))


# -- extract_crawl -------------------------------------------------------------

def _not_html_bytes(rng: random.Random, size: int) -> bytes:
    """Binary payload (PNG magic + noise) with no '<' anywhere, so the
    kernel's byte screen must classify it not_html."""
    noise = bytes(rng.randrange(256) for _ in range(size)).replace(b"<", b".")
    return b"\x89PNG\r\n\x1a\n" + noise


def _oversized_html(size: int) -> bytes:
    """Well-formed markup just over ``size`` bytes: only the size screen
    keeps it out of the cascade."""
    para = b"<p>" + b"filler words for an oversized page " * 20 + b"</p>"
    body = para * (size // len(para) + 2)
    return b"<!DOCTYPE html><html><body>" + body + b"</body></html>"


def crawl_pages(seed: int, p: dict) -> tuple[list[dict], list[dict]]:
    """Fixture-family pages with re-published exact duplicates and junk.

    Returns ``(rows, expect)``: ``expect[i]`` describes ``rows[i]`` with
    ``kind`` (page, dup, null_html, not_html, oversized), the expected
    reject reason for junk and the fixture golden for the rest."""
    rng = random.Random(seed)
    n = p["rows"]
    n_null = round(n * p["null_html_share"])
    n_not_html = round(n * p["not_html_share"])
    n_oversized = p["oversized_rows"]
    n_base = n - round(n * p["dup_share"]) - n_null - n_not_html - n_oversized
    base = generate_pages(n_base, seed)
    n_dup = n - n_base - n_null - n_not_html - n_oversized

    rows, expect = [], []
    for pg in base:
        rows.append({"url": pg.url, "warc_ts": pg.warc_ts, "html": pg.html,
                     "text": pg.text, "lang": pg.lang})
        # generate_pages re-publishes ~4% of its own pages as "-dupN".
        kind = "dup" if "-dup" in pg.url else "page"
        expect.append({"kind": kind, "golden": pg.golden})
    # Fill up to ``rows`` with earlier pages re-published under a new
    # url on the same host (the url-derived golden fields stay valid
    # because the host is unchanged).
    for j in range(n_dup):
        src = base[rng.randrange(n_base)]
        url = f"{src.url}-re{j}"
        golden = dict(src.golden, url=url)
        rows.append({"url": url, "warc_ts": _BASE_TS + datetime.timedelta(hours=j),
                     "html": src.html, "text": src.text, "lang": src.lang})
        expect.append({"kind": "dup", "golden": golden})
    junk = ([("null_html", None)] * n_null
            + [("not_html", _not_html_bytes(rng, rng.randint(2000, 20000)))
               for _ in range(n_not_html)]
            + [("oversized", _oversized_html(DEFAULT_MAX_HTML_BYTES + 1024))]
            * n_oversized)
    for j, (reason, html) in enumerate(junk):
        rows.append({"url": f"https://junk{j % 7}.example.net/item/{seed}-{j}",
                     "warc_ts": _BASE_TS, "html": html, "text": None,
                     "lang": "en"})
        expect.append({"kind": reason, "reason": reason})

    order = list(range(len(rows)))
    rng.shuffle(order)
    return [rows[i] for i in order], [expect[i] for i in order]


# -- extract_fallback ----------------------------------------------------------

_BODY_RE = re.compile(rb"<body>(.*)</body>", re.S)

_NAV = ('<nav class="main-menu"><ul>'
        + "".join(f'<li><a href="/section/{i}">Section {i}</a></li>' for i in range(24))
        + "</ul></nav>")
_SIDEBAR = ('<aside class="sidebar"><h3>Most read</h3><ul>'
            + "".join(f'<li><a href="/top/{i}">Popular story number {i} of the week</a></li>'
                      for i in range(12))
            + "</ul></aside>")
_FOOTER = ('<footer class="site-footer"><p>Copyright 2024 Example Media Group. '
           'All rights reserved.</p><div class="footer-links">'
           + " ".join(f'<a href="/legal/{i}">Legal page {i}</a>' for i in range(10))
           + "</div></footer>")
_BOILERPLATE = (
    '<div class="cookie-banner">We use cookies to improve your experience on our site.</div>',
    '<div class="share-buttons"><a href="#">Facebook</a> <a href="#">Twitter</a> '
    '<a href="#">Pinterest</a> <a href="#">Email</a></div>',
    '<div class="newsletter-signup"><p>Subscribe to our newsletter for weekly updates.</p>'
    '<form><input type="email"/><button>Sign up</button></form></div>',
    '<div class="ad-slot">Advertisement</div>',
)


def fallback_pages(seed: int, p: dict) -> list[dict]:
    """Distinct heavy pages: each stitches several fixture-family bodies
    into one document between menu, sidebar, footer and ad blocks."""
    rng = random.Random(seed)
    n = p["rows"]
    lo, hi = p["bodies_per_page"]
    pool = [pg for pg in generate_pages(p["body_pool"], seed + 1)
            if pg.golden["family"] != "giant_doc"]
    bodies = [_BODY_RE.search(pg.html).group(1).decode("utf-8") for pg in pool]
    hosts = zipf_hosts(rng, n, p["hosts"], p["host_zipf_s"])
    rows = []
    for i in range(n):
        parts = []
        for _ in range(rng.randint(lo, hi)):
            parts.append(f'<section class="block-{rng.randrange(9)}">'
                         f"{rng.choice(bodies)}</section>")
            if rng.random() < 0.5:
                parts.append(rng.choice(_BOILERPLATE))
        sidebar = _SIDEBAR
        if i % p["thin_every"] == 0:
            # Teasers only and no sidebar: every extractor keeps too
            # little text, so the fallback candidates and then the
            # baseline rescue run on these pages.
            parts = [f'<div class="teaser">{_sentence(rng, _EN)}</div>'
                     for _ in range(rng.randint(2, 5))]
            sidebar = ""
        title = f"Digest {seed}-{i}"
        html = (f'<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
                f"<title>{title}</title></head><body>{_NAV}"
                f'<div class="page">{"".join(parts)}{sidebar}</div>{_FOOTER}'
                f"</body></html>")
        rows.append({"url": f"https://{hosts[i]}/digest/{seed}/{i:05d}",
                     "warc_ts": _BASE_TS + datetime.timedelta(minutes=i),
                     "html": html.encode("utf-8"), "text": None, "lang": "en"})
    return rows


# -- curate_pipeline -----------------------------------------------------------

_EN = (
    "the be to of and that have with time work year people way day man "
    "thing woman life child world school state family student group country "
    "problem hand part place case week company system program question "
    "government number night point home water room mother area money story "
    "fact month lot right study book eye job word business issue side kind "
    "head house service friend father power hour game line end member law "
    "car city community name president team minute idea kid body information "
    "back parent face others level office door health person art war history"
).split()
_DE = (
    "der die und das ist nicht von mit den des dem ein eine einen im für auf "
    "als auch sich werden wurde bei aus nach wie zum haben wird sind oder "
    "einer einem über zwischen wichtig beispiel frage schule vater kinder "
    "haus groß klein welt land regierung arbeit jahr zeit gut viel wenn"
).split()
_BOILER_LINES = [
    f"{a} {b}" for a in ("Subscribe to our newsletter", "Share this article",
                         "Read more stories like this", "Sign up for alerts",
                         "Follow us on social media", "Comments are closed")
    for b in ("today.", "for updates.", "now.", "and stay informed.",
              "from the editors.")
]


def zipf_hosts(rng: random.Random, n: int, n_hosts: int, s: float) -> list[str]:
    weights = [1.0 / (k + 1) ** s for k in range(n_hosts)]
    picks = rng.choices(range(n_hosts), weights=weights, k=n)
    return [f"site{k}.example.org" for k in picks]


def _sentence(rng: random.Random, words: list[str]) -> str:
    ws = [rng.choice(words) for _ in range(rng.randint(8, 16))]
    return " ".join(ws).capitalize() + "."


def curate_corpus(seed: int, p: dict) -> list[dict]:
    """Pre-extracted documents (doc_id, url, text, lang): newline lines
    of fresh prose, shared boilerplate lines, shared passages of
    ``passage_tokens`` tokens planted inside otherwise-unique lines,
    Zipf-skewed hosts and two languages."""
    rng = random.Random(seed)
    n = p["rows"]
    passages = [" ".join(rng.choice(_EN) for _ in range(p["passage_tokens"]))
                for _ in range(p["passages"])]
    hosts = zipf_hosts(rng, n, p["hosts"], p["host_zipf_s"])
    docs = []
    for doc_id in range(n):
        lang = "de" if rng.random() < p["de_share"] else "en"
        # German prose carries some English function words, so it can
        # pass the English gopher stopword rule and both strata reach
        # the sample.
        words = _DE + _EN[:8] if lang == "de" else _EN
        n_lines = 1 if rng.random() < p["short_share"] else rng.randint(3, 7)
        lines = [" ".join(_sentence(rng, words) for _ in range(rng.randint(1, 3)))
                 for _ in range(n_lines)]
        if rng.random() < p["passage_share"]:
            k = rng.randrange(n_lines)
            lines[k] = f"{lines[k]} {rng.choice(passages)} {_sentence(rng, words)}"
        for _ in range(rng.randint(0, 2)):
            lines.insert(rng.randint(0, len(lines)), rng.choice(_BOILER_LINES))
        url = (None if rng.random() < p["null_url_share"]
               else f"https://{hosts[doc_id]}/doc/{seed}/{doc_id}")
        docs.append({"doc_id": doc_id, "url": url, "text": "\n".join(lines),
                     "lang": lang})
    return docs
