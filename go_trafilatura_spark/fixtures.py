"""Deterministic synthetic page generator + byte-exact golden oracle.

Builds the north-rule input table (url, warc_ts, html, text, lang) plus a
``golden`` table holding the *generator-predicted* extraction output per
url (content_text, comments_text, title, ...). The prediction is made
from the template structure alone — never by running the extractor — so
comparing kernel output against golden is a genuine byte-parity oracle
(FIXTURES.md §3; modeled on the reference's comparison corpus,
scripts/comparison/data.go).

Everything is seeded (seed=42); no wall clock, no network.
"""

from __future__ import annotations

import datetime
import json
import os
import random

# Word pool: common English words incl. classifier stopwords.
_WORDS_EN = (
    "the and for are but not you all can her was one our out day get has him "
    "his how man new now old see two way who boy did its let put say she too "
    "use that with have this will your from they know want been good much some "
    "time very when come here just like long make many more only over such "
    "take than them well were what work year about after again before great "
    "house large small sound still study world below country school father "
    "between important children example question complete government"
).split()

_WORDS_DE = (
    "der die und das ist nicht von mit den des dem ein eine einen im für auf "
    "als auch sich werden wurde bei aus nach wie zum haben wird sind oder "
    "einer einem über zwischen wichtig beispiel frage schule vater kinder "
    "haus groß klein welt land regierung arbeit jahr zeit gut viel wenn"
).split()

_HOST_COUNT = 50

# The one page shell of the synthetic documents-table pages (the
# __spark_entry__ queries and bench.py), with slots (doc_id, doc_id,
# body_html). Spark's format_string and Python's % operator render it
# identically.
SYNTH_HTML = ('<html><head><title>Doc %s</title></head><body>'
              '<article class="post-content"><h1>Doc %s</h1>%s</article>'
              "</body></html>")


def _sentence(rng: random.Random, words: list[str]) -> str:
    n = rng.randint(8, 14)
    ws = [rng.choice(words) for _ in range(n)]
    s = " ".join(ws)
    return s[0].upper() + s[1:] + "."


def _paragraph(rng: random.Random, words: list[str], n_sentences: int | None = None) -> str:
    n = n_sentences if n_sentences is not None else rng.randint(3, 6)
    return " ".join(_sentence(rng, words) for _ in range(n))


def _host(rng: random.Random) -> str:
    # Zipf-ish skew over hosts to exercise salting: P(k) ∝ 1/(k+1)
    weights = [1.0 / (k + 1) for k in range(_HOST_COUNT)]
    k = rng.choices(range(_HOST_COUNT), weights=weights, k=1)[0]
    return f"host{k}.example.com"


_BOILER_SNIPPETS = (
    '<nav class="navbar"><a href="/">Home</a> <a href="/news">News</a> <a href="/about">About</a></nav>',
    '<div class="sidebar-widget">Trending now and other popular stories</div>',
    '<div class="share-buttons">Facebook Twitter Pinterest</div>',
    '<footer class="site-footer">Copyright 2024 Example Media. All rights reserved.</footer>',
    '<div class="cookie-banner">We use cookies to improve your experience.</div>',
    '<div class="newsletter-signup">Subscribe to our newsletter for updates</div>',
)


class Page:
    __slots__ = ("url", "warc_ts", "html", "text", "lang", "golden")

    def __init__(self, url, warc_ts, html, text, lang, golden):
        self.url = url
        self.warc_ts = warc_ts
        self.html = html
        self.text = text
        self.lang = lang
        self.golden = golden


def _spans_from_parts(parts):
    """Predict the kernel's content_spans: each top-level element's
    flattened text located sequentially in the joined content text."""
    spans = []
    pos = 0
    for kind, text in parts:
        if not text:
            continue
        start = pos
        end = start + len(text)
        spans.append((start, end, kind))
        pos = end + 1  # the single-space join separator
    return spans


def _mk_golden(url, family, content_text, comments_text="", title="", author="",
               sitename="", date="", categories=(), tags=(), reject_reason=None,
               parts=None, html_parts=None, comment_paras=()):
    """html_parts: the rendered element strings the kernel will keep in
    content order — the predicted content_html is <body>+join+</body>.
    comment_paras: predicted comments paragraphs (→ comments_html)."""
    spans = _spans_from_parts(parts) if parts else []
    content_html = "<body>" + "".join(html_parts) + "</body>" if html_parts else ""
    comments_html = (
        "<body>" + "".join(f"<p>{c}</p>" for c in comment_paras) + "</body>"
        if comment_paras else ""
    )
    return {
        "url": url,
        "family": family,
        "spans": spans,
        "content_text": content_text,
        "comments_text": comments_text,
        "content_html": content_html,
        "comments_html": comments_html,
        "title": title,
        "author": author,
        "sitename": sitename,
        "date": date,
        "categories": list(categories),
        "tags": list(tags),
        "reject_reason": reject_reason,
    }


def _wrap(head_extra: str, body: str, lang: str = "en") -> str:
    return (
        f'<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
        f"{head_extra}</head><body>{body}</body></html>"
    )


def _gen_article_simple(rng, url, lang):
    words = _WORDS_DE if lang == "de" else _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    paras = [_paragraph(rng, words) for _ in range(rng.randint(3, 6))]
    body = (
        '<article class="post-content"><h1>'
        + heading
        + "</h1>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
    )
    html = _wrap(f"<title>{heading}</title>", body, lang)
    expected = " ".join([heading] + paras)
    parts = [("h1", heading)] + [("p", p) for p in paras]
    hp = [f"<h1>{heading}</h1>"] + [f"<p>{p}</p>" for p in paras]
    return html, _mk_golden(url, "article_simple", expected, title=heading, parts=parts,
                            html_parts=hp)


def _gen_div_classed(rng, url, lang):
    words = _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    cls = rng.choice(["entry-content", "article-body", "post-content", "main-content"])
    paras = [_paragraph(rng, words) for _ in range(rng.randint(3, 5))]
    body = (
        f'<div class="{cls}"><h1>{heading}</h1>'
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</div>"
    )
    html = _wrap(f"<title>{heading}</title>", body, lang)
    expected = " ".join([heading] + paras)
    parts = [("h1", heading)] + [("p", p) for p in paras]
    hp = [f"<h1>{heading}</h1>"] + [f"<p>{p}</p>" for p in paras]
    return html, _mk_golden(url, "div_classed", expected, title=heading, parts=parts,
                            html_parts=hp)


def _gen_boilerplate_heavy(rng, url, lang):
    words = _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    paras = [_paragraph(rng, words) for _ in range(rng.randint(3, 5))]
    noise = list(_BOILER_SNIPPETS)
    rng.shuffle(noise)
    body = (
        noise[0] + noise[1]
        + '<article><h1>' + heading + "</h1>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
        + "".join(noise[2:])
    )
    html = _wrap(f"<title>{heading}</title>", body, lang)
    expected = " ".join([heading] + paras)
    parts = [("h1", heading)] + [("p", p) for p in paras]
    hp = [f"<h1>{heading}</h1>"] + [f"<p>{p}</p>" for p in paras]
    return html, _mk_golden(url, "boilerplate_heavy", expected, title=heading, parts=parts,
                            html_parts=hp)


def _gen_linkfarm(rng, url, lang):
    words = _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    paras = [_paragraph(rng, words) for _ in range(rng.randint(3, 5))]
    links = "".join(
        f'<a href="/l{i}">{rng.choice(words)}</a> ' for i in range(20)
    )
    body = (
        "<article><h1>" + heading + "</h1>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + f'<div class="related-posts">{links}</div>'
        + "</article>"
    )
    html = _wrap(f"<title>{heading}</title>", body, lang)
    expected = " ".join([heading] + paras)
    parts = [("h1", heading)] + [("p", p) for p in paras]
    hp = [f"<h1>{heading}</h1>"] + [f"<p>{p}</p>" for p in paras]
    return html, _mk_golden(url, "linkfarm", expected, title=heading, parts=parts,
                            html_parts=hp)


def _gen_lists(rng, url, lang):
    words = _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    paras = [_paragraph(rng, words) for _ in range(2)]
    items = [_sentence(rng, words) for _ in range(rng.randint(3, 6))]
    body = (
        "<article><h1>" + heading + "</h1>"
        + f"<p>{paras[0]}</p>"
        + "<ul>" + "".join(f"<li>{it}</li>" for it in items) + "</ul>"
        + f"<p>{paras[1]}</p>"
        + "</article>"
    )
    html = _wrap(f"<title>{heading}</title>", body, lang)
    expected = " ".join([heading, paras[0]] + items + [paras[1]])
    parts = [("h1", heading), ("p", paras[0]), ("ul", " ".join(items)), ("p", paras[1])]
    hp = [f"<h1>{heading}</h1>", f"<p>{paras[0]}</p>",
          "<ul>" + "".join(f"<li>{it}</li>" for it in items) + "</ul>",
          f"<p>{paras[1]}</p>"]
    return html, _mk_golden(url, "lists", expected, title=heading, parts=parts,
                            html_parts=hp)


def _gen_tables(rng, url, lang):
    words = _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    paras = [_paragraph(rng, words) for _ in range(2)]
    n_rows = rng.randint(2, 4)
    cells = [[rng.choice(words), rng.choice(words)] for _ in range(n_rows)]
    table = (
        "<table><thead><tr><th>Name</th><th>Value</th></tr></thead><tbody>"
        + "".join(f"<tr><td>{a}</td><td>{b}</td></tr>" for a, b in cells)
        + "</tbody></table>"
    )
    body = (
        "<article><h1>" + heading + "</h1>"
        + f"<p>{paras[0]}</p>" + table + f"<p>{paras[1]}</p>" + "</article>"
    )
    html = _wrap(f"<title>{heading}</title>", body, lang)
    flat_cells = ["Name", "Value"] + [w for row in cells for w in row]
    expected = " ".join([heading, paras[0]] + flat_cells + [paras[1]])
    parts = [("h1", heading), ("p", paras[0]), ("table", " ".join(flat_cells)), ("p", paras[1])]
    kept_table = ("<table><tr><th>Name</th><th>Value</th></tr>"
                  + "".join(f"<tr><td>{a}</td><td>{b}</td></tr>" for a, b in cells)
                  + "</table>")
    hp = [f"<h1>{heading}</h1>", f"<p>{paras[0]}</p>", kept_table, f"<p>{paras[1]}</p>"]
    return html, _mk_golden(url, "tables", expected, title=heading, parts=parts,
                            html_parts=hp)


def _gen_code_blocks(rng, url, lang):
    words = _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    paras = [_paragraph(rng, words) for _ in range(2)]
    code = f"def f_{rng.randint(1, 99)}(x): return x * {rng.randint(2, 9)}"
    body = (
        "<article><h1>" + heading + "</h1>"
        + f"<p>{paras[0]}</p>"
        + f'<pre lang="python">{code}</pre>'
        + f"<p>{paras[1]}</p>"
        + "</article>"
    )
    html = _wrap(f"<title>{heading}</title>", body, lang)
    expected = " ".join([heading, paras[0], code, paras[1]])
    parts = [("h1", heading), ("p", paras[0]), ("code", code), ("p", paras[1])]
    hp = [f"<h1>{heading}</h1>", f"<p>{paras[0]}</p>", f"<code>{code}</code>",
          f"<p>{paras[1]}</p>"]
    return html, _mk_golden(url, "code_blocks", expected, title=heading, parts=parts,
                            html_parts=hp)


def _gen_comments_section(rng, url, lang):
    words = _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    paras = [_paragraph(rng, words) for _ in range(rng.randint(3, 4))]
    comments = [_sentence(rng, words) for _ in range(rng.randint(2, 4))]
    body = (
        "<article><h1>" + heading + "</h1>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
        + '<div id="comments" class="comment-list">'
        + "".join(f"<p>{c}</p>" for c in comments)
        + "</div>"
    )
    html = _wrap(f"<title>{heading}</title>", body, lang)
    expected = " ".join([heading] + paras)
    expected_comments = " ".join(comments)
    parts = [("h1", heading)] + [("p", p) for p in paras]
    hp = [f"<h1>{heading}</h1>"] + [f"<p>{p}</p>" for p in paras]
    return html, _mk_golden(
        url, "comments_section", expected, comments_text=expected_comments,
        title=heading, parts=parts, html_parts=hp, comment_paras=comments,
    )


def _gen_metadata_rich(rng, url, lang):
    words = _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    author_first = rng.choice(["Jane", "John", "Maria", "Pierre", "Anna"])
    author_last = rng.choice(["Smith", "Miller", "Garcia", "Dubois", "Weber"])
    author = f"{author_first} {author_last}"
    sitename = "Example News Network"
    date = f"202{rng.randint(0, 4)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    category = rng.choice(["Politics", "Science", "Sports", "Culture"])
    tags = [rng.choice(words), rng.choice(words)]
    paras = [_paragraph(rng, words) for _ in range(rng.randint(3, 5))]
    json_ld = json.dumps({
        "@context": "https://schema.org",
        "@type": "NewsArticle",
        "headline": heading,
        "author": {"@type": "Person", "name": author},
        "publisher": {"@type": "Organization", "name": sitename},
        "datePublished": date,
        "articleSection": category,
        "keywords": ", ".join(tags),
    })
    head = (
        f"<title>{heading} - {sitename}</title>"
        f'<meta property="og:title" content="{heading}"/>'
        f'<meta property="og:site_name" content="{sitename}"/>'
        f'<meta property="og:type" content="article"/>'
        f'<meta name="author" content="{author}"/>'
        f'<meta property="article:published_time" content="{date}T08:00:00Z"/>'
        f'<script type="application/ld+json">{json_ld}</script>'
    )
    body = (
        "<article><h1>" + heading + "</h1>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
    )
    html = _wrap(head, body, lang)
    expected = " ".join([heading] + paras)
    # og:title wins; JSON-LD author overrides meta author (same value here);
    # categories/tags come from JSON-LD.
    parts = [("h1", heading)] + [("p", p) for p in paras]
    hp = [f"<h1>{heading}</h1>"] + [f"<p>{p}</p>" for p in paras]
    return html, _mk_golden(
        url, "metadata_rich", expected, title=heading, author=author,
        sitename=sitename, date=date, categories=[category], tags=tags,
        parts=parts, html_parts=hp,
    )


def _gen_baseline_only(rng, url, lang):
    words = _WORDS_EN
    paras = [_paragraph(rng, words) for _ in range(rng.randint(4, 6))]
    body = "".join(f"<p>{p}</p>" for p in paras)
    html = _wrap("<title>bare page</title>", body, lang)
    # No content container → wild-text recovery picks up bare <p>s.
    expected = " ".join(paras)
    parts = [("p", p) for p in paras]
    hp = [f"<p>{p}</p>" for p in paras]
    return html, _mk_golden(url, "baseline_only", expected, title="bare page", parts=parts,
                            html_parts=hp)


def _gen_giant_doc(rng, url, lang):
    words = _WORDS_EN
    heading = _sentence(rng, words)[:-1]
    paras = [_paragraph(rng, words, 2) for _ in range(300)]
    body = (
        "<article><h1>" + heading + "</h1>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
    )
    html = _wrap(f"<title>{heading}</title>", body, lang)
    expected = " ".join([heading] + paras)
    parts = [("h1", heading)] + [("p", p) for p in paras]
    hp = [f"<h1>{heading}</h1>"] + [f"<p>{p}</p>" for p in paras]
    return html, _mk_golden(url, "giant_doc", expected, title=heading, parts=parts,
                            html_parts=hp)


_FAMILIES = (
    (_gen_article_simple, 20),
    (_gen_div_classed, 12),
    (_gen_boilerplate_heavy, 15),
    (_gen_linkfarm, 8),
    (_gen_lists, 10),
    (_gen_tables, 8),
    (_gen_code_blocks, 6),
    (_gen_comments_section, 8),
    (_gen_metadata_rich, 8),
    (_gen_baseline_only, 4),
    (_gen_giant_doc, 1),
)


def generate_pages(n: int, seed: int = 42) -> list[Page]:
    rng = random.Random(seed)
    gens = [g for g, w in _FAMILIES for _ in range(w)]
    pages: list[Page] = []
    base_ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    for i in range(n):
        gen = rng.choice(gens)
        lang = "de" if rng.random() < 0.12 else "en"
        host = _host(rng)
        url = f"https://{host}/articles/{i:06d}"
        # ~4%: emit an exact content duplicate of an earlier page under a
        # new url on the SAME host (exercises corpus-level dedup; host
        # kept so the url-derived sitename prediction stays valid).
        if i > 10 and rng.random() < 0.04:
            src = pages[rng.randrange(len(pages))]
            dup_url = src.url + f"-dup{i}"
            golden = dict(src.golden)
            golden["url"] = dup_url
            ts = base_ts + datetime.timedelta(seconds=i * 137)
            pages.append(Page(dup_url, ts, src.html, src.text, src.lang, golden))
            continue

        html, golden = gen(rng, url, lang)
        if not golden["sitename"]:
            # No og:site_name and no dot-part in <title> → the extractor
            # falls back to the URL host (metadata.go:236-240).
            golden["sitename"] = host
        text_noise = html  # raw page text incl. noise (input_hint's `text`)
        ts = base_ts + datetime.timedelta(seconds=i * 137)
        pages.append(Page(url, ts, html.encode("utf-8"), text_noise, lang, golden))
    return pages


# ---------------------------------------------------------------------------
# Parquet writing (pyarrow; no Spark needed at generation time)
# ---------------------------------------------------------------------------

def write_fixtures(out_dir: str, n: int, seed: int = 42) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pages = generate_pages(n, seed)

    pages_table = pa.table({
        "url": pa.array([p.url for p in pages], pa.string()),
        "warc_ts": pa.array([p.warc_ts for p in pages], pa.timestamp("us", tz="UTC")),
        "html": pa.array([p.html for p in pages], pa.binary()),
        "text": pa.array([p.text for p in pages], pa.string()),
        "lang": pa.array([p.lang for p in pages], pa.string()),
    })
    pq.write_table(pages_table, os.path.join(out_dir, "pages.parquet"))

    g = [p.golden for p in pages]

    def _host_of(u: str) -> str:
        return u.split("://", 1)[1].split("/", 1)[0]

    golden_table = pa.table({
        "url": pa.array([x["url"] for x in g], pa.string()),
        "span_starts": pa.array([[s[0] for s in x["spans"]] for x in g], pa.list_(pa.int32())),
        "span_ends": pa.array([[s[1] for s in x["spans"]] for x in g], pa.list_(pa.int32())),
        "span_kinds": pa.array([[s[2] for s in x["spans"]] for x in g], pa.list_(pa.string())),
        "family": pa.array([x["family"] for x in g], pa.string()),
        "content_text": pa.array([x["content_text"] for x in g], pa.string()),
        "comments_text": pa.array([x["comments_text"] for x in g], pa.string()),
        "content_html": pa.array([x["content_html"] for x in g], pa.string()),
        "comments_html": pa.array([x["comments_html"] for x in g], pa.string()),
        "title": pa.array([x["title"] for x in g], pa.string()),
        "author": pa.array([x["author"] for x in g], pa.string()),
        # meta_url/hostname: the extractor falls back to the page url (no
        # og:url in any fixture family), so both derive from the url.
        "meta_url": pa.array([x["url"] for x in g], pa.string()),
        "hostname": pa.array([_host_of(x["url"]) for x in g], pa.string()),
        "description": pa.array(["" for _ in g], pa.string()),
        "sitename": pa.array([x["sitename"] for x in g], pa.string()),
        "date": pa.array([x["date"] for x in g], pa.string()),
        "categories": pa.array([x["categories"] for x in g], pa.list_(pa.string())),
        "tags": pa.array([x["tags"] for x in g], pa.list_(pa.string())),
        "license": pa.array(["" for _ in g], pa.string()),
    })
    pq.write_table(golden_table, os.path.join(out_dir, "golden.parquet"))

    # PDF fixtures (north rule "PDF/layout parse"): deterministic PDFs
    # cycling compression and Tj/TJ encodings, with generator-predicted
    # extracted text. n_pdfs scales with n but stays bounded (PDF build
    # is pure Python).
    from .pdf import build_pdf, predict_pdf_text

    rng_pdf = random.Random(seed + 1)
    n_pdfs = min(max(n // 4, 30), 400)
    pdf_urls, pdf_bytes, pdf_texts, pdf_ops = [], [], [], []
    for i in range(n_pdfs):
        paragraphs = [
            _paragraph(rng_pdf, _WORDS_EN) for _ in range(rng_pdf.randint(1, 3))
        ]
        if i % 5 == 0:
            # exercise escape handling: parens + backslash in content
            paragraphs.append("Edge (case) with \\ backslash and (nested (parens)).")
        compress = i % 2 == 1
        use_tj = i % 4 >= 2
        pdf_urls.append(f"https://synth.local/pdf/{i:05d}.pdf")
        pdf_bytes.append(build_pdf(paragraphs, compress=compress, use_tj_array=use_tj))
        text, n_ops = predict_pdf_text(paragraphs)
        pdf_texts.append(text)
        # TJ form emits one op per word; Tj one per sentence
        if use_tj:
            n_ops = sum(len(line.split(" ")) for line in text.split("\n") if line)
        pdf_ops.append(n_ops)

    pq.write_table(
        pa.table({
            "url": pa.array(pdf_urls, pa.string()),
            "pdf": pa.array(pdf_bytes, pa.binary()),
        }),
        os.path.join(out_dir, "pdfs.parquet"),
    )
    pq.write_table(
        pa.table({
            "url": pa.array(pdf_urls, pa.string()),
            "pdf_text": pa.array(pdf_texts, pa.string()),
            "n_text_ops": pa.array(pdf_ops, pa.int32()),
        }),
        os.path.join(out_dir, "golden_pdf.parquet"),
    )


# <checkout>/fixtures, where __spark_entry__.FIXTURE_DIR reads them
FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
SCALES = {"smoke": 120, "correctness": 800, "bench": 4000}
# Bump when the golden schema/prediction changes so stale parquet on disk
# is regenerated (fixture content itself is deterministic, seed=42).
FIXTURE_VERSION = "3"


def ensure_fixtures(scale: str = "correctness") -> str:
    """Generate (once per FIXTURE_VERSION) and return the fixture dir."""
    out_dir = os.path.join(FIXTURE_ROOT, scale)
    marker = os.path.join(out_dir, "pages.parquet")
    vfile = os.path.join(out_dir, "VERSION")
    current = None
    if os.path.exists(vfile):
        with open(vfile) as f:
            current = f.read().strip()
    if not os.path.exists(marker) or current != FIXTURE_VERSION:
        write_fixtures(out_dir, SCALES[scale], seed=42)
        with open(vfile, "w") as f:
            f.write(FIXTURE_VERSION)
    return out_dir


if __name__ == "__main__":
    for scale in SCALES:
        d = ensure_fixtures(scale)
        print("fixtures ready:", d)
