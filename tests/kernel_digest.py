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
- ``dates``: generated pages (``date_rows``) on which one date tier of
  ``metadata._date_tier_candidates`` is the only dated one, for every
  tier and every date form, plus edge pages for the date scans' bounds,
  the url's date tiers and the extensive mode's one-day arbitration.
- ``selectors``: generated pages (``selector_rows``) on which one rule
  of ``selectors``' rule lists decides part of the output, for every
  rule, plus the license footer scan and the ``prune_junk`` selector.
  Deleting any one rule moves at least one of its cases.

``kernel_digests.json``, next to this file, pins every case's digest.
Run ``python tests/kernel_digest.py`` to print one line per case: page
set, option set, digest, and ``ok``, ``MOVED`` or ``UNPINNED`` against
its pin, then a summary line; it exits 1 unless every case is ``ok``.
A change that moves kernel output on purpose re-pins the moved cases
and names them. ``test_kernel_digest.py`` checks a fast subset in the suite.
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
    "date_disabled": {"date_mode": "disabled"},
    "comments_excluded_precision": {"exclude_comments": True, "focus": 2},
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


# -- the dates page set ------------------------------------------------------

_FILLER = (
    "The harbour committee met again to discuss the old lighthouse and the "
    "ferry timetable that everyone in town keeps arguing about. Residents "
    "described long queues at the landing, missed connections and a ticket "
    "office that opens far too late for the morning commuters. ",
    "Several speakers asked for a covered waiting area, better lighting on "
    "the pier and clearer signs for visitors who arrive without knowing the "
    "routes. The chair promised a written answer before the next meeting. ",
    "Local traders said that the ferry brings most of their summer trade and "
    "that any cut in service would hurt the small shops along the front. A "
    "fisherman added that the harbour wall needs repair before the storms. ",
)

_MONTH_NAMES = {
    "en": ("January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"),
    "de": ("Januar", "Februar", "März", "April", "Mai", "Juni", "Juli",
           "August", "September", "Oktober", "November", "Dezember"),
    "fr": ("janvier", "février", "mars", "avril", "mai", "juin", "juillet",
           "août", "septembre", "octobre", "novembre", "décembre"),
    "es": ("enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
           "agosto", "septiembre", "octubre", "noviembre", "diciembre"),
}

# How each date form writes (year, month, day).
DATE_FORMS = {
    "iso": lambda y, m, d: f"{y}-{m:02d}-{d:02d}",
    "dmy": lambda y, m, d: f"{d:02d}.{m:02d}.{y}",
    "mdy": lambda y, m, d: f"{m:02d}/{d:02d}/{y}",
    "mdy_day_first": lambda y, m, d: f"{max(d, 13)}/{m:02d}/{y}",
    "name_en": lambda y, m, d: f"{_MONTH_NAMES['en'][m - 1]} {d}, {y}",
    "name_de": lambda y, m, d: f"{d}. {_MONTH_NAMES['de'][m - 1]} {y}",
    "name_fr": lambda y, m, d: f"{d} {_MONTH_NAMES['fr'][m - 1]} {y}",
    "name_es": lambda y, m, d: f"{d} de {_MONTH_NAMES['es'][m - 1]} de {y}",
    "cjk": lambda y, m, d: f"{y}年{m}月{d}日",
    "dmy2": lambda y, m, d: f"{d:02d}.{m:02d}.{y % 100:02d}",
    "compact": lambda y, m, d: f"{y}{m:02d}{d:02d}",
}

# Where each tier of the date cascade finds its date: (head, body) html
# with {date} in it. The extensive-only tiers come last.
DATE_TIERS = {
    "meta_pub": ('<meta property="article:published_time" content="{date}">', ""),
    "meta_modified": ('<meta name="last-modified" content="{date}">', ""),
    "time_pub": ("", '<p>Filed <time pubdate="pubdate" datetime="{date}">earlier</time>.</p>'),
    "time_itemprop": ("", '<p><time itemprop="datePublished">{date}</time></p>'),
    "time_bare": ("", '<p>Filed <time datetime="{date}">earlier</time>.</p>'),
    "time_in_comments": ("", '<div id="comments"><p>A reader wrote back '
                             '<time datetime="{date}">later</time>.</p></div>'),
    "abbr": ("", '<p>Filed <abbr class="published" title="{date}">earlier</abbr>.</p>'),
    "itemprop_div": ("", '<div itemprop="datePublished" content="{date}"></div>'),
    "container": ("", '<div class="entry-date">{date}</div>'),
    "jsonld_published": ('<script type="application/ld+json">{{"@type": "NewsArticle", '
                         '"headline": "Harbour", "datePublished": "{date}"}}</script>', ""),
    "jsonld_modified": ('<script type="application/ld+json">{{"@type": "NewsArticle", '
                        '"headline": "Harbour", "dateModified": "{date}"}}</script>', ""),
    "marker_pub_de": ("", "<p>Veröffentlicht am {date} von der Redaktion</p>"),
    "marker_pub_en": ("", "<p>Posted on {date} by the editors</p>"),
    "marker_mod": ("", "<p>Last updated {date} by the editors</p>"),
    "visible_text": ("", "<p>The meeting of {date} ended without a vote.</p>"),
    "desc_meta": ('<meta name="description" content="Harbour meeting of {date}">', ""),
    "embedded_json": ('<script>var page = {{"published_at": "{date}"}};</script>', ""),
    "frequency_only": ("", '<img src="/img/{date}.png" alt=""><img src="/img/{date}.jpg" '
                           'alt=""><p data-ref="{date}">Archive copy</p>'),
}


def _date_page(title: str, head: str, body: str, rng) -> bytes:
    paragraphs = "".join(f"<p>{rng.choice(_FILLER)}{rng.choice(_FILLER)}</p>"
                         for _ in range(3))
    return (f"<html><head><title>{title}</title>{head}</head><body><article>"
            f"<h1>{title}</h1>{body}{paragraphs}</article></body></html>").encode("utf-8")


def date_rows(seed: int = 17) -> list[tuple]:
    """The ``dates`` page set: for every tier of ``DATE_TIERS`` and every
    form of ``DATE_FORMS`` two pages, that tier's date the only one on
    the page; then the edge pages. Deterministic for a seed."""
    import random

    rng = random.Random(seed)

    def ymd():
        return rng.randint(1996, 2039), rng.randint(1, 12), rng.randint(1, 28)

    rows = []
    for tier, (head, body) in DATE_TIERS.items():
        for form, write in DATE_FORMS.items():
            for copy in range(2):
                date = write(*ymd())
                rows.append((f"https://news.example/{tier}/{form}-{copy}",
                             _date_page(f"Harbour {tier} {form}",
                                        head.format(date=date), body.format(date=date), rng)))

    def edge(name, head="", body=""):
        rows.append((f"https://news.example/edge/{name}", _date_page(f"Harbour {name}", head,
                                                                     body, rng)))

    for k in range(4):
        y, m, d = ymd()
        iso = f"{y}-{m:02d}-{d:02d}"
        # an invalid candidate ahead of a valid one, within a form and per tier
        edge(f"invalid_first_iso_{k}", body=f"<p>Ticket {y}-13-{d:02d} then {iso}.</p>")
        edge(f"invalid_first_time_{k}",
             body=f'<p><time pubdate="pubdate" datetime="{y}-{m:02d}-45">x</time>'
                  f'<time pubdate="pubdate" datetime="{iso}">y</time></p>')
        edge(f"invalid_first_marker_{k}",
             body=f"<p>Posted on 31/31/{y} again.</p><p>{_FILLER[0]}</p>"
                  f"<p>Posted on {m}/{d}/{y}.</p>")
        edge(f"invalid_first_meta_{k}",
             head=f'<meta name="description" content="Edition 1990-01-01">'
                  f'<meta name="og:description" content="Edition of {iso}">')
        # a body over 4,096 characters with the date deep inside
        edge(f"deep_date_{k}", body="".join(f"<p>{rng.choice(_FILLER)}</p>" for _ in range(24))
             + f"<p>Meeting of {DATE_FORMS['name_en'](y, m, d)}.</p>"
             + "".join(f"<p>{rng.choice(_FILLER)}</p>" for _ in range(6)))
        # more than 25 invalid M/D/Y candidates before a valid one
        noise = " ".join(f"{13 + i % 15}/{13 + i % 17}/{y}" for i in range(27 + k))
        edge(f"mdy_bound_{k}", body=f"<p>Codes {noise} and {m:02d}/{d:02d}/{y}.</p>")
        # the url's date tiers
        rows.append((f"https://news.example/{y}/{m:02d}/{d:02d}/harbour-{k}",
                     _date_page("Harbour url", "", "", rng)))
        rows.append((f"https://news.example/archive/{iso}/harbour-{k}",
                     _date_page("Harbour url dash", "", "", rng)))
        rows.append((f"https://news.example/archive/{d:02d}-{m:02d}-{y}.html",
                     _date_page("Harbour url dash dmy", "", "", rng)))
        # each url form reads its first match only
        rows.append((f"https://news.example/{y}/13/{d:02d}/x/{y}/{m:02d}/{d:02d}/x/{y}-13-{d:02d}/x/"
                     f"{iso}/harbour-{k}", _date_page("Harbour url invalid first", "", "", rng)))
        # one-day skew: the first tier says one day, three later tiers the next
        d2 = d + 1
        edge(f"skew_{k}",
             head=f'<meta property="article:published_time" content="{iso}T23:30:00-05:00">',
             body=f'<p><time datetime="{y}-{m:02d}-{d2:02d}">then</time></p>'
                  f'<div class="entry-date">{d2:02d}.{m:02d}.{y}</div>'
                  f"<p>Posted on {DATE_FORMS['name_en'](y, m, d2)}.</p>")
        # three valid candidates in one tier count as one supporting tier
        edge(f"skew_one_tier_{k}",
             head=f'<meta property="article:published_time" content="{iso}">'
                  f'<meta name="last-modified" content="{iso}">',
             body="".join(f'<p><time pubdate="pubdate" datetime="{y}-{m:02d}-{d2:02d}">'
                          f"then</time></p>" for _ in range(3)))
        # skew with one supporting tier only: the cascade order stands
        edge(f"skew_weak_{k}",
             head=f'<meta property="article:published_time" content="{iso}">',
             body=f'<p><time datetime="{y}-{m:02d}-{d2:02d}">then</time></p>')
        # out-of-range parts in every form
        edge(f"out_of_range_{k}", body="<p>" + " ".join(
            write(1990 + k, m, d) for write in DATE_FORMS.values()) + "</p>")
    return rows


# -- the selectors page set --------------------------------------------------

# A first-match rule of CONTENT and COMMENTS: the page's only container
# that any rule of the list matches, keyed by the rule it belongs to.
# {text} is the container's paragraphs.
CONTENT_CONTAINERS = {
    "content_rule_1": '<div class="post-content">{text}</div>',
    "content_rule_2": "<article>{text}</article>",
    "content_rule_3": '<div class="story-content">{text}</div>',
    "content_rule_4": '<div id="content">{text}</div>',
    "content_rule_5": "<main>{text}</main>",
    "content_rule_5_class": '<div class="main-area">{text}</div>',
}

COMMENTS_CONTAINERS = {
    "comments_rule_1": '<ol class="commentlist"><li>{text}</li></ol>',
    "comments_rule_2": '<ul id="comments"><li>{text}</li></ul>',
    "comments_rule_3": '<div id="disqus_thread">{text}</div>',
    "comments_rule_4": '<section class="user-comment-area">{text}</section>',
}

# An element inside the content (an <article>) that only the named rule
# removes; {text} is one sentence. DISCARDED_COMMENTS elements sit in a
# comments container instead. The rule that pruning needs an option set
# for names it: PRECISION_DISCARDED_CONTENT runs under focus_precision,
# REMOVED_COMMENTS under comments_excluded_precision and the prune
# selector under prune_junk.
DISCARDS = {
    "overall_discarded_rule_1": '<div class="share-tools"><p>{text}</p></div>',
    "overall_discarded_rule_2": '<div class="hide-print"><p>{text}</p></div>',
    "precision_discarded_rule_1": "<header><p>{text}</p></header>",
    "precision_discarded_rule_2": '<div class="bottom-box"><p>{text}</p></div>',
    "discarded_teaser_rule": '<div class="teaser"><p>{text}</p></div>',
    "discarded_image_rule": '<div class="caption"><p>{text}</p></div>',
    "removed_comments_rule": '<div class="comments-area"><p>{text}</p></div>',
    "prune_junk": '<div class="junk"><p>{text}</p></div><blockquote class="sidebar"><p>'
                  'Quoted from <a href="/elsewhere">{text}</a> today.</p></blockquote>',
}

COMMENT_DISCARDS = {
    "discarded_comments_rule_1": '<div id="respond"><p>{text}</p></div>',
    "discarded_comments_rule_2": "<quote><p>{text}</p></quote>",
    "discarded_comments_rule_3": '<p class="signin">{text}</p>',
}

# DOM metadata: markup ahead of the <article> whose value only the named
# rule finds. The pages carry no og, meta or JSON-LD value and no <h1>
# (or two), so the DOM paths run.
META_MARKUP = {
    "meta_title_rule_1": '<h2 class="headline">Harbour board backs the ferry plan</h2>',
    "meta_title_rule_1_two_h1": "<h1>Harbour</h1><h1>Ferries</h1>"
                                '<h2 class="headline">Harbour board backs the ferry plan</h2>',
    "meta_title_rule_2": '<span class="post-title">Pier lights return this winter</span>',
    "meta_title_rule_3": '<h3 class="title">Ticket office opens at six</h3>',
    "meta_author_rule_1": '<p><a rel="author" href="/people/jane-roe">Jane Roe</a></p>',
    "meta_author_rule_1_tag": "<author>Jane Roe</author>",
    "meta_author_rule_2": '<p><span class="username">Jane Roe</span></p>',
    "meta_author_rule_3": '<p><em class="writer">Jane Roe</em></p>',
    # a candidate inside a discard is skipped; a discard inside a
    # candidate is pruned from its text
    "meta_author_discard_rule_1_around":
        '<div class="sidebar"><span class="username">Sam Side</span></div>'
        '<p><span class="username">Jane Roe</span></p>',
    "meta_author_discard_rule_1_inside":
        '<p><span class="username">Jane Roe <span class="date">Harbour desk</span></span></p>',
    "meta_author_discard_rule_2_around":
        '<figure><span class="username">Fig Person</span></figure>'
        '<p><span class="username">Jane Roe</span></p>',
    "meta_author_discard_rule_2_inside":
        '<p><span class="username">Jane Roe <time>Harbour desk</time></span></p>',
    "meta_categories_rule_1": '<div class="post-meta"><a href="/category/harbour/">Harbour</a></div>',
    "meta_categories_rule_2": '<p class="postinfo"><a href="/category/ferries/">Ferries</a></p>',
    "meta_categories_rule_3":
        '<footer class="entry-footer"><a href="/category/council/">Council</a></footer>',
    "meta_categories_rule_4": '<span class="cat-links"><a href="/categories/town/">Town</a></span>',
    "meta_categories_rule_5":
        '<header class="entry-header"><a href="/category/local/">Local</a></header>',
    "meta_categories_rule_6": '<div class="row"><a href="/category/news/">News</a></div>',
    # a div.tags is also a later rule's container: the later rule adds the pier tag
    "meta_tags_rule_1": '<div class="tags"><a href="/tag/ferry/">ferry</a></div>'
                        '<div class="meta-box"><a href="/tag/pier/">pier</a></div>',
    "meta_tags_rule_2": '<p class="entry-tags"><a href="/tag/harbour/">harbour</a></p>',
    "meta_tags_rule_3": '<div class="jp-relatedposts"><a href="/tag/lighthouse/">lighthouse</a></div>',
    "meta_tags_rule_4": '<ul class="hot-topics"><li><a href="/tags/council/">council</a></li></ul>',
    "license_rel": '<p><a rel="license" href="https://creativecommons.org/licenses/by-sa/4.0/">'
                   "Some rights reserved</a></p>",
    "license_footer": '<footer><p><a href="https://creativecommons.org/licenses/by/4.0/">'
                      "Licensed</a></p></footer>",
    "license_footer_class": '<div class="site-footer"><a href='
                            '"https://creativecommons.org/licenses/by-nc/3.0/">Licensed</a></div>',
    "license_footer_id": '<div id="footer"><a href='
                         '"https://creativecommons.org/licenses/by-nd/2.5/">Licensed</a></div>',
}


def selector_rows(seed: int = 23) -> list[tuple]:
    """The ``selectors`` page set: for every rule of ``selectors``' rule
    lists, and for the license footer scan and the prune selector of
    ``prune_junk``, a page on which that rule decides part of the
    output (``CONTENT_CONTAINERS``, ``COMMENTS_CONTAINERS``,
    ``DISCARDS``, ``COMMENT_DISCARDS``, ``META_MARKUP``). Deterministic
    for a seed."""
    import random

    rng = random.Random(seed)

    def text(n=3):
        return "".join(f"<p>{rng.choice(_FILLER)}{rng.choice(_FILLER)}</p>" for _ in range(n))

    def sentence():
        return rng.choice(_FILLER).split(". ")[0] + "."

    def page(name, body):
        html = (f"<html><head><title>Harbour page {name}</title></head>"
                f"<body>{body}</body></html>")
        return (f"https://news.example/selectors/{name}", html.encode("utf-8"))

    # the text outside the container is what a missed container lets in
    promo = f'<div class="promo-box"><p>{sentence()} {sentence()}</p></div>'
    rows = [page(name, promo + markup.format(text=text()) + promo)
            for name, markup in CONTENT_CONTAINERS.items()]
    rows += [page(name, f"<article>{text()}</article>"
                  + markup.format(text=text(2)))
             for name, markup in COMMENTS_CONTAINERS.items()]
    rows += [page(name, f"<article>{text(2)}{markup.format(text=sentence())}{text(1)}</article>")
             for name, markup in DISCARDS.items()]
    rows += [page(name, f"<article>{text()}</article><div id=\"comments\">{text(2)}"
                  f"{markup.format(text=sentence())}</div>")
             for name, markup in COMMENT_DISCARDS.items()]
    rows += [page(name, f"{markup}<article>{text()}</article>")
             for name, markup in META_MARKUP.items()]
    return rows


PAGE_SETS = {
    "fixtures": fixture_rows,
    "crawl": crawl_rows,
    "fallback": fallback_rows,
    "br_chain": br_chain_rows,
    "dates": date_rows,
    "selectors": selector_rows,
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


def main() -> int:
    """Print every case, then a summary; 1 when a case moved or has no pin."""
    pins = pinned()
    states = []
    for set_name, load in PAGE_SETS.items():
        rows = load()
        for opt_name, opts in OPTION_SETS.items():
            got = digest(rows, opts)
            pin = pins.get(set_name, {}).get(opt_name)
            state = "UNPINNED" if pin is None else "ok" if got == pin else "MOVED"
            states.append(state)
            print(set_name, opt_name, got, state, flush=True)
    print(f"{len(states)} cases: {states.count('ok')} ok, {states.count('MOVED')} MOVED, "
          f"{states.count('UNPINNED')} UNPINNED")
    return 0 if states.count("ok") == len(states) else 1


if __name__ == "__main__":
    sys.exit(main())
