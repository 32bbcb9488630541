"""Publish-date cascade (htmldate-style; reference metadata.go:184-220
delegates to go-htmldate with UseOriginalDate=true)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_trafilatura_spark import etree
from go_trafilatura_spark.metadata import _parse_date_string, extract_date_fast


def doc(html):
    return etree.parse_html(html)


def test_parse_iso():
    assert _parse_date_string("2020-01-02T08:00:00Z") == "2020-01-02"


def test_parse_dmy_dots():
    assert _parse_date_string("Veröffentlicht am 3.2.2019") == "2019-02-03"


def test_parse_dmy_slash_disambiguated():
    assert _parse_date_string("14/01/2020") == "2020-01-14"
    assert _parse_date_string("01/14/2020") == "2020-01-14"


def test_parse_month_names():
    assert _parse_date_string("January 20, 2020") == "2020-01-20"
    assert _parse_date_string("20. Januar 2020") == "2020-01-20"
    assert _parse_date_string("20 janvier 2020") == "2020-01-20"
    assert _parse_date_string("Notizia del 14 Gennaio 2020") == "2020-01-14"
    assert _parse_date_string("14 de enero 2020") == "2020-01-14"


def test_parse_cjk():
    assert _parse_date_string("2019年6月24日") == "2019-06-24"


# Strings mixing ASCII, Arabic-Indic, superscript and circled digits.
# str.isdigit accepts all four; \d (Unicode decimal) only the first two.
_MIXED_DIGITS = {
    "Published 2021-03-04": "2021-03-04",
    "Published ²⁰²¹-⁰³-⁰⁴": "",
    "①②③ ④⑤": "",
    "²³ items, ① first": "",
    "x² + y² = z²": "",
    "٢٠٢١-٠٣-٠٤": "",
    "نشر ٤ مارس ٢٠٢١": "",
    "٣.٢.٢٠١٩": "",
    "Posted 3.2.2019 ² ①": "2019-02-03",
    "Updated 14/01/2020 ① ٢": "2020-01-14",
    "January 20, 2020 ⁽²⁾": "2020-01-20",
    "٢٠ January 2020": "2020-01-20",
    "20 January ٢٠٢٠": "",
    "2019年6月24日 ①": "2019-06-24",
    "no digits here": "",
}


def test_digit_gate_is_exact_on_mixed_digits():
    """_parse_date_string screens with a \\d search. str.isdigit, the
    screen it replaced, accepts a superset; where the two disagree no
    date pattern can match, so the output is "" under either screen."""
    from go_trafilatura_spark import metadata

    patterns = [v for k, v in vars(metadata).items()
                if k.startswith("_RX_") and k.endswith(("_DATE", "_NAME"))]
    assert len(patterns) >= 9
    disagree = 0
    for s, want in _MIXED_DIGITS.items():
        old = any(ch.isdigit() for ch in s)
        new = metadata._RX_DIGIT_RUN.search(s) is not None
        assert old or not new, s
        if old and not new:
            disagree += 1
            assert all(rx.search(s) is None for rx in patterns), s
        assert _parse_date_string(s) == want, s
    assert disagree == 4


def test_url_full_date_wins():
    d = doc('<html><head><meta property="article:published_time" content="2022-03-04"/></head><body></body></html>')
    got = extract_date_fast(d, "https://x.example/2014/05/18/post/")
    assert got == "2014-05-18"


def test_published_meta_beats_modified():
    d = doc(
        '<html><head>'
        '<meta property="article:modified_time" content="2020-02-12"/>'
        '<meta property="article:published_time" content="2020-02-05"/>'
        "</head><body></body></html>"
    )
    assert extract_date_fast(d, "https://x.example/post") == "2020-02-05"


def test_modified_is_reserve():
    d = doc(
        '<html><head><meta property="article:modified_time" content="2020-02-12"/>'
        "</head><body><p>no other date here</p></body></html>"
    )
    assert extract_date_fast(d, "https://x.example/post") == "2020-02-12"


def test_time_element():
    d = doc('<html><body><time datetime="2019-08-16">16. August 2019</time></body></html>')
    assert extract_date_fast(d, "") == "2019-08-16"


def test_jsonld_date_published():
    d = doc(
        '<html><head><script type="application/ld+json">'
        '{"@type":"NewsArticle","datePublished":"2019-12-10T06:00:00+01:00"}'
        "</script></head><body></body></html>"
    )
    assert extract_date_fast(d, "") == "2019-12-10"


def test_date_classed_container():
    d = doc('<html><body><span class="post-meta">Posted on 22. Mai 2016</span><p>x</p></body></html>')
    assert extract_date_fast(d, "") == "2016-05-22"


def test_extensive_embedded_json():
    # JSON state in a HEAD script is only reached by the extensive
    # whole-document scan; the fast body scan never sees it.
    d = doc(
        '<html><head><script>var s = {"published_at":"2019-03-02T06:22:28+01:00"};</script>'
        "</head><body><p>content</p></body></html>"
    )
    assert extract_date_fast(d, "", extensive=False) == ""
    assert extract_date_fast(d, "", extensive=True) == "2019-03-02"


def test_extensive_frequency_vote():
    d = doc(
        "<html><body><p>footer 2008-11-20</p>"
        "<script>a=['2015-04-05','2015-04-05','2015-04-05']</script></body></html>"
    )
    # body first-match wins in both modes when the body carries a date
    assert extract_date_fast(d, "", extensive=True) == "2008-11-20"


def test_invalid_dates_rejected():
    assert _parse_date_string("1794-07-28") == ""
    assert _parse_date_string("2055-13-40") == ""


def test_comment_time_skipped():
    # A bare <time> inside the comment section is a comment stamp —
    # the article's own <time> must win even when it comes later.
    d = doc(
        '<html><body><div id="comments">'
        '<time datetime="2019-08-24T03:36:11+02:00">24. August 2019</time></div>'
        '<div class="entry"><time datetime="2019-08-16">16.08.2019</time></div>'
        "</body></html>"
    )
    assert extract_date_fast(d, "") == "2019-08-16"


def test_comments_open_status_class_is_not_comment_area():
    # WordPress puts "comments-open" on the article container itself.
    d = doc(
        '<html><body><div class="post comments-open">'
        '<time datetime="2012-08-02">2. August 2012</time></div></body></html>'
    )
    assert extract_date_fast(d, "") == "2012-08-02"


def test_publication_marker_beats_dateclass_container():
    # "Veröffentlicht am <date>" states the publication; a date-classed
    # sidebar container earlier in the page must not override it.
    d = doc(
        '<html><body><div class="byline date">24. August 2019</div>'
        "<p>Veröffentlicht am 16.08.2019</p></body></html>"
    )
    assert extract_date_fast(d, "") == "2019-08-16"


def test_itemprop_on_span():
    # Microdata dates are not limited to <time> elements.
    d = doc(
        '<html><body><span itemprop="datePublished" '
        'content="2020-03-18T13:15:00.000+01:00">18.03.2020</span>'
        "<p>later 26.03.2020</p></body></html>"
    )
    assert extract_date_fast(d, "") == "2020-03-18"


def test_camelcase_date_class():
    d = doc(
        '<html><body><span class="liveArticleAuthorDateBlockLabel"></span>'
        '<div class="articleDate">19.11.2021</div></body></html>'
    )
    assert extract_date_fast(d, "") == "2021-11-19"


def test_modified_marker_beats_first_bare_date():
    d = doc(
        "<html><body><p>Eintrag vom 31.05.2021 in der Liste</p>"
        "<p>Letzte Änderung: 14.01.2022 um 09:25</p></body></html>"
    )
    assert extract_date_fast(d, "") == "2022-01-14"


def test_timezone_skew_arbitration_extensive():
    """Extensive mode: when the cascade winner differs from a candidate
    by exactly one day and >=2 more tiers agree on the alternative (the
    timezone-skew signature), the majority calendar day wins."""
    d = doc(
        '<html><head>'
        '<meta property="article:published_time" '
        'content="2019-10-18T23:30:00+02:00"/></head>'
        '<body><time datetime="2019-10-19">19.10.2019</time>'
        '<div class="post-date">19.10.2019</div>'
        '<p>Am 19.10.2019 wurde berichtet.</p></body></html>'
    )
    # fast mode keeps first-tier-wins behavior (meta published)
    assert extract_date_fast(d, "") == "2019-10-18"
    assert extract_date_fast(d, "", extensive=True) == "2019-10-19"


def test_timezone_skew_needs_majority():
    # one lone disagreeing tier (a bare <time> datetime with no visible
    # date text) does NOT override the cascade winner
    d = doc(
        '<html><head>'
        '<meta property="article:published_time" '
        'content="2019-10-18T23:30:00+02:00"/></head>'
        '<body><time datetime="2019-10-19">yesterday</time>'
        "<p>no other dates here</p></body></html>"
    )
    assert extract_date_fast(d, "", extensive=True) == "2019-10-18"


def test_date_url_first_flag():
    """A /YYYY/MM/DD/ URL date outranks published meta."""
    d = doc(
        '<html><head><meta property="article:published_time" '
        'content="2021-05-10"/></head><body><p>x</p></body></html>'
    )
    url = "https://ex.com/2021/05/12/some-post/"
    assert extract_date_fast(d, url) == "2021-05-12"


# ---------------------------------------------------------------------------
# _digit_neighborhoods margin invariant (ADVICE r5): the window-scan
# reduction is candidate-exact only while every supported pattern's
# non-whitespace interior stays under the margin. These tests make a
# new/changed pattern fail LOUDLY instead of diverging silently on the
# >4096-char blob path.
# ---------------------------------------------------------------------------


def test_digit_neighborhood_pattern_set_pinned():
    """The margin analysis below covers exactly the patterns
    _parse_date_string scans, directly or through a date form's
    ``first``. Adding a pattern or a form to the cascade MUST fail here
    until the margin invariant is re-verified (and the adversarial
    corpus below extended)."""
    import inspect
    import re

    from go_trafilatura_spark import metadata

    src = inspect.getsource(metadata._parse_date_string)
    used = set(re.findall(r"(_RX_\w+)\.finditer", src))
    forms = [getattr(metadata, name) for name in re.findall(r"(_\w+)\.first\(", src)]
    assert forms and all(isinstance(f, metadata._DateForm) for f in forms)
    used |= {name for name, value in vars(metadata).items()
             if name.startswith("_RX_") and any(f.rx is value for f in forms)}
    assert used == {
        "_RX_ISO_DATE", "_RX_DMY_DATE", "_RX_MDY_DATE", "_RX_MDY_NAME",
        "_RX_DMY_NAME", "_RX_CJK_DATE", "_RX_DMY2_DATE",
    }, ("_parse_date_string's pattern set changed — re-verify the "
        "_digit_neighborhoods margin invariant (non-ws interior < 24, "
        "no NUL-matching construct, no >4096-char whitespace jump) and "
        "update this pin + the adversarial corpus.")


def test_digit_neighborhood_margin_bound():
    """Numeric margin invariant: every pattern's largest possible
    non-whitespace run (measured from a digit) fits inside the ±24-char
    window, and no pattern source contains a construct that could match
    across the NUL window separator or a >4096-char whitespace gap."""
    from go_trafilatura_spark import metadata

    margin = 24
    # Longest month name + worst decoration ("de "/"del " prefix, "."
    # abbreviation dot, ordinal suffix, comma) — the name patterns'
    # largest non-ws stretch adjacent to a digit run.
    longest_month = max(len(m) for m in metadata._MONTHS)
    assert longest_month + len("del ") + len("th,.") < margin
    # Fixed-width numeric patterns: widest full matches.
    for probe in ("9999-99-99", "99.99.9999", "99/99/9999", "99.99.99",
                  "9999年99月99日"):
        assert len(probe) < margin
    # No pattern may match across NUL (the window join byte) or rely on
    # whitespace runs longer than the 4096-char bounded back-walk:
    # \D, ., [^...] classes and explicit \x00 would all do the former.
    for name in ("_RX_ISO_DATE", "_RX_DMY_DATE", "_RX_MDY_DATE",
                 "_RX_MDY_NAME", "_RX_DMY_NAME", "_RX_CJK_DATE",
                 "_RX_DMY2_DATE"):
        pat = getattr(metadata, name).pattern
        assert "\\D" not in pat, name
        assert "\x00" not in pat and "\\x00" not in pat, name
        assert "[^" not in pat, name
        # a bare unescaped/unbracketed '.' matches NUL; every '.' in
        # these patterns must be escaped (literal dot)
        stripped = pat.replace("\\.", "")
        assert "." not in stripped, (
            f"{name} contains an unescaped '.' — it would match across "
            "the NUL window separator")


def test_digit_neighborhood_padded_parity_all_months():
    """Empirical candidate-exactness: every month name × every
    decoration shape parses identically on the bare string and embedded
    in a >4096-char digit-free blob (the _digit_neighborhoods path),
    including arbitrarily long whitespace runs inside the match."""
    from go_trafilatura_spark import metadata

    filler = ("lorem ipsum dolor sit amet consectetur adipiscing elit " * 60
              + "\n\n" + " " * 64 + "sed do eiusmod tempor incididunt ut "
              + "labore et dolore magna aliqua " * 60)
    assert len(filler) > 4096 and not any(c.isdigit() for c in filler)

    cases = []
    for month in metadata._MONTHS:
        cases.append(f"28 de {month} de 2006")   # DMY with particles
        cases.append(f"{month} 28, 2006")         # MDY name
        cases.append(f"28. {month} 2006")         # German ordinal-dot
    cases += [
        "2021-11-09T12:00:00",
        "Veröffentlicht am 3.2.2019",
        "14/01/2020",
        "2019年6月24日",
        "am 03.02.19 um",
        # real-corpus whitespace-jump shapes (Wayback toolbar et al.)
        "DOMINGO 8\n" + " " * 40 + "de mayo de 2022",
        "May\n" + " " * 30 + "\n28 2006",
    ]
    for s in cases:
        bare = metadata._parse_date_string(s)
        assert bare != "", s
        blob = filler + "\n" + s + "\n" + filler
        assert metadata._parse_date_string(blob) == bare, s


def _month_spellings():
    """Every month name with each of its letters replaced by every code
    point that ``(?i)`` lets stand for some month-name letter. A code
    point outside that set cannot lie inside a name match, so this
    covers every code point in every position."""
    import re
    import sys

    from go_trafilatura_spark import metadata

    letters = re.compile("(?i)[" + "".join(sorted(set("".join(metadata._MONTHS)))) + "]")
    folds = [c for c in map(chr, range(sys.maxunicode + 1)) if letters.fullmatch(c)]
    for name in metadata._MONTHS:
        for i in range(len(name)):
            for c in folds:
                yield name[:i] + c + name[i + 1:]


def test_every_month_name_match_reads_a_month():
    """(?i) matches İ and ı as i and ſ as s; the readers fold those too,
    so no month-name match raises (``_MONTHS[name.lower()]`` raised
    KeyError on ``APRİL``) and every one reads its month."""
    from go_trafilatura_spark import metadata

    matched = set()
    for spelled in _month_spellings():
        for form, text in ((metadata._MDY_NAME, f"{spelled} 3, 2020"),
                           (metadata._DMY_NAME, f"3 {spelled} 2020")):
            for m in form.rx.finditer(text):
                assert form.read(m).startswith("2020-"), (text, m.group())
                matched.add(spelled)
    assert {"aprİl", "aprıl", "auguſt", "ſeptember", "April"} <= matched


def test_dotted_capital_i_month_page_extracts_its_date():
    """The page was rejected whole as parse_error while the month reader
    raised; now its meta date reads."""
    from go_trafilatura_spark.kernel import OUTPUT_COLUMNS, KernelOptions, _extract_row

    body = "".join(f"<p>Paragraph {i} of the report, long enough to keep as "
                   f"main content for the extractor to find.</p>" for i in range(8))
    html = ('<html><head><meta name="date" content="APRİL 3, 2020">'
            f"<title>Report</title></head><body><article>{body}</article></body></html>")
    row = dict(zip([c for c in OUTPUT_COLUMNS if c not in ("url", "warc_ts", "lang")],
                   _extract_row("https://example.org/report", html.encode(), KernelOptions({}))))
    assert row["reject_reason"] is None
    assert row["date"] == "2020-04-03"
