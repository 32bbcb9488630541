"""title_case parity with x/text cases.Title(language.English)
(reference metadata.go:234 sitename capitalization, :737 author
normalization; SURVEY §7.4.7 apostrophe/hyphen edge cases)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from go_trafilatura_spark.metadata import title_case


@pytest.mark.parametrize("raw,want", [
    ("hello world", "Hello World"),
    # MidLetter apostrophe: one word, only the first letter titlecases
    ("don't stop", "Don't Stop"),
    ("o'neill", "O'neill"),
    ("l’été", "L’été"),
    # hyphen is a word break
    ("jean-pierre dupont", "Jean-Pierre Dupont"),
    # MidNumLet dot joins only between alphanumerics
    ("u.s. army", "U.s. Army"),
    ("example.com site", "Example.com Site"),
    (". leading dot", ". Leading Dot"),
    # ExtendNumLet underscore joins
    ("foo_bar baz", "Foo_bar Baz"),
    # digits don't consume the titlecase slot
    ("3rd place", "3Rd Place"),
    ("42", "42"),
    # UAX#29 side rules (round 4): MidNumLetQ (' and .) joins
    # letter·letter or digit·digit but NOT mixed sides — the word
    # breaks, so the letter after the digit run titlecases
    ("x'3rd", "X'3Rd"),
    ("a.4th", "A.4Th"),
    ("1.5 million", "1.5 Million"),
    ("rock 'n' roll", "Rock 'N' Roll"),
    # U+2019 is MidLetter: letters only, digits break
    ("1’5th", "1’5Th"),
    # ':' is MidLetter (Swedish-style abbreviations)
    ("s:t erik", "S:t Erik"),
    ("time: 12", "Time: 12"),
    # '_' is ExtendNumLet: chains through underscore runs
    ("foo__bar baz", "Foo__bar Baz"),
    ("foo_3rd", "Foo_3rd"),
    # already-mixed input is normalized
    ("MiXeD CaSe", "Mixed Case"),
    ("", ""),
])
def test_title_case(raw, want):
    assert title_case(raw) == want


def test_sitename_capitalization_path():
    # metadata.go:227-235: "@" prefix stripped; names with a dot keep
    # their casing; lowercase dot-less sitenames get title-cased.
    from go_trafilatura_spark import etree
    from go_trafilatura_spark.metadata import bind_metadata, extract_metadata
    from go_trafilatura_spark.options import Options

    html = (
        '<html><head><title>T</title>'
        '<meta property="og:site_name" content="@der blog"/></head>'
        "<body><p>x</p></body></html>"
    )
    m = bind_metadata(*extract_metadata(etree.parse_html(html), Options()), None, Options())
    assert m.sitename == "Der Blog"
