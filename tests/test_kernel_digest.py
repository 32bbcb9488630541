"""Kernel output on the 800 fixture pages is pinned: the identity digest
of ``kernel_digest.py`` under the default options and under
``enable_fallback`` equals its pin in ``kernel_digests.json``, and so does
that of the ``fallback`` benchmark pages under ``enable_fallback`` (the
heavy-page path through readability), that of the generated ``dates``
pages under the default options and under extensive dates, and that of
the generated ``selectors`` pages under every option set that runs one
of their rules. The full set of pinned cases runs as
``python tests/kernel_digest.py``."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest

import kernel_digest


@pytest.fixture(scope="module")
def rows():
    return kernel_digest.fixture_rows()


@pytest.mark.parametrize("option_set", ["default", "enable_fallback"])
def test_fixture_digest_is_pinned(rows, option_set):
    got = kernel_digest.digest(rows, kernel_digest.OPTION_SETS[option_set])
    assert got == kernel_digest.pinned()["fixtures"][option_set]


def test_fallback_digest_is_pinned():
    got = kernel_digest.digest(kernel_digest.fallback_rows(),
                               kernel_digest.OPTION_SETS["enable_fallback"])
    assert got == kernel_digest.pinned()["fallback"]["enable_fallback"]


@pytest.mark.parametrize("option_set", ["default", "date_extensive"])
def test_dates_digest_is_pinned(option_set):
    got = kernel_digest.digest(kernel_digest.date_rows(), kernel_digest.OPTION_SETS[option_set])
    assert got == kernel_digest.pinned()["dates"][option_set]


# default runs every rule list but the two below and the prune selector
@pytest.mark.parametrize("option_set", ["default", "focus_precision", "prune_junk",
                                        "comments_excluded_precision"])
def test_selectors_digest_is_pinned(option_set):
    got = kernel_digest.digest(kernel_digest.selector_rows(),
                               kernel_digest.OPTION_SETS[option_set])
    assert got == kernel_digest.pinned()["selectors"][option_set]
