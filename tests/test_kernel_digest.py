"""Kernel output on the 800 fixture pages is pinned: the identity digest
of ``kernel_digest.py`` under the default options and under
``enable_fallback`` equals its pin in ``kernel_digests.json``. The full
set of pinned cases runs as ``python tests/kernel_digest.py``."""

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
