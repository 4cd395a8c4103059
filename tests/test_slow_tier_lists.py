"""The slow tier is two name lists in conftest.py; a renamed or deleted
test leaves a stale entry behind silently, and a new test reusing a
stale name would be skipped unnoticed. Pin every entry to something
that exists."""

from __future__ import annotations

import os
import re

from tests.conftest import _SLOW_FILES, _SLOW_TESTS

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def test_slow_files_exist():
    missing = sorted(f for f in _SLOW_FILES if not os.path.isfile(os.path.join(TESTS_DIR, f)))
    assert not missing, f"stale _SLOW_FILES entries: {missing}"


def test_slow_tests_name_defined_tests():
    defined = set()
    for name in os.listdir(TESTS_DIR):
        if name.startswith("test_") and name.endswith(".py"):
            with open(os.path.join(TESTS_DIR, name)) as f:
                defined.update(re.findall(r"^\s*def (test_\w+)\(", f.read(), re.M))
    missing = sorted(_SLOW_TESTS - defined)
    assert not missing, f"stale _SLOW_TESTS entries: {missing}"
