"""Per-process scratch directories (``session.scratch_dir``).

Registered queries that need files of their own (LogTable roots,
streaming feeds, sinks and checkpoints) take a fresh directory under
one per-process root that is removed at interpreter exit. Two pins:
the directories are distinct and gone once the process exits, and no
engine module makes temp directories any other way, so none can leak
into the temp dir again."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

REPO = os.path.join(os.path.dirname(__file__), "..")
PKG = os.path.join(REPO, "cdc_export_system_spark")

# session.py owns the scratch root; derived copies of source tables
# (io.sources.derived_dir) live under it too
_ALLOWED = {"session.py"}
_TEMP_CALLS = {"mkdtemp", "gettempdir"}


def test_scratch_dirs_are_distinct_and_removed_at_exit():
    code = (
        "import os\n"
        "from cdc_export_system_spark.session import scratch_dir\n"
        "a, b = scratch_dir('x-'), scratch_dir('x-')\n"
        "assert os.path.isdir(a) and os.path.isdir(b)\n"
        "print(a)\n"
        "print(b)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, check=True, timeout=120,
    ).stdout.split()
    a, b = out
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b)  # one per-process root
    for path in (a, b, os.path.dirname(a)):
        assert not os.path.exists(path), path


def _temp_calls(path: str) -> list[tuple[int, str]]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name in _TEMP_CALLS:
            hits.append((node.lineno, ast.unparse(fn)))
    return hits


def test_engine_makes_temp_dirs_only_through_scratch_dir():
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            if rel in _ALLOWED:
                continue
            offenders += [f"{rel}:{ln} {call}()" for ln, call in _temp_calls(path)]
    assert not offenders, (
        "use session.scratch_dir instead of a temp dir of your own: "
        + ", ".join(offenders)
    )
