"""Static check: the scripts and bench.py still fit the engine they drive.

Nothing runs ``scripts/*.py`` in the test tier, so a script can rot
silently when an engine name or keyword it uses is deleted. This check
parses each one with ``ast``, imports every name it takes from
``cdc_export_system_spark``, and checks each keyword it passes to such a
name against the callee's ``inspect.signature``.
"""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cdc_export_system_spark"
FILES = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py"))) + [
    os.path.join(ROOT, "bench.py")
]


def _resolve(node: ast.expr, bound: dict[str, object]):
    """The engine object a call's ``func`` names (``f`` or ``a.b.f``
    rooted at an imported name), or None."""
    if isinstance(node, ast.Name):
        return bound.get(node.id)
    if isinstance(node, ast.Attribute):
        base = _resolve(node.value, bound)
        return None if base is None else getattr(base, node.attr, None)
    return None


def problems(path: str) -> list[str]:
    """Unresolvable engine imports and unknown keywords in one file."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    where = os.path.relpath(path, ROOT)
    out: list[str] = []
    bound: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PKG:
            for alias in node.names:
                name = f"{node.module}.{alias.name}"
                try:
                    mod = importlib.import_module(node.module)
                    obj = (
                        getattr(mod, alias.name)
                        if hasattr(mod, alias.name)
                        else importlib.import_module(name)
                    )
                except ImportError:
                    out.append(f"{where}:{node.lineno}: cannot import {name}")
                    continue
                bound[alias.asname or alias.name] = obj
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = _resolve(node.func, bound)
        if fn is None or not callable(fn) or inspect.ismodule(fn):
            continue
        params = inspect.signature(fn).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        for kw in node.keywords:
            if kw.arg is not None and kw.arg not in params:
                out.append(
                    f"{where}:{node.lineno}: {getattr(fn, '__qualname__', fn)}() "
                    f"takes no keyword {kw.arg!r}"
                )
    return out


@pytest.mark.parametrize("path", FILES, ids=lambda p: os.path.relpath(p, ROOT))
def test_script_uses_only_live_engine_names_and_keywords(path):
    assert problems(path) == []
