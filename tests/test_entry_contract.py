"""Driver-contract pins for __spark_entry__.py.

The correctness driver consumes a ~50-entry prefix of ``queries()``; the
order that rotates it must stay the documented one (never-checked names
first, then the stalest green rows), and an oracle_sql() key that isn't
in queries() would crash the driver. These pins make both loud.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

from cdc_export_system_spark.registry import load_all  # noqa: E402

REGISTRY = load_all()


def test_queries_and_oracles_align():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    assert set(q) == set(REGISTRY)
    assert len(q) == len(REGISTRY)


def _latest_green() -> dict[str, int]:
    """Same green predicate as entry._round_order: name -> the latest
    round with a green driver row."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path) as f:
            for name, row in json.load(f).items():
                green = row.get("hash_match") is True or (
                    row.get("err") == "no_oracle"
                    and row.get("spark_rows") is not None
                )
                if green:
                    latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _driver_green() -> set[str]:
    return set(_latest_green())


def test_round_order_is_unchecked_then_stalest_green():
    """The whole order: every never-checked name first, in registry
    order; then the green names sorted by (latest green round, registry
    index)."""
    latest = _latest_green()
    reg = list(REGISTRY)
    idx = {n: i for i, n in enumerate(reg)}
    expected = [n for n in reg if n not in latest] + sorted(
        (n for n in reg if n in latest), key=lambda n: (latest[n], idx[n])
    )
    assert list(entry.queries()) == expected
    assert list(entry.oracle_sql()) == [
        n for n in expected if REGISTRY[n].oracle is not None
    ]


def test_round_order_puts_unchecked_first():
    """Entries already driver-green must sort after every never-checked
    entry, so the driver's ~50-entry prefix always lands on fresh
    queries."""
    checked = _driver_green() & set(REGISTRY)
    order = list(entry.queries())
    if not checked or len(checked) == len(order):
        return
    last_unchecked = max(i for i, n in enumerate(order) if n not in checked)
    first_checked = min(i for i, n in enumerate(order) if n in checked)
    assert first_checked > last_unchecked
