"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2, from the
engine's query registry (cdc_export_system_spark.registry).
``oracle_sql()`` — matching DuckDB SQL for the hash comparison; ops whose
semantics are not SQL-expressible are omitted (rows-only check).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdc_export_system_spark.registry import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from cdc_export_system_spark.operators.tpch import tpch_q1

    return tpch_q1(spark, "/root/testdata/sf0.001")


# The external correctness driver verifies a ~50-entry prefix of
# ``queries()`` per round, so the dict is ordered to rotate driver
# coverage across the whole registry (tests/test_entry_contract.py pins
# the order): queries never driver-green in any round first, in
# registry order; then the green ones, stalest first — by (latest green
# round, registry index) — so surplus prefix slots re-certify the
# oldest external rows.
def _round_order(registry) -> list[str]:
    import glob
    import json

    checked: dict[str, int] = {}  # name -> latest green round
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        except (IndexError, ValueError):
            rnd = 0
        try:
            with open(path) as f:
                for name, row in json.load(f).items():
                    green = row.get("hash_match") is True or (
                        row.get("err") == "no_oracle" and row.get("spark_rows") is not None
                    )
                    if green:
                        checked[name] = max(checked.get(name, 0), rnd)
        except (OSError, ValueError, AttributeError):
            pass
    unchecked = [n for n in registry if n not in checked]
    # sorted() is stable: names green in the same round keep registry order
    stalest_first = sorted((n for n in registry if n in checked), key=checked.get)
    return unchecked + stalest_first


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry = load_all()
    return {name: registry[name].fn for name in _round_order(registry)}


def oracle_sql() -> dict[str, str]:
    registry = load_all()
    return {
        name: registry[name].oracle
        for name in _round_order(registry)
        if registry[name].oracle is not None
    }
