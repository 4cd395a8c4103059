"""LogTable.merge's append path and its Spark job budget.

A batch whose key range overlaps no live file is an append: no row of
the table can survive or be deleted, so the merge writes the batch's
upserts alone. These pins check that the append means the same as an
upsert into a dict, that it writes files in the table's own types, and
how many Spark jobs an append and a rewriting merge run."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from cdc_export_system_spark.io.txn_table import LogTable
from tests.test_csv_sink import _group_jobs

N = 64  # table keys 0..63, 4 files of 16 keys


def _mk(spark, tmp_path):
    df = spark.range(N).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("double").alias("v")
    )
    return LogTable.create(spark, str(tmp_path / "t"), df, "k", n_files=4)


def _rows(t):
    return {r["k"]: r["v"] for r in t.read().collect()}


APPEND_CASES = {
    "new_keys": [(100, 1.0, False), (101, 2.0, False), (150, 3.0, False)],
    "new_keys_and_absent_deletes": [
        (100, 1.0, False), (120, None, True), (130, 4.0, False), (140, None, True),
    ],
    "absent_deletes_only": [(100, None, True), (200, None, True)],
    "empty": [],
}


@pytest.mark.parametrize("case", sorted(APPEND_CASES))
def test_append_only_merge_matches_dict_upsert(spark, tmp_path, case):
    t = _mk(spark, tmp_path)
    rows = APPEND_CASES[case]
    model = _rows(t)
    for k, v, deleted in rows:
        if deleted:
            model.pop(k, None)
        else:
            model[k] = v
    before = t._replay().version
    v, stats = t.merge(
        spark.createDataFrame(rows, "k long, v double, _deleted boolean")
    )
    assert _rows(t) == model
    assert stats["files_touched"] == stats["rows_rewritten"] == 0
    assert stats["files_total"] == 4
    # an empty batch commits nothing; any other batch is one commit
    assert v == t._replay().version == before + (0 if case == "empty" else 1)


def test_append_writes_the_table_types(spark, tmp_path):
    """A batch declared ``int``/``float`` appended to a ``long``/``double``
    table writes a file with the table's physical schema, not the
    batch's."""
    t = _mk(spark, tmp_path)
    old = set(t._replay().files)
    _, stats = t.merge(
        spark.createDataFrame(
            [(100, 0.5, False), (101, 2.25, False)],
            "k int, v float, _deleted boolean",
        )
    )
    assert stats["files_touched"] == 0
    snap = t._replay()
    (new,) = set(snap.files) - old
    written = spark.read.parquet(os.path.join(t.root, new)).schema
    assert [(f.name, f.dataType) for f in written.fields] == [
        (f.name, f.dataType) for f in t._physical_schema(snap).fields
    ]
    got = _rows(t)
    assert got[100] == 0.5 and got[101] == 2.25 and len(got) == N + 2


@pytest.mark.parametrize(
    "keys, touched, budget",
    [
        ([100, 101, 102], False, 3),  # append: pin, shuffle map, write
        ([3, 5, 40], True, 4),  # rewrite: + the anti-join's broadcast
    ],
    ids=["append", "rewrite"],
)
def test_merge_spark_job_budget(spark, tmp_path, keys, touched, budget):
    """The key range rides the pin's checkpoint job, so a merge runs no
    job of its own to find the files it touches."""
    t = _mk(spark, tmp_path)
    batch = spark.createDataFrame(
        [(k, 1.0, False) for k in keys], "k long, v double, _deleted boolean"
    )
    sc = spark.sparkContext
    group = f"merge-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        _, stats = t.merge(batch)
    finally:
        sc._jsc.clearJobGroup()
    assert (stats["files_touched"] > 0) == touched
    assert 1 <= _group_jobs(sc, group) <= budget


def test_optimize_takes_bucket_width_from_the_log(spark, tmp_path):
    """``optimize`` reads the table's max key from the add-actions' exact
    ``max_pk``: it runs only its rewrite (the shuffle map stage and the
    write), and the rows and bucket width equal those a full-scan max
    gives."""
    t = _mk(spark, tmp_path)
    for lo in (100, 200, 300):  # three appends, each a new top-bucket file
        t.merge(
            spark.createDataFrame(
                [(k, float(k), False) for k in range(lo, lo + 5)],
                "k long, v double, _deleted boolean",
            )
        )
    before = _rows(t)
    scan_max = t.read().agg(F.max("k")).head()[0]
    n_out = t._replay().meta["n_files"]
    sc = spark.sparkContext
    group = f"optimize-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        _, stats = t.optimize()
    finally:
        sc._jsc.clearJobGroup()
    assert 1 <= _group_jobs(sc, group) <= 2
    assert stats["files_before"] > stats["files_after"]
    assert t._replay().meta["bucket_k"] == scan_max // n_out + 1
    assert _rows(t) == before
