"""The CSV export sink (io/csv_sink.py) and the export path through it:
RFC 4180 quoting as Python's ``csv`` module writes it, a row count that
counts records rather than lines, the watermark read off the same write
job, and the number of Spark jobs one export runs."""

from __future__ import annotations

import csv
import io
import os
import uuid
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from cdc_export_system_spark.cdc.jobs import start_export_job
from cdc_export_system_spark.datagen import PINNED_NOW, generate_users
from cdc_export_system_spark.io.csv_sink import write_users_csv
from cdc_export_system_spark.state.watermark import WatermarkStore

NOW = PINNED_NOW.replace(tzinfo=None)

# every value the csv module treats specially, plus the spaces Spark's
# CSV writer trims by default
AWKWARD = ['Bo, "Jr"', "Ann\nLee", "x\r\ny", "back\\slash", '"', "", None, "  lead", "trail  "]


@pytest.fixture()
def store(spark, tmp_path):
    return WatermarkStore(spark, str(tmp_path / "state"))


def _records(path):
    with open(path, newline="") as f:
        return list(csv.reader(f))[1:]


def test_sink_quotes_like_csv_writer(spark, tmp_path):
    """The sink's bytes equal ``csv.writer(lineterminator="\\n")``: quotes
    doubled inside a quoted field (not backslash-escaped), line breaks
    and commas quoted, backslashes and spaces left alone, null and empty
    both empty."""
    rows = [(i, v) for i, v in enumerate(AWKWARD)]
    df = spark.createDataFrame(rows, "id long, name string").repartition(4)
    path = str(tmp_path / "awkward.csv")
    assert write_users_csv(df, path, ["id", "name"], order_by="id") == len(rows)

    expect = io.StringIO()
    w = csv.writer(expect, lineterminator="\n")
    w.writerow(["id", "name"])
    w.writerows((i, "" if v is None else v) for i, v in rows)
    with open(path, newline="") as f:
        assert f.read() == expect.getvalue()
    assert [r[1] for r in _records(path)] == ["" if v is None else v for v in AWKWARD]


def test_rows_exported_counts_records_and_watermark_is_batch_max(spark, store, tmp_path):
    """rowsExported is the number of CSV records, even when names hold
    line breaks and quotes; the committed watermark is max(updated_at)
    of the rows written; an empty batch writes no file and leaves the
    watermark where it was."""
    n = 64
    users = generate_users(spark, n_rows=n, seed=7, num_partitions=4).withColumn(
        "name", F.concat(F.lit('Ann "A"\n'), F.col("id"), F.lit(",\nLee"))
    )
    out = str(tmp_path / "out")

    def export(export_type, frame, filename):
        job = start_export_job(
            frame, store, export_type, "awk", output_dir=out, filename=filename
        )
        return job["rowsExported"], os.path.join(out, filename)

    full_rows, full_path = export("full", users, "full.csv")
    live = users.filter(~F.col("is_deleted"))
    assert full_rows == len(_records(full_path)) == live.count()
    assert store.get("awk") == live.agg(F.max("updated_at")).first()[0]

    bumped = users.withColumn(
        "updated_at",
        F.when(
            F.col("id") % 5 == 0,
            F.lit(NOW + timedelta(seconds=1)).cast("timestamp")
            + F.make_interval(secs=F.col("id").cast("int")),
        ).otherwise(F.col("updated_at")),
    )
    inc_rows, inc_path = export("incremental", bumped, "inc.csv")
    changed = bumped.filter((F.col("id") % 5 == 0) & ~F.col("is_deleted"))
    records = _records(inc_path)
    assert inc_rows == len(records) == changed.count() > 1
    assert all("\n" in r[1] for r in records)
    assert store.get("awk") == changed.agg(F.max("updated_at")).first()[0]

    wm = store.get("awk")
    empty_rows, empty_path = export("incremental", bumped, "empty.csv")
    assert empty_rows == 0
    assert not os.path.exists(empty_path)
    assert store.get("awk") == wm


def _group_jobs(sc, group: str) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    n = 0
    for i in range(jobs.length()):
        g = jobs.apply(i).jobGroup()
        n += g.isDefined() and g.get() == group
    return n


def test_incremental_export_runs_at_most_three_spark_jobs(spark, store, tmp_path):
    """One export is one sink write: the sort's range sample, its shuffle
    map stage and the write. No pre-pass for the watermark, no read-back
    for the row count."""
    users = generate_users(spark, n_rows=1_000, seed=3, num_partitions=4).cache()
    users.count()
    out = str(tmp_path / "out")
    start_export_job(users, store, "full", "jobs", output_dir=out, filename="full.csv")
    bumped = users.withColumn(
        "updated_at",
        F.when(F.col("id") % 7 == 0, F.lit(NOW + timedelta(seconds=1)).cast("timestamp"))
        .otherwise(F.col("updated_at")),
    )
    sc = spark.sparkContext
    group = f"export-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        job = start_export_job(
            bumped, store, "incremental", "jobs", output_dir=out, filename="inc.csv"
        )
    finally:
        sc._jsc.clearJobGroup()
    users.unpersist()
    assert job["rowsExported"] > 0
    assert 1 <= _group_jobs(sc, group) <= 3
