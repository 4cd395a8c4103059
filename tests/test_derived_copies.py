"""Derived copies of source tables (``io.sources.derived_dir`` and
``io.bucketed.ensure_tables``): every copy is keyed by the version of
the source it was built from, so a source rewritten in place is never
answered from a copy of its old contents, and an unchanged source is
copied once."""

from __future__ import annotations

import os
import shutil
import uuid
from urllib.parse import urlparse

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cdc_export_system_spark.io.bucketed import ensure_tables, plan_bucketed_join
from cdc_export_system_spark.io.format_roundtrip import source_csv_roundtrip
from cdc_export_system_spark.io.partitioned import (
    SLICE_END,
    SLICE_START,
    sink_parquet_partitioned,
)
from cdc_export_system_spark.io.sources import derived_dir, load_table, source_version
from cdc_export_system_spark.session import scratch_dir
from tests.conftest import SF_DIR


def _copy_sources(tmp_path, names):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for name in names:
        shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), sf)
    return sf


def _keep_every_other_row(sf, name):
    """Rewrite one source table in place with every other row."""
    path = os.path.join(sf, f"{name}.parquet")
    table = pq.read_table(path)
    pq.write_table(table.take(list(range(0, table.num_rows, 2))), path)


def _expected(spark, sf):
    """The three answers, computed from the source as it is now."""
    orders = load_table(spark, sf, "orders")
    lineitem = load_table(spark, sf, "lineitem")
    day = F.to_date("ts")
    week = load_table(spark, sf, "events").filter(
        (day >= F.lit(SLICE_START).cast("date")) & (day < F.lit(SLICE_END).cast("date"))
    )
    joined = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
    return orders.count(), week.count(), joined.count()


def _answers(spark, sf):
    total = lambda df, col: df.agg(F.sum(col)).first()[0]  # noqa: E731
    return (
        total(source_csv_roundtrip(spark, sf), "n_orders"),
        total(sink_parquet_partitioned(spark, sf), "n_events"),
        plan_bucketed_join(spark, sf).count(),
    )


def test_rewritten_source_gives_a_fresh_answer(spark, tmp_path):
    sf = _copy_sources(tmp_path, ["orders", "lineitem", "events"])
    before = _expected(spark, sf)
    assert _answers(spark, sf) == before
    _keep_every_other_row(sf, "orders")
    _keep_every_other_row(sf, "events")
    after = _expected(spark, sf)
    assert all(a < b for a, b in zip(after, before))
    assert _answers(spark, sf) == after


def test_derived_dir_builds_once_per_source_version(spark, tmp_path):
    sf = _copy_sources(tmp_path, ["orders"])
    writes = []

    def write(df, path):
        writes.append(path)
        df.write.parquet(path)

    first = derived_dir(spark, sf, "orders", "copy", write)
    assert derived_dir(spark, sf, "orders", "copy", write) == first
    assert len(writes) == 1
    # under the per-process scratch root, so removed at exit
    assert os.path.dirname(os.path.dirname(first)) == os.path.dirname(
        scratch_dir("probe-")
    )

    version = source_version(sf, "orders")
    _keep_every_other_row(sf, "orders")
    assert source_version(sf, "orders") != version
    second = derived_dir(spark, sf, "orders", "copy", write)
    assert second != first and len(writes) == 2
    assert spark.read.parquet(second).count() == pq.read_metadata(
        os.path.join(sf, "orders.parquet")
    ).num_rows


def test_ensure_tables_builds_once_over_a_stale_location(spark):
    name = f"bkt_once_{uuid.uuid4().hex}"
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(warehouse, name)
    os.makedirs(stale)  # left by a stopped session: no catalog entry
    open(os.path.join(stale, "part-0.parquet"), "w").close()
    builds = []

    def build():
        builds.append(name)
        spark.range(3).write.format("parquet").saveAsTable(name)

    try:
        ensure_tables(spark, [name], build)
        ensure_tables(spark, [name], build)
        assert builds == [name]
        assert spark.table(name).count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
