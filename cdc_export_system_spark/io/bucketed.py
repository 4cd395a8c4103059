"""Bucketed-table support: co-located fact-fact joins with no exchange.

At 100 TB the orders⋈lineitem join is the dominant shuffle in every
star-schema workload. Bucketing both facts by the join key at ingest
(`bucketBy(n, key)` + `sortBy(key)` on a saved table) pre-partitions
them identically on disk, so every later equi-join or aggregation on
that key runs exchange-free: Spark's scan reports the bucket
partitioning and sort order, and the join degenerates to a per-bucket
sort-merge with no network movement. That trades one shuffle at write
time for zero shuffles on every subsequent read — the right trade for
tables joined more than once.

This module is the ingest path: it registers parquet star tables as
bucketed managed tables (idempotent per source version) and exposes the
joined query. The plan pin lives in tests/test_bucketed_join.py: the
bucketed join's physical plan must contain NO Exchange operator.

Bucket-count sizing: buckets are the unit of both storage layout and
join parallelism — pick ~(table size / 128 MB) at ingest so each bucket
is one healthy task; too few starves the cluster, too many makes small
files. Here 8 keeps local runs tight.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.io.sources import load_table, source_version

N_BUCKETS = 8


def _table_name(sf_dir: str, source: str, name: str) -> str:
    # keyed by the source's version: a rewritten source gets a new table
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir)
    return f"bkt_{name}_{tag}_{source_version(sf_dir, source)}"


def ensure_tables(
    spark: SparkSession, tables: list[str], build: Callable[[], None]
) -> None:
    """Run ``build``, which saves every one of ``tables``, unless all
    are in the session catalog. That catalog is in-memory: a stopped
    session may have left a managed location without its entry, which
    saveAsTable refuses to write over, so those are removed first."""
    if all(spark.catalog.tableExists(t) for t in tables):
        return
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in tables:
        shutil.rmtree(os.path.join(warehouse, t.lower()), ignore_errors=True)
    build()


def ensure_bucketed(
    spark: SparkSession, sf_dir: str, name: str, key: str, n_buckets: int = N_BUCKETS
) -> str:
    """Register `{sf_dir}/{name}.parquet` as a managed table bucketed and
    sorted by `key`; idempotent per source version. Returns its name."""
    tbl = _table_name(sf_dir, name, name)

    def build() -> None:
        (
            load_table(spark, sf_dir, name)
            # cluster rows into their buckets first: one file per bucket
            # (repartition's Murmur3 hash == the bucket spec's), so the
            # scan also reports per-bucket sort order
            .repartition(n_buckets, F.col(key))
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )

    ensure_tables(spark, [tbl], build)
    return tbl


def bucketed_orders_lineitem_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈lineitem on the bucket key — exchange-free by construction."""
    o = ensure_bucketed(spark, sf_dir, "orders", "o_orderkey")
    l = ensure_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    # MERGE hint: at test scale the facts fit under the broadcast
    # threshold, which would mask the co-location; at warehouse scale
    # SMJ is what the planner picks anyway.
    return spark.sql(f"""
        SELECT /*+ MERGE(o, l) */
               o.o_orderkey, o.o_totalprice, l.l_linenumber, l.l_quantity
        FROM {o} o JOIN {l} l ON o.o_orderkey = l.l_orderkey
    """)


from cdc_export_system_spark.registry import register  # noqa: E402


@register(
    "plan_bucketed_join",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber, l.l_quantity
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
    tags=("plan", "join", "io"),
)
def plan_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INGEST-TIME SHUFFLE TRADE as a driver-checkable query: both
    facts are registered (idempotently) as tables bucketed + sorted on
    the join key, and the orders-lineitem join then plans with ZERO
    Exchange operators — the bucket layout IS the shuffle, paid once at
    write time and amortized over every subsequent join/aggregate on
    that key. tests/test_bucketed_join.py pins the exchange-free plan;
    this registration makes the result itself hash-verified against the
    plain parquet join.

    Scale: at 100 TB this is THE dominant-join strategy — size buckets
    to ~128 MB each at ingest; every downstream consumer of the key
    inherits co-location for free."""
    return bucketed_orders_lineitem_join(spark, sf_dir)
