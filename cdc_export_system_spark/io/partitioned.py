"""Hive-partitioned parquet sink + partition-pruned reads.

The reference's CDC index (``seeds/001_schema.sql:11``, btree on
``users(updated_at)``) exists to make time-bounded incremental pulls
cheap; the warehouse-scale equivalent is DATE PARTITIONING: one
directory per day, so a time-range predicate prunes whole partitions at
PLANNING time — the scan never even lists the excluded directories.
This module is that layout decision as an operator:

* ``partitioned_write`` — events repartitioned by day and written
  ``partitionBy("event_date")``; one shuffle, each writer owns whole
  days, no small-file spray (without the repartition, every task writes
  a file into every day's directory — task×day files is the classic
  partitioned-sink mistake).
* ``sink_parquet_partitioned`` (registered) — writes (once per
  process and source version, ``io.sources.derived_dir``), reads back
  a one-week slice, and aggregates; the oracle computes the same week
  from the original parquet, proving the layout round-trips values
  exactly. tests/test_partitioned_sink.py pins the plan:
  PartitionFilters carries the date bounds, the pushed-down data filter
  set is empty (the partition column does the work), and the directory
  layout contains one subdir per day.

Scale: daily partitions bound partition count to |days| (3.7k/decade —
fine for any metastore); the in-partition file count is the
repartition's parallelism knob. A second-level key (e.g. event_type)
is the documented refinement when one day outgrows a writer wave.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.io.sources import derived_dir
from cdc_export_system_spark.registry import register, sql_dsum, dsum

# one-week probe slice: matches the testdata's first full week
SLICE_START = "2024-01-08"
SLICE_END = "2024-01-15"  # exclusive


def partitioned_write(df: DataFrame, path: str) -> None:
    """Write events Hive-partitioned by event_date. The repartition on
    the partition key is the scale-critical step: it co-locates each
    day's rows on one writer, so the sink emits |days| × O(1) files
    instead of |tasks| × |days|."""
    (
        df.withColumn("event_date", F.to_date("ts"))
        .repartition(F.col("event_date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def _per_type(
    spark: SparkSession, sf_dir: str, pick: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Event count and value sum per type over the rows ``pick`` keeps
    of the day-partitioned copy of events."""
    base = derived_dir(spark, sf_dir, "events", "by_day", partitioned_write)
    if not any(d.startswith("event_date=") for d in os.listdir(base)):
        # zero-row source: the writer leaves only _SUCCESS, and a
        # parquet read of a partitionless dir cannot infer a schema
        return spark.createDataFrame(
            [], "event_type string, n_events bigint, total_value double"
        )
    return (
        pick(spark.read.parquet(base))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
        )
    )


@register(
    "sink_parquet_partitioned",
    oracle=f"""
        SELECT event_type, count(*) AS n_events,
               {sql_dsum("value", "total_value")}
        FROM events
        WHERE CAST(ts AS DATE) >= DATE '{SLICE_START}'
          AND CAST(ts AS DATE) < DATE '{SLICE_END}'
        GROUP BY event_type
    """,
    tags=("connector", "source", "pushdown", "layout"),
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the date-partitioned layout: write events
    partitioned by event_date (once per source version), read back ONE
    WEEK via a partition-column predicate — pruned at planning time,
    the excluded day-directories (23 of 30 on the testdata) are never
    scanned (plan pin in tests/test_partitioned_sink.py) — and
    aggregate per type. The oracle computes the identical week from
    the original unpartitioned parquet, so a hash match proves the
    partitioned layout loses nothing (timestamps keep microseconds; the
    derived partition column round-trips as a real DATE)."""
    return _per_type(
        spark,
        sf_dir,
        lambda back: back.filter(
            (F.col("event_date") >= F.lit(SLICE_START).cast("date"))
            & (F.col("event_date") < F.lit(SLICE_END).cast("date"))
        ),
    )


@register(
    "plan_dynamic_partition_pruning",
    oracle=f"""
        SELECT event_type, count(*) AS n_events,
               {sql_dsum("value", "total_value")}
        FROM events
        WHERE dayofweek(CAST(ts AS DATE)) = 1
        GROUP BY event_type
    """,
    tags=("plan", "join", "pushdown", "layout"),
)
def plan_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING end-to-end: the date-partitioned events
    copy joins a calendar dimension filtered to MONDAYS — a predicate
    the fact scan cannot see statically — and Catalyst injects a
    runtime subquery filter on the partition column, so only ~1/7 of
    the day-directories are read (plan pin:
    tests/test_partitioned_sink.py asserts `dynamicpruning` in the
    fact's PartitionFilters). This is THE mechanism that makes
    star-schema joins over a partitioned 100 TB fact affordable when
    the pruning predicate lives on the dimension; the static sibling is
    sink_parquet_partitioned's literal date slice.

    The oracle computes the same Monday aggregate from the
    unpartitioned source, so the hash match proves pruning lost no
    rows. Calendar dim is generated (sequence over the year), bounded
    and broadcast."""
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-12-31").cast("date"),
            )
        ).alias("d")
    )
    # Spark dayofweek: Sunday=1 -> Monday=2 (oracle's DuckDB dayofweek
    # numbers Sunday=0 -> Monday=1)
    dim = cal.filter(F.dayofweek("d") == 2)
    return _per_type(
        spark,
        sf_dir,
        lambda back: back.join(F.broadcast(dim), back.event_date == dim.d),
    )
