"""The three CDC export queries — the heart of the reference, re-expressed
as DataFrame plans.

Reference semantics preserved exactly (they are the spec, SURVEY.md §7):

* full (exports.py:70-95): all ``is_deleted = FALSE`` rows; the new
  watermark is max(updated_at) **of the exported (non-deleted) rows**.
* incremental (exports.py:98-135): ``updated_at > wm AND NOT is_deleted``;
  **no watermark => export nothing** (exports.py:110-113).
* delta (exports.py:138-171): ``updated_at > wm`` *including* soft-deleted
  rows, plus the 3-way ``operation`` classification (exports.py:39-45):
  DELETE if is_deleted, INSERT if created_at == updated_at, else UPDATE.
* strict ``>`` on the watermark (exports.py:119,158) — rows stamped
  exactly at the watermark after an export are lost; documented contract.
* empty batch => no file, no watermark advance (exports.py:87,127,163).

Each function returns (rows_exported, new_watermark|None) and only the
caller (cdc.jobs) commits state, preserving the reference's
export-then-commit ordering.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame, Observation, functions as F

from cdc_export_system_spark.io.csv_sink import write_users_csv
from cdc_export_system_spark.schemas import DELTA_EXPORT_COLUMNS, EXPORT_COLUMNS
from cdc_export_system_spark.state.watermark import WatermarkStore


def classify_operation() -> Column:
    """Delta operation column (exports.py:39-45 / README:252-258)."""
    return (
        F.when(F.col("is_deleted"), "DELETE")
        .when(F.col("created_at") == F.col("updated_at"), "INSERT")
        .otherwise("UPDATE")
    )


def export_csv(
    df: DataFrame, filepath: str, columns: list[str]
) -> tuple[int, datetime | None]:
    """Write the batch through the sink; returns (rows, max(updated_at)).

    The reference computes the watermark driver-side over fully
    materialized rows (exports.py:92 — O(result) RAM); here an
    Observation on the batch reads max(updated_at) off the sink's own
    write job, so the export is that one write and nothing else. Empty
    batch: no file, (0, None).
    """
    wm = Observation()
    n = write_users_csv(df.observe(wm, F.max("updated_at").alias("m")), filepath, columns)
    if n == 0:
        return 0, None  # empty => no file, no advance (exports.py:87-88)
    return n, wm.get["m"]


def run_full_export(users: DataFrame, filepath: str) -> tuple[int, datetime | None]:
    """Full snapshot of live rows (exports.py:70-95)."""
    live = users.filter(~F.col("is_deleted")).select(EXPORT_COLUMNS)
    return export_csv(live, filepath, EXPORT_COLUMNS)


def run_incremental_export(
    users: DataFrame,
    store: WatermarkStore,
    consumer_id: str,
    filepath: str,
) -> tuple[int, datetime | None]:
    """Live rows strictly after the consumer's watermark (exports.py:98-135)."""
    wm = store.get(consumer_id)
    if wm is None:
        # No prior full export: nothing to export (exports.py:110-113).
        return 0, None
    batch = (
        users.filter((F.col("updated_at") > F.lit(wm)) & (~F.col("is_deleted")))
        .select(EXPORT_COLUMNS)
    )
    return export_csv(batch, filepath, EXPORT_COLUMNS)


def run_delta_export(
    users: DataFrame,
    store: WatermarkStore,
    consumer_id: str,
    filepath: str,
) -> tuple[int, datetime | None]:
    """Changelog rows (deletes included) after the watermark, with the
    operation classification (exports.py:138-171)."""
    wm = store.get(consumer_id)
    if wm is None:
        return 0, None  # same no-watermark policy (exports.py:152-154)
    batch = (
        users.filter(F.col("updated_at") > F.lit(wm))
        .withColumn("operation", classify_operation())
        .select(DELTA_EXPORT_COLUMNS)
    )
    return export_csv(batch, filepath, DELTA_EXPORT_COLUMNS)
