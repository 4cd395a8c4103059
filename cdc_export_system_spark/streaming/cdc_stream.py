"""Streaming CDC: the reference's export protocol as Structured Streaming.

The reference's watermark protocol *is* micro-batch streaming done by hand
(SURVEY.md §2.9): poll rows with ``updated_at > wm``, export, advance the
offset transactionally. Structured Streaming gives each piece natively:

* the users table's change feed  -> ``readStream`` file source (new
  parquet files under the changes dir are the arriving micro-batches)
* per-consumer watermark         -> the streaming checkpoint's offset log
  (plus the engine's WatermarkStore for API parity with batch mode)
* "export only after success"    -> ``foreachBatch`` + the sink's atomic
  commit; a failed batch replays with the same epoch id (idempotent)
* one-shot incremental pull      -> ``trigger(availableNow=True)``

reference: app/services/exports.py:98-135 (incremental),:138-171 (delta);
the streaming form preserves the same projections, classifications and
empty-batch semantics per micro-batch.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.cdc.exports import classify_operation, export_csv
from cdc_export_system_spark.schemas import DELTA_EXPORT_COLUMNS, EXPORT_COLUMNS, USERS_SCHEMA
from cdc_export_system_spark.state.watermark import WatermarkStore


def users_change_stream(spark: SparkSession, changes_dir: str) -> DataFrame:
    """The users change feed as a stream (declared schema, never inferred)."""
    return spark.readStream.schema(USERS_SCHEMA).parquet(changes_dir)


def _export_stream(
    spark: SparkSession,
    changes_dir: str,
    store: WatermarkStore,
    consumer_id: str,
    output_dir: str,
    checkpoint_dir: str,
    export_type: str,
    project: Callable[[DataFrame], DataFrame],
) -> list[dict[str, Any]]:
    """Drain all available changes, each micro-batch through the batch
    export path (``cdc.exports.export_csv``: one sink write that also
    yields the batch's max(updated_at)); the watermark advances only
    after a non-empty write, and only forward. Returns the per-batch job
    summaries."""
    results: list[dict[str, Any]] = []

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        frame = project(batch_df)
        path = os.path.join(output_dir, f"{export_type}_{consumer_id}_epoch{epoch_id}.csv")
        n, new_wm = export_csv(frame, path, frame.columns)
        if n == 0:
            results.append({"epoch": epoch_id, "rowsExported": 0})
            return  # empty batch: no file, no advance (exports.py:127-128)
        # a high-water mark: a late file of older rows never moves it back
        stored = store.get(consumer_id)
        if stored is None or new_wm > stored:
            store.upsert(consumer_id, new_wm)
        results.append({"epoch": epoch_id, "rowsExported": n, "file": path})

    q = (
        users_change_stream(spark, changes_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return results


def run_incremental_export_stream(
    spark: SparkSession,
    changes_dir: str,
    store: WatermarkStore,
    consumer_id: str,
    output_dir: str,
    checkpoint_dir: str,
) -> list[dict[str, Any]]:
    """Drain all available changes as incremental-export micro-batches.

    Each micro-batch applies the batch incremental semantics (live rows
    only) and lands in its own CSV; the checkpoint is the offset log, the
    WatermarkStore mirrors the batch-mode observable state.
    """
    return _export_stream(
        spark, changes_dir, store, consumer_id, output_dir, checkpoint_dir, "incremental",
        lambda b: b.filter(~F.col("is_deleted")).select(EXPORT_COLUMNS),
    )


def run_delta_export_stream(
    spark: SparkSession,
    changes_dir: str,
    store: WatermarkStore,
    consumer_id: str,
    output_dir: str,
    checkpoint_dir: str,
) -> list[dict[str, Any]]:
    """Streaming delta export: deletes included + operation column
    (exports.py:138-171 per micro-batch)."""
    return _export_stream(
        spark, changes_dir, store, consumer_id, output_dir, checkpoint_dir, "delta",
        lambda b: b.withColumn("operation", classify_operation()).select(DELTA_EXPORT_COLUMNS),
    )


def attach_job_listener(spark: SparkSession, emit: Callable[[str, dict], None]):
    """StreamingQueryListener reproducing the reference's job log events
    (jobs.py:24-29,45-50,53-57) for streaming queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            emit("export_started", {"jobId": str(event.id), "runId": str(event.runId)})

        def onQueryProgress(self, event):
            p = event.progress
            emit(
                "export_progress",
                {"jobId": str(p.id), "rowsExported": p.numInputRows,
                 "durationSeconds": (p.batchDuration or 0) / 1000.0},
            )

        def onQueryTerminated(self, event):
            name = "export_failed" if event.exception else "export_completed"
            emit(name, {"jobId": str(event.id), "error": event.exception})

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
