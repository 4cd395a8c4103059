"""Export job runner — the engine's job lifecycle layer.

Mirrors the reference's observable contract (app/main.py:31-53,
app/services/jobs.py:20-60):

* job dict: ``{jobId, status: "started", exportType, outputFilename}``
* filename ``{export_type}_{sanitized_consumer}_{UTCstamp}.csv``
  (app/main.py:31-34; spaces in consumer_id -> underscores)
* structured log events ``export_started`` / ``export_completed``
  (rowsExported, durationSeconds) / ``export_failed`` (error)
  (jobs.py:24-29,45-50,53-57)
* watermark advances only after a successful export, to the batch max;
  never on failure or on an empty batch (jobs.py:31-58, README:329-335).

Transactionality: the reference wraps query + watermark upsert in one DB
transaction but writes the CSV non-atomically inside it (exports.py:90
precedes the jobs.py:42 commit, so a failed job can leave a file behind).
Here the sink itself is atomic (temp + rename) and the watermark commit
is an atomic pointer swap that happens strictly after the sink commit —
a failed job leaves no file and no state change. Documented divergence:
strictly stronger than the reference.
"""

from __future__ import annotations

import json
import logging
import time
import uuid
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame

from cdc_export_system_spark.cdc import exports as _exports
from cdc_export_system_spark.state.watermark import WatermarkStore

logger = logging.getLogger("cdc_export_system_spark.jobs")

EXPORT_TYPES = ("full", "incremental", "delta")


def _log_event(event: str, **fields: Any) -> None:
    logger.info(json.dumps({"event": event, **fields}))


def make_output_filename(export_type: str, consumer_id: str, now: datetime | None = None) -> str:
    """{type}_{consumer}_{stamp}.csv (app/main.py:31-34)."""
    now = now or datetime.now(timezone.utc)
    stamp = now.strftime("%Y%m%dT%H%M%SZ")
    safe_consumer = consumer_id.replace(" ", "_")
    return f"{export_type}_{safe_consumer}_{stamp}.csv"


def start_export_job(
    users: DataFrame,
    store: WatermarkStore,
    export_type: str,
    consumer_id: str,
    output_dir: str = "output",
    job_id: str | None = None,
    filename: str | None = None,
) -> dict[str, Any]:
    """Run one export job synchronously; returns the job dict augmented
    with rowsExported (the reference returns 202 before the background
    task runs and never persists job state — we keep the dict shape and
    add the outcome since the call is synchronous). The HTTP facade
    (api.py) mints job_id/filename in the route — exactly where the
    reference mints them (app/main.py:43,31-34) — and passes them in so
    its 202 can be sent before the job runs."""
    if not consumer_id:
        raise ValueError("X-Consumer-ID required")  # app/main.py:25-28
    if export_type not in EXPORT_TYPES:
        raise ValueError(f"unknown export type: {export_type}")  # jobs.py:39-40

    job_id = job_id or str(uuid.uuid4())
    filename = filename or make_output_filename(export_type, consumer_id)
    filepath = f"{output_dir.rstrip('/')}/{filename}"
    _log_event(
        "export_started", jobId=job_id, exportType=export_type, consumerId=consumer_id,
        outputFilename=filename,
    )
    t0 = time.monotonic()
    try:
        if export_type == "full":
            n, new_wm = _exports.run_full_export(users, filepath)
        elif export_type == "incremental":
            n, new_wm = _exports.run_incremental_export(users, store, consumer_id, filepath)
        else:
            n, new_wm = _exports.run_delta_export(users, store, consumer_id, filepath)
        # State commit strictly after a successful, non-empty sink commit
        # (wm_advance_rule: jobs.py:31-58 + exports.py:87,127,163).
        if n > 0 and new_wm is not None:
            store.upsert(consumer_id, new_wm)
    except Exception as exc:  # export_failed: no state mutated (jobs.py:51-58)
        _log_event("export_failed", jobId=job_id, exportType=export_type, error=str(exc))
        raise
    duration = time.monotonic() - t0
    _log_event(
        "export_completed", jobId=job_id, exportType=export_type,
        rowsExported=n, durationSeconds=round(duration, 3),
    )
    return {
        "jobId": job_id,
        "status": "started",
        "exportType": export_type,
        "outputFilename": filename,
        "rowsExported": n,
    }


def get_watermark_response(store: WatermarkStore, consumer_id: str) -> dict[str, str] | None:
    """GET /exports/watermark shape (app/main.py:94-107): None => 404."""
    wm = store.get(consumer_id)
    if wm is None:
        return None
    return {"consumerId": consumer_id, "lastExportedAt": wm.isoformat()}
