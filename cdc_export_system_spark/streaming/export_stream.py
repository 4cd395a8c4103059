"""The reference's incremental CSV export as a CONTINUOUS pipeline.

The reference runs its export loop request-at-a-time (FastAPI handler →
SELECT > watermark → CSV → advance watermark, app/services/
exports.py:98-135). This module is that loop as a Structured Streaming
query: the changelog arrives as a stream of files, ``foreachBatch``
applies the exact batch-export contract to every micro-batch — filter
strictly-after the seed watermark, serialize to CSV (ISO timestamps,
ordered by event time), no file when the batch exports zero rows — and
the watermark store advances only on a successful non-empty write
(wm_advance_rule, cdc/exports.py:42-55).

Determinism note (what makes this oracle-checkable): micro-batch
ARRIVAL ORDER is not guaranteed, so every per-batch decision is made
against the FIXED seed watermark, never the advancing one; the advancing
store takes max() across batches. Totals, the exported row set, the
file count (one CSV per week-file with surviving rows), and the final
watermark are therefore all order-independent — pure functions of the
data — and the summary row matches a one-statement SQL oracle.

Scale: the feed is file-granular (maxFilesPerTrigger) exactly like a
warehouse landing zone. Each batch is one Spark write through the
shared CSV sink (io/csv_sink.py: ISO timestamps, one file, ordered by
``ts, event_id``); its row count and an Observation of max(ts) ride that
write, so only the per-batch (rows, max_ts) pair reaches the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from cdc_export_system_spark.io.csv_sink import write_users_csv
from cdc_export_system_spark.registry import register
from cdc_export_system_spark.session import scratch_dir

# Fixed seed watermark: mid-range of the testdata's event horizon. The
# continuous export ships everything strictly after this instant.
EXPORT_SEED_WM = "2024-01-15 00:00:00"


@register(
    "stream_export_csv",
    oracle=f"""
        SELECT CAST(count(DISTINCT date_trunc('week', ts)) AS BIGINT)
                   AS n_csv_files,
               count(*) AS rows_exported,
               max(ts) AS wm_final
        FROM events
        WHERE ts > TIMESTAMP '{EXPORT_SEED_WM}'
    """,
    tags=("streaming", "cdc", "sink"),
)
def stream_export_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's incremental export loop as a streaming pipeline:
    week-sliced changelog files arrive one micro-batch at a time
    (maxFilesPerTrigger=1); each batch exports its rows strictly after
    the seed watermark to its own CSV under the byte contract and
    advances the stored watermark only on a successful non-empty write.
    Returns the run summary (CSV files written, rows exported, final
    watermark) — which the oracle reproduces from the raw table, so a
    lost batch, a leaked pre-watermark row, an empty-batch file, or a
    wrong final watermark all hash-mismatch."""
    from cdc_export_system_spark.io.sources import load_table
    from cdc_export_system_spark.session import ensure_engine_conf

    ensure_engine_conf(spark)
    base = scratch_dir("stream_csvexp-")
    feed = os.path.join(base, "feed")
    out_dir = os.path.join(base, "exports")
    os.makedirs(out_dir)

    # land the changelog as one file per week — the file-granular feed a
    # landing zone actually delivers (and what makes batch count exact)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    (
        ev.withColumn("week", F.date_trunc("week", "ts"))
        .repartition(F.col("week"))
        .write.partitionBy("week")
        .parquet(feed)
    )

    state = {"rows": 0, "files": 0, "wm": None}
    seed = EXPORT_SEED_WM

    def export_batch(batch_df: DataFrame, batch_id: int) -> None:
        # strictly-after the FIXED seed (exports.py:119 strict `>`);
        # batch order cannot change what ships
        batch = batch_df.filter(F.col("ts") > F.lit(seed).cast("timestamp"))
        wm = Observation()
        n = write_users_csv(
            batch.observe(wm, F.max("ts").alias("m")),
            os.path.join(out_dir, f"export_{batch_id:05d}.csv"),
            batch.columns,
            order_by=["ts", "event_id"],
        )
        if n > 0:  # advance only on success, to max across batches
            mx = wm.get["m"]
            state["rows"] += n
            state["files"] += 1
            state["wm"] = mx if state["wm"] is None else max(state["wm"], mx)

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .option("basePath", feed)
        .parquet(feed)
    )
    q = (
        stream.writeStream.foreachBatch(export_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        [(state["files"], state["rows"], state["wm"])],
        "n_csv_files bigint, rows_exported bigint, wm_final timestamp",
    )
