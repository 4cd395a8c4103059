"""Streaming SCD type-2 maintenance: the dimension-history table kept
current by the change stream itself.

Batch ``cdc_scd2_history`` (cdc/scd.py) recomputes the full interval
table from all changes; this module maintains it INCREMENTALLY: each
micro-batch touches only the keys it contains — open intervals of
touched keys are re-derived from (their prior rows + the new changes),
untouched keys pass through untouched. That per-key locality is the
whole point at 100 TB: a day's changes touch a sliver of the key space,
so the merge cost is O(|touched keys' history| + |batch|), never
O(|dimension|), and at scale the state rewrite below becomes a
partition-overwrite of the touched key buckets instead of a full copy.

Replay- and crash-safe: the merge dedupes on (user_id, event_id) — on
the bootstrap path too — and the state swap uses deterministic
stage/old directories with startup recovery, so a process that dies at
ANY point of the swap resumes with the complete prior state and
converges to the same table (tests/test_streaming.py pins multi-batch
splits, redelivery inside and across batches, and the crash windows).

reference: app/services/exports.py:138-171 — the delta export's consumer
is exactly who maintains a table like this from the change feed.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.cdc.scd import SCD2_ORACLE, scd2_intervals
from cdc_export_system_spark.registry import register

_CHANGE_COLS = ["user_id", "event_id", "event_type", "value", "ts"]


def scd2_apply_batch(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Merge one micro-batch of changes into the SCD2 state.

    Only the batch's keys are re-windowed; every other key's intervals
    are passed through by a LEFT ANTI probe. Idempotent under replay and
    redelivery: (user_id, event_id) dedupe runs on every path, including
    the first batch against empty state."""
    batch = batch.select(_CHANGE_COLS).dropDuplicates(["user_id", "event_id"])
    if state is None:
        return scd2_intervals(batch)
    touched = batch.select("user_id").distinct()
    untouched = state.join(touched, "user_id", "left_anti")
    prior = (
        state.join(touched, "user_id", "semi")
        .select(
            "user_id", "event_id", "event_type", "value",
            F.col("valid_from").alias("ts"),
        )
    )
    merged = prior.unionByName(batch).dropDuplicates(["user_id", "event_id"])
    return untouched.unionByName(scd2_intervals(merged))


def _recover_state(state_dir: str) -> None:
    """Startup recovery for the swap in _process: if a crash landed
    between the two renames, the complete prior state sits at __old__ —
    restore it before the epoch replays."""
    old = f"{state_dir}.__old__"
    if not os.path.isdir(state_dir) and os.path.isdir(old):
        os.replace(old, state_dir)


def run_scd2_stream(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain `source` (a streaming DF of change rows) into the SCD2
    state table at `state_dir`; each micro-batch commits via a
    crash-recoverable two-rename swap with deterministic stage/old
    paths (no leaked directories: stale stage dirs are pruned on entry,
    the old dir on success)."""
    staged = f"{state_dir}.__stage__"
    old = f"{state_dir}.__old__"

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        _recover_state(state_dir)
        shutil.rmtree(staged, ignore_errors=True)  # stale stage from a crash
        has_state = os.path.isdir(state_dir)
        state = spark.read.parquet(state_dir) if has_state else None
        out = scd2_apply_batch(state, batch_df)
        out.write.mode("overwrite").parquet(staged)
        if has_state:
            shutil.rmtree(old, ignore_errors=True)
            os.replace(state_dir, old)
        os.replace(staged, state_dir)
        shutil.rmtree(old, ignore_errors=True)

    q = (
        source.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@register(
    "stream_cdc_scd2",
    oracle=SCD2_ORACLE,
    tags=("streaming", "cdc", "window"),
)
def stream_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 dimension maintained by a REAL streaming query (file
    source + availableNow + foreachBatch incremental merge), then read
    back. Same oracle constant as cdc_scd2_history: however the source
    splits the feed into micro-batches, the converged table must equal
    the batch recomputation bit-for-bit (the multi-batch split is pinned
    in tests/test_streaming.py). Scratch is a ``session.scratch_dir``,
    removed at interpreter exit."""
    from cdc_export_system_spark.session import ensure_engine_conf, scratch_dir

    # this op reads via readStream directly (no load_table), so the
    # UTC/nanos runtime confs must be applied here — a non-UTC driver
    # session would otherwise shift every interval timestamp (pinned in
    # tests/test_streaming.py::test_stream_cdc_scd2_hostile_timezone)
    ensure_engine_conf(spark)
    base = scratch_dir("scd2_stream-")
    # declared schema — same pattern as stream_stateful_profile
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select(*_CHANGE_COLS)
    )
    state_dir = os.path.join(base, "state")
    run_scd2_stream(spark, stream, state_dir, os.path.join(base, "ckpt"))
    if not os.path.isdir(state_dir):
        # source matched no files (schema-only fixture): empty dimension
        return spark.createDataFrame(
            [],
            "user_id long, event_id long, event_type string, value double, "
            "valid_from timestamp, valid_to timestamp, is_current boolean",
        )
    out = spark.read.parquet(state_dir).select(
        "user_id", "event_id", "event_type", "value",
        "valid_from", "valid_to", "is_current",
    )
    # schema parity with the batch oracle regardless of source casts
    return out.withColumn("value", F.col("value").cast("double"))
