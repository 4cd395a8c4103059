"""Structured Streaming surface, driver-checkable entries.

The streaming CDC pipeline itself (readStream + availableNow micro-batch
incremental/delta exports, watermark checkpointing, query listener) lives
in streaming.cdc_stream and is pinned by pytest. The entries here run a
real streaming query synchronously (availableNow trigger + memory sink)
and return its result; the oracle is the equivalent batch SQL — windowed
aggregation over the events table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.registry import register, sql_dsum


@register(
    "stream_tumbling_window",
    oracle=f"""
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               count(*) AS n,
               {sql_dsum("value", "sum_value")}
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("streaming", "window", "agg"),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregate. Batch semantics equal
    streaming append-mode output once the watermark passes window end, so
    the batch plan is the oracle-checkable form; test_streaming pins the
    readStream variant producing identical rows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@register(
    "stream_sliding_window",
    oracle="""
        -- Spark's window(60m, 30m) assigns each event to the two
        -- epoch-aligned 30-minute slide starts covering it.
        SELECT TIMESTAMP '1970-01-01'
                   + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 - 1800 * m.i AS BIGINT))
                   AS window_start,
               count(*) AS n
        FROM events, (SELECT unnest([0, 1]) AS i) m
        GROUP BY 1
    """,
    tags=("streaming", "window", "agg"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 60min/30min window counts (each event lands in 2 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "60 minutes", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


@register(
    "stream_stateful_profile",
    oracle="""
        SELECT user_id,
               count(*) AS n_events,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
                   AS sum_value,
               max(ts) AS last_ts
        FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "udf"),
)
def stream_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState run end-to-end as a real streaming query:
    the per-user running profile (streaming/stateful.py) drains the
    events table via an availableNow trigger into a memory sink, and the
    registry entry returns the FINAL state per user. The per-key state
    accumulates exact integer cents, so the final emitted profile equals
    the batch aggregate bit-for-bit regardless of how the source splits
    micro-batches — which is what makes a custom stateful operator
    oracle-checkable at all. Update-mode memory sink keeps every interim
    emission; the max_by(n_events) collapse keeps the last (n_events is
    per-key monotone)."""
    import uuid

    from cdc_export_system_spark.io.sources import load_table
    from cdc_export_system_spark.streaming.stateful import user_profile_stream

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    name = f"profiles_{uuid.uuid4().hex[:12]}"
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "value")
    )
    q = (
        user_profile_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"""
        SELECT user_id,
               max_by(n_events, n_events) AS n_events,
               max_by(sum_value, n_events) AS sum_value,
               max_by(last_ts, n_events) AS last_ts
        FROM {name} GROUP BY user_id
    """)


@register(
    "stream_dedup_watermark",
    oracle="""
        SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_ids
        FROM events GROUP BY event_type
    """,
    tags=("streaming", "dedup", "stateful"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` on the at-least-once change feed —
    the ingest-side defense against redelivery. The feed is the events
    source unioned with ITSELF (a deterministic 2x redelivery), streamed
    through a 1-hour watermark dedup into a file sink; the oracle is the
    per-type count over the ORIGINAL table, so any leaked duplicate or
    dropped original breaks the count.

    Why WithinWatermark: plain ``dropDuplicates`` on a stream keys state
    forever (unbounded at 100 TB); the watermark variant evicts keys
    older than the delay, so state is bounded by the redelivery horizon,
    which is exactly the delivery guarantee a CDC bus offers
    (reference app/services/exports.py:110-127 — the consumer contract
    is at-least-once with a bounded replay window).

    Scratch is a ``session.scratch_dir``, removed at interpreter
    exit."""
    from cdc_export_system_spark.session import ensure_engine_conf, scratch_dir

    ensure_engine_conf(spark)  # readStream path: UTC/nanos not yet applied
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    )

    def src() -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .select("event_id", "ts", "user_id", "event_type", "value")
        )

    deduped = (
        src()
        .union(src())
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    base = scratch_dir("stream_dd-")
    out_dir = os.path.join(base, "out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    empty = spark.createDataFrame([], schema)
    files = (
        spark.read.schema(schema).parquet(out_dir)
        if os.path.isdir(out_dir)
        else empty
    )
    return files.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
    )


TRENDING_K = 3


@register(
    "stream_topk_trending",
    oracle=f"""
        SELECT window_start, event_type, n, rnk FROM (
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n,
                   row_number() OVER (PARTITION BY date_trunc('hour', ts)
                       ORDER BY count(*) DESC, event_type) AS rnk
            FROM events GROUP BY date_trunc('hour', ts), event_type)
        WHERE rnk <= {TRENDING_K}
    """,
    tags=("streaming", "window", "topk", "agg"),
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-3 (TRENDING_K) event types per tumbling 1-hour window — the
    classic streaming leaderboard. Batch semantics equal the streaming
    complete-mode output (windowed counts stream + rank over the sink),
    so the batch plan is the oracle-checkable form; the readStream
    variant producing identical rows is pinned in test_streaming.

    Deterministic: rank ties break on event_type. Scale: one windowed
    count (map-side combined, |windows × types| keys) and a rank window
    over that aggregate's own output — the second exchange re-keys the
    model-sized count table, never the events."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    )
    return (
        counts.withColumn("rnk", rk.cast("bigint"))
        .filter(F.col("rnk") <= TRENDING_K)
    )


@register(
    "stream_window_unique_users",
    oracle="""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users
        FROM events
        GROUP BY date_trunc('hour', ts)
    """,
    tags=("streaming", "window", "agg"),
)
def stream_window_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly UNIQUE USERS with the stateful half run as a REAL
    streaming query: exact distinct-per-window in a stream is a
    watermarked DEDUP on (hour, user) — the state store must recognize
    a user's second event for the same hour arriving many micro-batches
    later — and that stage streams here end-to-end (readStream ->
    dropDuplicatesWithinWatermark -> checkpointed file sink,
    availableNow). The per-window count is a batch rollup over the
    deduped sink (append-mode windowed aggregates withhold the final
    never-closed window, so counting in-stream would drop the last
    hour). The batch oracle's count(DISTINCT) must match EXACTLY —
    a duplicate leaked across micro-batch boundaries breaks the hash.
    The exact-cardinality midpoint between plain counts and
    metric_rolling_wau_hll's sketch.

    Exactness caveat: dropDuplicatesWithinWatermark is exact only while
    every duplicate (hour, user) pair arrives within the 1-hour
    watermark delay of the first occurrence. That holds by construction
    for the availableNow parquet drain tested here; on a genuinely
    out-of-order live bus, a duplicate later than the watermark would
    be re-admitted and silently overcount — widen the watermark to the
    bus's max-lateness bound to keep the count exact.

    Scale: dedup state is |users active per open hour| keys, evicted
    by the watermark; the same query on a live bus just swaps the
    trigger."""
    from cdc_export_system_spark.session import ensure_engine_conf, scratch_dir

    ensure_engine_conf(spark)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double"
    )
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("ts", "user_id")
    )
    # streaming forbids exact count(DISTINCT), and append-mode windowed
    # aggregates withhold the final (never-closed) window — so the STREAM
    # runs the stateful half only: watermarked dedup on (hour, user),
    # exact across micro-batches with bounded state; the per-window count
    # is a batch rollup over the deduped sink (stream_dedup_watermark's
    # proven harness shape)
    agg = (
        src.withColumn("hr", F.date_trunc("hour", "ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["hr", "user_id"])
        .select(F.col("hr").alias("window_start"), "user_id")
    )
    base = scratch_dir("stream_uu-")
    out_dir = os.path.join(base, "out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink_schema = "window_start timestamp, user_id long"
    if not os.path.isdir(out_dir):
        return spark.createDataFrame(
            [], "window_start timestamp, unique_users bigint"
        )
    return (
        spark.read.schema(sink_schema)
        .parquet(out_dir)
        .groupBy("window_start")
        .agg(F.count(F.lit(1)).cast("bigint").alias("unique_users"))
    )
