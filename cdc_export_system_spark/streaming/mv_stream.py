"""Streaming incremental view maintenance: the batch IVM algebra of
operators/matview.py run under Structured Streaming — an upsert feed
consumed in REAL micro-batches (maxFilesPerTrigger=1), each batch
joined against the keyed state of the previous version to emit
+new/-old retraction deltas that maintain a per-dimension aggregate
view. The view is never recomputed from the base; every micro-batch
touches O(|batch| + |view|) rows.

The correctness statement is sharper than the batch ops': the oracle
recomputes the SEQUENTIAL end state (latest version per key under the
batch order, then within-batch arrival order). A maintenance bug that
ignored batch ordering — e.g. collapsing to the global latest key —
produces different values, so the driver hash certifies that the
stream applied its batches in order and retracted exactly the
superseded rows.

State layout (the production shape, miniaturized): per-version
parquet dirs ``state_v{N}`` (key -> current dimension + exact cents)
and ``view_v{N}`` (dimension -> n, signed DECIMAL(38,0) cent-sum).
On a cluster both live in the table format (LogTable) or a state
store. Here batch N reads ``*_v{N}`` and writes fresh ``*_v{N+1}`` dirs
directly (no rename, so the write is not atomic), never overwriting the
version it reads, without coupling this op to the txn module.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.registry import register
from cdc_export_system_spark.session import scratch_dir

_N_BATCHES = 3

_STATE_SCHEMA = "o_custkey bigint, prio string, cents bigint"
_VIEW_SCHEMA = "prio string, n bigint, cents_sum decimal(38,0)"


@register(
    "stream_mv_maintenance",
    oracle="""
        WITH latest AS (
            SELECT o_custkey, o_orderpriority, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY (o_orderkey % 3) DESC, o_orderkey DESC) AS rn
            FROM orders)
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                    AS VARCHAR) AS DOUBLE) AS total_latest
        FROM latest WHERE rn = 1
        GROUP BY o_orderpriority
    """,
    tags=("streaming", "mv", "state"),
)
def stream_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the upsert feed (orders split into 3 files by o_orderkey % 3,
    file mtimes forced so the FileStreamSource delivers them in batch
    order) through foreachBatch IVM: dedup the batch to its last write
    per key, left-join the previous version's keyed state to build the
    retraction, fold +new/-old delta rows into the maintained view
    aggregate, and upsert the keyed state — both written as the next
    version. Returns the final maintained view. The oracle's
    (o_orderkey % 3) DESC, o_orderkey DESC latest-pick IS the batch
    order; hash equality proves ordering + exact retraction."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    stage = scratch_dir("mvstream-")
    feed_dir = os.path.join(stage, "feed")
    ckpt_dir = os.path.join(stage, "ckpt")
    os.makedirs(feed_dir)

    # One file per micro-batch, mtimes forced monotone so the file
    # source's (mtime, path) order equals the intended batch order.
    feed_schema = None
    for b in range(_N_BATCHES):
        part = orders.filter(F.col("o_orderkey") % _N_BATCHES == b).coalesce(1)
        feed_schema = part.schema
        tmp = os.path.join(stage, f"stage_{b}")
        part.write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = os.path.join(feed_dir, f"batch-{b}.parquet")
        if src:
            shutil.move(os.path.join(tmp, src[0]), dst)
            os.utime(dst, (1000 * (b + 1), 1000 * (b + 1)))

    def _v(kind: str, version: int) -> str:
        return os.path.join(stage, f"{kind}_v{version}")

    # version 0: empty state and view (the MV before any batch)
    spark.createDataFrame([], _STATE_SCHEMA).write.parquet(_v("state", 0))
    spark.createDataFrame([], _VIEW_SCHEMA).write.parquet(_v("view", 0))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        prev_state = s.read.schema(_STATE_SCHEMA).parquet(_v("state", batch_id))
        prev_view = s.read.schema(_VIEW_SCHEMA).parquet(_v("view", batch_id))

        w = W.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
        batch_latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.col("o_custkey").cast("bigint"),
                F.col("o_orderpriority").alias("new_prio"),
                F.floor(F.col("o_totalprice") * 100 + 0.5).alias("new_cents"),
            )
        )
        joined = batch_latest.join(prev_state, "o_custkey", "left")
        plus = joined.select(
            F.col("new_prio").alias("prio"),
            F.lit(1).cast("bigint").alias("n"),
            F.col("new_cents").cast("decimal(38,0)").alias("cents_sum"),
        )
        minus = joined.filter(F.col("prio").isNotNull()).select(
            F.col("prio"),
            F.lit(-1).cast("bigint").alias("n"),
            (-F.col("cents")).cast("decimal(38,0)").alias("cents_sum"),
        )
        new_view = (
            prev_view.unionByName(plus)
            .unionByName(minus)
            .groupBy("prio")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("cents_sum").cast("decimal(38,0)").alias("cents_sum"),
            )
            .filter(F.col("n") != 0)
        )
        new_state = prev_state.join(
            batch_latest.select("o_custkey"), "o_custkey", "left_anti"
        ).unionByName(
            batch_latest.select(
                "o_custkey",
                F.col("new_prio").alias("prio"),
                F.col("new_cents").alias("cents"),
            )
        )
        new_view.write.parquet(_v("view", batch_id + 1))
        new_state.write.parquet(_v("state", batch_id + 1))

    q = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    last = max(
        int(d.rsplit("_v", 1)[1])
        for d in os.listdir(stage)
        if d.startswith("view_v")
    )
    final = spark.read.schema(_VIEW_SCHEMA).parquet(_v("view", last))
    return final.select(
        F.col("prio").alias("o_orderpriority"),
        F.col("n").alias("n_customers"),
        (F.col("cents_sum").cast("decimal(38,6)") / F.lit(100))
        .cast("double")
        .alias("total_latest"),
    )
