"""Registered queries over the LogTable transaction-log format.

Each query builds a real LogTable in a per-call scratch directory from the
``orders`` parquet, drives genuine commits through it (copy-on-write
MERGE upserts/deletes/inserts), and reads results back THROUGH the log
— so the driver hash certifies the whole format: commit atomicity,
snapshot resolution, file stats, pruning, and time travel. The change
batches derive deterministically from the key space (dense 0..n-1 in
the testdata), so every output has a closed-form DuckDB oracle over
the raw ``orders`` table.

Roots are per-call ``session.scratch_dir`` directories, removed at
interpreter exit — nothing accumulates across runs."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.io.txn_table import LogTable, footer_int_range
from cdc_export_system_spark.registry import register
from cdc_export_system_spark.session import scratch_dir

_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"]


def _source_max_int(sf_dir: str, table: str, col: str) -> int | None:
    """Exact max of an INTEGER column straight from the source parquet
    footer (txn_table.footer_int_range). Returns None (and the caller
    falls back to a Spark max-scan) when the source is not the
    single-file layout, the footer is unreadable or corrupt (pyarrow
    raises ArrowInvalid, a ValueError), or the footer has no exact
    integer range — which is also the correct answer for an empty
    table."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.isfile(path):
        return None
    try:
        md = pq.read_metadata(path)
    except (OSError, ValueError):
        return None
    rng = footer_int_range(md, col)
    return None if rng is None else rng[1]


def _orders_max_key(spark: SparkSession, sf_dir: str, orders: DataFrame):
    """max(o_orderkey) — footer fast path, Spark-scan fallback."""
    mx = _source_max_int(sf_dir, "orders", "o_orderkey")
    if mx is None:
        mx = orders.agg(F.max("o_orderkey")).head()[0]
    return mx


def _orders_table(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, LogTable, int]:
    """(orders, LogTable v1 of orders, max key or -1 when empty). One
    max serves both the callers' insert key shift and create's bucket
    sizing (max_pk_hint), so create runs no max-scan of its own."""
    orders = load_table(spark, sf_dir, "orders").select(_COLS)
    mx = _orders_max_key(spark, sf_dir, orders)
    mx = -1 if mx is None else int(mx)
    t = LogTable.create(
        spark, scratch_dir("logtable-"), orders, "o_orderkey", n_files=8,
        max_pk_hint=mx,
    )
    return orders, t, mx


def _build_merged_table(
    spark: SparkSession, sf_dir: str
) -> tuple[LogTable, int]:
    """orders -> LogTable v1; v2 = updates(%7)+deletes(%13);
    v3 = inserts (keys %11 shifted past the old max). Returns (table,
    max_key). With an empty source the merges are no-ops and only v1
    exists — the oracles mirror that."""
    orders, t, mx = _orders_table(spark, sf_dir)
    key = F.col("o_orderkey")
    b1 = (
        orders.filter((key % 7 == 0) | (key % 13 == 0))
        .withColumn(
            "o_orderstatus",
            F.when(key % 7 == 0, F.lit("U")).otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "o_totalprice",
            F.when(key % 7 == 0, F.col("o_totalprice") + 1000.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .withColumn("_deleted", key % 13 == 0)
    )
    t.merge(b1)
    b2 = (
        orders.filter(key % 11 == 0)
        .withColumn("o_orderkey", key + F.lit(mx + 1))
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("_deleted", F.lit(False))
    )
    t.merge(b2)
    return t, mx


def _version_counts(t: LogTable, version: int) -> tuple[int, int, int]:
    """(rows, status-'U' rows, status-'N' rows) of one version."""
    agg = t.read(version=version).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("o_orderstatus") == "U").cast("bigint")).alias("u"),
        F.sum((F.col("o_orderstatus") == "N").cast("bigint")).alias("i"),
    ).head()
    return int(agg["n"]), int(agg["u"] or 0), int(agg["i"] or 0)


_MERGED_ORACLE = """
    WITH mx AS (SELECT COALESCE(max(o_orderkey), -1) AS m FROM orders),
    survivors AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'U'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 13 <> 0),
    inserts AS (
        SELECT o_orderkey + mx.m + 1 AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders CROSS JOIN mx WHERE o_orderkey % 11 = 0)
    SELECT * FROM survivors UNION ALL SELECT * FROM inserts
"""


@register(
    "txn_table_merge_read",
    oracle=_MERGED_ORACLE,
    headline=True,
    tags=("io", "txn", "cdc"),
)
def txn_table_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-then-read through the transaction log: version 1 snapshots
    ``orders`` into range-bucketed files with min/max key stats; version
    2 is one copy-on-write MERGE applying updates (keys %7: status 'U',
    +1000.00) and deletes (keys %13, delete-wins on overlap since the
    upsert filter keeps %13 rows flagged deleted); version 3 inserts
    key-shifted copies (%11) past the old max — landing in brand-new
    bucket files without touching a single survivor byte. The returned
    DataFrame is the LATEST SNAPSHOT resolved from the log; the oracle
    recomputes the same end state relationally from raw ``orders``, so
    the hash certifies the full commit/replay/prune pipeline and not
    just the merge algebra.

    Scale: the merge rewrites only stat-overlapping files (see
    txn_table_merge_stats for the measured pruning), commits are O(1)
    metadata appends, and the snapshot read hands Spark a plain parquet
    file list — pushdown and column pruning apply unchanged at 100 TB."""
    t, _ = _build_merged_table(spark, sf_dir)
    return t.read()


_ASOF_BASE = """
    v1 AS (SELECT CAST(1 AS BIGINT) AS version,
                  CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(0 AS BIGINT) AS n_updated,
                  CAST(0 AS BIGINT) AS n_new
           FROM orders),
    v2 AS (SELECT CAST(2 AS BIGINT),
                  CAST(count(*) FILTER (WHERE o_orderkey % 13 <> 0)
                       AS BIGINT),
                  CAST(count(*) FILTER (WHERE o_orderkey % 7 = 0
                                          AND o_orderkey % 13 <> 0)
                       AS BIGINT),
                  CAST(0 AS BIGINT)
           FROM orders HAVING count(*) > 0),
    v3 AS (SELECT CAST(3 AS BIGINT),
                  CAST(count(*) FILTER (WHERE o_orderkey % 13 <> 0)
                       + count(*) FILTER (WHERE o_orderkey % 11 = 0)
                       AS BIGINT),
                  CAST(count(*) FILTER (WHERE o_orderkey % 7 = 0
                                          AND o_orderkey % 13 <> 0)
                       AS BIGINT),
                  CAST(count(*) FILTER (WHERE o_orderkey % 11 = 0)
                       AS BIGINT)
           FROM orders HAVING count(*) > 0),
    base AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
             UNION ALL SELECT * FROM v3)
"""


@register(
    "txn_table_time_travel",
    oracle=f"WITH {_ASOF_BASE} SELECT * FROM base",
    tags=("io", "txn", "cdc"),
)
def txn_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the same three commits: data files are
    immutable, so reading at version v replays only the log prefix and
    must reproduce each historical state exactly — v1 the raw
    snapshot, v2 after update+delete, v3 after the inserts. Emits one
    row per version with its row count, updated-row count ('U'
    status), and inserted-row count ('N' status); with an empty source
    the merges are no-op (no commit), so only v1 exists, and the
    oracle's HAVING mirrors that."""
    t, _ = _build_merged_table(spark, sf_dir)
    rows = [(v, *_version_counts(t, v)) for v in t.history()]
    return spark.createDataFrame(
        rows, "version bigint, n_rows bigint, n_updated bigint, n_new bigint"
    )


@register(
    "txn_table_merge_stats",
    oracle="""
        WITH k AS (SELECT max(o_orderkey) // 8 + 1 AS k FROM orders)
        SELECT CAST(2 AS BIGINT) AS version,
               CAST(8 AS BIGINT) AS files_total,
               CAST(1 AS BIGINT) AS files_touched,
               CAST((SELECT count(*) FROM orders CROSS JOIN k
                     WHERE o_orderkey < k.k) AS BIGINT) AS rows_rewritten,
               CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows_after
        FROM orders CROSS JOIN k
        GROUP BY k.k HAVING count(*) > 0
    """,
    tags=("io", "txn", "plan"),
)
def txn_table_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-PRUNING EVIDENCE as a hashed query: merge a batch confined
    to the lowest key-range bucket (keys < max/8 + 1) and emit the
    stats the merge planner actually used — 8 live files, exactly ONE
    overlapping the batch's [min, max] key range, and the rewritten
    row count equal to that one bucket's population. This is the
    incremental-CDC cost model at 100 TB: a batch touching 1/8 of the
    key space rewrites 1/8 of the files, never the table."""
    orders, t, mx = _orders_table(spark, sf_dir)
    if mx < 0:  # empty source (keys are non-negative)
        return spark.createDataFrame(
            [],
            "version bigint, files_total bigint, files_touched bigint,"
            " rows_rewritten bigint, n_rows_after bigint",
        )
    k = mx // 8 + 1
    batch = (
        orders.filter(F.col("o_orderkey") < k)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("_deleted", F.lit(False))
    )
    version, stats = t.merge(batch)
    n_after = t.read().count()
    return spark.createDataFrame(
        [(
            version,
            stats["files_total"],
            stats["files_touched"],
            stats["rows_rewritten"],
            n_after,
        )],
        "version bigint, files_total bigint, files_touched bigint,"
        " rows_rewritten bigint, n_rows_after bigint",
    )


_STREAM_ORACLE = """
    WITH mx AS (SELECT COALESCE(max(o_orderkey), -1) AS m FROM orders),
    after_updates AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate,
               CASE WHEN o_orderkey % 5 = 0 THEN 'S1'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders),
    after_deletes AS (
        SELECT * FROM after_updates WHERE o_orderkey % 9 <> 0),
    inserts AS (
        SELECT o_orderkey + mx.m + 1 AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders CROSS JOIN mx WHERE o_orderkey % 15 = 0)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority FROM after_deletes
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority FROM inserts
"""


@register(
    "stream_cdc_logtable_merge",
    oracle=_STREAM_ORACLE,
    tags=("io", "txn", "streaming", "cdc"),
)
def stream_cdc_logtable_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical lakehouse CDC pipeline: a change FEED consumed by
    Structured Streaming and applied to a LogTable through
    ``foreachBatch`` + transactional copy-on-write MERGE — Spark's
    documented pattern for exactly-once table sinks (each micro-batch
    becomes one atomic commit; a replayed batch would re-run the same
    idempotent merge). Three ordered change sets (updates: keys %5 get
    priority 'S1'; deletes: keys %9; inserts: keys %15 shifted past
    max) are staged as a parquet changefeed, consumed with an
    availableNow trigger, and applied IN FEED ORDER inside the batch
    hook; the returned DataFrame is the final snapshot read back
    through the log. The oracle recomputes the sequential end state
    relationally — update-then-delete-then-insert — so the hash
    certifies ordering, delete-wins overlap (keys hit by %5 and %9 are
    gone), and the insert landing in fresh bucket files.

    Scale: the stream applies each batch against file stats (only
    overlapping buckets rewrite); the availableNow trigger is the
    backfill mode, the same code runs continuously."""
    orders, t, mx = _orders_table(spark, sf_dir)
    key = F.col("o_orderkey")
    feed = (
        orders.filter(key % 5 == 0)
        .withColumn("o_orderpriority", F.lit("S1"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("bid", F.lit(0))
        .unionByName(
            orders.filter(key % 9 == 0)
            .withColumn("_deleted", F.lit(True))
            .withColumn("bid", F.lit(1))
        )
        .unionByName(
            orders.filter(key % 15 == 0)
            .withColumn("o_orderkey", key + F.lit(mx + 1))
            .withColumn("o_orderstatus", F.lit("N"))
            .withColumn("_deleted", F.lit(False))
            .withColumn("bid", F.lit(2))
        )
    )
    stage = scratch_dir("logtable-feed-")
    feed_dir = os.path.join(stage, "feed")
    ckpt_dir = os.path.join(stage, "ckpt")
    feed.write.mode("overwrite").parquet(feed_dir)
    stream = spark.readStream.schema(feed.schema).parquet(feed_dir)

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        for bid in [0, 1, 2]:
            t.merge(batch_df.filter(F.col("bid") == bid).drop("bid"))

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return t.read()


@register(
    "txn_table_asof_ts",
    oracle=f"""
        WITH {_ASOF_BASE}
        SELECT 'at_commit' AS probe, version, version AS resolved,
               n_rows, n_updated, n_new
        FROM base
        UNION ALL
        SELECT 'pre_next', version, version, n_rows, n_updated, n_new
        FROM base
    """,
    tags=("io", "txn", "cdc"),
)
def txn_table_asof_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL BY TIMESTAMP over the same three commits: the log
    stamps every commit with a wall time, reads resolve "as of ts" to
    the largest version whose ADJUSTED (strictly monotonic — the Delta
    timestamp-adjustment rule) commit time is <= ts. Two probes per
    version make the resolution rule itself the thing being hashed:
    'at_commit' reads exactly at version v's stamp, 'pre_next' reads
    at the last microsecond before v+1's stamp (or past the end for
    the newest) — BOTH must resolve to v and reproduce v's exact
    state. Wall clocks are nondeterministic; version CONTENTS are not,
    which is why the oracle can still hash-check the semantics."""
    t, _ = _build_merged_table(spark, sf_dir)
    stamps = t.commit_timestamps()
    versions = sorted(stamps)
    rows = []
    for i, v in enumerate(versions):
        nxt = (
            stamps[versions[i + 1]] - 1
            if i + 1 < len(versions)
            else stamps[v] + 10_000_000
        )
        for probe, ts in (("at_commit", stamps[v]), ("pre_next", nxt)):
            rv = t.version_asof(ts)
            rows.append((probe, v, rv, *_version_counts(t, rv)))
    return spark.createDataFrame(
        rows,
        "probe string, version bigint, resolved bigint, n_rows bigint,"
        " n_updated bigint, n_new bigint",
    )


_CDF_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
    " o_totalprice double, o_orderdate date, o_orderpriority string,"
    " _change_type string, _commit_version bigint"
)

_CDF_ORACLE = """
    WITH mx AS (SELECT COALESCE(max(o_orderkey), -1) AS m FROM orders),
    upd AS (SELECT * FROM orders
            WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0),
    del AS (SELECT * FROM orders WHERE o_orderkey % 13 = 0)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority,
           'update_preimage' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM upd
    UNION ALL
    SELECT o_orderkey, o_custkey, 'U', o_totalprice + 1000.0,
           o_orderdate, o_orderpriority, 'update_postimage',
           CAST(2 AS BIGINT)
    FROM upd
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority, 'delete', CAST(2 AS BIGINT)
    FROM del
    UNION ALL
    SELECT o_orderkey + mx.m + 1, o_custkey, 'N', o_totalprice,
           o_orderdate, o_orderpriority, 'insert', CAST(3 AS BIGINT)
    FROM orders CROSS JOIN mx WHERE o_orderkey % 11 = 0
"""


@register(
    "txn_table_changes",
    oracle=_CDF_ORACLE,
    tags=("io", "txn", "cdc"),
)
def txn_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED read between commits: the same three-version
    table as txn_table_merge_read, queried for the row-level changes
    of versions 2..3 with Delta ``table_changes`` semantics —
    update_preimage/update_postimage for the %7 price adjustments,
    delete for the %13 removals (delete-wins on the %91 overlap),
    insert for the shifted %11 rows. The changes are DERIVED from the
    copy-on-write log by diffing each commit's removed files against
    its added files on the primary key; rows the rewrite merely COPIED
    are suppressed, which is exactly what the oracle (the closed-form
    change sets over raw ``orders``) certifies. The reference's delta
    export — created/updated/deleted since a cursor
    (cdc/event_queries.py:79 re-expresses it over events) — is this
    query against the repo's own table format.

    Scale: each commit's diff reads only that commit's added/removed
    files, so CDF cost tracks the rewritten data, never table size."""
    t, _ = _build_merged_table(spark, sf_dir)
    if t.history()[-1] < 2:  # empty source: merges were no-ops
        return spark.createDataFrame([], _CDF_SCHEMA)
    return t.changes(2, t.history()[-1])


@register(
    "mv_from_txn_changes",
    oracle=f"""
        WITH mx AS (SELECT COALESCE(max(o_orderkey), -1) AS m FROM orders),
        survivors AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN 'U'
                        ELSE o_orderstatus END AS o_orderstatus,
                   CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 13 <> 0),
        inserts AS (
            SELECT o_orderkey + mx.m + 1 AS o_orderkey,
                   'N' AS o_orderstatus, o_totalprice
            FROM orders CROSS JOIN mx WHERE o_orderkey % 11 = 0),
        final AS (SELECT * FROM survivors UNION ALL SELECT * FROM inserts)
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM final GROUP BY o_orderstatus
    """,
    tags=("io", "txn", "cdc", "matview"),
)
def mv_from_txn_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MATERIALIZED VIEW fed by the change data feed: the
    MV (order count + total cents by status) is built once at version
    1, then maintained purely from ``changes(2, last)`` — +1 for
    insert/update_postimage, −1 for delete/update_preimage — without
    ever rescanning the table. The oracle recomputes the aggregate
    from the FINAL table state, so the driver hash certifies the
    algebraic identity  MV(v1) ⊕ Δ(CDF) = MV(v_last)  against an
    independent engine. Money is summed in exact integer cents
    (floor(x*100+0.5)), so incremental and recomputed totals are
    bit-identical regardless of addition order — the house
    exact-arithmetic discipline.

    Scale: this is the 100 TB MV story — the view never rescans the
    fact table; maintenance cost tracks the commit's rewritten files
    (cf. mv_delta_join for the synthetic-changelog variant)."""
    t, _ = _build_merged_table(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    mv = (
        t.read(version=1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )
    )
    last = t.history()[-1]
    if last >= 2:
        sign = (
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("bigint")
        )
        delta = (
            t.changes(2, last)
            .groupBy("o_orderstatus")
            .agg(
                F.sum(sign).alias("d_n"),
                F.sum(sign * cents).alias("d_cents"),
            )
        )
        mv = (
            mv.join(delta, "o_orderstatus", "full_outer")
            .select(
                F.col("o_orderstatus"),
                (
                    F.coalesce(F.col("n_orders"), F.lit(0))
                    + F.coalesce(F.col("d_n"), F.lit(0))
                ).alias("n_orders"),
                (
                    F.coalesce(F.col("total_cents"), F.lit(0))
                    + F.coalesce(F.col("d_cents"), F.lit(0))
                ).alias("total_cents"),
            )
            .filter(F.col("n_orders") > 0)
        )
    return mv.select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("total_cents").cast("bigint").alias("total_cents"),
    )


@register(
    "cdc_export_from_cdf",
    oracle="""
        WITH mx AS (SELECT COALESCE(max(o_orderkey), -1) AS m FROM orders),
        upd AS (SELECT * FROM orders
                WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0),
        del AS (SELECT * FROM orders WHERE o_orderkey % 13 = 0)
        SELECT 'UPDATE' AS operation, o_orderkey, o_custkey,
               'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
               o_orderdate, o_orderpriority,
               CAST(2 AS BIGINT) AS cursor_version
        FROM upd
        UNION ALL
        SELECT 'DELETE', o_orderkey, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority, CAST(2 AS BIGINT)
        FROM del
        UNION ALL
        SELECT 'INSERT', o_orderkey + mx.m + 1, o_custkey, 'N',
               o_totalprice, o_orderdate, o_orderpriority, CAST(3 AS BIGINT)
        FROM orders CROSS JOIN mx WHERE o_orderkey % 11 = 0
    """,
    tags=("io", "txn", "cdc"),
)
def cdc_export_from_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FLAGSHIP workflow — the delta export with
    INSERT/UPDATE/DELETE operation labels (app/services/exports.py:
    138-171, classification at 39-45) — driven from the LogTable
    change data feed instead of soft-delete flag inference: CDF
    ``insert`` -> INSERT, ``delete`` -> DELETE (carrying the last
    known row state, what a downstream consumer needs to key the
    tombstone), ``update_postimage`` -> UPDATE (the post state, which
    is what the export ships); preimages are dropped. The commit
    version rides along as the export CURSOR — the CDF analogue of
    the reference's updated_at watermark, except structural: no
    created_at == updated_at heuristic, no lost rows at the watermark
    boundary (the strict-``>`` late-data caveat the reference
    documents), because version ranges partition changes exactly.
    tests/test_cdc_exports.py pins the byte-level CSV equivalence of
    this export with the reference-style classification on the same
    change set for the INSERT/UPDATE classes, and the one documented
    divergence on DELETE: a soft-delete row carries the tombstone's
    own updated_at, a CDF tombstone carries the last KNOWN row state
    (same keys, same classification, different stamp)."""
    t, _ = _build_merged_table(spark, sf_dir)
    if t.history()[-1] < 2:  # empty source: merges were no-ops
        return spark.createDataFrame(
            [],
            "operation string, o_orderkey bigint, o_custkey bigint,"
            " o_orderstatus string, o_totalprice double, o_orderdate date,"
            " o_orderpriority string, cursor_version bigint",
        )
    cdf = t.changes(2, t.history()[-1])
    op = (
        F.when(F.col("_change_type") == "insert", "INSERT")
        .when(F.col("_change_type") == "delete", "DELETE")
        .otherwise("UPDATE")
    )
    return cdf.filter(F.col("_change_type") != "update_preimage").select(
        op.alias("operation"),
        *_COLS,
        F.col("_commit_version").alias("cursor_version"),
    )


@register(
    "txn_table_replicate",
    oracle=_MERGED_ORACLE,
    tags=("io", "txn", "cdc"),
)
def txn_table_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE REPLICATION through the change data feed — the classic
    CDF consumer: a replica LogTable is seeded from the source's
    version 1 and then maintained ONLY from ``changes(v, v)`` applied
    commit-by-commit as copy-on-write MERGEs (insert/update_postimage
    rows upsert, delete rows tombstone; preimages drop). The returned
    DataFrame is the REPLICA's final snapshot; the oracle recomputes
    the SOURCE's end state from raw ``orders``, so the hash certifies
    the full replication identity  seed ∘ apply(Δ2) ∘ apply(Δ3) =
    source  across two different physical tables — the lakehouse
    equivalent of the reference's consumer-side apply of its delta
    export (app/services/exports.py:138-171). Per-version equality
    along the way is pinned in tests/test_txn_table.py.

    Scale: each replica merge rewrites only the stat-overlapping
    buckets for that commit's key range, and each CDF read touches
    only that commit's files — replication cost tracks change volume
    on BOTH sides, never table size."""
    t, mx = _build_merged_table(spark, sf_dir)
    # v1 == the original orders snapshot, so its max key is the mx the
    # builder already computed — same bucket K, no second max-scan
    replica = LogTable.create(
        spark, scratch_dir("logtable-"), t.read(version=1), "o_orderkey", n_files=8,
        max_pk_hint=mx,
    )
    for v in t.history():
        if v < 2:
            continue
        cdf = t.changes(v, v)
        batch = (
            cdf.filter(F.col("_change_type") != "update_preimage")
            .withColumn("_deleted", F.col("_change_type") == "delete")
            .select(*_COLS, "_deleted")
        )
        replica.merge(batch)
    return replica.read()


@register(
    "txn_table_column_evolution",
    oracle="""
        SELECT o_orderkey,
               o_custkey,
               o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0
                    THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS price_usd,
               o_orderdate
        FROM orders
    """,
    tags=("io", "txn", "schema"),
)
def txn_table_column_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-MAPPING schema evolution end to end: snapshot ``orders``
    into a LogTable, RENAME o_totalprice -> price_usd (metadata-only:
    zero files rewritten — the mapping changes, the immutable parquet
    keeps its physical column), DROP o_orderpriority (metadata-only),
    then MERGE a price adjustment batch expressed in the NEW logical
    schema (keys %7: +1000.00) and read the final logical table back
    through the log. The driver hash certifies that renames/drops
    compose with copy-on-write MERGE and snapshot reads — the Delta
    columnMapping design point, with the anti-resurrection rule
    (re-added columns get fresh physical names) pinned separately in
    tests/test_txn_table.py."""
    _, t, _ = _orders_table(spark, sf_dir)
    t.rename_column("o_totalprice", "price_usd")
    t.drop_column("o_orderpriority")
    key = F.col("o_orderkey")
    batch = (
        t.read()
        .filter(key % 7 == 0)
        .withColumn("price_usd", F.col("price_usd") + 1000.0)
        .withColumn("_deleted", F.lit(False))
    )
    t.merge(batch)
    return t.read()
