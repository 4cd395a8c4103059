"""Synthetic ``users`` generator mirroring the reference seeder.

Distributions from reference ``app/seed_users.py:21-62`` and the README
contract (>=100k rows, >=1% deleted):

* ``created_at`` uniform over the 30 days before a pinned "now"
* 50%: ``updated_at == created_at``  (INSERT-classified rows)
* 50%: ``updated_at = created_at + U(0..3d)``, clamped to now
* ``is_deleted`` with p = 0.03
* unique emails (constructed from the id, so uniqueness is structural
  rather than relying on a Faker pool)

Fully distributed: ``spark.range`` + column expressions, no driver-side
loop (the reference seeds 1000 rows/commit through psycopg2 — here 100k
or 100B rows is the same plan). Deterministic for a given (seed,
num_partitions): ``F.rand(seed)`` draws are a pure function of partition
and offset. Timestamps are truncated to whole microseconds so the
INSERT-classification equality survives parquet round trips.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

PINNED_NOW = datetime(2026, 3, 1, 12, 0, 0, tzinfo=timezone.utc)
SPREAD_SECONDS = 30 * 24 * 3600  # created_at window (30 days)
UPDATE_LAG_MAX = 3 * 24 * 3600  # update lag 0..3 days
DELETED_P = 0.03
INSERT_P = 0.5


def generate_users(
    spark: SparkSession,
    n_rows: int = 100_000,
    seed: int = 42,
    now: datetime = PINNED_NOW,
    num_partitions: int = 8,
) -> DataFrame:
    """Build the users DataFrame; schema matches schemas.USERS_SCHEMA."""
    now_ts = F.lit(now.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
    df = spark.range(0, n_rows, 1, num_partitions).withColumnRenamed("id", "uid")
    created = F.timestamp_micros(
        F.unix_micros(now_ts)
        - (F.rand(seed) * SPREAD_SECONDS).cast("long") * 1_000_000
    )
    lag_us = (F.rand(seed + 1) * UPDATE_LAG_MAX).cast("long") * 1_000_000
    updated_candidate = F.timestamp_micros(F.unix_micros(F.col("created_at")) + lag_us)
    return (
        df.withColumn("created_at", created)
        .withColumn(
            "updated_at",
            F.when(F.rand(seed + 2) < INSERT_P, F.col("created_at")).otherwise(
                F.least(updated_candidate, now_ts)
            ),
        )
        .withColumn("is_deleted", F.rand(seed + 3) < DELETED_P)
        .select(
            (F.col("uid") + 1).alias("id"),
            F.concat(F.lit("User "), F.col("uid") + 1).alias("name"),
            F.concat(F.lit("user"), F.col("uid") + 1, F.lit("@example.com")).alias("email"),
            F.col("created_at"),
            F.col("updated_at"),
            F.col("is_deleted"),
        )
    )

