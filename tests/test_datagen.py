"""Distribution pins for the synthetic users generator — the contract the
reference seeder promises (app/seed_users.py:21-62, README >=100k rows,
>=1% deleted, ~50% INSERT-classified)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_export_system_spark.datagen import PINNED_NOW, generate_users

N = 20_000


def test_users_distributions(spark):
    df = generate_users(spark, n_rows=N, seed=42).cache()
    assert df.count() == N
    # unique ids and emails (the dedup key, app/models.py:11)
    assert df.select("id").distinct().count() == N
    assert df.select("email").distinct().count() == N
    # ~50% INSERT-classified (updated == created)
    ins = df.filter(F.col("updated_at") == F.col("created_at")).count() / N
    assert 0.45 < ins < 0.55
    # ~3% soft-deleted (README promises >=1%)
    deleted = df.filter("is_deleted").count() / N
    assert 0.02 < deleted < 0.04
    # updated_at >= created_at, both <= pinned now
    now = PINNED_NOW.replace(tzinfo=None)
    assert df.filter(F.col("updated_at") < F.col("created_at")).count() == 0
    assert df.filter(F.col("updated_at") > F.lit(now)).count() == 0
    # created_at spread over the 30-day window
    bounds = df.agg(F.min("created_at"), F.max("created_at")).first()
    assert (now - bounds[0]).days >= 29
    assert (now - bounds[1]).days == 0


def test_users_deterministic(spark):
    a = generate_users(spark, n_rows=500, seed=7).collect()
    b = generate_users(spark, n_rows=500, seed=7).collect()
    assert a == b
    c = generate_users(spark, n_rows=500, seed=8).collect()
    assert [r["id"] for r in c] == [r["id"] for r in a]
    # another seed draws other timestamps for the same ids
    assert sum(x != y for x, y in zip(a, c)) > 400
    assert sorted(r["id"] for r in a) == list(range(1, 501))


def test_users_roundtrip_preserves_insert_classification(spark, tmp_path):
    """created_at == updated_at equality must survive the parquet round
    trip through the LogTable the engine stores users in (microsecond
    truncation at generation time — SURVEY.md §7e)."""
    from cdc_export_system_spark.io.txn_table import LogTable

    df = generate_users(spark, n_rows=1000, seed=42)
    before = df.filter(F.col("updated_at") == F.col("created_at")).count()
    back = LogTable.create(spark, str(tmp_path / "users"), df, "id").read()
    after = back.filter(F.col("updated_at") == F.col("created_at")).count()
    assert before == after
    assert back.count() == 1000
