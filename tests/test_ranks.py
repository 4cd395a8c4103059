"""Unit pins for the distributed global row-number / exact-NTILE helpers
(operators/ranks.py) — the scale-safe replacement for partition-less
windows used by rfm_segmentation and agg_gini."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import Window as W, functions as F

from cdc_export_system_spark.operators.ranks import ntile_from_rank, with_global_row_number


def _naive_ntile(n: int, k: int) -> list[int]:
    """SQL-standard positional NTILE reference: larger buckets first."""
    q, r = divmod(n, k)
    out = []
    for b in range(1, k + 1):
        size = q + 1 if b <= r else q
        out.extend([b] * size)
    return out


@given(n=st.integers(1, 400), k=st.integers(1, 12))
@settings(max_examples=60, deadline=None)
def test_ntile_formula_matches_positional_reference(n, k):
    q, r = divmod(n, k)
    ref = _naive_ntile(n, k)
    # evaluate the closed form in pure Python with the same arithmetic
    for rn in range(1, n + 1):
        cut = r * (q + 1)
        if rn <= cut:
            got = (rn + q) // (q + 1)
        else:
            got = r + (rn - cut + q - 1) // q
        assert got == ref[rn - 1], (n, k, rn)


def test_global_row_number_matches_naive_window(spark):
    rows = [(i % 7, (i * 37) % 101, i) for i in range(500)]
    df = spark.createDataFrame(rows, "a int, b int, id int").repartition(8)
    got = with_global_row_number(
        df, [F.asc("b"), F.desc("a"), F.asc("id")], out="rn", total_out="n"
    )
    naive = df.withColumn(
        "rn_ref", F.row_number().over(W.orderBy(F.asc("b"), F.desc("a"), F.asc("id")))
    )
    joined = got.join(naive, ["a", "b", "id"]).select("rn", "rn_ref", "n").collect()
    assert len(joined) == 500
    assert all(r.rn == r.rn_ref for r in joined)
    assert all(r.n == 500 for r in joined)


def test_global_row_number_empty_input(spark):
    df = spark.createDataFrame([], "a int, id int")
    got = with_global_row_number(df, [F.asc("a"), F.asc("id")], out="rn")
    assert got.count() == 0


def test_spark_ntile_from_rank_matches_sql_ntile(spark):
    df = spark.createDataFrame(
        [((i * 13) % 29, i) for i in range(237)], "v int, id int"
    ).repartition(6)
    ranked = with_global_row_number(
        df, [F.asc("v"), F.asc("id")], out="rn", total_out="n"
    ).withColumn("tile", ntile_from_rank(F.col("rn"), F.col("n"), 5))
    ref = df.withColumn("tile_ref", F.ntile(5).over(W.orderBy(F.asc("v"), F.asc("id"))))
    rows = ranked.join(ref, ["v", "id"]).select("tile", "tile_ref").collect()
    assert len(rows) == 237
    assert all(r.tile == r.tile_ref for r in rows)


def test_prefix_max_matches_naive_global_window(spark):
    from cdc_export_system_spark.operators.ranks import with_prefix_max

    order = [F.desc("x"), F.desc("y"), F.asc("id")]
    for y_type, scale in (("int", 1), ("double", 0.25)):
        df = spark.createDataFrame(
            [((i * 17) % 41, ((i * 7) % 23) * scale, i) for i in range(300)],
            f"x int, y {y_type}, id int",
        ).repartition(7)
        got = with_prefix_max(df, order, "y", out="pm")
        ref = df.withColumn(
            "pm_ref",
            F.max("y").over(W.orderBy(*order).rowsBetween(W.unboundedPreceding, -1)),
        )
        assert dict(got.dtypes)["pm"] == y_type
        rows = got.join(ref, ["x", "y", "id"]).select("pm", "pm_ref").collect()
        assert len(rows) == 300
        assert all(r.pm == r.pm_ref for r in rows)


def test_prefix_max_empty_input(spark):
    from cdc_export_system_spark.operators.ranks import with_prefix_max

    df = spark.createDataFrame([], "x int, y int")
    assert with_prefix_max(df, [F.desc("x")], "y").count() == 0


def test_prefix_sum_matches_naive_global_window(spark):
    """Integer and double values, ascending and descending orders; the
    ``total_suffix`` column is each value's global sum on every row."""
    from cdc_export_system_spark.operators.ranks import with_prefix_sum

    df = spark.createDataFrame(
        [
            ((i * 13) % 37, (i * 5) % 11 + 1, i % 3, float((i * 7) % 13) / 4, i)
            for i in range(300)
        ],
        "k int, a int, b int, x double, id int",
    ).repartition(7)
    values = ["a", "b", "x"]
    totals = df.agg(*[F.sum(v).alias(v) for v in values]).first()
    for order in ([F.asc("k"), F.asc("id")], [F.desc("k"), F.asc("id")]):
        got = with_prefix_sum(df, order, values, suffix="_c", total_suffix="_t")
        w = W.orderBy(*order).rowsBetween(W.unboundedPreceding, -1)
        ref = df.select(
            "id", *[F.coalesce(F.sum(v).over(w), F.lit(0)).alias(f"{v}_ref") for v in values]
        )
        rows = got.join(ref, "id").collect()
        assert len(rows) == 300
        for r in rows:
            for v in values:
                assert r[f"{v}_c"] == r[f"{v}_ref"]
                assert r[f"{v}_t"] == totals[v]


def test_prefix_sum_empty_input(spark):
    from cdc_export_system_spark.operators.ranks import with_prefix_sum

    df = spark.createDataFrame([], "k int, a int")
    assert with_prefix_sum(df, [F.asc("k")], ["a"]).count() == 0
