"""Incremental materialized-view maintenance: the delta algebra that
keeps a derived table correct WITHOUT recomputing it — upsert deltas
(+new/-old), bilinear join deltas, mergeable partial aggregate state,
insert-only self-maintainable top-k, and ref-counted distinct.

North-star extension (the reference's CDC exports feed downstream
consumers that maintain exactly these views by hand; SURVEY.md §2.9's
incremental contract is the input side of this module). The
correctness statement is the interesting part: every op here computes
the view INCREMENTALLY on the Spark side while the DuckDB oracle
RECOMPUTES it directly from the full inputs — a hash match proves the
maintenance algebra, not just engine parity.

Scale design (100 TB posture):

* The whole point of IVM at scale: the maintained path touches
  O(|delta| + |aux state|) rows, never O(|base|). The ops express that
  shape — delta terms are separate keyed joins/aggregates whose
  partial states merge by group — even though the test harness derives
  old/delta splits from the same table.
* Aggregate partial state follows the dmulsum discipline: per-term
  cent-sums are carried as radix-2^22 hi/lo pairs (codegen-resident
  BIGINT adds) or DECIMAL(38,0) where signed, merged to the final
  double only on the |groups|-row result.
* Retraction (the -old row of an upsert, the delete of a ref-counted
  member) is data, not control flow: a union of signed delta rows into
  ONE aggregate, so the maintenance plan is a single keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.registry import _cents, register

_RADIX = 1 << 22
_MASK = _RADIX - 1


@register(
    "mv_incremental_agg",
    oracle="""
        WITH latest AS (
            SELECT o_custkey, o_orderpriority, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderkey DESC) AS rn
            FROM orders)
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                    AS VARCHAR) AS DOUBLE) AS total_latest
        FROM latest WHERE rn = 1
        GROUP BY o_orderpriority
    """,
    tags=("mv", "window", "agg"),
)
def mv_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert-stream maintenance of a dimensioned aggregate. The orders
    of each customer, in key order, are an upsert changelog on
    o_custkey; the view is (priority -> count + balance of each
    customer's CURRENT order). The engine never builds latest-per-key:
    each version emits +new and (when superseded) -old signed delta
    rows — including the cross-dimension move when an update CHANGES
    the customer's priority, the case naive per-group maintenance gets
    wrong — and ONE grouped aggregate nets them out. The oracle
    recomputes latest-per-key directly, so the hash proves the delta
    algebra. Signed cent-sums accumulate in DECIMAL(38,0) (they are
    volume-scaled and sign-cancelling, so no BIGINT bound exists)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    ver = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.lag("o_orderpriority").over(w).alias("prev_prio"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )
    plus = ver.select(
        F.col("o_orderpriority").alias("dim"),
        F.lit(1).alias("sign"),
        F.col("o_totalprice").alias("val"),
    )
    minus = ver.filter(F.col("prev_prio").isNotNull()).select(
        F.col("prev_prio").alias("dim"),
        F.lit(-1).alias("sign"),
        F.col("prev_price").alias("val"),
    )
    signed_cents = (
        F.when(F.col("sign") == 1, _cents(F.col("val")))
        .otherwise(-_cents(F.col("val")))
        .cast("decimal(38,0)")
    )
    return (
        plus.unionAll(minus)
        .groupBy(F.col("dim").alias("o_orderpriority"))
        .agg(
            F.sum("sign").cast("bigint").alias("n_customers"),
            (F.sum(signed_cents).cast("decimal(38,6)") / F.lit(100))
            .cast("double")
            .alias("total_latest"),
        )
        .filter(F.col("n_customers") != 0)
    )


def _join_term(orders_part: DataFrame, li_part: DataFrame) -> DataFrame:
    """One bilinear delta term, aggregated to mergeable partial state:
    (priority, n_li, hi, lo) where hi/lo are the radix-2^22 halves of
    the summed revenue cent-products (the dmulsum accumulator, kept
    OPEN so terms merge by addition before the final decimal merge)."""
    p = _cents(F.col("l_extendedprice")) * _cents(1 - F.col("l_discount"))
    return (
        orders_part.join(
            li_part, F.col("o_orderkey") == F.col("l_orderkey")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_li"),
            F.sum(F.shiftright(p, 22)).cast("decimal(38,0)").alias("hi"),
            F.sum(p.bitwiseAND(F.lit(_MASK))).cast("decimal(38,0)").alias("lo"),
        )
    )


@register(
    "mv_delta_join",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_li,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                             * CAST(1 - l_discount AS DECIMAL(18,6)))
                    AS VARCHAR) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
    """,
    headline=True,
    tags=("mv", "join", "agg"),
)
def mv_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join view under deltas on BOTH
    inputs: V(O_old + dO, L_old + dL) = term(O_old,L_old) + term(dO,
    L_old) + term(O_old,dL) + term(dO,dL) — the bilinear expansion
    every IVM engine (DBSP/differential dataflow) is built on. Each
    term aggregates independently to mergeable partial state (count +
    hi/lo cent-sums); the view is the grouped SUM of the four partials
    with one final decimal merge. The oracle joins and aggregates the
    FULL inputs in one shot — the hash proves the expansion + state
    merge are exact, bit-for-bit, under the dmulsum discipline."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o_old = o.filter(F.col("o_orderkey") % 4 != 0)
    d_o = o.filter(F.col("o_orderkey") % 4 == 0)
    l_old = li.filter(F.col("l_orderkey") % 5 != 0)
    d_l = li.filter(F.col("l_orderkey") % 5 == 0)
    terms = [
        _join_term(o_old, l_old),
        _join_term(d_o, l_old),
        _join_term(o_old, d_l),
        _join_term(d_o, d_l),
    ]
    merged = terms[0]
    for t in terms[1:]:
        merged = merged.unionAll(t)
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.sum("n_li").cast("bigint").alias("n_li"),
            (
                (
                    F.sum("hi") * F.lit(_RADIX) + F.sum("lo")
                ).cast("decimal(38,6)")
                / F.lit(10000)
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "mv_topk_monotone",
    oracle="""
        WITH ranked AS (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey)
                       AS rk
            FROM orders)
        SELECT o_orderpriority, CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_totalprice, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 3
    """,
    tags=("mv", "window", "topk"),
)
def mv_topk_monotone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-only self-maintainable top-k: topk(S + d) = topk(topk(S)
    + d). The engine maintains the 3-per-priority state from the old
    partition, then folds the insert batch through a re-rank of state
    + delta (k + |delta| rows per group, never the base). The oracle
    ranks the full table. Deletes would break self-maintainability —
    that case needs the ref-count/aux-state treatment, which is why
    mv_refcount_distinct exists."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 4 != 0)
    delta = o.filter(F.col("o_orderkey") % 4 == 0)
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    state = (
        old.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3).drop("rk")
    )
    return (
        state.unionAll(delta)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_orderpriority",
            F.col("o_orderkey").cast("bigint"),
            "o_totalprice",
            F.col("rk").cast("bigint"),
        )
    )


@register(
    "mv_refcount_distinct",
    oracle="""
        WITH refs AS (
            SELECT event_type, user_id,
                   count(*) FILTER (WHERE value >= 1.0)
                     - count(*) FILTER (WHERE value < 1.0) AS refcount
            FROM events GROUP BY event_type, user_id)
        SELECT event_type,
               CAST(count(*) FILTER (WHERE refcount > 0) AS BIGINT)
                   AS n_active,
               CAST(count(*) AS BIGINT) AS n_tracked
        FROM refs GROUP BY event_type
    """,
    tags=("mv", "agg", "state"),
)
def mv_refcount_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) is not self-maintainable under deletes — the
    canonical fix is ref-counted aux state: every insert (value >= 1)
    adds a reference to (event_type, user_id), every delete (value <
    1) retracts one, and the view is the count of members whose net
    refcount is positive. n_tracked (aux-state cardinality) is emitted
    too: the state an IVM engine must persist, and the number a
    capacity planner needs. Two keyed aggregates, no distinct shuffle
    of raw rows."""
    e = load_table(spark, sf_dir, "events")
    refs = e.groupBy("event_type", "user_id").agg(
        (
            F.count_if(F.col("value") >= 1.0) - F.count_if(F.col("value") < 1.0)
        ).alias("refcount")
    )
    return refs.groupBy("event_type").agg(
        F.count_if(F.col("refcount") > 0).cast("bigint").alias("n_active"),
        F.count(F.lit(1)).cast("bigint").alias("n_tracked"),
    )
