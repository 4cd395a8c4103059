"""Aggregations (SURVEY.md §2.4).

The reference computes its only aggregate — max(updated_at) — driver-side
in Python over fully materialized rows (reference: app/services/
exports.py:92,132,168, an O(result) RAM anti-pattern at scale). Here every
aggregate is in-engine: Spark's hash aggregate does a map-side partial pass
before the shuffle, so the exchange carries one row per group per
partition, not the data.

Double sums go through DECIMAL(18,6) (registry.dsum) so results are exact
and order-independent — identical across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.registry import dsum, register, sql_dsum


@register(
    "agg_max_ts",
    oracle="SELECT max(ts) AS max_ts FROM events",
    tags=("agg", "cdc"),
)
def agg_max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max over the CDC time column — the watermark advance value
    (exports.py:92; computed in-engine instead of driver-side)."""
    return load_table(spark, sf_dir, "events").agg(F.max("ts").alias("max_ts"))


@register(
    "agg_count_star",
    oracle="SELECT count(*) AS n FROM lineitem",
    tags=("agg",),
)
def agg_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) (seeder idempotency check, app/seed_users.py:25). Spark
    answers this from parquet footers without reading data columns."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@register(
    "agg_count_filtered",
    oracle="SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'",
    tags=("agg", "filter"),
)
def agg_count_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT with predicate (tests/test_exports_full.py:11:
    COUNT(*) WHERE is_deleted = FALSE)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_min_max_ts",
    oracle="SELECT min(ts) AS min_ts, max(ts) AS max_ts FROM events",
    tags=("agg",),
)
def agg_min_max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp range check (reference README psql check)."""
    return load_table(spark, sf_dir, "events").agg(
        F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")
    )


@register(
    "agg_group_sum",
    oracle=f"""
        SELECT l_returnflag,
               {sql_dsum("l_quantity", "sum_qty")},
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "group"),
)
def agg_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy + sum/count — partial aggregation happens map-side, the
    shuffle carries |groups| x |partitions| rows only."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(dsum(F.col("l_quantity"), "sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_avg",
    oracle=f"""
        SELECT o_orderpriority,
               {sql_dsum("o_totalprice", "sum_price")},
               count(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   / count(*) AS avg_price
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "group"),
)
def agg_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average phrased as exact-sum / count so both engines agree bitwise
    (plain AVG(double) is summation-order dependent)."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(dsum(F.col("o_totalprice"), "sum_price"), F.count(F.lit(1)).alias("n"))
    )
    return g.withColumn("avg_price", F.col("sum_price") / F.col("n"))


@register(
    "agg_count_distinct",
    oracle="SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps FROM lineitem",
    tags=("agg", "distinct"),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts — Spark expands to a two-phase partial/final
    aggregate over the distinct keys."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "agg_approx_distinct",
    # HyperLogLog++ estimates are engine-specific: no SQL oracle, the
    # driver records a rows-only check. A unit test bounds the relative
    # error vs the exact count instead.
    oracle=None,
    tags=("agg", "distinct", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++, rsd=1%) — the 100 TB-scale path where
    an exact distinct would shuffle every key."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts")
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "group"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — one shuffle, Expand feeds all grouping sets."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "group"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping sets in one
    Expand pass, exact-cents sums; NULL marks the rolled-up level."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_CENTS = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"


@register(
    "agg_stats_exact",
    oracle=f"""
        WITH g AS (
            SELECT l_returnflag,
                   count(*) AS n,
                   SUM({_SQL_CENTS}) AS s_cents,
                   SUM(CAST({_SQL_CENTS} AS HUGEINT) * {_SQL_CENTS}) AS sq_cents
            FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag,
               n AS n_rows,
               CAST(CAST(s_cents AS VARCHAR) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * 100.0) AS mean_price,
               (CAST(n AS DOUBLE) * CAST(CAST(sq_cents AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(s_cents AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(s_cents AS VARCHAR) AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) * 10000.0) AS var_price,
               sqrt((CAST(n AS DOUBLE) * CAST(CAST(sq_cents AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(s_cents AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(s_cents AS VARCHAR) AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 100.0 AS std_price
        FROM g
    """,
    tags=("agg", "stats"),
)
def agg_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed second moments: mean / sample variance / stddev
    from exact integer sums (cents and cents^2), finalized in double on
    the 4-row post-aggregation result. Spark's stddev_samp streams doubles
    through Welford-style merges whose result depends on partition order —
    unusable under an order-insensitive hash check and irreproducible
    across reshards; summing exact scaled integers is both reproducible
    and cheaper (codegen'd bigint/decimal adds, map-side combinable)."""
    from cdc_export_system_spark.registry import _cents

    li = load_table(spark, sf_dir, "lineitem")
    c = _cents(F.col("l_extendedprice"))
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("s_cents"),
        F.sum(c.cast("decimal(38,0)") * c).alias("sq_cents"),
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s_cents").cast("double")
    sq_d = F.col("sq_cents").cast("double")
    var = (n_d * sq_d - s_d * s_d) / (n_d * (n_d - F.lit(1)) * F.lit(10000.0))
    std = F.sqrt((n_d * sq_d - s_d * s_d) / (n_d * (n_d - F.lit(1)))) / F.lit(100.0)
    return g.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (s_d / (n_d * F.lit(100.0))).alias("mean_price"),
        var.alias("var_price"),
        std.alias("std_price"),
    )


_XC = "CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)"
_YC = _SQL_CENTS  # l_extendedprice cents
_VH = "CAST(CAST({m} AS VARCHAR) AS DOUBLE)"  # DuckDB correctly-rounded int->double


@register(
    "agg_corr_exact",
    oracle=f"""
        WITH g AS (
            SELECT l_returnflag, count(*) AS n,
                   SUM({_XC}) AS sx, SUM({_YC}) AS sy,
                   SUM(CAST({_XC} AS HUGEINT) * {_XC}) AS sxx,
                   SUM(CAST({_YC} AS HUGEINT) * {_YC}) AS syy,
                   SUM(CAST({_XC} AS HUGEINT) * {_YC}) AS sxy
            FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n AS n_rows,
               (CAST(n AS DOUBLE) * {_VH.format(m="sxy")}
                  - {_VH.format(m="sx")} * {_VH.format(m="sy")})
                 / sqrt((CAST(n AS DOUBLE) * {_VH.format(m="sxx")}
                           - {_VH.format(m="sx")} * {_VH.format(m="sx")})
                        * (CAST(n AS DOUBLE) * {_VH.format(m="syy")}
                           - {_VH.format(m="sy")} * {_VH.format(m="sy")}))
                   AS corr_qty_price,
               (CAST(n AS DOUBLE) * {_VH.format(m="sxy")}
                  - {_VH.format(m="sx")} * {_VH.format(m="sy")})
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) * 10000.0)
                   AS covar_qty_price
        FROM g
    """,
    tags=("agg", "stats"),
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed cross-moments: Pearson correlation and sample
    covariance from exact integer sums (same design as agg_stats_exact —
    Spark's corr()/covar_samp() stream doubles through merge-order-
    dependent accumulators; exact cents moments are reshard-reproducible
    and map-side combinable). The cents scale cancels in corr; covar
    unscales by 100^2."""
    from cdc_export_system_spark.registry import _cents

    li = load_table(spark, sf_dir, "lineitem")
    xc = _cents(F.col("l_quantity"))
    yc = _cents(F.col("l_extendedprice"))
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xc).alias("sx"),
        F.sum(yc).alias("sy"),
        F.sum(xc.cast("decimal(38,0)") * xc).alias("sxx"),
        F.sum(yc.cast("decimal(38,0)") * yc).alias("syy"),
        F.sum(xc.cast("decimal(38,0)") * yc).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx_d, syy_d, sxy_d = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    cov_num = n_d * sxy_d - sx_d * sy_d
    corr = cov_num / F.sqrt((n_d * sxx_d - sx_d * sx_d) * (n_d * syy_d - sy_d * sy_d))
    return g.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        corr.alias("corr_qty_price"),
        (cov_num / (n_d * (n_d - F.lit(1)) * F.lit(10000.0))).alias("covar_qty_price"),
    )


@register(
    "agg_histogram",
    oracle="""
        SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
               count(*) AS n_rows,
               CAST(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS VARCHAR) AS DOUBLE) / 100 AS sum_value
        FROM events
        GROUP BY CAST(floor(value / 50) AS BIGINT)
    """,
    tags=("agg", "stats"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (bucket = floor(value/50)) with per-bucket
    exact sums — the distribution-profiling primitive for data-quality
    dashboards. One hash aggregate: map-side partials collapse each task
    to its local bucket set, so the shuffle is O(buckets), independent of
    row count."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 50).cast("bigint")
    from cdc_export_system_spark.registry import _cents

    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(_cents(F.col("value"))).cast("decimal(38,6)") / 100)
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "agg_string_agg",
    oracle="""
        SELECT c_nationkey, count(*) AS n_customers,
               string_agg(c_name, ',' ORDER BY c_name) AS names
        FROM customer GROUP BY c_nationkey
    """,
    tags=("agg",),
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG/string_agg per group. collect_list's partial
    aggregation gathers per-task fragments; the deterministic order the
    SQL-standard `WITHIN GROUP (ORDER BY)` promises comes from one
    array_sort on the merged list — no global sort, and the shuffle
    carries |group| lists, not rows. Group cardinality bounds the string
    (names-per-nation); for unbounded groups cap with slice() first."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names"),
    )


@register(
    "agg_max_by",
    oracle=f"""
        SELECT event_type,
               max_by(event_id, CAST(floor(value * 100 + 0.5) AS HUGEINT)
                                * {1 << 40} + event_id) AS top_event,
               max(value) AS top_value,
               min_by(event_id, CAST(floor(value * 100 + 0.5) AS HUGEINT)
                                * {1 << 40} + event_id) AS bottom_event,
               any_value(user_id ORDER BY event_id) AS first_user
        FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max/arg-min aggregation (max_by/min_by): the 'row that won'
    pattern, one hash aggregate instead of the self-join-on-max it
    replaces. The ordering value is a COMPOSITE — exact cents packed
    with the unique event_id into one DECIMAL(38,0) (cents * 2^40 + id;
    valid while id < 2^40, any cents) — not the bare value: bare max_by ties are engine-
    AND reshard-nondeterministic (2dp values collide within a group by
    sf0.1; the sf0.1 parity sweep caught exactly this), while the packed
    key is a total order, so the winner is unique under any
    partitioning."""
    ev = load_table(spark, sf_dir, "events")
    # DECIMAL packing (oracle: HUGEINT): cents * 2^40 left int64 once a
    # value passed ~$84k (round-8 int-product lint) — same widening as
    # the as-of join encoding
    tie = F.floor(F.col("value") * 100 + 0.5).cast("decimal(38,0)") * F.lit(
        1 << 40
    ) + F.col("event_id")
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", tie).alias("top_event"),
        F.max("value").alias("top_value"),
        F.min_by("event_id", tie).alias("bottom_event"),
        F.min_by("user_id", "event_id").alias("first_user"),
    )


@register(
    "agg_conditional",
    oracle="""
        SELECT event_type,
               count(*) FILTER (WHERE value > 50) AS n_big,
               count(*) FILTER (WHERE user_id % 2 = 0) AS n_even_user,
               bool_or(value > 99) AS any_gt99,
               bool_and(value >= 0) AS all_nonneg,
               CAST(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    FILTER (WHERE value > 50) AS VARCHAR) AS DOUBLE) / 100
                   AS sum_big
        FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: count_if / FILTER-style sums / bool_or /
    bool_and — one pass, one hash aggregate, where the naive form runs
    one filtered sub-query per condition."""
    ev = load_table(spark, sf_dir, "events")
    from cdc_export_system_spark.registry import _cents

    big = F.col("value") > 50
    return ev.groupBy("event_type").agg(
        F.count_if(big).alias("n_big"),
        F.count_if(F.col("user_id") % 2 == 0).alias("n_even_user"),
        F.bool_or(F.col("value") > 99).alias("any_gt99"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        (
            F.sum(F.when(big, _cents(F.col("value")))).cast("decimal(38,6)") / 100
        )
        .cast("double")
        .alias("sum_big"),
    )


@register(
    "profile_table",
    oracle="""
        SELECT count(*) AS n_rows,
               count(DISTINCT o_custkey) AS n_customers,
               count(DISTINCT o_orderstatus) AS n_statuses,
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS null_priority,
               CAST(min(o_orderdate) AS DATE) AS first_order,
               CAST(max(o_orderdate) AS DATE) AS last_order,
               CAST(CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS VARCHAR) AS DOUBLE) / 100 AS min_price,
               CAST(CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS VARCHAR) AS DOUBLE) / 100 AS max_price
        FROM orders
    """,
    tags=("agg", "profile"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile (row count, cardinalities, null counts,
    ranges) — the data-quality summary every ingest job runs. One
    aggregate node; the two exact count-distincts expand per distinct
    key map-side, so at 100 TB swap them for approx_count_distinct
    (same call shape, `agg_approx_distinct` is the registered sketch
    variant)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)).alias(
            "null_priority"
        ),
        F.min("o_orderdate").cast("date").alias("first_order"),
        F.max("o_orderdate").cast("date").alias("last_order"),
        (F.min(_cents_col()).cast("decimal(38,6)") / 100).cast("double").alias("min_price"),
        (F.max(_cents_col()).cast("decimal(38,6)") / 100).cast("double").alias("max_price"),
    )


def _cents_col():
    from cdc_export_system_spark.registry import _cents

    return _cents(F.col("o_totalprice"))


@register(
    "agg_hll_sketch",
    oracle=None,  # sketch bytes are implementation-specific: rows-only
    tags=("agg", "sketch"),
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, the
    re-aggregatable form approx_count_distinct's HLL++ doesn't expose):
    per-type user sketches, merged with hll_union_agg into a global
    estimate — the pattern that lets daily partial sketches roll up to
    any window without rescanning. Estimates are engine-specific, so the
    driver records rows-only; the exactness bound is pinned in pytest
    against countDistinct."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    return per_type.agg(
        F.sum(F.hll_sketch_estimate("sketch")).alias("sum_of_type_estimates"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("merged_estimate"),
    )


@register(
    "feat_standardize",
    oracle="""
        WITH stats AS (
            SELECT event_type,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                       / 100 / count(*) AS mu,
                   sqrt(
                     (CAST(SUM(CAST(floor(value * 100 + 0.5) AS HUGEINT)
                               * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                        / 10000
                      - CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                          / 100
                        * CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                          / 100 / count(*))
                     / count(*)) AS sigma
            FROM events GROUP BY event_type)
        SELECT e.event_id, e.event_type,
               floor((e.value - s.mu) / s.sigma * 1000000 + 0.5) / 1000000 AS z
        FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
    tags=("agg", "ml"),
)
def feat_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization — the ML feature-scaling pass.
    Group stats come from exact integer moments (order-independent, so
    the result is reshard-reproducible; see agg_stats_exact) and join
    back as a BROADCAST of |groups| rows — never a window over the
    value column, which would serialize each group onto one task.
    z is pinned to 1e-6 to absorb the one-ulp division differences."""
    ev = load_table(spark, sf_dir, "events")
    from cdc_export_system_spark.registry import _cents

    c = _cents(F.col("value"))
    n = F.count(F.lit(1))
    s1 = F.sum(c).cast("double") / 100
    # DECIMAL sum-of-squares accumulator (oracle: HUGEINT): cents^2 rows
    # overflow a BIGINT sum at ~9e10 rows per group for 1e4-cent values
    s2 = F.sum((c * c).cast("decimal(38,0)")).cast("double") / 10000
    stats = ev.groupBy("event_type").agg(
        (s1 / n).alias("mu"),
        F.sqrt((s2 - s1 * s1 / n) / n).alias("sigma"),
    )
    z = F.floor((F.col("value") - F.col("mu")) / F.col("sigma") * 1_000_000 + 0.5) / 1_000_000
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", z.alias("z"))
    )


@register(
    "agg_mode",
    oracle="""
        WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
                   FROM orders GROUP BY o_orderstatus, o_orderpriority)
        SELECT o_orderstatus, o_orderpriority AS modal_priority, cnt
        FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY cnt DESC, o_orderpriority) AS rn
              FROM c)
        WHERE rn = 1
    """,
    tags=("agg",),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group (most frequent o_orderpriority per status,
    ties to the lexicographically smallest). Counts first — the shuffle
    carries |status x priority| partial counts, map-side combined — then
    a window over that tiny grid picks the mode; the window never sees
    the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("modal_priority"), "cnt"
        )
    )


@register(
    "agg_weighted_avg",
    oracle="""
        SELECT l_returnflag,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   AS sum_qty,
               round(
                 CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))
                              * CAST(l_quantity AS DECIMAL(10,4))) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE),
                 6) AS wavg_price
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag. Numerator and
    denominator are exact scaled-integer sums (registry.dmulsum/dsum), so
    both engines divide bit-identical doubles — the quotient is then
    deterministic and the round(6) is cosmetic, not load-bearing."""
    from cdc_export_system_spark.registry import dmulsum

    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        dmulsum("wsum", F.col("l_extendedprice"), F.col("l_quantity")),
    )
    return agg.select(
        "l_returnflag",
        "sum_qty",
        F.round(F.col("wsum") / F.col("sum_qty"), 6).alias("wavg_price"),
    )


@register(
    "agg_multi_distinct",
    oracle="""
        SELECT o_orderstatus,
               count(DISTINCT o_custkey) AS n_customers,
               count(DISTINCT o_orderpriority) AS n_priorities,
               count(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "distinct"),
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one statement: Catalyst plans one
    Expand (row replicated per distinct set) feeding a single shuffle —
    not one pass per distinct column. At extreme scale swap for
    approx_count_distinct per column (agg_approx_distinct) and keep one
    non-expanded pass."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "feat_minmax_scale",
    oracle="""
        WITH c AS (SELECT event_id, event_type,
                          CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
                   FROM events),
        stats AS (SELECT event_type, min(vc) AS lo, max(vc) AS hi
                  FROM c GROUP BY event_type)
        SELECT c.event_id, c.event_type,
               CAST(c.vc - s.lo AS DOUBLE) / CAST(s.hi - s.lo AS DOUBLE) AS scaled
        FROM c JOIN stats s ON c.event_type = s.event_type
        WHERE s.hi > s.lo
    """,
    tags=("agg", "ml", "stats"),
)
def feat_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling to [0,1] — feat_standardize's
    sibling for bounded features. min/max over exact cents are
    order-free (unlike float sums), the |groups|-row stats table
    broadcasts back onto the scan, and (v-lo)/(hi-lo) is one exact
    integer subtraction per side of a single double divide — identical
    in any engine. Degenerate constant groups (hi == lo) are excluded
    rather than emitting NaN/Inf."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("vc"),
    )
    stats = c.groupBy("event_type").agg(
        F.min("vc").alias("lo"), F.max("vc").alias("hi")
    )
    return (
        c.join(F.broadcast(stats), "event_type")
        .filter(F.col("hi") > F.col("lo"))
        .select(
            "event_id",
            "event_type",
            (
                (F.col("vc") - F.col("lo")).cast("double")
                / (F.col("hi") - F.col("lo")).cast("double")
            ).alias("scaled"),
        )
    )


_VC = "CAST(floor(value * 100 + 0.5) AS BIGINT)"
_H = "CAST(CAST({x} AS VARCHAR) AS DOUBLE)"


@register(
    "agg_skew_kurtosis",
    oracle=f"""
        WITH s AS (
            SELECT event_type, count(*) AS n,
                   SUM({_VC}) AS s1,
                   SUM(CAST({_VC} AS HUGEINT) * {_VC}) AS s2,
                   SUM(CAST({_VC} AS HUGEINT) * {_VC} * {_VC}) AS s3,
                   SUM(CAST({_VC} AS HUGEINT) * {_VC} * {_VC} * {_VC}) AS s4
            FROM events GROUP BY event_type),
        m AS (
            SELECT event_type, n,
                   {_H.format(x='s1')} / n AS mu,
                   {_H.format(x='s2')} / n AS r2,
                   {_H.format(x='s3')} / n AS r3,
                   {_H.format(x='s4')} / n AS r4
            FROM s)
        SELECT event_type, n,
               floor((r3 - 3 * mu * r2 + 2 * mu * mu * mu)
                     / ((r2 - mu * mu) * sqrt(r2 - mu * mu))
                     * 1000000000 + 0.5) / 1000000000 AS skewness,
               floor(((r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu)
                      / ((r2 - mu * mu) * (r2 - mu * mu)) - 3)
                     * 1000000000 + 0.5) / 1000000000 AS excess_kurtosis
        FROM m
    """,
    tags=("agg", "stats"),
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per event type from EXACT
    integer power sums (cents^1..4 — the 3rd/4th-moment extension of
    agg_stats_exact; Spark's own skewness()/kurtosis() stream doubles
    and are partition-order-dependent). The four sums are one map-side-
    combinable pass; finalization is a fixed double expression over the
    |groups| rows, with m2^1.5 spelled m2*sqrt(m2) (libm pow ulps differ
    across engines; mul and sqrt are correctly rounded everywhere).
    Raw->central moment identities keep every engine on the same tree:
    m3 = r3 - 3·mu·r2 + 2·mu^3, m4 = r4 - 4·mu·r3 + 6·mu^2·r2 - 3·mu^4."""
    ev = load_table(spark, sf_dir, "events")
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    cd = c.cast("decimal(38,0)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("s1"),
        F.sum(cd * c).alias("s2"),
        F.sum(cd * c * c).alias("s3"),
        F.sum(cd * c * c * c).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - F.lit(3) * mu * r2 + F.lit(2) * mu * mu * mu
    m4 = (
        r4
        - F.lit(4) * mu * r3
        + F.lit(6) * mu * mu * r2
        - F.lit(3) * mu * mu * mu * mu
    )
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2) - F.lit(3)
    return s.select(
        "event_type",
        "n",
        (F.floor(skew * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias("skewness"),
        (F.floor(kurt * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias(
            "excess_kurtosis"
        ),
    )


AB_GROUP_A = "click"
AB_GROUP_B = "view"


@register(
    "ab_welch_ttest",
    oracle=f"""
        WITH s AS (
            SELECT event_type, count(*) AS n,
                   SUM({_VC}) AS s1,
                   SUM(CAST({_VC} AS HUGEINT) * {_VC}) AS s2
            FROM events WHERE event_type IN ('{AB_GROUP_A}', '{AB_GROUP_B}')
            GROUP BY event_type),
        m AS (
            SELECT event_type, n,
                   {_H.format(x='s1')} / n / 100 AS mu,
                   (n * {_H.format(x='s2')} - {_H.format(x='s1')} * {_H.format(x='s1')})
                       / (CAST(n AS DOUBLE) * (n - 1) * 10000.0) AS v
            FROM s)
        SELECT a.n AS n_a, b.n AS n_b,
               floor(a.mu * 1000000 + 0.5) / 1000000 AS mean_a,
               floor(b.mu * 1000000 + 0.5) / 1000000 AS mean_b,
               floor((a.mu - b.mu) / sqrt(a.v / a.n + b.v / b.n)
                     * 1000000000 + 0.5) / 1000000000 AS t_stat
        FROM (SELECT * FROM m WHERE event_type = '{AB_GROUP_A}') a,
             (SELECT * FROM m WHERE event_type = '{AB_GROUP_B}') b
    """,
    tags=("agg", "stats", "analytics"),
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic comparing event values between two
    cohorts — the A/B-experimentation readout, computed from the same
    exact integer moments as agg_stats_exact (one combinable pass over
    both cohorts; Spark never sees a row twice). The |2|-row stats
    table collapses to a single-row cross pair, so the t finalization
    is driver-scale arithmetic on an identical double tree in both
    engines. (Degrees of freedom/p-value are monotone in t and left to
    the caller's lookup; the statistic is the engine's job.)"""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(AB_GROUP_A, AB_GROUP_B)
    )
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("s1"),
        F.sum(c.cast("decimal(38,0)") * c).alias("s2"),
    )
    n = F.col("n")
    nd = n.cast("double")
    mu = F.col("s1").cast("double") / n / F.lit(100)
    v = (n * F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double")) / (
        nd * (n - F.lit(1)) * F.lit(10000.0)
    )
    m = s.select("event_type", "n", mu.alias("mu"), v.alias("v"))
    a = m.filter(F.col("event_type") == AB_GROUP_A).select(
        F.col("n").alias("n_a"), F.col("mu").alias("mu_a"), F.col("v").alias("v_a")
    )
    b = m.filter(F.col("event_type") == AB_GROUP_B).select(
        F.col("n").alias("n_b"), F.col("mu").alias("mu_b"), F.col("v").alias("v_b")
    )
    t = (F.col("mu_a") - F.col("mu_b")) / F.sqrt(
        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        (F.floor(F.col("mu_a") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("mean_a"),
        (F.floor(F.col("mu_b") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("mean_b"),
        (F.floor(t * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias("t_stat"),
    )


@register(
    "feat_forward_fill",
    oracle="""
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END AS raw_value,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled_value
        FROM events
    """,
    tags=("feature", "window"),
)
def feat_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF imputation (last observation carried forward): a sparse
    signal — here 'value observed only on purchase events' — is carried
    forward along each user's timeline with one ignore-nulls window.
    The standard gap-fill for sensor/price/feature series before
    training: one shuffle + sort per key, no joins, no self-scan; rows
    before the first observation stay NULL (LOCF never invents data
    backward)."""
    ev = load_table(spark, sf_dir, "events")
    raw = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        raw.alias("raw_value"),
        F.last(raw, ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "feat_quantile_bucketize",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_totalprice <= (SELECT percentile_disc(0.25)
                        WITHIN GROUP (ORDER BY o_totalprice) FROM orders) THEN 1
                    WHEN o_totalprice <= (SELECT percentile_disc(0.5)
                        WITHIN GROUP (ORDER BY o_totalprice) FROM orders) THEN 2
                    WHEN o_totalprice <= (SELECT percentile_disc(0.75)
                        WITHIN GROUP (ORDER BY o_totalprice) FROM orders) THEN 3
                    ELSE 4 END AS bucket
        FROM orders
    """,
    tags=("feature", "percentile"),
)
def feat_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile feature binning: assign each row its quantile bucket with
    thresholds from percentile_disc — actual data elements, so bucket
    boundaries are exact and engine/reshard-identical (an interpolated
    quantile could put a boundary BETWEEN two floats and flip rows by
    ulps). The three scalar subqueries evaluate once and broadcast into
    the scan's CASE — the Bucketizer pattern without collecting the
    column. The three thresholds ride ONE aggregate pass (a 1-row
    broadcast attached to the scan): the original three scalar
    subqueries each re-scanned the price column and ran their own
    percentile job (4 orders scans per call, r11 plan sweep); this is
    the 2-scan minimum (threshold pass + bucketize pass)."""
    from cdc_export_system_spark.io.sources import star_view

    orders = star_view(spark, sf_dir, "orders")
    return spark.sql(f"""
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_totalprice <= q.q1 THEN 1
                    WHEN o_totalprice <= q.q2 THEN 2
                    WHEN o_totalprice <= q.q3 THEN 3
                    ELSE 4 END AS bucket
        FROM {orders}, (
            SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS q1,
                   percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS q2,
                   percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS q3
            FROM {orders}) q
    """)


@register(
    "agg_bitmap_distinct",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type
    """,
    tags=("agg", "distinct", "bitmap"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark 4's bitmap aggregates — the
    warehouse bitmap-index path (Snowflake/ClickHouse style): bucket the
    key space into 32k-bit bitmaps, OR the position bits per bucket
    map-side, then sum the per-bucket popcounts. Unlike
    approx_count_distinct this is exact, and unlike COUNT(DISTINCT) the
    partial state is a fixed-width bitmap per (group, bucket) — fully
    mergeable, so re-aggregation across partitions/days composes without
    ever re-touching rows (precompute bitmaps per day, OR them for any
    date range). Oracle = plain exact COUNT(DISTINCT): the numbers must
    agree because the bitmap path IS exact."""
    from cdc_export_system_spark.io.sources import star_view

    ev = star_view(spark, sf_dir, "events")
    return spark.sql(f"""
        SELECT event_type, sum(bitmap_count(w)) AS n_users FROM (
            SELECT event_type, bitmap_bucket_number(user_id) AS bucket,
                   bitmap_construct_agg(bitmap_bit_position(user_id)) AS w
            FROM {ev}
            GROUP BY event_type, bitmap_bucket_number(user_id))
        GROUP BY event_type
    """)


TE_SMOOTHING = 10  # pseudo-observations pulling small categories to the mean


@register(
    "feat_target_encode",
    oracle=f"""
        WITH g AS (
            SELECT count(*) AS ng,
                   SUM(CAST(floor(c_acctbal * 100 + 0.5) AS HUGEINT)) AS sg
            FROM customer),
        seg AS (
            SELECT c_mktsegment, count(*) AS n,
                   SUM(CAST(floor(c_acctbal * 100 + 0.5) AS HUGEINT)) AS sy
            FROM customer GROUP BY c_mktsegment)
        SELECT s.c_mktsegment, s.n,
               floor(CAST(CAST(s.sy AS VARCHAR) AS DOUBLE) / s.n / 100
                     * 1000000 + 0.5) / 1000000 AS category_mean,
               floor(CAST(CAST(s.sy * g.ng + {TE_SMOOTHING} * g.sg AS VARCHAR)
                          AS DOUBLE)
                     / (CAST(CAST((s.n + {TE_SMOOTHING}) AS HUGEINT) * g.ng
                             AS DOUBLE))
                     / 100 * 1000000 + 0.5) / 1000000 AS encoded
        FROM seg s CROSS JOIN g
    """,
    tags=("ml", "feature", "agg"),
)
def feat_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding of the categorical c_mktsegment
    against the c_acctbal target: encoded = (Σy + m·μ_global)/(n + m)
    with m = TE_SMOOTHING pseudo-observations — the standard high-
    cardinality categorical featurizer (rare categories shrink toward
    the global mean instead of memorizing noise). The blend is evaluated
    on exact integer cents — (Σy·N + m·ΣG) / ((n+m)·N) — so the encoding
    is order-independent; one double divide, 1e-6 round.

    Scale: one map-side-combined aggregate per category plus a 1-row
    global broadcast; the encoder table is |categories| rows and
    broadcast-joins back onto the feature frame at application time."""
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
    # operand-first casts: the Σcents accumulator is DECIMAL(38,0), not
    # bigint (which would wrap silently ~9e16 rows at cents scale, well
    # under the documented headroom; oracle sums over HUGEINT)
    g = c.agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(cents.cast("decimal(38,0)")).alias("sg"),
    )
    seg = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents.cast("decimal(38,0)")).alias("sy"),
    )
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return seg.crossJoin(F.broadcast(g)).select(
        "c_mktsegment",
        "n",
        r6(F.col("sy").cast("double") / F.col("n") / 100).alias("category_mean"),
        r6(
            (F.col("sy") * d38(F.col("ng")) + F.lit(TE_SMOOTHING) * F.col("sg"))
            .cast("double")
            / (d38(F.col("n") + F.lit(TE_SMOOTHING)) * d38(F.col("ng"))).cast("double")
            / 100
        ).alias("encoded"),
    )


# ---------------------------------------------------------------------------
# agg_value_histogram
# ---------------------------------------------------------------------------

HIST_BIN_CENTS = 5000  # $50 fixed-width bins for the registered demo


@register(
    "agg_value_histogram",
    oracle=f"""
        WITH b AS (
            SELECT CAST(floor(CAST(floor(value * 100 + 0.5) AS BIGINT)
                              / {HIST_BIN_CENTS}) AS BIGINT) AS bin_id,
                   count(*) AS n
            FROM events
            GROUP BY 1),
        tot AS (SELECT SUM(n) AS total FROM b)
        SELECT CAST(b.bin_id AS BIGINT) AS bin_id,
               CAST(b.bin_id * {HIST_BIN_CENTS} AS DOUBLE) / 100 AS bin_lo,
               CAST((b.bin_id + 1) * {HIST_BIN_CENTS} AS DOUBLE) / 100 AS bin_hi,
               b.n AS n_events,
               floor(CAST(b.n AS DOUBLE) / CAST(t.total AS DOUBLE)
                     * 1000000 + 0.5) / 1000000 AS share
        FROM b CROSS JOIN tot t
    """,
    tags=("agg", "analytics", "quality"),
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width exact histogram of the event value distribution ($50
    bins on exact cents): bin bounds, count, and share — the
    distribution fingerprint behind drift checks (corpus_drift_psi bins
    the same way) and storage/skew planning. Bin assignment is integer
    division of exact cents, so the histogram is bit-stable across
    engines and partitionings; share is one divide, 1e-6-rounded.

    Scale: ONE map-side-combined aggregate to |bins| rows; the 1-row
    total broadcasts back. The classic distributed histogram — nothing
    data-sized shuffles."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    # floor(c / W) as a double expression: a per-ROW cent value is far
    # below 2^53, so the division is exact, and floor semantics (not
    # truncate-toward-zero) keep negative values in the right bin —
    # identical expression in the oracle
    bin_id = F.floor(cents / F.lit(HIST_BIN_CENTS)).cast("bigint")
    b = ev.select(bin_id.alias("bin_id")).groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    b = b.localCheckpoint(eager=True)  # |bins| rows; total derives from it
    tot = b.agg(F.sum("n").alias("total"))
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return b.crossJoin(F.broadcast(tot)).select(
        "bin_id",
        ((F.col("bin_id") * HIST_BIN_CENTS).cast("double") / 100).alias("bin_lo"),
        (((F.col("bin_id") + 1) * HIST_BIN_CENTS).cast("double") / 100).alias(
            "bin_hi"
        ),
        F.col("n").alias("n_events"),
        r6(F.col("n").cast("double") / F.col("total").cast("double")).alias("share"),
    )


# ---------------------------------------------------------------------------
# agg_user_type_bitmask
# ---------------------------------------------------------------------------

# stable bit assignment for the event-type engagement bitmask
TYPE_BITS = {"click": 0, "view": 1, "purchase": 2, "signup": 3, "error": 4}


@register(
    "agg_user_type_bitmask",
    oracle=f"""
        WITH m AS (
            SELECT user_id,
                   bit_or(CASE event_type
                          {" ".join(f"WHEN '{t}' THEN {1 << b}" for t, b in sorted(TYPE_BITS.items()))}
                          ELSE 0 END) AS mask
            FROM events GROUP BY user_id)
        SELECT CAST(mask AS BIGINT) AS mask,
               count(*) AS n_users,
               CAST(bit_count(CAST(mask AS BIGINT)) AS INTEGER) AS n_types
        FROM m GROUP BY mask
    """,
    tags=("agg", "analytics"),
)
def agg_user_type_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-bitmask segmentation: each user collapses to ONE long
    whose bits mark which event types they ever performed (bit_or
    aggregate), then users are counted per distinct mask — the compact
    form of 'which behavior combinations exist and how common is each'
    that would otherwise take 2^|types| correlated EXISTS subqueries.
    Bitmask aggregation is also the engine's bit_or/bit_count coverage
    (the scalar bitwise battery is fn_bitwise_conditional).

    Scale: two map-side-combined aggregates — user axis then the
    ≤2^|types| mask axis; a bitmask is the cheapest possible per-user
    state (8 bytes, merge = OR), which is exactly why roaring-bitmap
    engagement stores use this shape at warehouse scale."""
    ev = load_table(spark, sf_dir, "events")
    bit = F.lit(0)
    for t, b in sorted(TYPE_BITS.items()):
        bit = F.when(F.col("event_type") == t, F.lit(1 << b)).otherwise(bit)
    m = ev.groupBy("user_id").agg(F.bit_or(bit.cast("bigint")).alias("mask"))
    return m.groupBy("mask").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.bit_count(F.col("mask")).alias("n_types"),
    )


# ---------------------------------------------------------------------------
# feat_woe_iv
# ---------------------------------------------------------------------------

_WOE_ORACLE = """
    WITH cat AS (
        SELECT o_orderpriority AS category,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_neg
        FROM orders GROUP BY o_orderpriority),
    tot AS (SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn FROM cat)
    SELECT category, n_pos, n_neg,
           floor(ln((CAST(n_pos AS DOUBLE) / CAST(t.tp AS DOUBLE))
                    / (CAST(n_neg AS DOUBLE) / CAST(t.tn AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS woe,
           floor((CAST(n_pos AS DOUBLE) / CAST(t.tp AS DOUBLE)
                  - CAST(n_neg AS DOUBLE) / CAST(t.tn AS DOUBLE))
                 * ln((CAST(n_pos AS DOUBLE) / CAST(t.tp AS DOUBLE))
                      / (CAST(n_neg AS DOUBLE) / CAST(t.tn AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS iv_term
    FROM cat CROSS JOIN tot t
"""


@register(
    "feat_woe_iv",
    oracle=_WOE_ORACLE,
    tags=("feat", "ml", "agg"),
)
def feat_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence + Information Value per category — the
    credit-scoring / feature-selection classic: for each level of a
    categorical feature (order priority) against a binary target
    (order finalized, o_orderstatus = 'F'), WoE = ln((pos_i/pos_tot) /
    (neg_i/neg_tot)) and IV_i = (pos_i/pos_tot − neg_i/neg_tot)·WoE_i;
    Σ IV_i ranks features before a model ever trains. Counts are exact
    integers; WoE/IV are one ln-bearing double tree over the four exact
    counts, evaluated identically in both engines and 1e-6-rounded.

    Scale: one map-side-combined aggregate reduces the fact table to
    |categories| rows; the totals row joins back as a broadcast scalar.
    Zero-count levels (ln(0)) are the caller's binning problem — the
    standard fix is coarser bins, not engine-side fudge constants."""
    orders = load_table(spark, sf_dir, "orders")
    pos = (F.col("o_orderstatus") == "F").cast("int")
    cat = orders.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.sum(pos).alias("n_pos"),
        F.sum(F.lit(1) - pos).alias("n_neg"),
    )
    tot = cat.agg(F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn"))
    j = cat.crossJoin(F.broadcast(tot))
    dd = lambda name: F.col(name).cast("double")  # noqa: E731
    pr = dd("n_pos") / dd("tp")
    nr = dd("n_neg") / dd("tn")
    woe = F.log(pr / nr)
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.select(
        "category",
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        r6(woe).alias("woe"),
        r6((pr - nr) * woe).alias("iv_term"),
    )


# ---------------------------------------------------------------------------
# feat_hash_crosses
# ---------------------------------------------------------------------------

HASH_CROSS_BUCKETS = 4096
_CROSS_MULT = 1_000_003  # polynomial hash multiplier (prime > max suppkey)
_CROSS_PACK = 10_000_000  # injective (partkey, suppkey) packing base


@register(
    "feat_hash_crosses",
    oracle=f"""
        WITH x AS (
            SELECT ((l_partkey % 2147483648) * {_CROSS_MULT} + l_suppkey)
                       % {HASH_CROSS_BUCKETS} AS bucket,
                   CAST(l_partkey AS HUGEINT) * {_CROSS_PACK} + l_suppkey
                       AS cross_id,
                   l_extendedprice
            FROM lineitem)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT cross_id) AS BIGINT) AS n_crosses,
               {sql_dsum("l_extendedprice", "sum_price")}
        FROM x GROUP BY bucket
    """,
    tags=("feature", "agg"),
)
def feat_hash_crosses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK for cross features (Weinberger et al. 2009):
    the high-cardinality categorical cross part x supplier is mapped
    into a fixed 4096-bucket feature space by a polynomial hash, and
    each bucket reports its row count, how many DISTINCT raw crosses
    collided into it, and the summed price feature — exactly the
    collision-accounting readout used to size hashed feature spaces
    before training. The hash is an explicit integer polynomial (not an
    engine-native hash), so both engines bucket identically; the packed
    cross_id is injective (suppkey < pack base), so the collision count
    is exact.

    Scale: the cardinality-reducing map runs BEFORE the shuffle — rows
    carry only (bucket, cross_id, cents) into one groupBy whose distinct
    expands to the standard two-phase partial/final plan; the output is
    bounded at HASH_CROSS_BUCKETS rows regardless of input size."""
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        # key folded mod 2^31 for the hash; the injective pack runs in
        # DECIMAL(38,0) (oracle: HUGEINT) — both were int64-bounded at
        # partkey ~9e11 (round-8 int-product lint)
        (
            ((F.col("l_partkey") % F.lit(1 << 31)) * _CROSS_MULT
             + F.col("l_suppkey"))
            % HASH_CROSS_BUCKETS
        ).alias("bucket"),
        (
            F.col("l_partkey").cast("decimal(38,0)") * _CROSS_PACK
            + F.col("l_suppkey")
        ).alias("cross_id"),
        "l_extendedprice",
    )
    return x.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("cross_id").cast("bigint").alias("n_crosses"),
        dsum(F.col("l_extendedprice"), "sum_price"),
    )


# ---------------------------------------------------------------------------
# agg_quantiles_distributed
# ---------------------------------------------------------------------------


@register(
    "agg_quantiles_distributed",
    headline=True,  # the exact global order-statistic scale path (distinct
    # axis + range prefix ranks) — benched against percentile()'s buffers
    oracle="""
        WITH c AS (
            SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
            FROM lineitem),
        g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY v),
        r AS (SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum FROM g),
        t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g)
        SELECT t.n AS n_total,
               CAST(min(CASE WHEN cum >= (t.n + 3) // 4 THEN v END) AS DOUBLE)
                   / 100 AS p25,
               CAST(min(CASE WHEN cum >= (t.n + 1) // 2 THEN v END)
                    + min(CASE WHEN cum >= (t.n + 2) // 2 THEN v END)
                    AS DOUBLE) / 200 AS median,
               CAST(min(CASE WHEN cum >= (3 * t.n + 3) // 4 THEN v END)
                    AS DOUBLE) / 100 AS p75
        FROM r CROSS JOIN t GROUP BY t.n
    """,
    tags=("agg", "percentile"),
)
def agg_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT GLOBAL quantiles the way they must be computed at 100 TB:
    the value column collapses to its distinct-value axis (groupBy
    cents), cumulative counts ride the two-level range prefix sum
    (ranks.py — no stage ever sorts the full data on one partition),
    and each quantile is 'the smallest value whose cumulative count
    reaches rank k' with k = ceil(qN) (p25/p75 discrete; the median
    averages the lower/upper middles exactly in half-cents). Contrast
    agg_percentiles, whose built-in percentile() buffers each group's
    values in executor memory — correct, but memory-bound at scale;
    this plan's footprint is the DISTINCT-value axis only.

    Scale: one map-combined aggregate to |distinct| rows, one range
    shuffle for the prefix sum, a 1-row total broadcast back onto the
    axis, and a 1-row final (allowlisted scalar)."""
    from cdc_export_system_spark.operators.ranks import with_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # one checkpoint of the axis serves BOTH the prefix-sum construction
    # and the totals (total_suffix below) — without it the lineitem
    # scan + groupBy would run twice
    g = g.localCheckpoint(eager=True)
    # total_suffix rides the grand total on the offsets broadcast — no
    # separate 1-row aggregate + crossJoin job (r12 A/B: fused form
    # faster at sf0.1).
    sel = (
        with_prefix_sum(
            g, [F.asc("v")], ["cnt"], suffix="_before",
            materialize=False, total_suffix="__t",
        )
        .withColumn("cum", F.col("cnt_before") + F.col("cnt"))
        .withColumn("n", F.col("cnt__t").cast("bigint"))
    )
    at = lambda k: F.min(F.when(F.col("cum") >= F.expr(k), F.col("v")))  # noqa: E731
    # global agg, NOT groupBy(n): n is constant after the broadcast, and
    # grouping by a constant hashes the whole axis onto one reducer; the
    # global form partial-aggregates map-side and ships 4 mins per task
    return sel.agg(
        F.max("n").alias("n"),
        at("(n + 3) div 4").alias("__p25c"),
        at("(n + 1) div 2").alias("__lo"),
        at("(n + 2) div 2").alias("__hi"),
        at("(3 * n + 3) div 4").alias("__p75c"),
    ).select(
        F.col("n").alias("n_total"),
        (F.col("__p25c").cast("double") / 100).alias("p25"),
        ((F.col("__lo") + F.col("__hi")).cast("double") / 200).alias("median"),
        (F.col("__p75c").cast("double") / 100).alias("p75"),
    )


# ---------------------------------------------------------------------------
# agg_log2_histogram
# ---------------------------------------------------------------------------


@register(
    "agg_log2_histogram",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
            FROM events),
        b AS (
            SELECT event_type,
                   CASE WHEN c <= 0 THEN 0
                        ELSE CAST(length(bin(c)) AS BIGINT) END AS bucket,
                   c
            FROM c)
        SELECT event_type, bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(c) AS DOUBLE) / 100 AS lo,
               CAST(max(c) AS DOUBLE) / 100 AS hi
        FROM b GROUP BY event_type, bucket
    """,
    tags=("agg", "analytics"),
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPONENTIAL-BUCKET (HDR-style) histogram of event values per
    type: bucket k holds values in [2^(k-1), 2^k) cents — the
    log-scale layout every latency/money dashboard uses, where
    agg_value_histogram's LINEAR bins waste resolution at the head and
    collapse the tail. The exactness trick: floor(log2 c) + 1 is
    computed as length(bin(c)) — the binary-string length, pure
    integer/string ops in both engines — so bucket membership never
    touches a float log whose ulp at exact powers of two could differ
    between libms. Non-positive cents pool in bucket 0.

    Scale: one map-side-combined aggregate to at most |types| x 64
    buckets; HDR buckets are mergeable across shards by construction
    (integer keyed), the same property the KMV/HLL sketches pin."""
    ev = load_table(spark, sf_dir, "events")
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    bucket = F.when(c <= 0, F.lit(0).cast("bigint")).otherwise(
        F.length(F.bin(c)).cast("bigint")
    )
    return (
        ev.select("event_type", c.alias("c"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.min("c").cast("double") / 100).alias("lo"),
            (F.max("c").cast("double") / 100).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# agg_weighted_median
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_median",
    oracle="""
        WITH v AS (
            SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
            FROM lineitem GROUP BY 1),
        r AS (SELECT p, w, SUM(w) OVER (ORDER BY p) AS cum FROM v),
        t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM v)
        SELECT t.tw AS total_weight,
               CAST(min(CASE WHEN 2 * r.cum >= t.tw THEN r.p END) AS DOUBLE)
                   / 100 AS weighted_median,
               CAST(min(CASE WHEN 4 * r.cum >= t.tw THEN r.p END) AS DOUBLE)
                   / 100 AS weighted_p25,
               CAST(min(CASE WHEN 4 * r.cum >= 3 * t.tw THEN r.p END)
                    AS DOUBLE) / 100 AS weighted_p75
        FROM r CROSS JOIN t GROUP BY t.tw
    """,
    tags=("agg", "percentile"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median/quartiles — each price weighted by its shipped
    quantity, i.e. 'the price of the median UNIT sold', the correct
    center when rows carry unequal mass (plain medians answer 'the
    median line item', a different question). Same distributed shape as
    agg_quantiles_distributed: collapse to the distinct-price axis with
    summed weights, prefix-sum the weights, and pick the smallest price
    whose cumulative weight reaches the target — with the threshold
    comparisons multiplied through (2*cum >= W, 4*cum >= W, 4*cum >=
    3W) so no fraction ever floats.

    Scale: one map-combined aggregate to the price axis, the ranks.py
    range prefix sum, a 1-row weight-total broadcast, a scalar final
    (allowlisted)."""
    from cdc_export_system_spark.operators.ranks import with_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    v = (
        li.select(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("p"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("p")
        .agg(F.sum("q").cast("bigint").alias("w"))
        .localCheckpoint(eager=True)
    )
    sel = (
        with_prefix_sum(
            v, [F.asc("p")], ["w"], suffix="_before",
            materialize=False, total_suffix="__t",
        )
        .withColumn("cum", F.col("w_before") + F.col("w"))
        .withColumn("tw", F.col("w__t").cast("bigint"))
    )
    pick = lambda cond: F.min(F.when(F.expr(cond), F.col("p")))  # noqa: E731
    return sel.agg(
        F.max("tw").alias("total_weight"),
        (pick("2 * cum >= tw").cast("double") / 100).alias("weighted_median"),
        (pick("4 * cum >= tw").cast("double") / 100).alias("weighted_p25"),
        (pick("4 * cum >= 3 * tw").cast("double") / 100).alias("weighted_p75"),
    ).select(
        "total_weight", "weighted_median", "weighted_p25", "weighted_p75"
    )


# ---------------------------------------------------------------------------
# feat_rank_normalize
# ---------------------------------------------------------------------------


@register(
    "feat_rank_normalize",
    oracle="""
        WITH f AS (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
            FROM orders),
        ax AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM f GROUP BY v),
        r AS (
            SELECT v, 2 * (SUM(t) OVER (ORDER BY v) - t) + t + 1 AS r2,
                   SUM(t) OVER () AS n
            FROM ax)
        SELECT f.o_orderkey, CAST(f.v AS DOUBLE) / 100 AS totalprice,
               CAST((CAST(r.r2 AS HUGEINT) * 1000000) // (2 * (r.n + 1)) AS BIGINT)
                   AS rank_micro
        FROM f JOIN r ON f.v = r.v
    """,
    tags=("feature", "agg"),
)
def feat_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK NORMALIZATION of a heavy-tailed feature: each order's total
    price maps to its midrank quantile r/(n+1) in (0, 1) — the
    monotone, outlier-immune scaling (the first half of RankGauss;
    feat_minmax_scale and feat_standardize are the moment-based
    siblings that one outlier can wreck). Midranks use the exact 2R
    integer form off the distinct-value axis, the quantile is
    multiply-before-divide micro-units, and ties get identical ranks by
    construction — bit-stable across engines and reshards.

    Scale: one collapse to the distinct-value axis, the ranks.py prefix
    sum, one value-keyed join back onto the rows; no data-sized sort
    anywhere."""
    from cdc_export_system_spark.operators.ranks import with_prefix_sum

    orders = load_table(spark, sf_dir, "orders")
    f = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    ).localCheckpoint(eager=True)
    ax = f.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    ax = ax.localCheckpoint(eager=True)
    w = with_prefix_sum(ax, [F.asc("v")], ["t"], suffix="_before",
                        materialize=False, total_suffix="__t")
    r = w.select(
        "v",
        (F.lit(2) * F.col("t_before") + F.col("t") + F.lit(1)).alias("r2"),
        F.col("t__t").cast("bigint").alias("n"),
    )
    return f.join(r, "v").select(
        "o_orderkey",
        (F.col("v").cast("double") / 100).alias("totalprice"),
        F.expr("cast((cast(r2 as decimal(38,0)) * 1000000)"
               " div (2 * (n + 1)) as bigint)").alias(
            "rank_micro"
        ),
    )


# ---------------------------------------------------------------------------
# agg_trimmed_mean
# ---------------------------------------------------------------------------

TRIM_PCT_20TH = 20  # trim N div 20 (5%) from each tail


@register(
    "agg_trimmed_mean",
    oracle=f"""
        WITH f AS (
            SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
            FROM orders),
        ax AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY v),
        r AS (
            SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) - cnt AS before
            FROM ax),
        t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM ax),
        k AS (
            SELECT r.v, r.cnt, t.n, t.n // {TRIM_PCT_20TH} AS kk,
                   greatest(r.before + 1, t.n // {TRIM_PCT_20TH} + 1) AS lo,
                   least(r.before + r.cnt, t.n - t.n // {TRIM_PCT_20TH}) AS hi
            FROM r CROSS JOIN t),
        s AS (
            SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(kk) AS BIGINT) AS k,
                   SUM(CAST(v AS HUGEINT)
                       * greatest(0, hi - lo + 1)) AS kept_sum,
                   CAST(SUM(greatest(0, hi - lo + 1)) AS BIGINT) AS n_kept
            FROM k)
        SELECT n, k AS n_trimmed_each_tail, n_kept,
               CAST(CAST(kept_sum AS VARCHAR) AS DOUBLE) / n_kept / 100
                   AS trimmed_mean
        FROM s
    """,
    tags=("agg", "stats", "percentile"),
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% TRIMMED MEAN of order value — the robust center that ignores
    both tails entirely (between the mean's 0% breakdown and the
    median's 50%; the Olympic-judging rule). Computed WITHOUT sorting
    the data: on the distinct-value axis with prefix counts, each
    value's kept multiplicity is the exact integer overlap of its rank
    interval [before+1, before+cnt] with the kept band [k+1, N-k] —
    so the trimmed sum is a pure integer fold and the only double is
    the final divide.

    Scale: the agg_quantiles_distributed posture — one axis collapse,
    one range prefix sum, a 1-row totals broadcast, a scalar final
    (allowlisted)."""
    from cdc_export_system_spark.operators.ranks import with_prefix_sum

    orders = load_table(spark, sf_dir, "orders")
    ax = (
        orders.select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    r = with_prefix_sum(
        ax, [F.asc("v")], ["cnt"], suffix="_b",
        materialize=False, total_suffix="__t",
    ).withColumn("n", F.col("cnt__t").cast("bigint"))
    kf = r.select(
        "v",
        "cnt",
        "n",
        F.expr(f"n div {TRIM_PCT_20TH}").alias("kk"),
        F.greatest(
            F.col("cnt_b") + 1, F.expr(f"n div {TRIM_PCT_20TH} + 1")
        ).alias("lo"),
        F.least(
            F.col("cnt_b") + F.col("cnt"),
            F.expr(f"n - n div {TRIM_PCT_20TH}"),
        ).alias("hi"),
    )
    w = F.greatest(F.lit(0), F.col("hi") - F.col("lo") + 1)
    s = kf.agg(
        F.max("n").alias("n"),
        F.max("kk").cast("bigint").alias("k"),
        F.sum(F.col("v").cast("decimal(38,0)") * w).alias("kept_sum"),
        F.sum(w).cast("bigint").alias("n_kept"),
    )
    return s.select(
        "n",
        F.col("k").alias("n_trimmed_each_tail"),
        "n_kept",
        (
            F.col("kept_sum").cast("double") / F.col("n_kept") / 100
        ).alias("trimmed_mean"),
    )
