"""Nonparametric / categorical statistical tests as distributed queries.

Completes the engine's A/B-testing toolkit (ab_welch_ttest is the
parametric member, operators/aggregates.py): chi-square independence
for categorical outcomes, Kolmogorov–Smirnov and Mann–Whitney for
distribution shift between two arms. North-star extension — the
reference has no analytics surface; these are the drift/quality gates a
training-data pipeline runs between corpus versions (corpus_drift_psi
is the binned sibling).

Exactness discipline (what keeps all three oracle-checkable):

* Contingency/ECDF/rank algebra stays in EXACT integers — chi-square
  cell terms round to 1e-9 micro-units before the final sum; the KS
  statistic's max runs over |cumA·nB − cumB·nA| integers; rank sums use
  the 2·R doubling trick so midranks never materialize as floats.
* The only doubles are final normalizations written as the identical
  expression tree in both engines, rounded at 1e-6.

Scale: every test reduces to the DISTINCT-VALUE axis first (groupBy
value), then runs prefix sums via the ranks.py two-level range
construction — no global-window single-partition stage anywhere; finals
are 1-row scalars (allowlisted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.operators.ranks import with_prefix_sum
from cdc_export_system_spark.registry import register

ARM_A = "purchase"
ARM_B = "click"
KS_ALPHA_C = 1.358  # c(α) at α = 0.05 for the two-sample KS rejection bound


# ---------------------------------------------------------------------------
# stats_chi2_independence
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
    WITH cell AS (
        SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(count(*) AS HUGEINT) AS o
        FROM events GROUP BY event_type, dayofweek(ts)),
    margins AS (
        SELECT c.*, rt.rt, ct.ct, n.n FROM cell c
        JOIN (SELECT event_type, SUM(o) AS rt FROM cell GROUP BY event_type) rt
          USING (event_type)
        JOIN (SELECT dow, SUM(o) AS ct FROM cell GROUP BY dow) ct USING (dow)
        CROSS JOIN (SELECT SUM(o) AS n FROM cell) n),
    terms AS (
        SELECT CAST(floor(
                   CAST(CAST(o * n - rt * ct AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(o * n - rt * ct AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(n * rt * ct AS VARCHAR) AS DOUBLE)
                   * 1000000000 + 0.5) AS BIGINT) AS t_nano,
               event_type, dow
        FROM margins)
    SELECT floor(CAST(SUM(t_nano) AS DOUBLE) / 1000 + 0.5) / 1000000 AS chi2,
           CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1)
                AS BIGINT) AS dof,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM terms
"""


@register(
    "stats_chi2_independence",
    oracle=_CHI2_ORACLE,
    tags=("stats", "agg"),
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    day-of-week: χ² = Σ (O−E)²/E over the |types|×|dows| contingency
    table, E = rowtot·coltot/n. Each cell term is the exact-integer
    rational (O·n − rt·ct)²/(n·rt·ct) evaluated once in doubles and
    rounded to 1e-9 BEFORE the final sum, so partitioning cannot move
    χ². The contingency collapse is one map-side-combined aggregate;
    margins join back onto the ≤35-row cell table (broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("o"))
    cell = cell.localCheckpoint(eager=True)  # <=35 rows; margins derive from it
    rt = cell.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = cell.groupBy("dow").agg(F.sum("o").alias("ct"))
    n = cell.agg(F.sum("o").alias("n"))
    m = (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
    )
    # the (O·n − rt·ct) difference stays an exact ≤10²³ integer; the
    # SQUARE happens in doubles (an int square would pass 10³⁸ at scale)
    num_d = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct")).cast("double")
    t_nano = F.floor(
        num_d * num_d
        / (F.col("n") * F.col("rt") * F.col("ct")).cast("double")
        * 1000000000
        + F.lit(0.5)
    ).cast("bigint")
    terms = m.select(t_nano.alias("t_nano"), "event_type", "dow")
    return terms.agg(
        (F.floor(F.sum("t_nano").cast("double") / 1000 + F.lit(0.5)) / 1000000).alias(
            "chi2"
        ),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        ).cast("bigint").alias("dof"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )


# ---------------------------------------------------------------------------
# stats_ks_test
# ---------------------------------------------------------------------------

_KS_ORACLE = f"""
    WITH v AS (
        SELECT value,
               SUM(CASE WHEN event_type = '{ARM_A}' THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN event_type = '{ARM_B}' THEN 1 ELSE 0 END) AS cb
        FROM events WHERE event_type IN ('{ARM_A}', '{ARM_B}')
        GROUP BY value),
    tot AS (SELECT CAST(SUM(ca) AS HUGEINT) AS na,
                   CAST(SUM(cb) AS HUGEINT) AS nb FROM v),
    c AS (
        SELECT SUM(ca) OVER (ORDER BY value
                             ROWS UNBOUNDED PRECEDING) AS cuma,
               SUM(cb) OVER (ORDER BY value
                             ROWS UNBOUNDED PRECEDING) AS cumb
        FROM v),
    d AS (
        SELECT MAX(abs(CAST(cuma AS HUGEINT) * t.nb
                       - CAST(cumb AS HUGEINT) * t.na)) AS dnum,
               MAX(t.na) AS na, MAX(t.nb) AS nb
        FROM c CROSS JOIN tot t)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           floor(CAST(CAST(dnum AS VARCHAR) AS DOUBLE)
                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS ks_stat,
           floor({KS_ALPHA_C} * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                                     / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS ks_crit_05,
           (CAST(CAST(dnum AS VARCHAR) AS DOUBLE)
              / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
            > {KS_ALPHA_C} * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                                  / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))
               AS reject_05
    FROM d
"""


@register(
    "stats_ks_test",
    oracle=_KS_ORACLE,
    headline=True,
    tags=("stats", "window", "analytics"),
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the value
    distributions of two event arms: D = max_x |F_A(x) − F_B(x)|, with
    the α=0.05 rejection bound c·√((nA+nB)/(nA·nB)). The ECDF gap is
    kept exact — max over |cumA·nB − cumB·nA| integers, one divide at
    the end — so D is partition-invariant.

    Scale: observations collapse to the DISTINCT-VALUE axis first; the
    cumulative counts ride the ranks.py two-level prefix-sum (range
    shuffle + per-range window + broadcast offsets), so no stage sorts
    all values on one partition — the oracle's global window is the
    semantic spec, not the plan. Final is a 1-row scalar."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type").isin(ARM_A, ARM_B))
        .groupBy("value")
        .agg(
            F.sum((F.col("event_type") == ARM_A).cast("bigint")).alias("ca"),
            F.sum((F.col("event_type") == ARM_B).cast("bigint")).alias("cb"),
        )
    )
    # one events scan: totals + prefix branches read the materialized axis
    v = v.localCheckpoint(eager=True)
    # total_suffix: the arm totals ride the offsets broadcast — no
    # separate 1-row aggregate + crossJoin job (r12).
    c = with_prefix_sum(
        v, [F.asc("value")], ["ca", "cb"], suffix="_x",
        materialize=False, total_suffix="__t",
    )
    c = c.select(
        (F.col("ca_x") + F.col("ca")).alias("cuma"),
        (F.col("cb_x") + F.col("cb")).alias("cumb"),
        F.col("ca__t").cast("decimal(38,0)").alias("na"),
        F.col("cb__t").cast("decimal(38,0)").alias("nb"),
    )
    d = c.agg(
        F.max(
            F.abs(
                F.col("cuma").cast("decimal(38,0)") * F.col("nb")
                - F.col("cumb").cast("decimal(38,0)") * F.col("na")
            )
        ).alias("dnum"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    stat = F.col("dnum").cast("double") / (nad * nbd)
    crit = F.lit(KS_ALPHA_C) * F.sqrt((nad + nbd) / (nad * nbd))
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return d.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        r6(stat).alias("ks_stat"),
        r6(crit).alias("ks_crit_05"),
        (stat > crit).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# stats_mann_whitney
# ---------------------------------------------------------------------------

_MW_ORACLE = f"""
    WITH v AS (
        SELECT value,
               CAST(SUM(CASE WHEN event_type = '{ARM_A}' THEN 1 ELSE 0 END)
                    AS HUGEINT) AS ca,
               CAST(SUM(CASE WHEN event_type = '{ARM_B}' THEN 1 ELSE 0 END)
                    AS HUGEINT) AS cb
        FROM events WHERE event_type IN ('{ARM_A}', '{ARM_B}')
        GROUP BY value),
    w AS (
        SELECT ca, cb, ca + cb AS t,
               COALESCE(SUM(ca + cb) OVER (ORDER BY value
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING), 0) AS before
        FROM v),
    s AS (
        SELECT SUM(ca) AS na, SUM(cb) AS nb,
               SUM(ca * (2 * before + t + 1)) AS r2a,
               SUM(t * t * t - t) AS ties
        FROM w)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(CAST(r2a - na * (na + 1) AS VARCHAR) AS DOUBLE) / 2 AS u_a,
           floor((CAST(CAST(r2a - na * (na + 1) AS VARCHAR) AS DOUBLE) / 2
                  - CAST(CAST(na * nb AS VARCHAR) AS DOUBLE) / 2)
                 / sqrt(CAST(CAST(na * nb AS VARCHAR) AS DOUBLE) / 12
                        * ((CAST(CAST(na + nb AS VARCHAR) AS DOUBLE) + 1)
                           - CAST(CAST(ties AS VARCHAR) AS DOUBLE)
                             / (CAST(CAST(na + nb AS VARCHAR) AS DOUBLE)
                                * (CAST(CAST(na + nb AS VARCHAR) AS DOUBLE) - 1))))
                 * 1000000 + 0.5) / 1000000 AS z
    FROM s
"""


@register(
    "stats_mann_whitney",
    oracle=_MW_ORACLE,
    tags=("stats", "window", "analytics"),
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between the two arms' value
    distributions, with midrank tie handling and the tie-corrected
    normal approximation z. Rank sums never materialize midranks as
    floats: 2·R_A = Σ c_A·(2·before + t + 1) is exact over the grouped
    value axis (before = pooled count strictly below the tie group,
    t = tie size), and ties accumulate Σ(t³−t) for the variance
    correction. One divide chain at the end, 1e-6 round.

    Scale: same shape as stats_ks_test — distinct-value collapse, then
    the ranks.py two-level prefix sum for ``before``; the final is a
    1-row scalar."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type").isin(ARM_A, ARM_B))
        .groupBy("value")
        .agg(
            F.sum((F.col("event_type") == ARM_A).cast("bigint")).alias("ca"),
            F.sum((F.col("event_type") == ARM_B).cast("bigint")).alias("cb"),
        )
        .withColumn("t", F.col("ca") + F.col("cb"))
    )
    v = v.localCheckpoint(eager=True)  # one events scan
    w = with_prefix_sum(v, [F.asc("value")], ["t"], suffix="_before", materialize=False)
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = w.agg(
        F.sum("ca").cast("decimal(38,0)").alias("na"),
        F.sum("cb").cast("decimal(38,0)").alias("nb"),
        F.sum(
            d38(F.col("ca"))
            * (F.lit(2) * d38(F.col("t_before")) + d38(F.col("t")) + F.lit(1))
        ).alias("r2a"),
        F.sum(
            d38(F.col("t")) * d38(F.col("t")) * d38(F.col("t")) - d38(F.col("t"))
        ).alias("ties"),
    )
    na, nb = F.col("na"), F.col("nb")
    u2a = F.col("r2a") - na * (na + F.lit(1))
    u_a = u2a.cast("double") / 2
    nd = (na + nb).cast("double")
    var = (na * nb).cast("double") / 12 * (
        (nd + 1) - F.col("ties").cast("double") / (nd * (nd - 1))
    )
    z = (u_a - (na * nb).cast("double") / 2) / F.sqrt(var)
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return s.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        u_a.alias("u_a"),
        r6(z).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_anova_oneway
# ---------------------------------------------------------------------------

_ANOVA_ORACLE = """
    WITH s AS (
        SELECT event_type AS grp,
               CAST(floor(value * 100 + 0.5) AS HUGEINT) AS c
        FROM events),
    g AS (
        SELECT grp, CAST(count(*) AS HUGEINT) AS n,
               SUM(c) AS sg, SUM(c * c) AS qg
        FROM s GROUP BY grp),
    t AS (
        SELECT grp, n, sg, qg,
               CAST(floor(CAST(CAST(sg AS VARCHAR) AS DOUBLE)
                          * CAST(CAST(sg AS VARCHAR) AS DOUBLE)
                          / CAST(CAST(n AS VARCHAR) AS DOUBLE)
                          * 1000 + 0.5) AS HUGEINT) AS gterm_milli
        FROM g),
    a AS (
        SELECT CAST(count(*) AS HUGEINT) AS k, SUM(n) AS nn,
               SUM(sg) AS ss, SUM(qg) AS qq,
               SUM(gterm_milli) AS gsum_milli
        FROM t)
    SELECT CAST(k AS BIGINT) AS n_groups, CAST(nn AS BIGINT) AS n_rows,
           floor((CAST(CAST(gsum_milli AS VARCHAR) AS DOUBLE) / 1000
                  - CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(nn AS VARCHAR) AS DOUBLE))
                 / 10000 * 1000000 + 0.5) / 1000000 AS ss_between,
           floor((CAST(CAST(qq AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(gsum_milli AS VARCHAR) AS DOUBLE) / 1000)
                 / 10000 * 1000000 + 0.5) / 1000000 AS ss_within,
           floor(((CAST(CAST(gsum_milli AS VARCHAR) AS DOUBLE) / 1000
                   - CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(nn AS VARCHAR) AS DOUBLE))
                  / (CAST(CAST(k AS VARCHAR) AS DOUBLE) - 1))
                 / ((CAST(CAST(qq AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(gsum_milli AS VARCHAR) AS DOUBLE) / 1000)
                    / (CAST(CAST(nn AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(k AS VARCHAR) AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS f_stat
    FROM a
"""


@register(
    "stats_anova_oneway",
    oracle=_ANOVA_ORACLE,
    tags=("stats", "agg"),
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value (exact cents) across event types:
    F = (SSB/(k−1)) / (SSW/(N−k)) with SSB = Σ_g s_g²/n_g − S²/N and
    SSW = Q − Σ_g s_g²/n_g — the k-group generalization of
    ab_welch_ttest, i.e. 'did any arm move the metric' before pairwise
    drill-down. Everything reduces to exact integer sufficient
    statistics (n_g, Σc, Σc² per group, DECIMAL(38,0) accumulators);
    each group's s_g²/n_g rational is evaluated once in doubles and
    rounded to 1e-3 cents² BEFORE the cross-group sum, so partitioning
    cannot move F (the chi-square micro-unit discipline). Sums of
    squares are reported in dollars² (cents²/1e4), 1e-6-rounded.

    Scale: one map-side-combined aggregate to |groups| rows, then
    O(k) algebra and a 1-row final — the corpus is scanned once and
    nothing data-sized ever shuffles."""
    ev = load_table(spark, sf_dir, "events")
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    g = ev.select(F.col("event_type").alias("grp"), c.alias("c")).groupBy("grp").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d38(F.col("c"))).alias("sg"),
        F.sum(d38(F.col("c")) * F.col("c")).alias("qg"),
    )
    gterm_milli = F.floor(
        F.col("sg").cast("double") * F.col("sg").cast("double")
        / F.col("n").cast("double")
        * 1000
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    t = g.select("grp", "n", "sg", "qg", gterm_milli.alias("gterm_milli"))
    a = t.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("sg").alias("ss"),
        F.sum("qg").alias("qq"),
        F.sum("gterm_milli").alias("gsum_milli"),
    )
    dd = lambda name: F.col(name).cast("double")  # noqa: E731
    ssb = dd("gsum_milli") / 1000 - dd("ss") * dd("ss") / dd("nn")
    ssw = dd("qq") - dd("gsum_milli") / 1000
    f_stat = (ssb / (dd("k") - 1)) / (ssw / (dd("nn") - dd("k")))
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return a.select(
        F.col("k").cast("bigint").alias("n_groups"),
        F.col("nn").cast("bigint").alias("n_rows"),
        r6(ssb / 10000).alias("ss_between"),
        r6(ssw / 10000).alias("ss_within"),
        r6(f_stat).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# stats_benjamini_hochberg
# ---------------------------------------------------------------------------

_BH_ORACLE = """
    WITH grp AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
               CAST(count(*) AS HUGEINT) AS n,
               SUM(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS HUGEINT))
                   AS s,
               SUM(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS HUGEINT)
                   * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS q
        FROM events GROUP BY event_type, hour(ts)),
    tot AS (SELECT SUM(n) AS nn, SUM(s) AS ss, SUM(q) AS qq FROM grp),
    scored AS (
        SELECT g.event_type, g.hr, g.n,
               CAST(floor(
                   1.0 / (1.0
                       + CAST(g.n AS DOUBLE)
                         * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                            - CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE))
                         * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                            - CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE))
                         / ((CAST(t.qq AS DOUBLE)
                             - CAST(t.ss AS DOUBLE) * CAST(t.ss AS DOUBLE)
                               / CAST(t.nn AS DOUBLE))
                            / CAST(t.nn AS DOUBLE)))
                   * 1000000000 + 0.5) AS BIGINT) AS p_nano
        FROM grp g CROSS JOIN tot t),
    ranked AS (
        SELECT *,
               CAST(row_number() OVER
                    (ORDER BY p_nano, event_type, hr) AS BIGINT) AS p_rank,
               CAST(count(*) OVER () AS BIGINT) AS m_tests
        FROM scored),
    crit AS (
        SELECT *,
               max(CASE WHEN p_nano * 20 * m_tests <= p_rank * 1000000000
                        THEN p_rank END) OVER () AS i_max
        FROM ranked)
    SELECT event_type, hr, CAST(n AS BIGINT) AS n_events, p_nano, p_rank,
           m_tests, p_rank <= COALESCE(i_max, 0) AS rejected
    FROM crit
"""


@register(
    "stats_benjamini_hochberg",
    oracle=_BH_ORACLE,
    tags=("stats", "agg"),
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a battery of per-segment
    tests: each (event_type, hour-of-day) segment is scored against the
    global mean of the value metric, the scores are converted to a
    monotone p-surrogate, and the BH step-up rule (q = 0.05) marks the
    largest prefix of the p-ordered segments with p_(i) <= q*i/m as
    rejections. This is the multiple-testing gate a metrics platform
    needs the moment it monitors hundreds of segments at once — the
    per-test alpha of stats_* siblings is wrong there by construction.
    The p-surrogate 1/(1+z^2) (z^2 from exact cents suffstats) is
    deliberately NOT a calibrated normal tail — calibrating needs erfc,
    which neither engine evaluates portably; BH itself only consumes the
    ORDER of p plus the q*i/m comparison, which runs in EXACT integers:
    p is rounded once to 1e-9, and the step-up test is the bigint
    inequality p_nano * 20 * m <= i * 1e9 (q = 1/20) — partitioning can
    never flip a rejection.

    Scale: one map-side-combined pass reduces the events stream to
    |types| x 24 suffstat rows; everything after (global total, ranking,
    step-up scan) is windows over that model-sized axis — the
    single-partition stages are over <=|segments| rows, never data
    (allowlisted 'tiny')."""
    ev = load_table(spark, sf_dir, "events")
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    grp = (
        ev.select("event_type", F.hour("ts").cast("bigint").alias("hr"), c.alias("c"))
        .groupBy("event_type", "hr")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(d38(F.col("c"))).alias("s"),
            F.sum(d38(F.col("c")) * F.col("c")).alias("q"),
        )
    )
    tot = grp.agg(
        F.sum("n").alias("nn"), F.sum("s").alias("ss"), F.sum("q").alias("qq")
    )
    g = grp.crossJoin(F.broadcast(tot))
    dd = lambda name: F.col(name).cast("double")  # noqa: E731
    mean_diff = dd("s") / dd("n") - dd("ss") / dd("nn")
    var = (dd("qq") - dd("ss") * dd("ss") / dd("nn")) / dd("nn")
    z2 = dd("n") * mean_diff * mean_diff / var
    p_nano = F.floor(F.lit(1.0) / (F.lit(1.0) + z2) * 1000000000 + F.lit(0.5)).cast(
        "bigint"
    )
    scored = g.select("event_type", "hr", "n", p_nano.alias("p_nano"))
    from pyspark.sql import Window

    w_all = Window.orderBy("p_nano", "event_type", "hr")
    w_tot = Window.partitionBy()
    ranked = scored.select(
        "event_type",
        "hr",
        "n",
        "p_nano",
        F.row_number().over(w_all).cast("bigint").alias("p_rank"),
        F.count(F.lit(1)).over(w_tot).cast("bigint").alias("m_tests"),
    )
    step_up = F.when(
        F.col("p_nano") * 20 * F.col("m_tests")
        <= F.col("p_rank") * F.lit(1000000000),
        F.col("p_rank"),
    )
    crit = ranked.withColumn("i_max", F.max(step_up).over(w_tot))
    return crit.select(
        "event_type",
        "hr",
        F.col("n").cast("bigint").alias("n_events"),
        "p_nano",
        "p_rank",
        "m_tests",
        (F.col("p_rank") <= F.coalesce(F.col("i_max"), F.lit(0))).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# stats_effect_sizes
# ---------------------------------------------------------------------------

_EFFECT_ORACLE = f"""
    WITH c AS (
        SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE event_type IN ('{ARM_A}', '{ARM_B}')),
    s AS (
        SELECT
            SUM(CASE WHEN event_type = '{ARM_A}' THEN 1 ELSE 0 END) AS na,
            SUM(CASE WHEN event_type = '{ARM_B}' THEN 1 ELSE 0 END) AS nb,
            SUM(CASE WHEN event_type = '{ARM_A}'
                     THEN CAST(c AS HUGEINT) ELSE 0 END) AS sa,
            SUM(CASE WHEN event_type = '{ARM_B}'
                     THEN CAST(c AS HUGEINT) ELSE 0 END) AS sb,
            SUM(CASE WHEN event_type = '{ARM_A}'
                     THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS qa,
            SUM(CASE WHEN event_type = '{ARM_B}'
                     THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS qb
        FROM c),
    d AS (
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100 AS mean_diff,
               sqrt(((CAST(qa AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                        / CAST(na AS DOUBLE))
                     + (CAST(qb AS DOUBLE)
                        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                          / CAST(nb AS DOUBLE)))
                    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2)) / 100
                   AS s_pooled
        FROM s)
    SELECT n_a, n_b,
           floor(mean_diff * 1000000 + 0.5) / 1000000 AS mean_diff,
           floor(mean_diff / s_pooled * 1000000 + 0.5) / 1000000 AS cohens_d,
           floor(mean_diff / s_pooled
                 * (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE)
                                        + CAST(n_b AS DOUBLE)) - 9.0))
                 * 1000000 + 0.5) / 1000000 AS hedges_g
    FROM d
"""


@register(
    "stats_effect_sizes",
    oracle=_EFFECT_ORACLE,
    tags=("stats", "agg"),
)
def stats_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes between the two A/B arms: Cohen's d =
    (mean_A − mean_B)/s_pooled on the pooled-variance scale, and Hedges'
    g = d·(1 − 3/(4(n_A+n_B)−9)), the small-sample bias correction. The
    significance siblings (ab_welch_ttest, stats_mann_whitney) answer
    'is there an effect'; this answers 'how big is it in units a PM can
    compare across metrics' — the number an experimentation platform
    actually reports next to the p-value. All moments reduce to exact
    integer cents suffstats (DECIMAL(38,0) accumulators, operand-first
    casts); d and g are one double expression tree over the six exact
    scalars, 1e-6-rounded, so partitioning cannot move them.

    Scale: one filtered map-side-combined aggregate to a single 6-column
    suffstat row; the finals are O(1) algebra on that row (allowlisted
    scalar)."""
    ev = load_table(spark, sf_dir, "events")
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    arms = ev.filter(F.col("event_type").isin(ARM_A, ARM_B)).select(
        "event_type", c.alias("c")
    )
    is_a = F.col("event_type") == ARM_A
    s = arms.agg(
        F.sum(is_a.cast("int")).alias("na"),
        F.sum((~is_a).cast("int")).alias("nb"),
        F.sum(F.when(is_a, d38(F.col("c"))).otherwise(F.lit(0))).alias("sa"),
        F.sum(F.when(~is_a, d38(F.col("c"))).otherwise(F.lit(0))).alias("sb"),
        F.sum(F.when(is_a, d38(F.col("c")) * F.col("c")).otherwise(F.lit(0))).alias(
            "qa"
        ),
        F.sum(F.when(~is_a, d38(F.col("c")) * F.col("c")).otherwise(F.lit(0))).alias(
            "qb"
        ),
    )
    dd = lambda name: F.col(name).cast("double")  # noqa: E731
    mean_diff = (dd("sa") / dd("na") - dd("sb") / dd("nb")) / 100
    s_pooled = (
        F.sqrt(
            (
                (dd("qa") - dd("sa") * dd("sa") / dd("na"))
                + (dd("qb") - dd("sb") * dd("sb") / dd("nb"))
            )
            / (dd("na") + dd("nb") - 2)
        )
        / 100
    )
    g_corr = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (dd("na") + dd("nb")) - 9.0)
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        r6(mean_diff).alias("mean_diff"),
        r6(mean_diff / s_pooled).alias("cohens_d"),
        r6(mean_diff / s_pooled * g_corr).alias("hedges_g"),
    )


# ---------------------------------------------------------------------------
# stats_power_analysis
# ---------------------------------------------------------------------------

Z_ALPHA_2 = 1.959964  # two-sided alpha = 0.05
Z_BETA = 0.841621  # power = 0.80

_POWER_ORACLE = f"""
    WITH c AS (
        SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE event_type IN ('{ARM_A}', '{ARM_B}')),
    s AS (
        SELECT
            SUM(CASE WHEN event_type = '{ARM_A}' THEN 1 ELSE 0 END) AS na,
            SUM(CASE WHEN event_type = '{ARM_B}' THEN 1 ELSE 0 END) AS nb,
            SUM(CASE WHEN event_type = '{ARM_A}'
                     THEN CAST(c AS HUGEINT) ELSE 0 END) AS sa,
            SUM(CASE WHEN event_type = '{ARM_B}'
                     THEN CAST(c AS HUGEINT) ELSE 0 END) AS sb,
            SUM(CASE WHEN event_type = '{ARM_A}'
                     THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS qa,
            SUM(CASE WHEN event_type = '{ARM_B}'
                     THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS qb
        FROM c),
    d AS (
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100 AS mean_diff,
               ((CAST(qa AS DOUBLE)
                 - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
                + (CAST(qb AS DOUBLE)
                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                     / CAST(nb AS DOUBLE)))
               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2) / 10000
                   AS var_pooled
        FROM s)
    SELECT n_a, n_b,
           floor(mean_diff * 1000000 + 0.5) / 1000000 AS mean_diff,
           floor(var_pooled * 1000000 + 0.5) / 1000000 AS var_pooled,
           CAST(ceil(2.0 * ({Z_ALPHA_2} + {Z_BETA}) * ({Z_ALPHA_2} + {Z_BETA})
                     * var_pooled / (mean_diff * mean_diff)) AS BIGINT)
               AS n_required_per_arm
    FROM d
"""


@register(
    "stats_power_analysis",
    oracle=_POWER_ORACLE,
    tags=("stats", "agg"),
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size planning from observed data: the per-arm n
    required to detect the currently-observed mean difference at
    two-sided alpha = 0.05 with power 0.80, n = 2(z_a/2+z_b)^2 sigma^2 /
    delta^2 on the pooled variance — the third leg of the experiment
    toolkit (ab_welch_ttest decides, stats_effect_sizes sizes the
    effect, this plans the NEXT experiment). The z quantiles are fixed
    literals (1.959964, 0.841621) in both engines, everything else is
    the exact-cents suffstat algebra of the siblings; n_required is a
    ceil over the identical double tree, so it is the same integer on
    any partitioning.

    Scale: one filtered map-side-combined aggregate to a single 6-column
    suffstat row; the final is O(1) algebra (allowlisted scalar)."""
    ev = load_table(spark, sf_dir, "events")
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    arms = ev.filter(F.col("event_type").isin(ARM_A, ARM_B)).select(
        "event_type", c.alias("c")
    )
    is_a = F.col("event_type") == ARM_A
    s = arms.agg(
        F.sum(is_a.cast("int")).alias("na"),
        F.sum((~is_a).cast("int")).alias("nb"),
        F.sum(F.when(is_a, d38(F.col("c"))).otherwise(F.lit(0))).alias("sa"),
        F.sum(F.when(~is_a, d38(F.col("c"))).otherwise(F.lit(0))).alias("sb"),
        F.sum(F.when(is_a, d38(F.col("c")) * F.col("c")).otherwise(F.lit(0))).alias(
            "qa"
        ),
        F.sum(F.when(~is_a, d38(F.col("c")) * F.col("c")).otherwise(F.lit(0))).alias(
            "qb"
        ),
    )
    dd = lambda name: F.col(name).cast("double")  # noqa: E731
    mean_diff = (dd("sa") / dd("na") - dd("sb") / dd("nb")) / 100
    var_pooled = (
        (
            (dd("qa") - dd("sa") * dd("sa") / dd("na"))
            + (dd("qb") - dd("sb") * dd("sb") / dd("nb"))
        )
        / (dd("na") + dd("nb") - 2)
        / 10000
    )
    zsum = F.lit(Z_ALPHA_2 + Z_BETA)
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        r6(mean_diff).alias("mean_diff"),
        r6(var_pooled).alias("var_pooled"),
        F.ceil(F.lit(2.0) * zsum * zsum * var_pooled / (mean_diff * mean_diff))
        .cast("bigint")
        .alias("n_required_per_arm"),
    )


# ---------------------------------------------------------------------------
# stats_bootstrap_ci
# ---------------------------------------------------------------------------

BOOT_R = 100  # bootstrap replicates
BOOT_SALT = 1000003  # decorrelates replicate hashes (prime, > any key stride)
_KNUTH = 2654435761  # Knuth multiplicative hash, same constant as sampling.py
_KEY_FOLD = 1 << 31  # key fold before the multiply (see sampling.py)
# Inverse-CDF thresholds for Poisson(1) on a 1e4 grid: P(X<=k) * 1e4 for
# k = 0..4; a uniform draw u in [0, 1e4) maps to the smallest bucket whose
# threshold exceeds it (mass beyond 5 is folded into 5; total error 1e-4).
_POIS1_CDF = (3679, 7358, 9197, 9810, 9963)


def _poisson_cnt_sql(u: str) -> str:
    """CASE expression mapping a uniform 0..9999 draw to a Poisson(1) count
    — identical text in Spark SQL and DuckDB so both engines agree."""
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS1_CDF)
    )
    return f"CASE {branches} ELSE 5 END"


@register(
    "stats_bootstrap_ci",
    oracle=f"""
        WITH fan AS (
            SELECT t.r,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                   CASE WHEN t.r = -1 THEN 1 ELSE {_poisson_cnt_sql(
                       f"(((o_orderkey + (t.r + 1) * {BOOT_SALT}) % {_KEY_FOLD})"
                       f" * {_KNUTH}) % 10000"
                   )} END AS cnt
            FROM orders, range(-1, {BOOT_R}) AS t(r)),
        reps AS (
            SELECT r,
                   CAST(SUM(CAST(cnt * cents AS HUGEINT)) AS DOUBLE)
                   / CAST(SUM(CAST(cnt AS HUGEINT)) AS DOUBLE) / 100 AS mean_r
            FROM fan GROUP BY r
            HAVING SUM(CAST(cnt AS HUGEINT)) > 0)
        SELECT round(max(CASE WHEN r = -1 THEN mean_r END), 6) AS point_mean,
               round(quantile_cont(CASE WHEN r >= 0 THEN mean_r END, 0.025), 6)
                   AS ci_lo,
               round(quantile_cont(CASE WHEN r >= 0 THEN mean_r END, 0.5), 6)
                   AS ci_median,
               round(quantile_cont(CASE WHEN r >= 0 THEN mean_r END, 0.975), 6)
                   AS ci_hi,
               CAST({BOOT_R} AS INT) AS n_replicates
        FROM reps
    """,
    tags=("stats", "sampling"),
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean order value — the one-pass
    streaming bootstrap of Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams" (Google, 2012): instead of resampling n rows
    with replacement R times (R full shuffles), each row draws its own
    per-replicate multiplicity cnt_r ~ Poisson(1), so ALL R resamples
    are materialized in a single scan. Here the draws are DETERMINISTIC
    (a Knuth-hash uniform fed through the Poisson(1) inverse CDF), which
    makes the whole estimator reproducible and oracle-checkable — the
    same discipline as sample_hash/sample_split_train_test. The point
    estimate rides along as pseudo-replicate r = -1 with cnt = 1, so one
    scan yields estimate + CI.

    Scale: the only wide exchange carries (R+1) x num_tasks partial-sum
    rows (map-side combine folds the per-row fanout immediately);
    the replicate table is R+1 rows — model-sized — and the final
    percentile runs over those, never over data ("tiny" single-partition
    allowlist). Accumulation is DECIMAL(38,0) on cent-integers, exact
    and order-independent at any scale. At 100 TB the multiplicative
    hash would be swapped for xxhash64 (the oracle-parity form must
    avoid engine-specific hashes); everything else is unchanged."""
    R = BOOT_R
    orders = load_table(spark, sf_dir, "orders")
    D38 = "decimal(38,0)"
    fan = (
        orders.select(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
            F.col("o_orderkey"),
        )
        .withColumn("r", F.explode(F.sequence(F.lit(-1), F.lit(R - 1))))
        .withColumn(
            "u",
            (((F.col("o_orderkey") + (F.col("r") + 1) * BOOT_SALT) % F.lit(_KEY_FOLD)) * F.lit(_KNUTH))
            % 10000,
        )
        .withColumn(
            "cnt",
            F.when(F.col("r") == -1, F.lit(1)).otherwise(
                F.expr(_poisson_cnt_sql("u"))
            ),
        )
    )
    # HAVING SUM(cnt) > 0 mirrors the oracle: an all-zero Poisson replicate
    # (probability e^-n — real only for micro fixtures) would divide by zero,
    # where Spark (NULL) and DuckDB disagree; both engines drop it instead.
    reps = (
        fan.groupBy("r")
        .agg(
            F.sum((F.col("cnt") * F.col("cents")).cast(D38)).alias("sum_cc"),
            F.sum(F.col("cnt").cast(D38)).alias("sum_c"),
        )
        .filter(F.col("sum_c") > 0)
        .select(
            "r",
            (
                F.col("sum_cc").cast("double")
                / F.col("sum_c").cast("double")
                / 100
            ).alias("mean_r"),
        )
    )
    boot = F.when(F.col("r") >= 0, F.col("mean_r"))
    return reps.agg(
        F.round(F.max(F.when(F.col("r") == -1, F.col("mean_r"))), 6).alias(
            "point_mean"
        ),
        F.round(F.percentile(boot, F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile(boot, F.lit(0.5)), 6).alias("ci_median"),
        F.round(F.percentile(boot, F.lit(0.975)), 6).alias("ci_hi"),
        F.lit(R).cast("int").alias("n_replicates"),
    )


# ---------------------------------------------------------------------------
# ab_cuped
# ---------------------------------------------------------------------------

_CUPED_ORACLE = """
    WITH b AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events),
    u AS (
        SELECT user_id,
               SUM(CASE WHEN epoch_us(ts) <= b.mid
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS x,
               SUM(CASE WHEN epoch_us(ts) > b.mid
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS y
        FROM events, b GROUP BY user_id),
    s AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM u GROUP BY 1),
    p AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS nd,
               CAST(CAST(SUM(sx) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(sy) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(sxy) AS VARCHAR) AS DOUBLE) AS sxy,
               CAST(CAST(SUM(sxx) AS VARCHAR) AS DOUBLE) AS sxx
        FROM s),
    m AS (
        SELECT variant, n, CAST(n AS DOUBLE) AS nd,
               CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy,
               CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy
        FROM s),
    f AS (
        SELECT m.variant, m.n,
               m.sy / m.nd / 100 AS mean_y,
               m.sx / m.nd / 100 AS mean_x,
               (m.nd * m.sxy - m.sx * m.sy)
                   / (m.nd * (m.nd - 1) * 10000.0) AS cov_v,
               (m.nd * m.sxx - m.sx * m.sx)
                   / (m.nd * (m.nd - 1) * 10000.0) AS vx_v,
               (m.nd * m.syy - m.sy * m.sy)
                   / (m.nd * (m.nd - 1) * 10000.0) AS vy_v,
               (p.nd * p.sxy - p.sx * p.sy) / (p.nd * p.sxx - p.sx * p.sx)
                   AS theta,
               p.sx / p.nd / 100 AS mx_pool
        FROM m CROSS JOIN p)
    SELECT variant, n AS n_users,
           floor(mean_y * 1000000 + 0.5) / 1000000 AS mean_y,
           floor((mean_y - theta * (mean_x - mx_pool)) * 1000000 + 0.5)
               / 1000000 AS mean_y_cuped,
           floor(theta * 1000000000 + 0.5) / 1000000000 AS theta,
           floor(vy_v * 1000000 + 0.5) / 1000000 AS var_y,
           floor((vy_v - 2 * theta * cov_v + theta * theta * vx_v)
                 * 1000000 + 0.5) / 1000000 AS var_y_cuped,
           floor((1 - (vy_v - 2 * theta * cov_v + theta * theta * vx_v)
                      / vy_v) * 1000000000 + 0.5) / 1000000000
               AS var_reduction
    FROM f
"""


@register(
    "ab_cuped",
    oracle=_CUPED_ORACLE,
    tags=("stats", "analytics", "agg"),
)
def ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13) — the standard
    industrial A/B readout: each user's PRE-period spend (first half of
    the data's time range) is the covariate X, the experiment-period
    spend Y is adjusted to Y' = Y - theta*(X - mean(X)) with
    theta = cov(X,Y)/var(X) pooled across arms (deterministic arm =
    user_id parity). The per-arm adjusted mean and variance come from
    SUFFSTAT ALGEBRA, never per-row double sums: mean(Y') = mean_y -
    theta*(mean_x_arm - mean_x_pool) and var(Y') = var_y - 2*theta*cov
    + theta^2*var_x, so the whole result is exact-integer sums (cents,
    HUGEINT/DECIMAL(38) cross-products) finalized by one identical
    double tree in both engines — partition-invariant by construction.

    Scale: one user_id shuffle builds (x, y) per user; the arm suffstats
    are a 2-row table and the pooled theta a 1-row broadcast — nothing
    after the first aggregate is data-sized. The time-range midpoint is
    a 1-row min/max scalar broadcast onto the scan (allowlisted)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("mid")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(us <= F.col("mid"), cents).otherwise(F.lit(0))).alias("x"),
            F.sum(F.when(us > F.col("mid"), cents).otherwise(F.lit(0))).alias("y"),
        )
    )
    x, y = F.col("x"), F.col("y")
    xd = x.cast("decimal(38,0)")
    yd = y.cast("decimal(38,0)")
    s = per_user.groupBy(
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias(
            "variant"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * y).alias("sxy"),
        F.sum(xd * x).alias("sxx"),
        F.sum(yd * y).alias("syy"),
    )
    # the 2-row arm-suffstat table feeds BOTH the pooled aggregate and
    # the final select; un-materialized, each consumer re-ran the whole
    # events -> per-user -> arm pipeline (4 events scans, r11 plan
    # sweep). One checkpoint pins it; the plan is now the 2-scan
    # minimum (midpoint pass + suffstat pass).
    s = s.localCheckpoint(eager=True)
    p = s.agg(
        F.sum("n").cast("double").alias("p_nd"),
        F.sum("sx").cast("double").alias("p_sx"),
        F.sum("sy").cast("double").alias("p_sy"),
        F.sum("sxy").cast("double").alias("p_sxy"),
        F.sum("sxx").cast("double").alias("p_sxx"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    denom = nd * (nd - F.lit(1)) * F.lit(10000.0)
    f = s.crossJoin(F.broadcast(p)).select(
        "variant",
        "n",
        (sy / nd / F.lit(100)).alias("mean_y"),
        (sx / nd / F.lit(100)).alias("mean_x"),
        ((nd * sxy - sx * sy) / denom).alias("cov_v"),
        ((nd * sxx - sx * sx) / denom).alias("vx_v"),
        ((nd * syy - sy * sy) / denom).alias("vy_v"),
        (
            (F.col("p_nd") * F.col("p_sxy") - F.col("p_sx") * F.col("p_sy"))
            / (F.col("p_nd") * F.col("p_sxx") - F.col("p_sx") * F.col("p_sx"))
        ).alias("theta"),
        (F.col("p_sx") / F.col("p_nd") / F.lit(100)).alias("mx_pool"),
    )
    th = F.col("theta")
    vy_c = (
        F.col("vy_v") - F.lit(2) * th * F.col("cov_v") + th * th * F.col("vx_v")
    )
    mic = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000  # noqa: E731
    nano = lambda c: F.floor(c * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000  # noqa: E731
    return f.select(
        "variant",
        F.col("n").alias("n_users"),
        mic(F.col("mean_y")).alias("mean_y"),
        mic(F.col("mean_y") - th * (F.col("mean_x") - F.col("mx_pool"))).alias(
            "mean_y_cuped"
        ),
        nano(th).alias("theta"),
        mic(F.col("vy_v")).alias("var_y"),
        mic(vy_c).alias("var_y_cuped"),
        nano(F.lit(1) - vy_c / F.col("vy_v")).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# stats_brown_forsythe
# ---------------------------------------------------------------------------

_BF_ORACLE = """
    WITH med AS (
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (
                   ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT)) AS med
        FROM events GROUP BY event_type),
    z AS (
        SELECT e.event_type,
               abs(CAST(floor(e.value * 100 + 0.5) AS BIGINT) - m.med) AS z
        FROM events e JOIN med m ON e.event_type = m.event_type),
    g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(z AS HUGEINT)) AS s1,
               SUM(CAST(z AS HUGEINT) * z) AS s2,
               (SUM(CAST(z AS HUGEINT)) * SUM(CAST(z AS HUGEINT)) * 1000000)
                   // count(*) AS term
        FROM z GROUP BY event_type),
    t AS (
        SELECT CAST(count(*) AS BIGINT) AS k, SUM(n) AS n_total,
               SUM(term) AS a, SUM(s1) AS s1t, SUM(s2) AS s2t
        FROM g)
    SELECT k AS n_groups, CAST(n_total AS BIGINT) AS n_total,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(n_total - k AS BIGINT) AS df2,
           floor((CAST(n_total AS DOUBLE) - k)
                 * CAST(CAST(a - (s1t * s1t * 1000000) // n_total AS VARCHAR)
                        AS DOUBLE)
                 / ((CAST(k AS DOUBLE) - 1)
                    * CAST(CAST(s2t * 1000000 - a AS VARCHAR) AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS w_stat
    FROM t
"""


@register(
    "stats_brown_forsythe",
    oracle=_BF_ORACLE,
    tags=("stats", "agg"),
)
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (median-centered Levene): are the VALUE
    variances homogeneous across event types? The robust prerequisite
    check before pooling arms or trusting an ANOVA. Median centering is
    what keeps it oracle-exact: group medians via percentile_disc are
    actual data elements (exact cents), so the deviations z = |c - med|
    are exact integers and the whole one-way-ANOVA-on-z reduces to
    per-group suffstats (n, sum z, sum z^2) with the between/within sums
    folded as floored MICRO-INT terms (the stats_chi2_independence
    discipline) — order-independent by construction; only the final W
    ratio is a double, written as one identical tree.

    Scale: one event_type shuffle for medians, the k-row median table
    broadcast back onto the scan, one more combinable suffstat pass —
    nothing data-sized survives past the second aggregate; the final is
    a 1-row scalar (allowlisted)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    med = ev.select("event_type", cents.alias("c")).groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)").alias("med")
    )
    z = (
        ev.select("event_type", cents.alias("c"))
        .join(F.broadcast(med), "event_type")
        .select("event_type", F.abs(F.col("c") - F.col("med")).alias("z"))
    )
    zd = F.col("z").cast("decimal(38,0)")
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(zd).alias("s1"),
        F.sum(zd * F.col("z")).alias("s2"),
    ).select(
        "n",
        "s1",
        "s2",
        F.expr("(s1 * s1 * 1000000) div n").alias("term"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("term").alias("a"),
        F.sum("s1").alias("s1t"),
        F.sum("s2").alias("s2t"),
    )
    ssb = F.expr("cast(a - (s1t * s1t * 1000000) div n_total as double)")
    ssw = F.expr("cast(s2t * 1000000 - a as double)")
    kd = F.col("k").cast("double")
    nd = F.col("n_total").cast("double")
    w = (nd - F.col("k")) * ssb / ((kd - F.lit(1)) * ssw)
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("n_total").cast("bigint").alias("n_total"),
        (F.col("k") - 1).cast("bigint").alias("df1"),
        (F.col("n_total") - F.col("k")).cast("bigint").alias("df2"),
        (F.floor(w * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("w_stat"),
    )


# ---------------------------------------------------------------------------
# stats_mcnemar
# ---------------------------------------------------------------------------

MCNEMAR_DISC_T = 5  # clf A: predict 'returned' when discount-cents >= 5
MCNEMAR_QTY_T = 25  # clf B: predict 'returned' when quantity >= 25


@register(
    "stats_mcnemar",
    oracle=f"""
        WITH p AS (
            SELECT (l_returnflag = 'R') AS y,
                   (CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                        >= {MCNEMAR_DISC_T}) AS a,
                   (l_quantity >= {MCNEMAR_QTY_T}) AS b
            FROM lineitem),
        cells AS (
            SELECT CAST(SUM(CASE WHEN (a = y) AND (b <> y)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                   CAST(SUM(CASE WHEN (a <> y) AND (b = y)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                   CAST(count(*) AS BIGINT) AS n
            FROM p)
        SELECT n, n10 AS a_only_correct, n01 AS b_only_correct,
               floor(CAST(CAST(n10 - n01 AS HUGEINT) * (n10 - n01) AS DOUBLE)
                     / (n10 + n01) * 1000000 + 0.5) / 1000000 AS chi2_stat
        FROM cells
    """,
    tags=("stats", "ml", "agg"),
)
def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test — THE paired-classifier comparison (Dietterich
    1998): on the same rows, does rule A (discount >= 5c) beat rule B
    (quantity >= 25) at predicting returns, judged only on the
    DISCORDANT pairs where exactly one is right? chi2 = (b-c)^2/(b+c)
    over the discordant counts. Marginal-accuracy comparisons ignore
    pairing and overstate significance; this is the correct test and
    it is one combinable pass of integer cell counts — the only double
    is the final ratio (1e-6 round, identical tree).

    Scale: a single map-side-combined aggregate; the output is one row
    (allowlisted scalar)."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.col("l_returnflag") == "R"
    a = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint") >= MCNEMAR_DISC_T
    b = F.col("l_quantity") >= MCNEMAR_QTY_T
    cells = li.select(
        ((a == y) & (b != y)).cast("int").alias("ac"),
        ((a != y) & (b == y)).cast("int").alias("bc"),
    ).agg(
        F.sum("ac").cast("bigint").alias("n10"),
        F.sum("bc").cast("bigint").alias("n01"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    # DECIMAL square (oracle: HUGEINT): (n10-n01)^2 leaves int64 once the
    # discordant gap passes ~3e9 rows — the counts-squared lint class
    d = F.col("n10") - F.col("n01")
    stat = (d.cast("decimal(38,0)") * d).cast("double") / (
        F.col("n10") + F.col("n01")
    )
    return cells.select(
        "n",
        F.col("n10").alias("a_only_correct"),
        F.col("n01").alias("b_only_correct"),
        (F.floor(stat * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("chi2_stat"),
    )


# ---------------------------------------------------------------------------
# stats_wilcoxon_signed_rank
# ---------------------------------------------------------------------------

_WSR_ORACLE = f"""
    WITH u AS (
        SELECT user_id,
               SUM(CASE WHEN event_type = '{ARM_A}'
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END)
               - SUM(CASE WHEN event_type = '{ARM_B}'
                          THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                          ELSE 0 END) AS d
        FROM events GROUP BY user_id),
    v AS (
        SELECT abs(d) AS ad,
               CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
               CAST(count(*) AS BIGINT) AS t
        FROM u WHERE d <> 0 GROUP BY abs(d)),
    r AS (
        SELECT *, SUM(t) OVER (ORDER BY ad) - t AS t_before FROM v),
    s AS (
        SELECT CAST(SUM(t) AS HUGEINT) AS n,
               SUM(CAST(cpos AS HUGEINT) * (2 * t_before + t + 1)) AS w2,
               SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
        FROM r)
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(CAST(w2 AS VARCHAR) AS DOUBLE) / 2 AS w_plus,
           floor(CAST(CAST(2 * w2 - n * (n + 1) AS VARCHAR) AS DOUBLE)
                 * sqrt(3.0)
                 / sqrt(CAST(CAST(2 * n * (n + 1) * (2 * n + 1) - ties
                                  AS VARCHAR) AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS z
    FROM s
"""


@register(
    "stats_wilcoxon_signed_rank",
    oracle=_WSR_ORACLE,
    tags=("stats", "agg"),
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon SIGNED-RANK test — the PAIRED member of the
    nonparametric toolkit (stats_mann_whitney compares independent
    arms; this compares two conditions on the SAME subject): each
    user's purchase total minus click total is a paired difference,
    zero differences drop (Wilcoxon's rule), |d| gets midranks with the
    same exact 2R doubling trick (2R+ = sum cpos*(2*before + t + 1)
    over the distinct-|d| axis), and the tie-corrected normal z is one
    final double chain multiplied through so the numerator
    (2*W2 - n(n+1)) and variance (48*sigma^2 = 2n(n+1)(2n+1) - sum
    (t^3 - t)) are exact integers.

    Scale: one user_id shuffle for the pairs, one collapse to the
    distinct-|d| axis, the ranks.py prefix sum for `before`, a 1-row
    final (allowlisted)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    u = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == ARM_A, cents).otherwise(F.lit(0)))
            - F.sum(F.when(F.col("event_type") == ARM_B, cents).otherwise(F.lit(0)))
        ).alias("d")
    )
    v = (
        u.filter(F.col("d") != 0)
        .groupBy(F.abs(F.col("d")).alias("ad"))
        .agg(
            F.sum((F.col("d") > 0).cast("bigint")).alias("cpos"),
            F.count(F.lit(1)).cast("bigint").alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    w = with_prefix_sum(v, [F.asc("ad")], ["t"], suffix="_before", materialize=False)
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = w.agg(
        F.sum("t").cast("decimal(38,0)").alias("n"),
        F.sum(
            d38(F.col("cpos"))
            * (F.lit(2) * d38(F.col("t_before")) + d38(F.col("t")) + F.lit(1))
        ).alias("w2"),
        F.sum(
            d38(F.col("t")) * d38(F.col("t")) * d38(F.col("t")) - d38(F.col("t"))
        ).alias("ties"),
    )
    n = F.col("n")
    num = (F.lit(2) * F.col("w2") - n * (n + F.lit(1))).cast("double")
    var48 = (
        F.lit(2) * n * (n + F.lit(1)) * (F.lit(2) * n + F.lit(1)) - F.col("ties")
    ).cast("double")
    z = num * F.sqrt(F.lit(3.0)) / F.sqrt(var48)
    return s.select(
        n.cast("bigint").alias("n_pairs"),
        (F.col("w2").cast("double") / 2).alias("w_plus"),
        (F.floor(z * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_spearman_rank
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
    WITH f AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        FROM lineitem),
    ax AS (
        SELECT x, CAST(count(*) AS BIGINT) AS t FROM f GROUP BY x),
    rx AS (
        SELECT x, 2 * (SUM(t) OVER (ORDER BY x) - t) + t + 1 AS r2
        FROM ax),
    ay AS (
        SELECT y, CAST(count(*) AS BIGINT) AS t FROM f GROUP BY y),
    ry AS (
        SELECT y, 2 * (SUM(t) OVER (ORDER BY y) - t) + t + 1 AS r2
        FROM ay),
    j AS (
        SELECT CAST(rx.r2 AS HUGEINT) AS a, CAST(ry.r2 AS HUGEINT) AS b
        FROM f JOIN rx ON f.x = rx.x JOIN ry ON f.y = ry.y),
    s AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               SUM(a) AS sa, SUM(b) AS sb,
               SUM(a * b) AS sab, SUM(a * a) AS saa, SUM(b * b) AS sbb
        FROM j)
    SELECT CAST(n AS BIGINT) AS n,
           floor(CAST(CAST(n * sab - sa * sb AS VARCHAR) AS DOUBLE)
                 / sqrt(CAST(CAST(n * saa - sa * sa AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(n * sbb - sb * sb AS VARCHAR) AS DOUBLE))
                 * 1000000000 + 0.5) / 1000000000 AS rho
    FROM s
"""


@register(
    "stats_spearman_rank",
    oracle=_SPEARMAN_ORACLE,
    tags=("stats", "agg"),
)
def stats_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation between quantity and price — the
    monotone-association complement of agg_corr_exact's Pearson
    (Spearman is Pearson ON THE MIDRANKS, so it sees any monotone
    relation and shrugs at outliers). The distributed-exactness trick:
    midranks never materialize as floats — each variable collapses to
    its distinct-value axis, the doubled midrank 2R = 2*before + t + 1
    is an exact integer off the prefix sum, both rank columns join back
    to the fact rows by value key, and Pearson-on-2R runs as one
    HUGEINT/DECIMAL(38) suffstat pass (the doubling cancels in the
    ratio). Only the final rho is a double (1e-9 round, identical
    tree).

    Scale: two distinct-value collapses + the ranks.py prefix sums,
    two keyed joins back onto the scan (value-keyed, never broadcast-
    dependent), one combinable suffstat pass, 1-row final
    (allowlisted)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    ).localCheckpoint(eager=True)

    def rank_axis(col: str) -> DataFrame:
        ax = f.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        ax = ax.localCheckpoint(eager=True)
        w = with_prefix_sum(ax, [F.asc(col)], ["t"], suffix="_before",
                            materialize=False)
        return w.select(
            col,
            (F.lit(2) * F.col("t_before") + F.col("t") + F.lit(1)).alias(
                f"r2_{col}"
            ),
        )

    j = (
        f.join(rank_axis("x"), "x")
        .join(rank_axis("y"), "y")
        .select(
            F.col("r2_x").cast("decimal(38,0)").alias("a"),
            F.col("r2_y").cast("decimal(38,0)").alias("b"),
        )
    )
    s = j.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    n = F.col("n")
    num = (n * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    dx = (n * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    dy = (n * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    rho = num / F.sqrt(dx * dy)
    return s.select(
        n.cast("bigint").alias("n"),
        (F.floor(rho * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias("rho"),
    )


# ---------------------------------------------------------------------------
# ab_proportion_ztest
# ---------------------------------------------------------------------------

_PROP_ORACLE = """
    WITH u AS (
        SELECT user_id,
               CAST(user_id % 2 = 0 AS BIGINT) AS t,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS np
        FROM events GROUP BY user_id),
    m AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY np) AS med
          FROM u),
    s AS (
        SELECT CAST(SUM(t) AS BIGINT) AS n1,
               CAST(SUM(1 - t) AS BIGINT) AS n2,
               CAST(SUM(t * CASE WHEN np > m.med THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM((1 - t) * CASE WHEN np > m.med THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM u CROSS JOIN m)
    SELECT n1 AS n_a, n2 AS n_b, c1 AS conv_a, c2 AS conv_b,
           CASE WHEN n1 > 0 THEN
               floor(CAST(c1 AS DOUBLE) / n1 * 1000000 + 0.5) / 1000000
           END AS rate_a,
           CASE WHEN n2 > 0 THEN
               floor(CAST(c2 AS DOUBLE) / n2 * 1000000 + 0.5) / 1000000
           END AS rate_b,
           CASE WHEN n1 > 0 AND n2 > 0
                 AND c1 + c2 > 0 AND c1 + c2 < n1 + n2 THEN
               floor((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                     / sqrt(CAST(c1 + c2 AS DOUBLE) / (n1 + n2)
                            * (1 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                            * (1.0 / n1 + 1.0 / n2))
                     * 1000000000 + 0.5) / 1000000000
           END AS z_stat
    FROM s
"""


@register(
    "ab_proportion_ztest",
    oracle=_PROP_ORACLE,
    tags=("stats", "analytics", "agg"),
)
def ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on CONVERSION between the user-parity arms
    — the third member of the A/B readout family (ab_welch_ttest tests
    means, ab_cuped tightens them, this tests the binary rate every
    experiment ships with). Conversion is defined data-adaptively as
    'purchase count above the global median' (percentile_disc: an
    actual data element), so the test never degenerates to an all-
    converted pool at any scale factor. Pooled form: z = (p1 - p2) /
    sqrt(p(1-p)(1/n1 + 1/n2)); cell counts are exact integers from one
    combinable pass; degenerate pools (p in {0, 1}, empty arms) yield
    NULL z identically in both engines instead of an ANSI
    divide-by-zero.

    Scale: one user_id shuffle, a 1-row median broadcast, a 1-row
    final (allowlisted scalar)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("np")
    ).select((F.col("user_id") % 2 == 0).cast("bigint").alias("t"), "np")
    m = u.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY np)").alias("med")
    )
    y = F.when(F.col("np") > F.col("med"), F.lit(1)).otherwise(F.lit(0))
    s = u.crossJoin(F.broadcast(m)).agg(
        F.sum("t").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("t")).cast("bigint").alias("n2"),
        F.sum(F.col("t") * y).cast("bigint").alias("c1"),
        F.sum((F.lit(1) - F.col("t")) * y).cast("bigint").alias("c2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    c1, c2 = F.col("c1"), F.col("c2")
    mic = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000  # noqa: E731
    p1 = c1.cast("double") / n1
    p2 = c2.cast("double") / n2
    pp = (c1 + c2).cast("double") / (n1 + n2)
    z = (p1 - p2) / F.sqrt(
        pp * (F.lit(1) - pp) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)
    )
    ok = (n1 > 0) & (n2 > 0) & (c1 + c2 > 0) & (c1 + c2 < n1 + n2)
    return s.select(
        n1.alias("n_a"),
        n2.alias("n_b"),
        c1.alias("conv_a"),
        c2.alias("conv_b"),
        F.when(n1 > 0, mic(p1)).alias("rate_a"),
        F.when(n2 > 0, mic(p2)).alias("rate_b"),
        F.when(
            ok, F.floor(z * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# stats_qq_points
# ---------------------------------------------------------------------------

def _qq_oracle() -> str:
    def arm(pred: str) -> str:
        parts = [
            f"""SELECT CAST({d} AS INT) AS decile,
                   percentile_disc({d} / 10.0) WITHIN GROUP (
                       ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT)) AS q
            FROM events WHERE event_type = '{pred}'"""
            for d in range(1, 10)
        ]
        return " UNION ALL ".join(parts)

    return f"""
        WITH a AS ({arm(ARM_A)}), b AS ({arm(ARM_B)})
        SELECT a.decile, CAST(a.q AS DOUBLE) / 100 AS q_a,
               CAST(b.q AS DOUBLE) / 100 AS q_b
        FROM a JOIN b ON a.decile = b.decile
    """


@register(
    "stats_qq_points",
    oracle=_qq_oracle(),
    tags=("stats", "percentile", "analytics"),
)
def stats_qq_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE-QUANTILE points between the two arms' value
    distributions at the nine deciles — the plot behind every 'are
    these distributions the same SHAPE' review (stats_ks_test gives
    the verdict; this shows WHERE they diverge: points off the y = x
    line localize the distortion to a quantile range). Every quantile
    is percentile_disc over exact cents — an actual data element — so
    the nine (q_a, q_b) pairs are partition-invariant with no
    interpolation floats.

    Scale: each arm collapses to nine grouped percentiles (one
    event_type-filtered aggregate per arm over the decile spine); the
    join is 9 x 9 rows. percentile_disc's per-group buffer here holds
    one arm's values — at extreme scale swap in the
    agg_quantiles_distributed rank construction per decile, same
    output contract."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")

    # percentile_disc's fraction must be a foldable literal (in BOTH
    # engines), so the decile spine is unrolled into nine
    # literal-probability aggregates — but as nine AGGREGATES OF ONE
    # agg call, not nine unioned single-agg plans: the union form
    # re-ran the events scan + filter once per decile (18 scans per
    # call, flagged by the r11 plan sweep). One pass per arm; the
    # decile spine is an explode over the 1-row result. Memory note:
    # the nine percentile buffers hold the same arm column — at
    # extreme scale use the rank construction (docstring above).
    def arm_unrolled(pred: str, out: str) -> DataFrame:
        base = ev.filter(F.col("event_type") == pred).select(cents.alias("c"))
        qs = base.agg(
            *[
                F.expr(
                    f"percentile_disc({d} / 10.0) WITHIN GROUP (ORDER BY c)"
                ).alias(f"q{d}")
                for d in range(1, 10)
            ]
        )
        return qs.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).cast("int").alias("decile"),
                            F.col(f"q{d}").alias(out),
                        )
                        for d in range(1, 10)
                    ]
                )
            ).alias("s")
        ).select("s.decile", f"s.{out}")

    a = arm_unrolled(ARM_A, "qa")
    b = arm_unrolled(ARM_B, "qb")
    return a.join(b, "decile").select(
        "decile",
        (F.col("qa").cast("double") / 100).alias("q_a"),
        (F.col("qb").cast("double") / 100).alias("q_b"),
    )


# ---------------------------------------------------------------------------
# stats_runs_test
# ---------------------------------------------------------------------------

_RUNS_ORACLE = """
    WITH h AS (
        SELECT epoch_us(ts) // 3600000000 AS eh,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1),
    med AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS m FROM h),
    s AS (
        SELECT eh, CASE WHEN h.n > med.m THEN 1 ELSE 0 END AS above
        FROM h CROSS JOIN med WHERE h.n <> med.m),
    w AS (
        SELECT above,
               lag(above) OVER (ORDER BY eh) AS prev
        FROM s),
    c AS (
        SELECT CAST(SUM(CASE WHEN prev IS NULL OR prev <> above
                             THEN 1 ELSE 0 END) AS BIGINT) AS runs,
               CAST(SUM(above) AS BIGINT) AS n1,
               CAST(SUM(1 - above) AS BIGINT) AS n2
        FROM w)
    SELECT runs, n1 AS n_above, n2 AS n_below,
           floor((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((CAST(n1 + n2 AS DOUBLE))
                           * (n1 + n2) * (n1 + n2 - 1)))
                 * 1000000 + 0.5) / 1000000 AS z
    FROM c
"""


@register(
    "stats_runs_test",
    oracle=_RUNS_ORACLE,
    tags=("stats", "timeseries"),
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD–WOLFOWITZ runs test on the hourly volume series: too FEW
    runs of above/below-median hours means trending (autocorrelated)
    traffic, too MANY means oscillation — the classic randomness check
    behind 'is this metric drifting or just noisy'. Median-ties drop
    (the standard convention, and percentile_disc keeps the median an
    exact data element); the run count is a lag-compare sum over the
    hour axis; only the final z normalization is a double (identical
    tree, 1e-6 round).

    Scale: corpus collapses to the |hours| axis in one shuffle; the
    ordered lag window runs over that reduced series (allowlisted
    metadata-axis window, the ts_seasonal_decompose class); finals are
    1-row."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(F.expr("unix_micros(ts) div 3600000000").alias("eh"))
        .groupBy("eh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    med = h.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)").alias("m")
    )
    s = (
        h.crossJoin(F.broadcast(med))
        .filter(F.col("n") != F.col("m"))
        .select("eh", (F.col("n") > F.col("m")).cast("int").alias("above"))
    )
    w = s.select(
        "above", F.lag("above").over(W.orderBy("eh")).alias("prev")
    )
    c = w.agg(
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("prev") != F.col("above")),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("runs"),
        F.sum("above").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("above")).cast("bigint").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    nt = n1 + n2
    mu = F.lit(2.0) * n1 * n2 / nt + F.lit(1)
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (nt.cast("double") * nt * (nt - F.lit(1)))
    )
    z = (F.col("runs") - mu) / F.sqrt(var)
    return c.select(
        "runs",
        n1.alias("n_above"),
        n2.alias("n_below"),
        (F.floor(z * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_wilson_ci
# ---------------------------------------------------------------------------

WILSON_Z = 1.96  # 95% interval


@register(
    "stats_wilson_ci",
    oracle=f"""
        WITH u AS (
            SELECT user_id,
                   CAST(user_id % 2 = 0 AS BIGINT) AS t,
                   CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                            END) AS BIGINT) AS y
            FROM events GROUP BY user_id),
        s AS (
            SELECT CASE WHEN t = 1 THEN 'A' ELSE 'B' END AS variant,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS c
            FROM u GROUP BY 1)
        SELECT variant, n, c AS conversions,
               floor(CAST(c AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS rate,
               floor(((CAST(c AS DOUBLE) / n + {WILSON_Z} * {WILSON_Z}
                       / (2 * n)
                       - {WILSON_Z} * sqrt(CAST(c AS DOUBLE) / n
                             * (1 - CAST(c AS DOUBLE) / n) / n
                             + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
                      / (1 + {WILSON_Z} * {WILSON_Z} / n))
                     * 1000000 + 0.5) / 1000000 AS ci_lo,
               floor(((CAST(c AS DOUBLE) / n + {WILSON_Z} * {WILSON_Z}
                       / (2 * n)
                       + {WILSON_Z} * sqrt(CAST(c AS DOUBLE) / n
                             * (1 - CAST(c AS DOUBLE) / n) / n
                             + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
                      / (1 + {WILSON_Z} * {WILSON_Z} / n))
                     * 1000000 + 0.5) / 1000000 AS ci_hi
        FROM s WHERE n > 0
    """,
    tags=("stats", "analytics", "agg"),
)
def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON SCORE 95% interval for each arm's conversion rate — the
    binomial CI that behaves at the extremes where the naive Wald
    interval collapses (rate 0 or 1 still gets a sane interval, small n
    doesn't overshoot [0,1]); what ab_proportion_ztest's point estimate
    should always ship with. Counts are exact integers; the interval is
    one identical double tree per arm (1e-6 round), and empty arms drop
    identically in both engines.

    Scale: one user_id shuffle, a 2-row final."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("y")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "y",
    )
    s = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("c"),
    ).filter(F.col("n") > 0)
    n = F.col("n")
    p = F.col("c").cast("double") / n
    # mirror the oracle's tree exactly: z*z spelled as a product there,
    # constant-folded identically here
    z2_sql = F.lit(WILSON_Z) * F.lit(WILSON_Z)
    center = p + z2_sql / (2 * n)
    half = F.lit(WILSON_Z) * F.sqrt(
        p * (F.lit(1) - p) / n + z2_sql / (F.lit(4.0) * n * n)
    )
    denom = F.lit(1) + z2_sql / n
    mic = lambda col: F.floor(col * 1_000_000 + F.lit(0.5)) / 1_000_000  # noqa: E731
    return s.select(
        "variant",
        "n",
        F.col("c").alias("conversions"),
        mic(p).alias("rate"),
        mic((center - half) / denom).alias("ci_lo"),
        mic((center + half) / denom).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# stats_cohens_kappa
# ---------------------------------------------------------------------------


@register(
    "stats_cohens_kappa",
    oracle=f"""
        WITH p AS (
            SELECT (CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                        >= {MCNEMAR_DISC_T}) AS a,
                   (l_quantity >= {MCNEMAR_QTY_T}) AS b
            FROM lineitem),
        c AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
                       AS n11,
                   CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n10,
                   CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n01,
                   CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n00
            FROM p)
        SELECT n, n11, n10, n01, n00,
               floor(CAST(CAST(n AS HUGEINT) * (n11 + n00)
                          - ((n11 + n10) * CAST(n11 + n01 AS HUGEINT)
                             + (n01 + n00) * CAST(n10 + n00 AS HUGEINT))
                          AS DOUBLE)
                     / CAST(CAST(n AS HUGEINT) * n
                            - ((n11 + n10) * CAST(n11 + n01 AS HUGEINT)
                               + (n01 + n00) * CAST(n10 + n00 AS HUGEINT))
                            AS DOUBLE)
                     * 1000000000 + 0.5) / 1000000000 AS kappa
        FROM c
    """,
    tags=("stats", "ml", "agg"),
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between the two rule classifiers (the same pair
    stats_mcnemar tests for DIFFERENCE, measured here for AGREEMENT
    beyond chance): kappa = (p_o - p_e) / (1 - p_e), multiplied through
    by n^2 so both numerator (n*(n11+n00) - sum of marginal products)
    and denominator (n^2 - same) are exact HUGEINT/DECIMAL(38)
    integers; one combinable pass builds the 2x2 table, only the final
    ratio is a double (1e-9 round).

    Scale: a single map-side-combined aggregate to one row
    (allowlisted scalar)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint") >= MCNEMAR_DISC_T
    b = F.col("l_quantity") >= MCNEMAR_QTY_T
    c = li.select(
        (a & b).cast("int").alias("v11"),
        (a & ~b).cast("int").alias("v10"),
        (~a & b).cast("int").alias("v01"),
        (~a & ~b).cast("int").alias("v00"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v11").cast("bigint").alias("n11"),
        F.sum("v10").cast("bigint").alias("n10"),
        F.sum("v01").cast("bigint").alias("n01"),
        F.sum("v00").cast("bigint").alias("n00"),
    )
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    pe_num = (F.col("n11") + F.col("n10")) * d38(F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * d38(F.col("n10") + F.col("n00"))
    num = (d38(F.col("n")) * (F.col("n11") + F.col("n00")) - pe_num).cast(
        "double"
    )
    den = (d38(F.col("n")) * F.col("n") - pe_num).cast("double")
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        (F.floor(num / den * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias(
            "kappa"
        ),
    )


# ---------------------------------------------------------------------------
# ab_ratio_delta_method
# ---------------------------------------------------------------------------

_RATIO_ORACLE = """
    WITH u AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS x,
               CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS y
        FROM events GROUP BY user_id),
    s AS (
        SELECT variant, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM u GROUP BY variant),
    m AS (
        SELECT variant, n, CAST(n AS DOUBLE) AS nd,
               CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy
        FROM s),
    f AS (
        SELECT variant, n, sx / sy AS r,
               ((nd * sxx - sx * sx)
                + (sx / sy) * (sx / sy) * (nd * syy - sy * sy)
                - 2 * (sx / sy) * (nd * sxy - sx * sy))
               / (nd * (nd - 1)) / ((sy / nd) * (sy / nd)) / nd AS var_r
        FROM m)
    SELECT variant, n AS n_users,
           floor(r / 100 * 1000000 + 0.5) / 1000000 AS ratio_dollars_per_day,
           floor((r - 1.96 * sqrt(var_r)) / 100 * 1000000 + 0.5) / 1000000
               AS ci_lo,
           floor((r + 1.96 * sqrt(var_r)) / 100 * 1000000 + 0.5) / 1000000
               AS ci_hi
    FROM f
"""


@register(
    "ab_ratio_delta_method",
    oracle=_RATIO_ORACLE,
    tags=("stats", "analytics", "agg"),
)
def ab_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO METRIC with a DELTA-METHOD interval per arm: revenue per
    active day = sum(x)/sum(y) is a ratio of sums, and naive per-user
    averaging or a t-interval on x/y is simply wrong (users contribute
    correlated numerator and denominator); the delta method gives
    var(r) = (var_x + r^2 var_y - 2 r cov_xy) / (n ybar^2) — the
    fourth member of the A/B family (means: welch; tightened means:
    cuped; rates: proportion_ztest; ratios: this). All suffstats are
    exact HUGEINT/DECIMAL(38) integers from one user-keyed pass; the
    interval is one identical double tree (1e-6 round).

    Scale: one user_id shuffle, a 2-row final (allowlisted)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(F.lit(0))
        ).alias("x"),
        F.countDistinct(F.date_trunc("day", "ts")).cast("bigint").alias("y"),
    ).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "x",
        "y",
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("y")).alias("sy"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
        F.sum(d38("y") * F.col("y")).alias("syy"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    r = sx / sy
    var_r = (
        ((nd * sxx - sx * sx) + r * r * (nd * syy - sy * sy)
         - F.lit(2) * r * (nd * sxy - sx * sy))
        / (nd * (nd - F.lit(1)))
        / ((sy / nd) * (sy / nd))
        / nd
    )
    mic = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000  # noqa: E731
    return s.select(
        "variant",
        F.col("n").alias("n_users"),
        mic(r / 100).alias("ratio_dollars_per_day"),
        mic((r - F.lit(1.96) * F.sqrt(var_r)) / 100).alias("ci_lo"),
        mic((r + F.lit(1.96) * F.sqrt(var_r)) / 100).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# ab_sequential_sprt
# ---------------------------------------------------------------------------

SPRT_LIFT_NUM = 12  # H1: p1 = 1.2 * p0 as the exact rational 12/10
SPRT_LIFT_DEN = 10
SPRT_LN_A = 2.9444389791664403  # ln(19): alpha = beta = 0.05 boundaries

_SPRT_ORACLE = f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(user_id % 2 = 0 AS BIGINT) AS t,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    p0 AS (
        SELECT CAST(SUM(x) AS BIGINT) AS xc, CAST(SUM(n) AS BIGINT) AS nc
        FROM d WHERE t = 0),
    ok AS (
        SELECT xc, nc FROM p0
        WHERE nc > 0 AND xc > 0
          AND {SPRT_LIFT_NUM} * xc < {SPRT_LIFT_DEN} * nc),
    terms AS (
        SELECT d.day, d.x, d.n,
               d.x * ln(CAST({SPRT_LIFT_NUM} AS DOUBLE) / {SPRT_LIFT_DEN})
               + (d.n - d.x)
                 * ln((CAST({SPRT_LIFT_DEN} AS DOUBLE) * ok.nc
                       - {SPRT_LIFT_NUM} * ok.xc)
                      / ({SPRT_LIFT_DEN} * CAST(ok.nc - ok.xc AS DOUBLE)))
                   AS llr
        FROM d CROSS JOIN ok WHERE d.t = 1),
    arr AS (
        SELECT list(day ORDER BY day) AS days,
               list(x ORDER BY day) AS xs,
               list(n ORDER BY day) AS ns,
               list(llr ORDER BY day) AS ls
        FROM terms),
    rows_ AS (
        SELECT days[i] AS day, xs[i] AS x_treat, ns[i] AS n_treat,
               list_aggregate(ls[1:i], 'sum') AS cum
        FROM arr, unnest(range(1, len(days) + 1)) AS r(i))
    SELECT CAST(day AS TIMESTAMP) AS day, x_treat, n_treat,
           floor(cum * 1000000000 + 0.5) / 1000000000 AS cum_llr,
           CASE WHEN cum >= {SPRT_LN_A} THEN 'accept_h1'
                WHEN cum <= -{SPRT_LN_A} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM rows_
"""


@register(
    "ab_sequential_sprt",
    oracle=_SPRT_ORACLE,
    tags=("stats", "analytics", "ab"),
)
def ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over the experiment's
    day stream — the always-valid sibling of the fixed-horizon
    ab_proportion_ztest: after each day, the treatment arm's cumulative
    log-likelihood ratio for H1: p = 1.2*p0 vs H0: p = p0 (p0 = the
    control arm's pooled purchase rate, an exact rational xc/nc) is
    compared against the +-ln(19) boundaries (alpha = beta = 0.05), and
    the day's decision state is emitted — peeking-safe early stopping,
    the readout every sequential-testing platform ships.

    Exactness: per-day LLR terms are integer counts times two ln's of
    exact rationals (identical IEEE inputs in both engines); the
    cumulative sum folds in PINNED day order via the bounded-axis
    slice-fold (the day axis is |days| rows, so cum_i re-folds days
    1..i explicitly — O(days^2) on <= thousands of rows — instead of a
    running window sum, whose internal accumulation order engines are
    free to tree-structure differently). Degenerate controls (no data,
    zero conversions, or p0 already at/above the H1 rate, where ln's
    argument would be <= 0) emit an empty frame identically in both
    engines via the guarded 1-row scalar.

    Scale: one (day, arm) rollup (map-side combined, |days x 2| rows),
    a 1-row guarded control-rate broadcast, and the bounded day-axis
    fold — nothing data-sized past the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        (F.col("user_id") % 2 == 0).cast("bigint").alias("t"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    p0 = (
        d.filter(F.col("t") == 0)
        .agg(
            F.sum("x").cast("bigint").alias("xc"),
            F.sum("n").cast("bigint").alias("nc"),
        )
        .filter(
            F.col("nc").isNotNull()
            & (F.col("nc") > 0)
            & (F.col("xc") > 0)
            & (F.lit(SPRT_LIFT_NUM) * F.col("xc") < F.lit(SPRT_LIFT_DEN) * F.col("nc"))
        )
    )
    ln_pos = F.log(F.lit(float(SPRT_LIFT_NUM)) / F.lit(float(SPRT_LIFT_DEN)))
    ln_neg = F.log(
        (
            F.lit(float(SPRT_LIFT_DEN)) * F.col("nc")
            - F.lit(SPRT_LIFT_NUM) * F.col("xc")
        )
        / (F.lit(SPRT_LIFT_DEN) * (F.col("nc") - F.col("xc")).cast("double"))
    )
    terms = (
        d.filter(F.col("t") == 1)
        .crossJoin(F.broadcast(p0))
        .select(
            "day",
            "x",
            "n",
            (F.col("x") * ln_pos + (F.col("n") - F.col("x")) * ln_neg).alias("llr"),
        )
    )
    arr = terms.agg(
        F.array_sort(
            F.collect_list(F.struct("day", "x", "n", "llr"))
        ).alias("a")
    ).filter(F.size("a") > 0)
    rows = arr.select(
        F.posexplode(
            F.expr(
                "transform(a, (e, i) -> struct("
                " e.day AS day, e.x AS x, e.n AS n,"
                " aggregate(slice(a, 1, i + 1), CAST(0.0 AS DOUBLE),"
                "           (acc, f) -> acc + f.llr) AS cum))"
            )
        ).alias("i", "r")
    ).select("r.day", "r.x", "r.n", "r.cum")
    return rows.select(
        F.col("day").cast("timestamp").alias("day"),
        F.col("x").alias("x_treat"),
        F.col("n").alias("n_treat"),
        (F.floor(F.col("cum") * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias(
            "cum_llr"
        ),
        F.when(F.col("cum") >= SPRT_LN_A, F.lit("accept_h1"))
        .when(F.col("cum") <= -SPRT_LN_A, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )
