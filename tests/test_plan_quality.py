"""Physical-plan pins: the 100 TB design intent, asserted on the plans
Catalyst actually produces. These fail if a refactor silently loses
predicate pushdown, column pruning, partial aggregation, or broadcast
strategy — or introduces a cartesian product anywhere in the registry."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from cdc_export_system_spark.registry import load_all
from tests.conftest import SF_DIR

REGISTRY = load_all()


@pytest.fixture(scope="module", autouse=True)
def _uncached_plans(spark):
    """Earlier tests' df.cache() would substitute InMemoryRelation into
    matching plan fragments, hiding exchanges/joins from this sweep —
    scan the real plans (see the same fixture in
    tests/test_int_product_lint.py for the incident record)."""
    spark.catalog.clearCache()


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_push_to_parquet(spark):
    p = plan_of(spark, "tpch_q6")
    assert "PushedFilters:" in p
    pushed = [line for line in p.splitlines() if "PushedFilters" in line][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_scan_prunes_columns(spark):
    p = plan_of(spark, "project_columns")
    read = [line for line in p.splitlines() if "ReadSchema" in line][0]
    # exactly the 3 projected columns reach the scan
    assert "o_orderkey" in read and "o_custkey" in read and "o_orderdate" in read
    assert "o_totalprice" not in read and "o_orderstatus" not in read


def test_group_agg_is_partial_then_final(spark):
    p = plan_of(spark, "tpch_q1")
    # map-side partial + final after the exchange: >=2 HashAggregate nodes
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_dim_join_broadcasts(spark):
    p = plan_of(spark, "join_broadcast_hash")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_semi_anti_join_strategies(spark):
    for name in ("join_semi", "join_anti"):
        p = plan_of(spark, name)
        assert "LeftSemi" in p or "LeftAnti" in p, name


def test_topk_uses_take_ordered(spark):
    p = plan_of(spark, "limit_topk")
    assert "TakeOrderedAndProject" in p


def nodes(p: str, node: str) -> int:
    """Count physical-plan nodes of a type in `formatted` output (each
    node appears once as a numbered detail header `(n) Node`)."""
    import re

    return len(re.findall(rf"\(\d+\) {node}[ \n]", p))


def test_sessionize_single_event_shuffle(spark):
    # lag + running session counter + per-session rollup all hang off ONE
    # exchange on user_id; the rollup is partial-aggregated map-side.
    p = plan_of(spark, "sessionize_batch")
    assert nodes(p, "Exchange") == 1, p
    assert nodes(p, "Window") == 2, p


def test_funnel_fold_has_no_joins(spark):
    # the funnel is a per-user fold, not the oracle's 4-join chain: one
    # user_id exchange + the single-row final agg, zero join operators.
    p = plan_of(spark, "funnel_conversion")
    assert "Join" not in p, p
    assert nodes(p, "Exchange") == 2, p


def test_cohort_retention_two_exchanges(spark):
    # map-side collect_set dedup -> user_id exchange -> grid-size rollup;
    # no window, no join back to events.
    p = plan_of(spark, "cohort_retention")
    assert "Join" not in p and nodes(p, "Window") == 0, p
    assert nodes(p, "Exchange") == 2, p


# Ops whose DESIGN is a broadcast nested-loop against a bounded tiny side
# (a model or micro-dimension): the broadcast payload is O(model), the
# per-row probe work is bounded, and no shuffle of the big side occurs.
# A *non-broadcast* CartesianProduct stays forbidden for these too.
INTENTIONAL_BROADCAST_NLJ = {
    "cluster_kmeans_assign",  # k=8 centroid model vs every vector
    "cluster_kmeans_iterate",
    "dedup_semantic_semdedup",  # inherits kmeans_fit's centroid-model NLJ;
    # the pair stage itself is an equi-join on cluster_id (pinned below)
    "sim_knn_join",  # bounded probe set broadcast; corpus never shuffles
    "ml_map_at_k",  # bounded anchor set broadcast; corpus never shuffles
    "ml_brier_decomposition",  # 1-row totals broadcast onto the |bins| axis
    "sim_hard_negatives",  # bounded anchor set broadcast; corpus never shuffles
    "sim_recall_at_k",  # offline eval: sampled query set broadcast vs corpus
    "join_interval_overlap",  # |quarters| calendar micro-dim, overlap predicate
    "rfm_segmentation",  # 1-row global-max broadcast onto the |users| aggregate
    "window_pareto_share",  # 1-row total broadcast onto the top-100 curve
    "sim_search_lsh",  # 1-row query-vector broadcast (scalar-subquery analogue)
    "ab_welch_ttest",  # 1-row x 1-row cohort-stats pair
    "er_blocking_stats",  # 4x 1-row block-health scalars combined per pass
    "er_match_metrics",  # 1-row |B| recall denominator onto 3 class rows
    "er_match_metrics_em",  # same |B| denominator, EM-learned classes
    "geo_knn",  # bounded probe set broadcast vs corpus (cf. sim_knn_join)
    "privacy_uniqueness_risk",  # 1-row total onto the 3-row QI ladder
    "ab_cuped",  # 1-row ts-midpoint onto the scan + 1-row pooled theta onto 2 arms
    "ab_proportion_ztest",  # 1-row median broadcast onto the per-user pool
    "sessionize_funnel_within",  # 1-row session-total broadcast onto 3 step rows
    "event_growth_accounting",  # 1-row max-month broadcast onto the (user, month) frame
    "stats_runs_test",  # 1-row median broadcast onto the hour axis
    "ts_control_chart_xmr",  # 1-row (n, S, M) broadcast onto the |days| axis
    "ts_theil_sen",  # |days|-axis broadcast pair join (metadata-axis quadratic)
    "ts_mann_kendall",  # |days|-axis pair join + 1-row finals crossed
    "ts_best_window",  # 1-row (n, S) totals broadcast onto the |days| axis
    "dedup_method_agreement",  # 1-row x 1-row x 1-row count-final crosses
    "anomaly_seasonal_esd",  # 1-row median/MAD broadcasts onto the hour axis
    "event_type_affinity",  # 1-row user-total cross onto the |types|^2 pairs
    "corpus_temperature_weights",  # 1-row (total, Z) broadcast onto |sources| rows
    "text_pmi_collocations",  # 1-row corpus-totals broadcast onto the pair vocab
    "text_vocab_coverage",  # 1-row total + 4-row target spine onto the vocab axis
    "basket_association_rules",  # 1-row basket-total broadcast onto the pair list
    "agg_freq_items_mg",  # 1-row merged-total broadcast for the support threshold
    "corpus_js_divergence",  # 1-row ref-total + |sources|-row spine onto ref vocab
    "corpus_upsample_weights",  # 1-row token-total broadcast onto |sources|
    "dq_benford_digits",  # 1-row digit-total broadcast onto <=9 rows
    "feat_target_encode",  # 1-row global-mean broadcast onto |categories|
    "ml_confusion_matrix",  # inherits ml_naive_bayes's model-dim broadcast
    "ml_eval_report",  # composes ml_naive_bayes/_confusion_matrix legs
    "ml_knn_classifier",  # bounded held-out set broadcast vs corpus scan
    "ml_naive_bayes",  # |classes|-row (5) model dim broadcast onto the vocab
    "ml_kfold_cv",  # 1-row suffstat total broadcast onto the K-row fold table
    "feat_woe_iv",  # 1-row class-totals broadcast onto |categories|
    "stats_benjamini_hochberg",  # 1-row grand-total broadcast onto |segments|
    "stats_chi2_independence",  # 1-row grand-total broadcast onto <=35 cells
    "stats_ks_test",  # 1-row (nA, nB) totals broadcast onto the value axis
    "ts_autocorrelation",  # 1-row global mean/variance stats broadcast
    "ts_forecast_linear",  # 1-row suffstat scalar onto the horizon spine
    "ts_changepoint_cusum",  # 1-row (n, Σx) totals broadcast onto |days| axis
    "ml_pr_curve",  # 1-row positives-total broadcast onto the score axis
    "ts_dow_hour_profile",  # 1-row traffic total broadcast onto the <=168 grid
    "agg_value_histogram",  # 1-row total broadcast onto the |bins| table
    "window_decay_score",  # 1-row anchor-day broadcast onto the (user, day) axis
    "pipeline_dedup_funnel",  # 1-row raw-total broadcast onto the 3 stage rows
    "agg_kmv_setops",  # five 1-row sketch-stat frames crossed into the report
    "cluster_kmeans_exact",  # k-row integer-centroid model vs every vector
    "feat_pca_power_exact",  # model-sized Gram/direction broadcasts
    "sim_search_ivf_exact",  # 1-row query vector + k-row coarse model
    "sim_search_pq_exact",  # 1-row query vector + codebook model broadcasts
    "sim_search_ivf_pq_exact",  # 1-row query + coarse/codebook model broadcasts
    "tpch_q11_like",  # 1-row global value-threshold scalar broadcast
    "agg_quantiles_distributed",  # 1-row total broadcast onto the distinct-value axis
    "agg_weighted_median",  # 1-row weight-total broadcast onto the price axis
    "ml_threshold_youden",  # 1-row (npos, nneg) totals broadcast onto the score axis
    "agg_trimmed_mean",  # 1-row N broadcast onto the value axis
    "text_bm25_topk",  # 1-row corpus-stats broadcast onto the matched docs
    "sim_rrf_fusion",  # 1-row query vector + 1-row stats onto the legs
    "sim_ndcg_at_k",  # 1-row query-vector broadcast vs corpus scan
    "dedup_threshold_sweep",  # 6-row threshold spine onto the bounded pair table
    "feat_rank_normalize",  # 1-row row-total broadcast onto the value axis
    "ts_acf_multi_lag",  # 1-row (N, S) totals + 1-row denominator onto the hour axis
    "dq_key_skew_report",  # 1-row key-totals broadcast onto the top-20 rows
    "metric_concentration_shares",  # 1-row grand total + 3-row pct spine onto the rank axis
    "corpus_perplexity_buckets",  # 1-row doc-total broadcast onto the <=20 bucket rows
    "ab_sequential_sprt",  # 1-row guarded control-rate scalar onto the day axis
    "geo_contains_join",  # 25-row broadcast bbox table, non-equi range filter
    # (phase 1 of filter-refine); the refine phase is an equi BHJ on
    # nationkey — fan-out bounded by regions-overlapping-a-point
    "feat_quantile_bucketize",  # 1-row quartile-thresholds broadcast onto the scan
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_cartesian_products_anywhere(spark, name):
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p, f"{name} plans a cartesian product"
    if name not in INTENTIONAL_BROADCAST_NLJ:
        assert "BroadcastNestedLoopJoin" not in p, f"{name} plans a nested-loop join"


def test_bloom_prefilter_actually_prunes(spark):
    """The hand-built bloom runtime filter must drop most non-urgent fact
    rows before the join (exactness is the oracle's job; this pins the
    *point* of the op — shuffle reduction)."""
    from cdc_export_system_spark.io.sources import load_table
    from cdc_export_system_spark.operators.bloom_join import (
        _DIM_PRED, bloom_build, bloom_might_contain,
    )
    from pyspark.sql import functions as F

    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    dim = orders.filter(F.expr(_DIM_PRED)).select("o_orderkey")
    bitmap = bloom_build(dim, "o_orderkey")
    total = li.count()
    kept = li.filter(bloom_might_contain(bitmap, "l_orderkey")).count()
    true_frac = orders.filter(F.expr(_DIM_PRED)).count() / orders.count()
    # keep-rate must be close to the true selectivity (plus bounded FP rate)
    assert kept / total < true_frac + 0.15
    # and the filter must never drop a true match (no false negatives)
    true_keys = {r.o_orderkey for r in dim.collect()}
    matched = li.filter(F.col("l_orderkey").isin(list(true_keys)[:50])).count()
    after = (
        li.filter(bloom_might_contain(bitmap, "l_orderkey"))
        .filter(F.col("l_orderkey").isin(list(true_keys)[:50]))
        .count()
    )
    assert matched == after


def test_anomaly_zscore_broadcasts_stats(spark):
    # per-user stats (|users| rows) broadcast back onto the event scan —
    # the big side is never shuffled for the join.
    p = plan_of(spark, "anomaly_zscore")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_decontaminate_broadcasts_eval_ngrams(spark):
    # the eval-slice n-gram set broadcasts; the training-side scan joins
    # map-side, so flagging adds no extra shuffle of the corpus.
    p = plan_of(spark, "corpus_decontaminate")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_feature_scaling_broadcasts_stats(spark):
    for name in ("feat_minmax_scale", "feat_standardize"):
        p = plan_of(spark, name)
        assert "BroadcastHashJoin" in p, (name, p)
        assert "SortMergeJoin" not in p, (name, p)


def test_retention_nday_single_event_shuffle(spark):
    # day-set collapse is the only exchange over events; flags are array
    # predicates over the per-user set — no join, no window, no second pass.
    p = plan_of(spark, "retention_nday")
    assert "Join" not in p and "Window" not in p, p
    assert nodes(p, "Exchange") == 2, p  # user collapse + cohort rollup


def test_attribution_window_has_no_join(spark):
    p = plan_of(spark, "attribution_last_touch")
    assert "Join" not in p, p
    assert nodes(p, "Exchange") == 1, p  # one user_id shuffle for the frame


def test_join_strategy_hints_flip_physical_join(spark):
    # SURVEY §2.3: the engine exposes all physical join strategies; hints
    # must actually reach the planner (broadcast pins live above — this
    # pins the shuffle-hash escape hatch for when the build side is too
    # big to broadcast but small enough to hash per-partition).
    import io, contextlib
    from cdc_export_system_spark.io.sources import load_table
    from tests.conftest import SF_DIR

    cust = load_table(spark, SF_DIR, "customer")
    orders = load_table(spark, SF_DIR, "orders")
    joined = orders.join(cust.hint("shuffle_hash"), orders.o_custkey == cust.c_custkey)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    assert "ShuffledHashJoin" in buf.getvalue(), buf.getvalue()


def test_asof_nearest_single_sort_serves_both_directions(spark):
    # backward running max + forward running min share one partition/order
    # spec: ONE exchange, ONE sort, and Spark fuses both frames into a
    # single Window node. No join anywhere (the naive form cross-matches
    # purchases x clicks per user).
    p = plan_of(spark, "join_asof_nearest")
    assert nodes(p, "Exchange") == 1, p
    assert nodes(p, "Sort") == 1, p
    assert nodes(p, "Window") == 1, p
    assert "Join" not in p, p


def test_event_path_topk_window_then_bounded_rollup(spark):
    # one user_id exchange for the two lead() taps, one exchange for the
    # |event_type|^3-bounded path rollup, TakeOrdered for the head.
    p = plan_of(spark, "event_path_topk")
    assert nodes(p, "Exchange") == 2, p
    assert nodes(p, "Window") == 1, p
    assert "TakeOrderedAndProject" in p, p


def test_time_to_convert_two_exchanges(spark):
    # per-user attribution window exchange + per-day percentile rollup;
    # no join back to events.
    p = plan_of(spark, "attribution_time_to_convert")
    assert nodes(p, "Exchange") == 2, p
    assert "Join" not in p, p


def test_rolling_distinct_metrics_single_pass(spark):
    # contribution-explode with posexplode-carried offsets: the observed-
    # day spine is count_if(off == 0) inside the SAME rollup — no join,
    # no second scan branch. Exchanges: user-day dedup + the two-phase
    # per-day distinct.
    for name in ("metric_rolling_wau", "metric_dau_mau"):
        p = plan_of(spark, name)
        assert "Join" not in p, (name, p)
        assert nodes(p, "Exchange") == 3, (name, p)


def _single_partition_window_sorts(plan: str) -> list[str]:
    """Lines where a window's required sort is global (a partition-less
    window forces Exchange SinglePartition + one-task sort)."""
    return [
        line
        for line in plan.splitlines()
        if "Exchange SinglePartition" in line
    ]


def test_rfm_has_no_single_partition_window(spark):
    # three exact ntile(5) scores over |users| without any global sort:
    # distributed row numbers (range exchange) + closed-form buckets
    p = plan_of(spark, "rfm_segmentation")
    assert "rangepartitioning" in p
    assert not _single_partition_window_sorts(p)


def test_gini_single_partition_stages_are_scalar_only(spark):
    # the only single-partition exchange allowed is the 1-row final
    # aggregate (and the ~num_partitions-row offset table) — never the
    # |customers| rank assignment itself, which must be range-partitioned
    p = plan_of(spark, "agg_gini")
    assert "rangepartitioning" in p


def test_pareto_prunes_to_topk_before_window(spark):
    # the global window runs over the TakeOrdered-ed 100 rows, not |customers|
    p = plan_of(spark, "window_pareto_share")
    assert "TakeOrderedAndProject" in p


def test_lsh_pruned_probe_touches_only_probe_buckets(spark):
    from cdc_export_system_spark.registry import REGISTRY as R

    df = R["sim_search_lsh_pruned"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Hamming<=1 multi-probe over 8 planes: 9 of the 256 layout buckets
    assert "SelectedBucketsCount: 9 out of 256" in plan


def test_skyline_uses_distributed_prefix_not_self_join(spark):
    # the oracle's NOT EXISTS is an all-pairs dominance check; the engine
    # form must be reductions + the range-partitioned prefix max — one
    # equi-join to attach thresholds, nothing nested-loop-shaped
    p = plan_of(spark, "skyline_pareto_front")
    assert "rangepartitioning" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


# Queries whose physical plans legitimately contain an
# Exchange SinglePartition node, with the reason the single-partition
# stage is NOT a scale problem. Two legitimate classes:
#   scalar  — a global aggregate's 1-row final stage (or a <=k-row
#             TakeOrdered / date-spine / probe-literal input);
#   tiny    — a window/prefix pass over an already-reduced metadata
#             table (range-count offsets, per-band thresholds, the
#             top-100 pareto head, the |days| sweep axis, ...), rows
#             ~ O(num_partitions) or O(distinct small domain), never
#             O(input).
# Anything NOT listed here must plan with zero single-partition
# exchanges; a new global-window op fails this sweep by construction.
_SINGLE_PARTITION_OK = {
    "agg_approx_distinct": "scalar",
    "agg_count_distinct": "scalar",
    "agg_count_filtered": "scalar",
    "agg_count_star": "scalar",
    "agg_freq_items_mg": "scalar",  # 1-row total for the support threshold
    "agg_gini": "tiny",  # range-offset table of the distributed rank
    "agg_hll_sketch": "scalar",
    "agg_max_ts": "scalar",
    "agg_min_max_ts": "scalar",
    "basket_association_rules": "scalar",  # 1-row basket-count denominator
    "corpus_js_divergence": "scalar",  # 1-row reference token total
    "dq_benford_digits": "scalar",  # 1-row digit total
    "dq_checks": "scalar",  # per-table 1-row rule rollups, unioned
    "er_blocking_stats": "scalar",  # 2x4 1-row block-health rollups, unioned
    "er_match_metrics": "scalar",  # 1-row |B| recall denominator
    "er_match_metrics_em": "scalar",  # same |B| denominator (EM classes)
    "privacy_uniqueness_risk": "scalar",  # 3x 1-row uniqueness counts + total
    "feat_quantile_bucketize": "scalar",  # percentile_disc scalar subqueries
    "corpus_upsample_weights": "scalar",  # 1-row corpus token total
    "feat_target_encode": "scalar",  # 1-row global (n, Σy) for the smoothing blend
    "feat_woe_iv": "scalar",  # 1-row class-totals final
    "funnel_conversion": "scalar",
    "funnel_time_window": "scalar",  # 4-row step rollup, same as funnel_conversion
    "stats_bootstrap_ci": "tiny",  # percentile over the (R+1)-row replicate table
    "graph_triangle_count": "scalar",
    "metric_open_orders_sweep": "tiny",  # running sum over the |days| axis
    "plan_cached_reuse": "scalar",  # two 1-row scalar aggs over the cached slice
    "profile_table": "scalar",
    "reshape_date_spine": "scalar",  # min/max bounds feeding sequence()
    "rfm_segmentation": "tiny",  # 3x range-offset tables (+ their totals)
    "skyline_pareto_front": "tiny",  # prefix-max range-offset table
    "corpus_token_budget_sample": "tiny",  # prefix-sum range-offset table
    "ml_auc_roc": "tiny",  # prefix-sum range-offset table + 1-row final
    "ml_eval_report": "scalar",  # three 1-row metric finals unioned
    "ml_kfold_cv": "scalar",  # 1-row suffstat total
    "stats_chi2_independence": "scalar",  # 1-row chi2 final
    "stats_ks_test": "tiny",  # prefix-sum range-offset table + 1-row final
    "stats_mann_whitney": "tiny",  # prefix-sum range-offset table + 1-row final
    "ts_autocorrelation": "scalar",  # 1-row global (n, S, Q) stats
    "ts_changepoint_cusum": "tiny",  # prefix sum + peak rank over |days| axis
    "ts_forecast_linear": "scalar",  # 1-row OLS suffstat final
    "ts_seasonal_decompose": "tiny",  # trend MA over the |hours| axis (8.8k/yr)
    "sql_scalar_subquery": "scalar",
    "stats_benjamini_hochberg": "tiny",  # rank/step-up windows over |segments|
    "stats_effect_sizes": "scalar",  # 1-row suffstat final
    "stats_power_analysis": "scalar",  # 1-row suffstat final
    "text_pack_chunks": "tiny",  # block-offset prefix table
    "text_vocab_coverage": "tiny",  # prefix-sum range-offset table + 1-row total
    "text_pmi_collocations": "scalar",  # 1-row corpus-total bigram count
    "tpch_q14": "scalar",
    "tpch_q15": "scalar",  # max(total_revenue) scalar subquery
    "tpch_q17": "scalar",
    "tpch_q19_like": "scalar",
    "tpch_q22_like": "scalar",  # avg(acctbal) scalar subquery
    "tpch_q6": "scalar",
    "window_mom_growth": "tiny",  # lag over the |months| aggregate
    "window_pareto_share": "tiny",  # window over the TakeOrdered top-100
    "ml_pr_curve": "tiny",  # prefix-sum range-offset table + 1-row total
    "corpus_shard_assignment": "tiny",  # prefix-sum range-offset table
    "stats_anova_oneway": "scalar",  # 1-row cross-group suffstat final
    "ts_dow_hour_profile": "scalar",  # 1-row traffic total over the <=168 grid
    "agg_value_histogram": "scalar",  # 1-row grand total over the |bins| table
    "window_decay_score": "scalar",  # 1-row anchor (max day) scalar
    "pipeline_dedup_funnel": "scalar",  # three 1-row stage aggregates + raw total
    "window_global_deciles": "tiny",  # rank-construction range-offset table
    "plan_compaction_bins": "tiny",  # prefix sum over the |dates| metadata axis
    "dq_fk_orphans": "scalar",  # per-child-table 1-row counter finals
    "dq_null_profile": "scalar",  # 1-row profile suffstat final
    "agg_kmv_setops": "scalar",  # k-row sketches + 1-row stat finals
    "ml_ridge_exact": "scalar",  # 1-row Gram/moment suffstat final
    "feat_pca_power_exact": "scalar",  # 1-row Rayleigh + count finals on the Gram
    "sim_search_ivf_pq_exact": "scalar",  # partial bloom_filter_agg scalar build
    "tpch_q11_like": "scalar",  # 1-row global value-total scalar subquery
    "event_markov_stationary_exact": "scalar",  # 1-row anchor min over the |states|^2 matrix
    "ab_cuped": "scalar",  # 1-row ts-midpoint + pooled-theta suffstat finals
    "stats_brown_forsythe": "scalar",  # k-row suffstats -> 1-row W final
    "agg_quantiles_distributed": "tiny",  # rank-construction range-offset table + 1-row final
    "agg_weighted_median": "tiny",  # rank-construction range-offset table + 1-row final
    "feat_rank_normalize": "tiny",  # rank-construction range-offset table
    "ts_acf_multi_lag": "scalar",  # 1-row series totals/denominator finals
    "corpus_interleave_order": "tiny",  # rank-construction range-offset table
    "stats_mcnemar": "scalar",  # 1-row discordant-cell final
    "graph_assortativity": "scalar",  # 1-row degree-suffstat final
    "dedup_method_agreement": "scalar",  # three 1-row pair-count finals
    "anomaly_seasonal_esd": "tiny",  # per-round axis medians + TakeOrdered-1 picks
    "event_type_affinity": "scalar",  # 1-row user-total cross onto <=10 pairs
    "stats_wilson_ci": "scalar",  # 2-row arm-count final
    "cdc_sequence_gap_audit": "tiny",  # lag over the id-bucket metadata axis
    "ml_threshold_youden": "tiny",  # prefix-sum range-offset + TakeOrdered-1
    "stats_cohens_kappa": "scalar",  # 1-row 2x2 table final
    "agg_trimmed_mean": "tiny",  # prefix-sum range-offset + 1-row kept-band final
    "text_bm25_topk": "tiny",  # rank window over the TakeOrdered candidates + 1-row stats
    "sim_rrf_fusion": "tiny",  # rank windows over two <=20-row leg tables
    "sim_ndcg_at_k": "tiny",  # TakeOrdered head + constant-size folds
    "dedup_threshold_sweep": "scalar",  # 6-row spine rollup over the pair table
    "ml_map_at_k": "scalar",  # anchor-sorted AP fold to a 1-row mean
    "ab_ratio_delta_method": "scalar",  # 2-row arm suffstat final
    "ml_brier_decomposition": "scalar",  # 1-row bin-weighted quadratic finals
    "ml_att_stratified": "scalar",  # <=10-row strata table -> 1-row ATT final
    "supplier_scorecard": "tiny",  # rank window over the |suppliers| aggregate
    "ts_best_window": "tiny",  # prefix/min windows over the |days| axis + ordered LIMIT 1
    "graph_ppr_exact": "tiny",  # LIMIT-k seed head of the node table
    "event_growth_accounting": "scalar",  # 1-row max-month bound final
    "stats_runs_test": "tiny",  # ordered lag over the |hours| axis + 1-row final
    "ts_control_chart_xmr": "tiny",  # lag over the |days| axis + 1-row (n,S,M) final
    "ts_theil_sen": "scalar",  # 1-row pairwise-slope median final
    "ts_mann_kendall": "scalar",  # 1-row S/n/ties finals
    "ab_proportion_ztest": "scalar",  # 1-row median + 1-row cell-count finals
    "sessionize_funnel_within": "scalar",  # 3 one-row step rollups + total
    "ml_feature_corr_matrix": "scalar",  # one 1-row suffstat final unpivoted 6 ways
    "ml_feature_drift_psi": "scalar",  # 1-row bin-fold PSI final
    "stats_qq_points": "scalar",  # nine 1-row decile aggregates per arm
    "corpus_temperature_weights": "scalar",  # 1-row (total, Z) normalizer final
    "multimodal_shard_plan": "tiny",  # prefix-sum range-offset table
    "stats_wilcoxon_signed_rank": "tiny",  # prefix-sum range-offset table + 1-row final
    "stats_spearman_rank": "tiny",  # two prefix-sum range-offset tables + 1-row final
    "ml_uplift_qini": "tiny",  # prefix-sum range-offset table over the score axis
    "dq_key_skew_report": "tiny",  # rank window over the TakeOrdered top-20
    "metric_concentration_shares": "tiny",  # rank-construction range-offset tables
    "corpus_perplexity_buckets": "scalar",  # 1-row doc-total final
    "ab_sequential_sprt": "scalar",  # 1-row day-axis fold (<= |days| elements)
    "orders_rfm_segmentation": "tiny",  # three prefix-rank range-offset tables
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_single_partition_exchanges_are_allowlisted(spark, name):
    """100 TB posture sweep: an Exchange SinglePartition stage is only
    acceptable for 1-row scalar finals or windows over already-reduced
    metadata tables — every occurrence must be named and justified in
    _SINGLE_PARTITION_OK. A partition-less window/sort over data-sized
    input shows up here as an unlisted query and fails."""
    df = REGISTRY[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange SinglePartition" in plan:
        assert name in _SINGLE_PARTITION_OK, (
            f"{name} plans an unreviewed Exchange SinglePartition:\n{plan}"
        )


def _unstable_hash_types(dt) -> list[str]:
    """Recursively collect driver-hash-unstable types (decimal/interval)
    inside a DataType."""
    from pyspark.sql import types as T

    bad: list[str] = []
    if isinstance(
        dt,
        (T.DecimalType, T.DayTimeIntervalType, T.YearMonthIntervalType),
    ) or type(dt).__name__ == "CalendarIntervalType":
        bad.append(dt.simpleString())
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            bad += _unstable_hash_types(f.dataType)
    elif isinstance(dt, T.ArrayType):
        bad += _unstable_hash_types(dt.elementType)
    elif isinstance(dt, T.MapType):
        bad += _unstable_hash_types(dt.keyType)
        bad += _unstable_hash_types(dt.valueType)
    return bad


def test_no_decimal_or_interval_in_any_final_schema(spark):
    """Driver-surface type lint (VERDICT r8 #1): DECIMAL arithmetic is
    fine INTERNALLY (the int-product lint promotes volume-scaled
    products to DECIMAL(38,0) on purpose), but a decimal or interval
    column in a registered query's FINAL schema is a correctness-gate
    hazard — the external driver canonicalizes Spark Decimal vs DuckDB
    HUGEINT/DECIMAL differently, so bit-identical values still hash-
    mismatch (ml_calibration_table, CORRECTNESS_r08). Final schemas must
    re-emit such terms as integer/double/string (e.g. a radix-10^18
    hi/lo BIGINT pair)."""
    offenders = {}
    for name in sorted(REGISTRY):
        df = REGISTRY[name].fn(spark, SF_DIR)
        bad = []
        for f in df.schema.fields:
            for t in _unstable_hash_types(f.dataType):
                bad.append(f"{f.name}:{t}")
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "decimal/interval columns leaked into driver-visible final "
        f"schemas: {offenders}"
    )


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's skew-join handling is the runtime half of the engine's skew
    strategy (join_skew_salted is the static half): with one key owning
    ~99% of the fact side and thresholds scaled to fixture size, the
    runtime plan must mark and split the skewed partition."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(0))
            .otherwise(F.col("id") % 8)
            .alias("k"),
            (F.col("id") * 3).alias("payload"),
        )
        dim = spark.range(0, 8).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        j = fact.join(dim, "k")
        # materialize THROUGH j's own QueryExecution (collect, not a
        # derived count) so executedPlan is the finalized adaptive plan
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_decontaminate_bloom_never_broadcasts_eval_set(spark):
    """corpus_decontaminate_bloom exists for the regime where the eval
    n-gram set does NOT fit in memory: the exact verify join must be a
    shuffled hash join, never a broadcast of the eval set (which would
    silently revert to corpus_decontaminate's plan), and the 8 KB bloom
    probe must run as a map-side Filter on the training n-gram stream —
    below the join's exchange, so survivors alone are shuffled."""
    p = plan_of(spark, "corpus_decontaminate_bloom")
    assert "ShuffledHashJoin" in p, p
    assert "BroadcastHashJoin" not in p, p
    # the bitmap probe compiles to shiftright(element_at(<bitmap literal>..))
    probe_filters = [
        ln for ln in p.splitlines()
        if "Condition" in ln and "element_at" in ln and "shiftright" in ln
    ]
    assert probe_filters, p[:2000]
    # filters sit below exchanges in every Catalyst plan; presence of the
    # probe Filter plus a shuffled join implies only survivors reach the
    # exchange. Exactly two keyed exchanges feed the join (both sides by
    # the hashed-gram key gh).
    assert len(re.findall(r"hashpartitioning\(gh#", p)) >= 2, p[:2000]


def test_inverted_index_collapses_before_postings(spark):
    """corpus_inverted_index must reduce the token stream to the
    (token, doc) grid in a map-side-combined aggregate before any
    posting-list work, and the posting head must be truncated by a
    row_number filter (never an unbounded collect over the raw stream)."""
    p = plan_of(spark, "corpus_inverted_index")
    # partial + final aggregates for the grid collapse
    assert p.count("HashAggregate") >= 4, p
    # the rn <= head filter exists between window and collect
    assert "row_number" in p and "rn" in p, p
    assert "CartesianProduct" not in p


def test_cached_reuse_second_consumer_reads_memory(spark):
    """plan_cached_reuse's two aggregate branches must BOTH read the
    InMemoryRelation (the point of the op) — a regression to two parquet
    scans would silently double the IO."""
    from cdc_export_system_spark.registry import load_all
    from tests.conftest import SF_DIR

    df = load_all()["plan_cached_reuse"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 2


def test_lateral_topn_decorrelates_to_rank_limit(spark):
    """The correlated LATERAL LIMIT must decorrelate to WindowGroupLimit
    (partition-local top-k pruning before the window), never a
    per-customer nested execution or a cartesian expansion."""
    df = REGISTRY["sql_lateral_topn"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["dedup_minhash_verified", "dedup_minhash_accuracy"])
def test_minhash_multi_reference_reads_materialized_signatures(spark, name):
    """The multi-reference MinHash consumers (verify joins back onto the
    shingle/signature table 3-5x) must read the per-invocation
    materialized signature view, never re-derive the shingle CTE chain:
    ZERO parquet scans in the executed plan — the one corpus pass happens
    inside _sig_materialized_view's eager checkpoint. Guards the round-4
    refactor that closed the 3-5x corpus re-scan debt (docs/SCALING.md)."""
    df = REGISTRY[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "FileScan parquet" not in plan, name
    assert "Scan ExistingRDD" in plan, name


@pytest.mark.parametrize(
    "name", ["dedup_minhash_signature", "dedup_minhash_lsh", "dedup_minhash_incremental"]
)
def test_minhash_single_pass_forms_stay_pure_plan(spark, name):
    """The single-reference MinHash forms evaluate the shingle stream
    exactly once already; they must STAY pure-plan (scans, no checkpoint
    overhead): each plan holds exactly one parquet scan node, one corpus
    pass. A node prints as "FileScan parquet", which contains "Scan
    parquet", so counting the shorter string counts each node once."""
    df = REGISTRY[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("Scan parquet")
    assert scans == 1, f"{name}: {scans} parquet scans"


def test_semdedup_pair_stage_is_cluster_equijoin(spark):
    # SemDeDup's quadratic stage must be blocked by the k-means cluster id
    # AND the triangle sub-block key (round 7: joining on the cluster
    # alone capped parallelism at k reduce tasks — triangle_sides spreads
    # each cluster's pairs over B(B+1)/2 tasks), never a corpus
    # self-cross; the only NLJ in the tree is kmeans_fit's model-sized
    # centroid broadcast (allowlisted above).
    p = plan_of(spark, "dedup_semantic_semdedup")
    assert "CartesianProduct" not in p, p
    assert "cluster_id" in p and "_tj" in p, (
        "within-cluster triangle pair join keys missing from the plan"
    )
