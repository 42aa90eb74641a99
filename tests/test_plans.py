"""Physical-plan regression tests (SURVEY §4): pin the scale-relevant
plan properties — pushdown, pruning, partial aggregation, join strategy,
shuffle count — so refactors can't silently degrade the 100 TB story.

Plan *shape* is scale-independent, so these run on the sf0.001 tables.
"""

from __future__ import annotations

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
    dedup,
    registry,
    relational,
    similarity,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.plans import (
    count_exchanges,
    formatted_plan,
    join_strategies,
    partial_agg_functions,
    pushed_filters,
    read_schemas,
)
from conftest import SF_SMOKE


def q(name, spark):
    return registry.REGISTRY[name].fn(spark, SF_SMOKE)


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = q("filter_group_avg_topk", spark)
    assert "IsNotNull(l_extendedprice)" in pushed_filters(df)


def test_equality_filter_pushdown(spark):
    df = q("eq_filter_group_agg", spark)
    pf = pushed_filters(df)
    assert "EqualTo(event_type,click)" in pf and "IsNotNull(event_type)" in pf


def test_range_predicate_pushdown(spark):
    df = q("range_filter_agg", spark)
    pf = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pf and "LessThan(l_shipdate" in pf


def test_column_pruning_scan_reads_only_referenced_columns(spark):
    # lineitem has 16 columns; this query touches exactly 2
    df = q("filter_group_avg_topk", spark)
    (cols,) = read_schemas(df)
    assert cols == ["l_partkey", "l_extendedprice"]


def test_projection_only_query_has_zero_shuffles(spark):
    df = q("project_dropna", spark)
    assert count_exchanges(df) == 0
    (cols,) = read_schemas(df)
    assert sorted(cols) == ["o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"]


def test_group_aggs_are_partial_then_final(spark):
    # map-side combine: the shuffle carries pre-aggregated rows
    for name in ("filter_group_avg_topk", "range_filter_agg", "two_level_agg"):
        fns = partial_agg_functions(q(name, spark))
        assert fns, f"{name} lost its partial aggregation"


def test_topk_is_take_ordered_not_global_sort(spark):
    # ORDER BY ... LIMIT k must compile to TakeOrderedAndProject
    # (per-partition top-k + driver merge), never a full sort exchange
    df = q("filter_group_avg_topk", spark)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert count_exchanges(df) == 1  # the groupBy shuffle only


def test_single_shuffle_for_single_groupby(spark):
    df = q("group_avg_sum2_topk", spark)
    assert count_exchanges(df) == 1


def test_median_fill_join_back_is_broadcast(spark):
    # group-median fill = agg + join-back; the tiny median table must
    # broadcast, adding zero shuffles of the fact table
    df = q("window_group_median_fill", spark)
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "CartesianProduct" not in join_strategies(df)


def test_bruteforce_knn_broadcasts_query_set(spark):
    df = q("similarity_bruteforce_topk", spark)
    strategies = join_strategies(df)
    assert "BroadcastNestedLoopJoin" in strategies
    assert "CartesianProduct" not in strategies


def test_star_join_broadcasts_all_dimensions(spark):
    df = q("star_join_revenue", spark)
    strategies = join_strategies(df)
    assert strategies == ["BroadcastHashJoin"]  # no SMJ, no cartesian
    # the only Exchanges are for the final agg + sort, not the joins
    assert count_exchanges(df) == 2


def test_anti_join_prunes_probe_scan(spark):
    df = q("anti_join_inactive_customers", spark)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    # probe side reads only the join key + predicate column
    schemas = read_schemas(df)
    assert ["o_custkey", "o_totalprice"] in schemas
    pf = " ".join(pushed_filters(df))
    assert "GreaterThan(o_totalprice" in pf


def test_rollup_is_single_pass_expand(spark):
    df = q("rollup_status_priority", spark)
    assert "Expand" in formatted_plan(df)  # one scan feeds all grouping sets
    assert len(read_schemas(df)) == 1  # exactly one parquet scan


def test_neardup_joins_are_equi_not_cartesian(spark):
    # every near-dup candidate join must be an equi-join on a blocking
    # key (label / shingle / band / LSH bucket) — the difference
    # between Σfreq² and n²
    for name in (
        "embedding_neardup_topk",
        "dedup_ngram_jaccard",
        "simhash_near_pairs",
        "dedup_minhash_lsh",
        "split_leakage_check",
        "split_leakage_lsh",
        "image_phash_neardup",
        "audio_fingerprint_neardup",
    ):
        strategies = join_strategies(q(name, spark))
        assert "CartesianProduct" not in strategies, name
        assert "BroadcastNestedLoopJoin" not in strategies, name
        assert strategies, f"{name} lost its join"


def test_hashed_bigram_lm_joins_are_broadcast(spark):
    # the whole point of the feature-hashed LM: both count tables are
    # bounded by the fixed hash widths, so the scoring joins must stay
    # broadcast at any corpus size — a shuffle join here means the
    # bound was lost in a refactor
    strategies = join_strategies(q("bigram_cross_entropy_hashed", spark))
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in strategies


def test_neardup_hot_bucket_caps_are_broadcast(spark):
    # both banded near-dup paths suppress degenerate buckets via a
    # BROADCAST join against the (small) oversized-bucket list — if a
    # refactor turns it into a shuffle join, the cap costs more than the
    # skew it prevents
    for name in (
        "simhash_near_pairs",
        "dedup_minhash_lsh",
        "image_phash_neardup",
        "audio_fingerprint_neardup",
    ):
        strategies = join_strategies(q(name, spark))
        assert "BroadcastHashJoin" in strategies, name


def test_topk_per_group_prelimits_before_shuffle(spark):
    # rnk <= k plans WindowGroupLimit on BOTH sides of the shuffle:
    # map tasks pre-trim to their local top-k per group, so shuffle
    # volume is bounded under rows-per-group skew
    plan = formatted_plan(q("topk_per_group", spark))
    assert plan.count("WindowGroupLimit") >= 2
    schemas = read_schemas(q("topk_per_group", spark))
    assert sorted(schemas[0]) == [
        "l_extendedprice",
        "l_linenumber",
        "l_orderkey",
        "l_suppkey",
    ]


def test_range_band_join_is_broadcast_nlj_with_pruned_scan(spark):
    df = q("range_band_join", spark)
    strategies = join_strategies(df)
    assert "BroadcastNestedLoopJoin" in strategies
    assert "CartesianProduct" not in strategies
    # the fact scan reads only the band key, 1 of orders' 6 columns
    assert ["o_totalprice"] in read_schemas(df)


def test_asof_join_is_windowed_not_joined(spark):
    # the as-of match is a union+window program: zero join operators,
    # one shuffle on user_id for the window + one for the final sort
    df = q("asof_join_attribution", spark)
    assert join_strategies(df) == []
    assert count_exchanges(df) == 2


def test_regr_fit_aggregates_partially(spark):
    # REGR_* are algebraic: the shuffle carries constant-size partial
    # state (sums/squares/cross-products), not rows
    assert partial_agg_functions(q("regr_linear_fit", spark))


def test_pivot_as_conditional_agg_is_single_shuffle(spark):
    # count-if pivot: ONE partial->final aggregation (DataFrame .pivot()
    # would plan pivotfirst with an extra shuffle) + the final sort
    df = q("pivot_event_counts", spark)
    assert count_exchanges(df) == 2
    assert partial_agg_functions(df)


def test_moving_avg_windows_over_reduced_set(spark):
    # aggregate first, window second: the rolling frame runs over
    # |priority|x|days| rows, never fact granularity
    plan = formatted_plan(q("window_moving_avg", spark))
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # formatted plans print top-down: the Window consumes the aggregate
    assert win_pos < agg_pos


def test_chunking_is_narrow_until_final_agg(spark):
    # explode(sequence) is a Generate and chunks never shuffle: in the
    # top-down formatted plan the Generate sits BELOW (upstream of)
    # every Exchange. The 3 exchanges are all post-chunking aggregation
    # machinery: two-phase distinct agg (countDistinct) + final sort.
    df = q("doc_chunk_explode", spark)
    plan = formatted_plan(df)
    assert "Generate" in plan
    tree = plan.split("\n\n")[0]
    assert tree.rfind("Exchange") < tree.find("Generate")
    assert count_exchanges(df) == 3
    (cols,) = read_schemas(df)
    assert cols == ["doc_id", "text", "source"]


def test_cube_is_single_pass_expand(spark):
    df = q("cube_status_priority", spark)
    assert "Expand" in formatted_plan(df)
    assert len(read_schemas(df)) == 1  # one scan feeds all 4 grouping sets


def test_hash_split_is_row_local_single_shuffle(spark):
    # the split key is a pure expression: no sampling pass, no join, no
    # extra scan — the 3 exchanges are the two-phase distinct aggregate
    # (countDistinct n_nations) + the 2-row final sort
    df = q("hash_train_test_split", spark)
    assert count_exchanges(df) == 3
    assert partial_agg_functions(df)
    assert join_strategies(df) == []
    assert len(read_schemas(df)) == 1


def test_repetition_flags_avoid_token_shuffle(spark):
    # the per-doc top-word count is a higher-order expression, not an
    # explode->groupBy(doc, word): nothing shuffles at token granularity
    df = q("text_repetition_flags", spark)
    plan = formatted_plan(df)
    assert "Generate" not in plan  # no explode anywhere
    assert count_exchanges(df) == 2  # per-lang agg + 5-row final sort
    assert join_strategies(df) == []


def test_approx_distinct_keeps_partial_aggregation(spark):
    fns = " ".join(partial_agg_functions(q("approx_distinct_bound", spark)))
    assert "approx_count_distinct" in fns


def test_bloom_semi_join_broadcasts_bitset_and_keys(spark):
    # the 1-row bitset arrives via BroadcastNestedLoopJoin, the exact
    # semi join via BroadcastHashJoin — the fact table is never
    # sort-merge-shuffled for either
    df = q("bloom_filter_semi_join", spark)
    js = join_strategies(df)
    assert "BroadcastNestedLoopJoin" in js and "BroadcastHashJoin" in js
    assert "SortMergeJoin" not in js


def test_salted_agg_is_two_phase_plus_sort(spark):
    # phase-1 (key, salt) exchange, phase-2 merge exchange, final sort —
    # and the phase-1 aggregate still partial-combines map-side
    df = q("salted_skew_agg", spark)
    assert count_exchanges(df) == 3
    assert partial_agg_functions(df)


def test_grouping_sets_is_single_pass_expand(spark):
    df = q("grouping_sets_agg", spark)
    assert "Expand" in formatted_plan(df)
    assert count_exchanges(df) == 2  # one agg shuffle + final sort


def test_tfidf_topk_is_take_ordered_not_global_sort(spark):
    df = q("tfidf_top_terms", spark)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_contamination_eval_side_broadcasts(spark):
    # train shingles must semi-join broadcast eval shingles — a
    # sort-merge here would shuffle the whole train shingle stream
    df = q("contamination_ngram_check", spark)
    js = join_strategies(df)
    assert "BroadcastHashJoin" in js and "SortMergeJoin" not in js


def test_zscore_stats_broadcast_back(spark):
    # μ/σ join back onto the fact scan as a broadcast, never a fact shuffle
    df = q("zscore_normalize", spark)
    js = join_strategies(df)
    assert js == ["BroadcastHashJoin"]


def test_sequence_pack_scaled_has_no_global_window_funnel(spark):
    # the parity tier funnels the cumsum through one task (SinglePartition
    # window); the scaled twin must instead window per id-bucket — same
    # oracle answer, no single-task stage over the corpus
    parity = formatted_plan(q("sequence_pack_stats", spark))
    assert "SinglePartition" in parity  # documented parity-tier trade-off
    scaled = q("sequence_pack_scaled", spark)
    plan = formatted_plan(scaled)
    assert "Window" in plan
    window_args = [ln for ln in plan.splitlines() if "partitionBy" in ln.lower() or "__pid" in ln]
    assert any("__pid" in ln for ln in plan.splitlines()), window_args
    # offsets come back via a broadcast join, never a shuffle of the corpus
    assert "BroadcastHashJoin" in join_strategies(scaled)


def test_vocab_membership_join_is_broadcast(spark):
    # the top-V vocab (V rows) broadcasts; the exploded token stream must
    # not shuffle for the membership join
    df = q("vocab_oov_rate", spark)
    assert "BroadcastHashJoin" in join_strategies(df)
    plan = formatted_plan(df)
    # top-V cut is a bounded take, not a global sort of the counts
    assert "TakeOrderedAndProject" in plan


def test_salted_skew_join_splits_hot_and_cold(spark):
    # hot/cold split: Union of a plain shuffled join (cold keys) and a
    # salted shuffled join (hot keys); the hot-key list and the nation
    # dim broadcast; nothing degenerates to a cartesian product
    df = q("salted_skew_join", spark)
    plan = formatted_plan(df)
    assert "Union" in plan
    strategies = join_strategies(df)
    assert "ShuffledHashJoin" in strategies, strategies
    assert "BroadcastHashJoin" in strategies, strategies
    assert "CartesianProduct" not in strategies


def test_star_join_bucketed_path_has_no_join_exchange(spark, tmp_path):
    # joins.star_join_revenue documents that at 100 TB the orders⋈customer
    # equi-join is the ONE shuffle — or ZERO if both sides are bucketed on
    # custkey (sources/bucketed.py). Pin that claim: on bucketed tables the
    # star aggregation's only Exchanges are the groupBy partial→final and
    # the presentation sort — the join itself is a co-located SortMergeJoin.
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.sources.bucketed import (
        drop_table,
        write_bucketed,
    )

    orders = load(spark, SF_SMOKE, "orders").withColumnRenamed("o_custkey", "c_custkey")
    customer = load(spark, SF_SMOKE, "customer")
    nation = load(spark, SF_SMOKE, "nation")
    region = load(spark, SF_SMOKE, "region")
    try:
        write_bucketed(orders, "orders_bc", str(tmp_path / "obc"), "c_custkey")
        write_bucketed(customer, "customer_bc", str(tmp_path / "cbc"), "c_custkey")
        # threshold -1 forces the o⋈c strategy to come from the bucketing,
        # not a small-table broadcast; n/r keep explicit broadcast hints
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = (
                spark.table("orders_bc")
                .join(spark.table("customer_bc"), "c_custkey")
                .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
                .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
                .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
                .agg(F.count(F.lit(1)).alias("n_orders"))
                .orderBy("region", "nation")
            )
            plan = formatted_plan(df)
            assert "SortMergeJoin" in plan
            # agg exchange + sort exchange only — ZERO for the joins
            assert count_exchanges(df) == 2, plan
            unbucketed = (
                orders.join(customer, "c_custkey")
                .groupBy("c_nationkey")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            assert count_exchanges(unbucketed) >= 3  # 2 join + 1 agg
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        drop_table(spark, "orders_bc")
        drop_table(spark, "customer_bc")


def test_cdc_compaction_is_partial_agg_not_window(spark):
    # latest-row-wins via max(struct): must partial-aggregate map-side
    # (one candidate per key per input partition) and must NOT plan a
    # Window sort over every historical version
    df = q("cdc_latest_compaction", spark)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert any("max" in f for f in partial_agg_functions(df)), partial_agg_functions(df)


def test_snapshot_diff_single_join_single_agg(spark):
    # key-diff = ONE full outer join + one 4-row aggregate; the v2
    # derivation must not add extra joins
    import re

    df = q("snapshot_diff", spark)
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    plan = formatted_plan(df)
    n_joins = len(re.findall(r"^\(\d+\) \w*Join", plan, flags=re.MULTILINE))
    assert n_joins == 1, (n_joins, strategies)


def test_tpch_q6_pushes_every_predicate_to_scan(spark):
    # the data-skipping benchmark query: date range, discount band, and
    # quantity cap must all reach the parquet scan as pushed filters
    df = q("tpch_q6", spark)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    # scalar aggregate: partial-agg'd, no shuffle beyond the final gather
    assert any("sum" in f for f in partial_agg_functions(df))


def test_tpch_q1_is_single_pass_partial_agg(spark):
    df = q("tpch_q1", spark)
    assert count_exchanges(df) <= 2  # agg + presentation sort
    assert any("sum" in f for f in partial_agg_functions(df))


def test_tpch_q3_topk_is_take_ordered(spark):
    df = q("tpch_q3", spark)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies  # customer side broadcasts


def test_tpch_q5_broadcasts_all_dims(spark):
    import re

    df = q("tpch_q5", spark)
    plan = formatted_plan(df)
    n_bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, flags=re.MULTILINE))
    assert n_bhj >= 4, plan  # customer, supplier, nation, region


def test_bigram_lm_is_narrow_build_with_broadcast_scoring(spark):
    # bigrams come from zipping the token array with its own tail IN-ROW
    # (no window, no self-join); the conditional LM broadcasts back onto
    # the pair stream for scoring
    df = q("bigram_cross_entropy", spark)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "CartesianProduct" not in join_strategies(df)


def test_cume_dist_single_shuffle_on_partition_key(spark):
    # one exchange for the window partition key; the banded rollup and
    # presentation sort reuse/follow it — no global sort of all orders
    df = q("cume_dist_price_bands", spark)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert count_exchanges(df) <= 3, plan


def test_weighted_sample_is_take_ordered_no_shuffle(spark):
    # priority is row-local; global top-k must be TakeOrderedAndProject
    # (per-task heap + driver merge), never a global sort of the corpus
    df = q("weighted_sample_topk", spark)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert count_exchanges(df) == 0, plan


def test_kmv_sketch_keeps_window_group_limit(spark):
    # rn <= k must plan WindowGroupLimit so each map task ships at most
    # k hashes per group — the property that makes the sketch mergeable
    df = q("kmv_distinct_sketch", spark)
    assert "WindowGroupLimit" in formatted_plan(df)


def test_skyline_prune_broadcasts_staircase_then_verifies(spark):
    # stage 1 joins the fact rows against the broadcast bucket staircase
    # (hash join); stage 2's dominance check is a broadcast nested loop
    # over the pruned candidates only — no shuffle of the full table for
    # either, and never a CartesianProduct
    df = q("skyline_pareto", spark)
    js = join_strategies(df)
    assert "BroadcastHashJoin" in js
    assert "BroadcastNestedLoopJoin" in js
    assert "CartesianProduct" not in js


def test_assoc_rules_broadcasts_dims(spark):
    # part dim and the item-count sides broadcast; the only shuffle-heavy
    # stage is the basket self-join on the basket key
    df = q("assoc_rules_lift", spark)
    js = join_strategies(df)
    assert "BroadcastHashJoin" in js
    assert "CartesianProduct" not in js


def test_pagerank_iterations_broadcast_rank_vector(spark):
    # each iteration joins the 25-row rank vector against the transition
    # matrix — must be broadcast, never a shuffle join per iteration
    df = q("pagerank_nation_trade", spark)
    js = join_strategies(df)
    assert "BroadcastHashJoin" in js
    assert "CartesianProduct" not in js


def test_token_pmi_topk_is_take_ordered_with_broadcast_lm(spark):
    df = q("token_pmi_topk", spark)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in join_strategies(df)


def test_range_interval_window_single_partition_shuffle(spark):
    # one exchange for the user_id window partition; presentation sort
    # may add a range partitioning — nothing else
    df = q("range_interval_window", spark)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert count_exchanges(df) <= 2, plan


def test_interval_concurrency_stays_hash_join_no_cartesian(spark):
    # the union+window sweep runs BEFORE an eager localCheckpoint (it
    # feeds two consumers), so the visible plan starts at the
    # checkpointed RDD scan; what remains pinnable is the peak join
    df = q("interval_concurrency_peak", spark)
    plan = formatted_plan(df)
    assert "ExistingRDD" in plan or "Scan" in plan
    assert "CartesianProduct" not in join_strategies(df)


def test_cusum_daily_agg_is_partial(spark):
    # the raw-events aggregation must be map-side partial; the windows
    # after it run over driver-sized post-agg cardinality
    df = q("cusum_changepoint", spark)
    assert partial_agg_functions(df), formatted_plan(df)


def test_column_profile_is_single_scan(spark):
    # one parquet scan feeds every per-column statistic (Expand handles
    # the multi-distinct); the oracle's UNION ALL re-scan is the contrast
    df = q("column_profile", spark)
    assert len(read_schemas(df)) == 1
    assert "Expand" in formatted_plan(df)


def test_seasonal_anomaly_scores_on_aggregated_cells(spark):
    # the hourly cells are partial-agg'd in one pass; the baseline is a
    # window over those cells (not a self-join, which would recompute
    # the cell aggregate) — raw events are scanned exactly once
    df = q("seasonal_baseline_anomaly", spark)
    plan = formatted_plan(df)
    assert partial_agg_functions(df)
    assert "Window" in plan
    assert not join_strategies(df), plan
    assert len(read_schemas(df)) == 1


def test_inverted_index_truncates_postings_map_side(spark):
    # the per-token posting cut (rn <= N) must plan WindowGroupLimit so
    # hot tokens can't flood a reducer
    df = q("inverted_index_topk", spark)
    assert "WindowGroupLimit" in formatted_plan(df)


def test_mode_per_group_windows_over_aggregated_cells(spark):
    # count shuffle on (group, value); rank/total windows run on the
    # aggregated cells, not raw rows
    df = q("mode_per_group", spark)
    assert partial_agg_functions(df)
    assert "Window" in formatted_plan(df)


def test_gaps_islands_partitions_on_user_only(spark):
    # distinct, rank, island aggregation, and peak window all partition
    # on user_id — no global window, no join
    df = q("gaps_islands_streaks", spark)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert not join_strategies(df), plan


def test_skew_diagnosis_counts_are_partial_agged(spark):
    # the per-key count (the shuffle being diagnosed) must partial-agg
    # map-side; everything after runs on the aggregated key table
    df = q("skew_diagnosis_gini", spark)
    assert "count" in partial_agg_functions(df)


def test_time_weighted_avg_single_type_shuffle(spark):
    # LEAD window and the rollup share the event_type key — one
    # partition shuffle feeds both
    df = q("time_weighted_avg", spark)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert count_exchanges(df) <= 2, plan


def test_path_regex_builds_strings_in_one_user_shuffle(spark):
    # symbol strings assemble via sorted in-row arrays after ONE user_id
    # shuffle; the regex is row-local; no joins anywhere
    df = q("path_regex_match", spark)
    assert not join_strategies(df), formatted_plan(df)


def test_fd_discovery_is_single_scan_expand(spark):
    # all pairwise distinct counts come from one scan through Expand —
    # the single-pass claim the oracle's per-pair rescans contrast with
    df = q("fd_discovery", spark)
    assert len(read_schemas(df)) == 1
    assert "Expand" in formatted_plan(df)


def test_benford_digit_agg_is_partial_with_broadcast_total(spark):
    # digit extraction is row-local; the 9-row aggregate partial-aggs
    # map-side and the scalar total broadcasts back
    df = q("benford_law_check", spark)
    assert partial_agg_functions(df)
    assert "CartesianProduct" not in join_strategies(df)


def test_mann_kendall_quadratic_runs_post_agg_only(spark):
    # the O(n^2) pair join consumes the DAILY aggregate (days x days),
    # never raw events — the pre-aggregation must be partial
    df = q("mann_kendall_trend", spark)
    assert partial_agg_functions(df)


def test_rolling_correlation_windows_over_daily_cells(spark):
    # conditional rollup first, CORR window second — the frame runs
    # over #days rows, and the raw scan happens exactly once
    df = q("rolling_correlation", spark)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert len(read_schemas(df)) == 1


def test_kmv_join_ksmall_is_take_ordered(spark):
    # the merged sketch's k-set comes from orderBy().limit(k) — Spark
    # plans TakeOrderedAndProject (per-task heap), never a global
    # ranking window that would funnel every distinct hash. The op
    # checkpoints the k-set before its two consumers, so pin the plan
    # of the k-set fragment itself and the absence of Window downstream.
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )

    ev = load(spark, SF_SMOKE, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    un = (
        ev.filter(F.col("event_type") == "view").select(h.alias("h")).distinct()
        .union(
            ev.filter(F.col("event_type") == "purchase")
            .select(h.alias("h"))
            .distinct()
        )
        .distinct()
    )
    assert "TakeOrderedAndProject" in formatted_plan(un.orderBy("h").limit(64))
    assert "Window" not in formatted_plan(q("kmv_join_cardinality", spark))


def test_inverted_index_top_tokens_take_ordered(spark):
    df = q("inverted_index_topk", spark)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_wav_decode_is_shuffle_free_map(spark):
    # Arrow-batched mapInPandas over the corpus; the only exchange is
    # the presentation sort
    df = q("multimodal_wav_decode", spark)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert count_exchanges(df) <= 1, plan


def test_decode_dispatch_is_chained_maps_no_shuffle(spark):
    # mixed-corpus encode → magic-dispatch decode: two chained
    # Arrow-batched MapInPandas stages in one pipeline, no shuffle but
    # the presentation sort, scan pruned to (doc_id, text)
    df = q("multimodal_decode_dispatch", spark)
    plan = formatted_plan(df)
    import re

    # formatted output lists each node once in the tree and once in the
    # details section — count the numbered detail headers
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2, plan
    assert count_exchanges(df) <= 1, plan
    (cols,) = read_schemas(df)
    assert cols == ["doc_id", "text"]


def test_hot_shingle_cap_is_window_count_filter(spark):
    # the DF cap is a COUNT window over (lang, sh) + filter: it rides
    # the exact shuffle keys the self-join needs (measured free at
    # sf0.1), streams the count (no per-key memory), and drops a
    # degenerate hot key after O(k) window work instead of k² join
    # work. A refactor to a separate groupBy + join pass costs a full
    # extra traversal of the index (measured +0.8 s at sf0.1).
    import re

    plan = formatted_plan(q("dedup_ngram_jaccard", spark))
    assert re.search(r"\(\d+\) Window", plan), plan
    assert "__df" in plan, plan
    # and the candidate join must still be an equi-join on the shingle
    strategies = join_strategies(q("dedup_ngram_jaccard", spark))
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_zorder_interleave_is_rowlocal_single_shuffle(spark):
    # the Morton interleave is codegen'd shift/mask arithmetic; the only
    # exchanges are the z-range aggregate + presentation sort
    df = q("zorder_interleave", spark)
    assert partial_agg_functions(df)
    assert count_exchanges(df) <= 2, formatted_plan(df)
    assert not join_strategies(df)


def test_attribution_pairing_is_equi_join_on_user(spark):
    # conversion x touch pairing must be an equi-join on user_id with
    # the time band as a residual predicate — never a cross product
    df = q("attribution_position_based", spark)
    js = join_strategies(df)
    assert js and "CartesianProduct" not in js and "BroadcastNestedLoopJoin" not in js
    plan = formatted_plan(df)
    assert "Window" in plan


def test_countmin_grid_is_partial_agg_and_broadcast_probe(spark):
    # the counter grid is a bounded-size partial-agg'd aggregate; probes
    # equi-join it broadcast — never a shuffle of the probe stream
    df = q("countmin_estimate", spark)
    assert partial_agg_functions(df)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_theil_sen_pairs_run_post_agg(spark):
    # pairwise slopes join the DAILY aggregate with itself — the raw
    # scan collapses first (partial agg), quadratic work is post-agg
    df = q("theil_sen_slope", spark)
    assert partial_agg_functions(df)


def test_bootstrap_replicas_expand_in_row(spark):
    # replica membership is an in-row filtered sequence + explode — one
    # scan, no self-join, one aggregate shuffle keyed by replica
    df = q("bootstrap_mean_ci", spark)
    plan = formatted_plan(df)
    assert "Generate" in plan
    assert len(read_schemas(df)) <= 2  # replica pass + full-mean pass
    assert "CartesianProduct" not in join_strategies(df)


def test_encoding_run_stats_single_scan(spark):
    df = q("encoding_run_stats", spark)
    assert len(read_schemas(df)) == 1
    assert "Window" in formatted_plan(df)


def test_abtest_is_two_level_aggregate_no_join_heavy(spark):
    # scan -> per-user agg -> arm rollup -> scalar math; the only join
    # is the broadcast of the 1-row corpus totals
    df = q("abtest_proportions_ztest", spark)
    assert partial_agg_functions(df)
    assert "CartesianProduct" not in join_strategies(df)


def test_km_survival_windows_run_on_duration_table(spark):
    # the duration table is grouped before any window; survival windows
    # never see raw events
    df = q("km_survival_estimate", spark)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert partial_agg_functions(df)


def test_split_leakage_ngram_is_equi_semi_join_no_pairs(spark):
    """VERDICT r9 item 4 plan pin: the cross-split shingle audit must be
    an EQUI join on the shingle hash (semi against the distinct train
    shingle set — no train×test pair materialization), never a nested
    loop; and the hot-shingle DF cap's window must not add an exchange
    beyond the join's own hash-partitioning (exchange reuse on `h`)."""
    df = q("split_leakage_ngram", spark)
    plan = formatted_plan(df)
    js = join_strategies(df)
    assert "CartesianProduct" not in js and "BroadcastNestedLoopJoin" not in js
    assert "LeftSemi" in plan
    # window (cap) + semi-join + per-doc agg + per-source agg + sort +
    # the left join back onto test docs — a bounded exchange count keeps
    # a refactor from quietly inserting a pair-materializing shuffle
    assert count_exchanges(df) <= 7, count_exchanges(df)


def test_video_frame_sample_is_map_with_bounded_fanout(spark):
    # Y4M encode → parse → frame-sample rides one Arrow-batched
    # mapInPandas; the only exchanges are the measured single-split
    # spread() fan-out (a no-op to drop at production split counts)
    # and the presentation sort, and the scan prunes to (doc_id, text)
    df = q("video_frame_sample", spark)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert count_exchanges(df) <= 2, plan
    (cols,) = read_schemas(df)
    assert cols == ["doc_id", "text"]


def test_banded_probe_mode_is_equi_join_with_broadcast_cap(spark):
    """r11 probe-mode plan pin: the incremental near-dup join (the
    per-micro-batch shape streaming_neardup_probe replays) must stay an
    EQUI join on (bk, band_key) — never a probe×store cartesian — with
    the store-side hot-bucket cap as a BROADCAST join, exactly like the
    self-join mode the other three modalities pin above."""
    from pyspark.sql import functions as F

    docs = registry.load(spark, SF_SMOKE, "documents")
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        simhash_sig,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _store_pred,
    )

    store = simhash_sig(docs.filter(_store_pred(F.col("source"))), spark)
    probe = simhash_sig(docs.filter(~_store_pred(F.col("source"))), spark)
    df = dedup._banded_hamming_pairs(store, probe=probe)
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "BroadcastHashJoin" in strategies  # the store-side cap
    assert strategies, "probe mode lost its join"


def test_maintained_store_probe_is_equi_join_with_broadcast_cap(spark, tmp_path):
    """r12 maintained-store plan pin (whole-batch form): the micro-batch
    probes the persisted banded store in ONE join — an EQUI join on
    (bk, band_key) with the source ordering as a post-join predicate,
    never a probe x store cartesian — and the per-state cap table
    (bounded at |batch sources| x bands x 2^band_bits rows whatever the
    corpus size) applies as a BROADCAST join. The store arrives
    PRE-BANDED from parquet: no re-explode, band-row read schema."""
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _banded_prefix_pairs,
        _bands_with_src,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _STORE_BANDS_SCHEMA,
        _init_store_bands_dir,
        _store_pred,
        _src_num,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        simhash_sig,
    )

    store_dir = _init_store_bands_dir(spark, SF_SMOKE)
    docs = registry.load(spark, SF_SMOKE, "documents")
    batch_docs = docs.filter(~_store_pred(F.col("source"))).select(
        "doc_id", "text", _src_num(F.col("source")).alias("src")
    )
    batch_bands = _bands_with_src(simhash_sig(batch_docs, spark), batch_docs)
    store = (
        spark.read.schema(_STORE_BANDS_SCHEMA)
        .parquet(store_dir)
        .filter(F.col("src") < 10)
        .distinct()
    )
    df = _banded_prefix_pairs(batch_bands, store)
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "BroadcastHashJoin" in strategies  # the per-state cap
    plan = formatted_plan(df)
    # the store arrives pre-banded: the probe side is the ONLY simhash
    # pipeline in the plan (one Arrow tally node — the union's lazy
    # checkpoint surfaces the store as an RDD scan, so ReadSchema
    # pruning is asserted on the documents side instead). r17: the
    # tally rides mapInArrow (flattened-buffer vectorization), so the
    # node is MapInArrow now.
    assert plan.count("MapInArrow (") == 1, plan
    # per-state cap = one windowed running sum, no state-expansion join
    assert "Window" in plan
    assert any(cols == ["doc_id", "text", "source"] for cols in read_schemas(df))


def test_store_compaction_plan_is_scan_distinct_no_join(spark):
    """r13 compaction plan pin: the OPTIMIZE rewrite is one parquet
    scan -> partial/final hash-aggregate distinct on the five band-row
    columns -> write. No join of any strategy, exactly one exchange
    (the distinct's hash repartition) — compaction cost is linear in
    the store at any corpus size."""
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _STORE_BANDS_SCHEMA,
        _init_store_bands_dir,
    )

    store_dir = _init_store_bands_dir(spark, SF_SMOKE)
    df = spark.read.schema(_STORE_BANDS_SCHEMA).parquet(store_dir).distinct()
    assert join_strategies(df) == []
    assert count_exchanges(df) == 1
    plan = formatted_plan(df)
    assert "HashAggregate" in plan


def test_pq_topk_plan_is_narrow_encode_broadcast_scan(spark):
    """r13 PQ plan pin: the codebooks fold into the row expression, so
    encoding is NARROW (no join before the ADC pair scan); the pair
    scan is ONE BroadcastNestedLoopJoin with the tiny query set
    broadcast — the same deliberate shape as the exact baseline
    (10 rows x linear CODE-table stream, never a shuffled product) —
    and the exact refine re-attaches raw vectors to the shortlist via
    broadcast hash joins only (the review-caught draft scored exact
    cosine for EVERY pair before the cut)."""
    df = similarity.similarity_pq_topk(spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastNestedLoopJoin") == 1
    assert set(strategies) == {"BroadcastNestedLoopJoin", "BroadcastHashJoin"}
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ivf_pq_topk_plan_is_cell_pruned_hash_join_only(spark):
    """r14 composed IVF-ADC plan pin: unlike the flat PQ op's
    deliberate full-corpus BroadcastNestedLoopJoin stream, the composed
    serve path's ADC scan must be a broadcast HASH join ON THE CELL KEY
    — scored rows bounded by probed-cell membership, not the corpus —
    and the only other joins are the refine step's two broadcast hash
    point-lookups. No BNLJ, no cartesian, no shuffle join anywhere:
    at 100 TB the probe is a partition-pruned scan of a cell-partitioned
    9-byte-per-vector code table."""
    import re

    df = similarity.similarity_ivf_pq_topk(spark, SF_SMOKE)
    assert join_strategies(df) == ["BroadcastHashJoin"]
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # ≥1 broadcast hash join KEYED ON THE COARSE CELL (the pruning
    # key, not vec_id). No exact join count: with the negatives above,
    # the cell key catches every real regression without pinning
    # plan-text details that drift across Spark/AQE versions.
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 1
    assert re.search(r"Left keys \[1\]: \[cell#\d+\]", plan), plan


def test_ivf_pq_index_on_disk_probe_is_partition_pruned(spark, tmp_path):
    """Substantiates the claim in similarity_ivf_pq_topk's docstring
    (r14): "on disk this table is partitioned BY cell so a probe is a
    partition-pruned scan". Materialize the (vec_id, cell, code0..7)
    index the op builds, partitioned by cell, and pin that a probe of
    N_PROBE cells plans PartitionFilters on the cell key — Spark never
    opens the unprobed cells' files. At 100 TB this is the difference
    between scanning nprobe/cells of an 8-byte-per-vector code table
    and scanning all of it."""
    import re

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        similarity as S,
    )
    from pyspark.sql import functions as F

    e = S._emb(spark, SF_SMOKE)
    arr = S._cent_array_sql(
        S._fit_cached(spark, SF_SMOKE, S.N_IVF_CELLS, S._IVF_ITERS, S._IVF_SAMPLE_HEX)
    )
    arrs = [S._cent_array_sql(b) for b in S._pq_codebooks(spark, SF_SMOKE)]
    sl = S._pq_slice_proj(e, extra=("v",)).withColumn(
        "__vv", F.expr(S._dot_sql("v", "v"))
    )
    enc = sl.select(
        "vec_id",
        S._best_cell("v", "__vv", arr)["cell"].alias("cell"),
        *[
            S._best_cell(f"s{m}", f"vv{m}", arrs[m])["cell"].alias(f"code{m}")
            for m in range(S._PQ_M)
        ],
    )
    idx_dir = str(tmp_path / "ivf_pq_index")
    enc.write.partitionBy("cell").parquet(idx_dir)

    probed = list(range(S.N_PROBE))  # any N_PROBE-cell probe list
    scan = spark.read.parquet(idx_dir).filter(F.col("cell").isin(probed))
    plan = formatted_plan(scan)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan  # pruning reached the scan
    # the pruned scan returns exactly the probed cells' members — and
    # the data files carry only the 9 narrow index columns, no vectors
    on_disk = spark.read.parquet(idx_dir)
    assert set(on_disk.columns) == {"vec_id", "cell"} | {
        f"code{m}" for m in range(S._PQ_M)
    }
    want = {r.vec_id for r in enc.filter(F.col("cell").isin(probed)).collect()}
    assert {r.vec_id for r in scan.collect()} == want and want


def test_ivf_pq_residual_plan_matches_composed_serve_shape(spark):
    """r14 residual-IVFADC plan pin: the residual encoding must not
    change the serve plan — still exactly three broadcast hash joins
    (ADC-on-cell + the refine's two point-lookups), keyed on the cell
    pruning key, no BNLJ/cartesian/shuffle join; the residual
    subtraction is a narrow zip_with over a literal centroid lookup,
    visible as zero extra joins."""
    import re

    df = similarity.similarity_ivf_pq_residual_topk(spark, SF_SMOKE)
    assert join_strategies(df) == ["BroadcastHashJoin"]
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # ≥1 cell-keyed broadcast hash join (see the composed-op test)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 1
    assert re.search(r"Left keys \[1\]: \[cell#\d+\]", plan), plan


def test_bpe_train_round_plan_is_single_shuffle_over_cached_vocab(spark):
    """BPE-trainer plan pin: each training
    round's pair-count statistic must be (a) ONE partial-aggregated
    count shuffle — the map-side combine is what keeps shuffle volume
    at |distinct pairs|, not |vocab| — and (b) computed over the CACHED
    vocab table, never a corpus re-scan: after round 0 the corpus
    parquet must not appear in any round's plan (the occurrence→
    type-space collapse happens exactly once)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    cur = (
        T._word_freq(spark, SF_SMOKE)
        .select(T._bpe_symbolize(F.col("w")).alias("s"), "wn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        cur.count()  # materialize round 0, as _bpe_train_rules does
        round_stat = T._bpe_round_pairs(cur)
        assert "sum" in partial_agg_functions(round_stat)
        assert join_strategies(round_stat) == []
        plan = formatted_plan(round_stat)
        # the explain text embeds the cached relation's ONE-TIME build
        # plan (where the corpus scan and its exchange legitimately
        # live) — the round's own work is everything above it
        own, sep, _cached_build = plan.partition("InMemoryRelation")
        assert sep, plan
        assert "InMemoryTableScan" in own  # reads the cached vocab…
        assert "Scan parquet" not in own  # …never the corpus again
        assert own.count("Exchange") == 1  # ONE count shuffle per round
    finally:
        cur.unpersist()


def test_bpe_encode_corpus_plan_is_joinless_literal_fold(spark):
    """r15 encoder plan pin: the learned merge rules apply as LITERALS
    folded into one codegen'd expression chain — the plan has ZERO
    joins of any strategy (the rule table is a driver-scale artifact,
    like the k-means centroid literals), exactly one corpus scan
    pruned to the two consumed columns, and three exchanges total:
    the per-source word hash-agg (the only corpus-sized shuffle), the
    tiny per-source stats agg, and the final sort."""
    import re

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )

    df = T.bpe_encode_corpus(spark, SF_SMOKE)
    assert join_strategies(df) == []
    assert count_exchanges(df) == 3
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    (cols,) = read_schemas(df)
    assert sorted(cols) == ["source", "text"]


def test_bpe_vocab_topk_plan_is_joinless_topk(spark):
    """r15 vocab-artifact plan pin: same discipline as the encoder —
    rules as literals (zero joins), one pruned corpus scan, and the
    top-k compiles to TakeOrderedAndProject (per-partition top-k +
    driver merge), never a global sort exchange."""
    import re

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )

    df = T.bpe_vocab_topk(spark, SF_SMOKE)
    assert join_strategies(df) == []
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert count_exchanges(df) == 2  # word hash-agg + symbol hash-agg


def _serve_tree(plan: str) -> str:
    """The physical-plan TREE with every cached-rebuild subtree nested
    under an InMemoryRelation removed — i.e. only the nodes that
    actually EXECUTE when the persisted input is cached. persist()
    keeps the full rebuild lineage visible inside InMemoryRelation
    (unlike localCheckpoint, which truncates it), so pins about "what
    the serve path does" must exclude that fallback lineage or they
    re-assert the build plan instead (r16: the tercile pin broke
    exactly this way when the histogram moved checkpoint→persist).

    Extraction keys on node NUMBERS, not indentation (InMemoryRelation
    renders its cached plan at inconsistent indent): each cached block
    is rooted at an inner ``AdaptiveSparkPlan (N)`` line directly
    under an InMemoryRelation, and every cached node is numbered ≤ N;
    the outer tree resumes at the first line numbered > N."""
    import re

    tree = plan.split("== Physical Plan ==")[-1]
    out: list[str] = []
    pending = False  # just saw InMemoryRelation, inner root expected
    cache_root: int | None = None
    for ln in tree.splitlines():
        if ln.strip() == "" and out:
            break  # end of tree section, node details follow
        m = re.search(r"\((\d+)\)\s*$", ln) or re.search(r"\((\d+)\),", ln)
        num = int(m.group(1)) if m else None
        if cache_root is not None:
            if num is not None and num > cache_root:
                cache_root = None  # outer tree resumed
            else:
                continue
        if pending:
            pending = False
            rm = re.search(r"AdaptiveSparkPlan \((\d+)\)", ln)
            if rm:
                cache_root = int(rm.group(1))
                continue
        if "InMemoryRelation" in ln:
            pending = True
            continue
        out.append(ln)
    return "\n".join(out)


def test_perplexity_tercile_plan_thresholds_broadcast_no_doc_sort(spark):
    """r15 curation-split plan pin, updated for the r16
    checkpoint→persist migration: the serve path reads the MATERIALIZED
    histogram (InMemoryTableScan), the per-source threshold table
    applies back as a broadcast hash join (sources-bounded), and there
    is NO per-source sort of documents anywhere — the only windows run
    over the (source, rounded-score) HISTOGRAM. No cartesian, no
    sort-merge, no BNLJ, and no parquet scan ON THE SERVE PATH (the
    rebuild lineage retained inside InMemoryRelation legitimately
    contains the corpus scan and the 1-row LM-total scalar cross —
    that is the build plan, pinned separately via _tercile_xe)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )

    df = T.perplexity_tercile_split(spark, SF_SMOKE)
    assert "CartesianProduct" not in join_strategies(df)
    serve = _serve_tree(formatted_plan(df))
    assert "InMemoryTableScan" in serve  # reads the persisted histogram
    assert "BroadcastHashJoin" in serve  # the threshold join-back
    assert "SortMergeJoin" not in serve
    assert "BroadcastNestedLoopJoin" not in serve
    assert "Window" in serve  # the histogram running count
    # the corpus pipeline is NOT on the serve path — the serve plan
    # reads the materialized histogram, never the parquet (the
    # scan/pruning/LM shape is pinned through the scoring helper
    # below, which the op shares with unigram_cross_entropy)
    assert "Scan parquet" not in serve
    # …so pin the pre-checkpoint stage through the op's own factored
    # helper: scoring + the doc_id join-back of (source, n_chars) —
    # no cartesian, and every scan pruned to the consumed columns
    stage = T._tercile_xe(spark, SF_SMOKE)
    assert "CartesianProduct" not in join_strategies(stage)
    for cols in read_schemas(stage):
        assert set(cols) <= {"doc_id", "text", "source", "n_chars"}


def test_tpch_q2_semi_prunes_then_window_min(spark):
    # the correlated scalar-subquery MIN decorrelates to a MIN WINDOW
    # over the dimension-bounded pair table (NOT a min aggregate
    # broadcast-joined back — that form references the pair subtree
    # twice and Catalyst executes the fact scan twice, the r5b
    # gotcha), BOTH dimension filters semi-prune the single fact scan
    # BEFORE the pair aggregate (the r16 follow-up: aggregating all
    # pairs first shuffled the whole fact table for a ~0.6% survivor
    # set), and the dims broadcast — never a cartesian
    df = q("tpch_q2", spark)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan  # the per-part min, one linear plan
    js = join_strategies(df)
    assert "BroadcastHashJoin" in js
    assert "CartesianProduct" not in js
    assert plan.count("LeftSemi") >= 2, plan  # part + supplier prunes
    assert plan.count("lineitem.parquet") == 1, plan
    # the (part, supplier) cost build is partial-aggregated
    assert any("min" in f for f in partial_agg_functions(df))


def test_tpch_q4_exists_is_left_semi(spark):
    # EXISTS must plan as a semi join (each order counted once however
    # many problem lines match) — never inner-join + distinct
    df = q("tpch_q4", spark)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in join_strategies(df)
    # the quarter filter reaches the orders scan
    assert "o_orderdate" in " ".join(pushed_filters(df))


def test_tpch_q9_like_filter_broadcasts_into_fact_scan(spark):
    # the LIKE-filtered part dim, supplier, and nation all broadcast;
    # lineitem⋈orders is the only shuffled join
    import re

    df = q("tpch_q9", spark)
    plan = formatted_plan(df)
    n_bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, flags=re.MULTILINE))
    assert n_bhj >= 3, plan
    assert "CartesianProduct" not in join_strategies(df)
    # the p_name contains-filter prunes the broadcast side
    assert "Contains(p_name,widget)" in " ".join(pushed_filters(df))


def test_tpch_q11_threshold_is_scalar_broadcast(spark):
    # the global-share threshold is ONE row joined back as a broadcast
    # (nested-loop on a 1-row side is fine; a cartesian of two big
    # sides is not) — and the value table is built by partial agg
    df = q("tpch_q11", spark)
    js = join_strategies(df)
    assert "CartesianProduct" not in js
    assert any("sum" in f for f in partial_agg_functions(df))


def test_tpch_q12_single_join_single_agg_pass(spark):
    # both CASE counters come out of ONE aggregate pass over ONE join
    # — no pivot shuffle, no second scan; flag+date filters pushed
    df = q("tpch_q12", spark)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf and "l_returnflag" in pf
    assert count_exchanges(df) <= 3, formatted_plan(df)


def test_tpch_q16_not_in_is_broadcast_left_anti(spark):
    # NOT IN over the non-null supplier key must plan as a broadcast
    # LEFT ANTI — the fact table is never shuffled for the exclusion
    df = q("tpch_q16", spark)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    js = join_strategies(df)
    assert "BroadcastHashJoin" in js
    assert "CartesianProduct" not in js


def test_tpch_q20_nested_in_chain_is_semi_ladder(spark):
    # both IN levels must be semi joins (part list pruning the fact
    # scan BEFORE the pair aggregate; the qualifying-supplier list as
    # the final broadcast semi) and the correlated threshold must NOT
    # add a second scan of lineitem — one fact scan total
    df = q("tpch_q20", spark)
    plan = formatted_plan(df)
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in join_strategies(df)
    assert plan.count("lineitem.parquet") == 1, plan


def test_tpch_q21_multi_exists_is_semi_plus_anti(spark):
    # the EXISTS decorrelates to LEFT SEMI, the NOT EXISTS to LEFT
    # ANTI, both on orderkey with the suppkey inequality as residual —
    # never a DISTINCT rewrite, never a cartesian
    df = q("tpch_q21", spark)
    plan = formatted_plan(df)
    assert plan.count("LeftSemi") >= 2  # orders-status check + l2
    assert "LeftAnti" in plan
    js = join_strategies(df)
    assert "BroadcastHashJoin" in js  # the ASIA supplier dim
    assert "CartesianProduct" not in js


def test_no_registered_query_plans_a_cartesian_product(spark):
    """Registry-wide blanket pin (r16): NO registered operator may plan
    a CartesianProduct at any point — every pairwise shape in the repo
    is banded/blocked/broadcast by design, and a refactor that silently
    degrades a join condition into a cross product is exactly the class
    of scale-killer a per-op pin can miss (this sweep builds every registered
    plan — 201 as of r16 — in ~2 min at the smoke SF; 1-row scalar crosses legitimately
    plan as BroadcastNestedLoopJoin, which individual per-op pins
    police where it matters — CartesianProduct is the never-acceptable
    strategy because it means BOTH sides were too big to broadcast)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        registry,
    )

    offenders = []
    for name, rq in registry.REGISTRY.items():
        if "CartesianProduct" in formatted_plan(rq.fn(spark, SF_SMOKE)):
            offenders.append(name)
    assert not offenders, f"cartesian plans: {offenders}"


def test_minhash_calibration_reuses_banded_machinery(spark):
    # the calibration op must pay the SAME plan costs as the near-dup
    # op it calibrates: banded equi-join candidates (never a cartesian
    # or an all-pairs BNLJ), broadcast hot-bucket cap, and a final
    # partial-aggregated rollup of at most N_MINHASH+1 rows
    df = q("minhash_jaccard_calibration", spark)
    js = join_strategies(df)
    assert "CartesianProduct" not in js
    assert "BroadcastNestedLoopJoin" not in js
    assert "BroadcastHashJoin" in js  # the hot-bucket cap join
    assert any("avg" in f or "count" in f for f in partial_agg_functions(df))


def test_incremental_agg_update_merges_two_partial_aggs(spark):
    # base and delta roll up separately (each partial-aggregated) and
    # merge in a second aggregation over their union; no shuffled join
    import re

    df = q("incremental_agg_update", spark)
    plan = formatted_plan(df)
    assert re.search(r"^\(\d+\) Union", plan, flags=re.MULTILINE), plan
    assert not {"SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"} & set(
        join_strategies(df)
    )
    assert partial_agg_functions(df)


def test_tpch_q8_broadcasts_every_dim_in_one_agg_pass(spark):
    # eight tables (nation twice under two roles): every dimension
    # broadcast; market share is one conditional-sum aggregate, so the
    # only exchanges are the aggregate's and the presentation sort's
    import re

    df = q("tpch_q8", spark)
    plan = formatted_plan(df)
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}, join_strategies(df)
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, flags=re.MULTILINE)) == 7
    assert count_exchanges(df) == 2, plan
