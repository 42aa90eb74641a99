"""Scale-pattern utilities: salted aggregation must be lossless, and
bucketed tables must actually eliminate the join shuffle (plan-level
proof, not vibes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import load
from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.skew import (
    salted_group_agg,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.plans import (
    count_exchanges,
    final_plan,
    formatted_plan,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.sources.bucketed import (
    drop_table,
    write_bucketed,
)
from conftest import SF_SMOKE


def test_salted_agg_equals_direct_agg(spark):
    ev = load(spark, SF_SMOKE, "events")
    direct = {
        tuple(r[:1]): (r.n, round(r.avg_value, 9), round(r.sum_value, 6), r.min_value)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("event_id").alias("n"),
            F.avg("value").alias("avg_value"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
        )
        .collect()
    }
    salted = {
        tuple(r[:1]): (r.n, round(r.avg_value, 9), round(r.sum_value, 6), r.min_value)
        for r in salted_group_agg(
            ev,
            ["event_type"],
            {
                "n": ("count", "event_id"),
                "avg_value": ("avg", "value"),
                "sum_value": ("sum", "value"),
                "min_value": ("min", "value"),
            },
            n_salt=8,
        ).collect()
    }
    assert salted == direct and len(direct) > 0


def test_salted_agg_rejects_non_decomposable(spark):
    ev = load(spark, SF_SMOKE, "events")
    with pytest.raises(ValueError):
        salted_group_agg(ev, ["event_type"], {"m": ("median", "value")})


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The session enables AQE skew-join; prove it actually fires: a
    join whose left side is 95% one key must show SortMergeJoin(skew=
    true) in the POST-execution plan (runtime re-plan, not a static
    property)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("r")
        )
        j = left.join(right, "k")
        j.collect()  # AQE re-plans during execution
        plan = final_plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_scaled_record_id_equals_window_mode(spark):
    """The two-phase partition-offset Record_ID (no global funnel) must
    assign exactly the ids the unpartitioned row_number would."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.record_id import (
        with_record_id,
    )

    ev = load(spark, SF_SMOKE, "events").select("event_id", "ts", "user_id")
    order = ["user_id", "ts", "event_id"]  # unique → deterministic ids
    window_ids = {
        r.event_id: r.rid
        for r in with_record_id(ev, order, id_col="rid", mode="window").collect()
    }
    scaled_ids = {
        r.event_id: r.rid
        for r in with_record_id(ev, order, id_col="rid", mode="scaled").collect()
    }
    assert scaled_ids == window_ids and len(window_ids) > 0


def test_bucketed_join_eliminates_shuffle_and_sort(spark, tmp_path):
    orders = load(spark, SF_SMOKE, "orders")
    lineitem = load(spark, SF_SMOKE, "lineitem")
    try:
        write_bucketed(orders, "orders_b", str(tmp_path / "ob"), "o_orderkey")
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "lineitem_b",
            str(tmp_path / "lb"),
            "o_orderkey",
        )
        # force SMJ so the comparison is exchange-count, not strategy
        with_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        old = {k: spark.conf.get(k) for k in with_conf}
        for k, v in with_conf.items():
            spark.conf.set(k, v)
        try:
            bucketed = spark.table("orders_b").join(
                spark.table("lineitem_b"), "o_orderkey"
            )
            unbucketed = orders.join(
                lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
            )
            assert count_exchanges(bucketed) == 0
            assert "SortMergeJoin" in formatted_plan(bucketed)
            assert count_exchanges(unbucketed) == 2
            # and the co-located join still returns the same rows
            assert bucketed.count() == unbucketed.count()
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        drop_table(spark, "orders_b")
        drop_table(spark, "lineitem_b")


def test_partitioned_layout_prunes_directories(spark, tmp_path):
    """A filter on the partition column must prune at the directory
    level (PartitionFilters), not run as a row-level residual —
    and read only the matching partition's files."""
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.plans import (
        formatted_plan,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.sources.partitioned import (
        read_partitioned,
        write_partitioned,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").withColumn(
        "month", F.month("o_orderdate")
    )
    path = str(tmp_path / "orders_by_month")
    write_partitioned(orders, path, "month")

    filtered = read_partitioned(spark, path).filter(F.col("month") == 3)
    plan = formatted_plan(filtered)
    part_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "month" in part_line and "3" in part_line

    # pruning is real: only month=3 rows come back, matching the source
    expected = orders.filter(F.col("month") == 3).count()
    assert expected > 0
    assert filtered.count() == expected


def test_range_sorted_layout_has_disjoint_file_ranges(spark, tmp_path):
    """write_range_sorted must produce files whose footer min/max
    intervals of the sort column are pairwise disjoint — the property
    that lets a selective scan skip every non-matching file — and a
    point-range read must return exactly the source rows."""
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.sources.sorted_layout import (
        file_column_ranges,
        read_layout,
        write_range_sorted,
    )

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    path = str(tmp_path / "li_sorted")
    write_range_sorted(li, path, "l_extendedprice", n_files=8)

    ranges = sorted(file_column_ranges(path, "l_extendedprice"))
    assert len(ranges) == 8
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, "file ranges overlap — no pruning possible"

    # correctness: a band filter over the layout returns the same rows
    lo, hi = ranges[3]
    got = read_layout(spark, path).filter(F.col("l_extendedprice").between(lo, hi)).count()
    want = li.filter(F.col("l_extendedprice").between(lo, hi)).count()
    assert got == want > 0


def test_bloom_prefilter_prunes_before_exact_join(spark):
    """The hand-built bitset must (a) never drop a true match — guaranteed
    by construction, proven here by the oracle-equal final result — and
    (b) actually prune: rows surviving the bloom alone sit strictly
    between the true semi-join count and the full scan count."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.joins import (
        _BLOOM_BITS,
        _BLOOM_SEEDS,
        _BLOOM_WORDS,
        _HIGH_VALUE,
    )

    li = load(spark, SF_SMOKE, "lineitem")
    o = load(spark, SF_SMOKE, "orders").filter(F.col("o_totalprice") > _HIGH_VALUE)
    keys = o.select(F.col("o_orderkey").alias("k"))
    pos_cols = [
        F.pmod(F.xxhash64(F.col("k"), F.lit(seed)), F.lit(_BLOOM_BITS))
        for seed in _BLOOM_SEEDS
    ]
    bloom = (
        keys.select(F.explode(F.array(*pos_cols)).alias("pos"))
        .agg(F.collect_set("pos").alias("ps"))
        .select(
            F.expr(
                f"""transform(sequence(0, {_BLOOM_WORDS - 1}),
                     w -> aggregate(filter(ps, p -> CAST(p / 64 AS INT) = w),
                                    0L, (acc, p) -> acc | shiftleft(1L, CAST(p % 64 AS INT))))"""
            ).alias("bf")
        )
    )
    probe = " AND ".join(
        f"""(element_at(bf, CAST(pmod(xxhash64(l_orderkey, {seed}), {_BLOOM_BITS}) / 64 AS INT) + 1)
             & shiftleft(1L, CAST(pmod(xxhash64(l_orderkey, {seed}), {_BLOOM_BITS}) % 64 AS INT))) != 0"""
        for seed in _BLOOM_SEEDS
    )
    n_full = li.count()
    n_bloomed = li.crossJoin(F.broadcast(bloom)).filter(probe).count()
    n_true = li.join(
        o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi"
    ).count()
    assert n_true <= n_bloomed, "bloom dropped a true match"
    assert n_bloomed < n_full * 0.5, (
        f"bloom barely pruned: {n_bloomed}/{n_full} survived"
    )
    # false-positive rate among true negatives stays in the designed band
    fp_rate = (n_bloomed - n_true) / max(n_full - n_true, 1)
    assert fp_rate < 0.10, f"false-positive rate {fp_rate:.3f} out of band"


def test_stratified_sample_is_deterministic_and_on_rate(spark):
    """Hash membership is a pure row function: rerunning yields the SAME
    rows (not just the same count), and per-stratum keep rates land
    within a loose binomial band of the configured rates."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.prep import (
        _STRATA_HEX,
        stratified_hash_sample,
    )

    r1 = {r.event_type: r for r in stratified_hash_sample(spark, SF_SMOKE).collect()}
    r2 = {r.event_type: r for r in stratified_hash_sample(spark, SF_SMOKE).collect()}
    assert {k: (v.n_sampled, v.sum_value) for k, v in r1.items()} == {
        k: (v.n_sampled, v.sum_value) for k, v in r2.items()
    }

    totals = {
        r.event_type: r.n
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for etype, (_, rate) in _STRATA_HEX.items():
        kept = r1[etype].n_sampled if etype in r1 else 0
        expected = totals[etype] * rate
        sigma = (totals[etype] * rate * (1 - rate)) ** 0.5
        assert abs(kept - expected) <= max(4 * sigma, 5), (
            f"{etype}: kept {kept}, expected ~{expected:.0f}±{sigma:.0f}"
        )


def test_heavy_hitter_candidates_cover_truth_under_any_partitioning(spark):
    # the two-pass output must be partitioning-independent: MG candidates
    # are a superset of the true heavy hitters no matter how rows land,
    # and the exact pass-2 threshold drops every false candidate
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.skew import (
        _HH_K,
        _HH_KEY_SQL,
        heavy_hitters_twopass,
    )

    expected = {
        (r.hk, r.n_events)
        for r in (
            load(spark, SF_SMOKE, "events")
            .select(F.expr(_HH_KEY_SQL).alias("hk"))
            .groupBy("hk")
            .count()
            .withColumnRenamed("count", "n_events")
            .crossJoin(
                load(spark, SF_SMOKE, "events").agg(F.count(F.lit(1)).alias("n"))
            )
            .filter(F.col("n_events") * _HH_K > F.col("n"))
            .select("hk", "n_events")
            .collect()
        )
    }
    got = {(r.hk, r.n_events) for r in heavy_hitters_twopass(spark, SF_SMOKE).collect()}
    assert got == expected and len(got) > 0


def test_misra_gries_fold_guarantee():
    # crafted stream: key 7 holds 40% — MG with capacity K must retain it
    # through any decrement storm from the long tail
    import pandas as pd

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.skew import (
        _misra_gries_candidates,
    )

    tail = [1000 + i for i in range(600)]  # 600 singleton keys
    stream = ([7] * 400) + tail
    # worst case: all heavy occurrences first, then the tail decrements
    out = list(_misra_gries_candidates([pd.DataFrame({"hk": stream})]))[0]
    assert 7 in set(out["hk"])


def test_spread_self_disables_on_already_parallel_input(spark):
    """spread() must add the keyed repartition ONLY when the input is
    under-split (the single-file testdata) and be a true no-op once the
    source already has enough partitions — the production layout."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        spread,
    )

    one = spark.range(0, 1000, 1, 1).withColumnRenamed("id", "k")
    widened = spread(one, "k", n=8)
    assert widened.rdd.getNumPartitions() == 8
    assert sorted(r.k for r in widened.collect()) == list(range(1000))

    many = spark.range(0, 1000, 1, 16).withColumnRenamed("id", "k")
    assert spread(many, "k", n=8) is many  # untouched, no shuffle added


def test_spread_probes_file_count_without_rdd_conversion(spark, tmp_path):
    """On scan-rooted input the split probe is inputFiles() — a multi-
    file source self-disables, the single-file driver layout widens
    (``rdd.getNumPartitions`` would force a physical planning pass
    inside every query build)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        spread,
    )

    many_dir = str(tmp_path / "many")
    spark.range(0, 1000, 1, 8).withColumnRenamed("id", "k").write.parquet(many_dir)
    many = spark.read.parquet(many_dir)
    assert len(many.inputFiles()) >= 8
    assert spread(many, "k", n=8) is many

    one_dir = str(tmp_path / "one")
    spark.range(0, 1000, 1, 1).withColumnRenamed("id", "k").write.parquet(one_dir)
    one = spark.read.parquet(one_dir)
    widened = spread(one, "k", n=8)
    assert widened is not one
    assert sorted(r.k for r in widened.collect()) == list(range(1000))
