"""Semantic property tests for the mining/sketch family — invariants the
DuckDB differential can't express (it replays the same formulas): sketch
error bounds, dominance properties, probability-mass conservation,
estimator sanity. Complements tests/test_oracle_parity.py the way
test_llm_ops.py does for the dedup/ANN family."""

from __future__ import annotations

import math

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
    REGISTRY,
)

from conftest import SF_CORRECT


def run(name, spark):
    return REGISTRY[name].fn(spark, SF_CORRECT).collect()


def test_kmv_estimate_within_sketch_error_bound(spark):
    # KMV standard error is ~1/sqrt(k-2); allow 5 sigma
    rows = run("kmv_distinct_sketch", spark)
    assert rows, "no groups"
    for r in rows:
        bound = 5.0 / math.sqrt(r["k"] - 2)
        assert abs(r["rel_err"]) <= bound, (r["event_type"], r["rel_err"], bound)


def test_kmv_join_cardinality_estimate_sane(spark):
    (r,) = run("kmv_join_cardinality", spark)
    assert r["exact_intersection"] >= 0
    # estimator must land within a generous multiplicative band of truth
    if r["exact_intersection"] > 0:
        ratio = r["est_intersection"] / r["exact_intersection"]
        assert 0.3 <= ratio <= 3.0, r


def test_skyline_members_are_mutually_nondominated(spark):
    rows = run("skyline_pareto", spark)
    assert rows, "empty skyline"
    pts = [(r["price"], r["size"]) for r in rows]
    for i, (p1, s1) in enumerate(pts):
        for j, (p2, s2) in enumerate(pts):
            if i == j:
                continue
            dominated = p2 <= p1 and s2 >= s1 and (p2 < p1 or s2 > s1)
            assert not dominated, (pts[i], pts[j])


def test_skyline_staircase_is_monotone(spark):
    # sorted by ascending price, sizes must strictly INCREASE — a more
    # expensive skyline member must win on the other axis, else the
    # cheaper point would dominate it
    rows = run("skyline_pareto", spark)
    ordered = sorted({(r["price"], r["size"]) for r in rows})
    sizes = [s for _, s in ordered]
    assert all(a < b for a, b in zip(sizes, sizes[1:])), sizes


def test_pagerank_mass_is_conserved_up_to_dangling(spark):
    rows = run("pagerank_nation_trade", spark)
    assert len(rows) == 25
    total = sum(r["pagerank"] for r in rows)
    # with no dangling mass the total is exactly 1; allow rounding slack
    assert 0.95 <= total <= 1.01, total
    assert all(r["pagerank"] > 0 for r in rows)


def test_assoc_rules_confidence_and_lift_consistent(spark):
    rows = run("assoc_rules_lift", spark)
    assert rows
    for r in rows:
        assert 0 < r["support"] <= r["confidence"] <= 1.0 + 1e-9, r
        assert r["lift"] > 0, r


def test_triangle_census_bounds(spark):
    (r,) = run("brand_copurchase_triangles", spark)
    assert r["n_edges"] == 150
    # triangles can't exceed C(edges over any node set): crude bound via
    # wedges (every triangle contains 3 wedges)
    assert 0 <= 3 * r["n_triangles"] <= r["n_wedges"]
    assert 0.0 <= r["clustering_coef"] <= 1.0


def test_mode_share_is_plurality(spark):
    rows = run("mode_per_group", spark)
    assert rows
    for r in rows:
        # a 5-value attribute's modal share must be at least 1/5
        assert r["share"] >= 0.2 - 1e-9, r


def test_benford_chi2_flags_uniform_prices(spark):
    rows = run("benford_law_check", spark)
    assert len(rows) == 9
    # synthetic order totals are ~uniform on a wide range (1k..500k, so
    # digits 1-4 are ~10x overrepresented vs 5-9) — conformance must
    # FAIL loudly (huge chi-square), which is the signal the op exists
    # to produce on fabricated-looking columns
    chi2 = sum(r["chi2_term"] for r in rows)
    assert chi2 > 100, chi2
    fracs = {r["digit"]: r["obs_frac"] for r in rows}
    assert fracs[1] > 2 * fracs[9], fracs


def test_weighted_sample_favors_longer_docs(spark):
    rows = run("weighted_sample_topk", spark)
    assert len(rows) == 20
    import duckdb

    (corpus_avg,) = duckdb.sql(
        f"SELECT AVG(n_chars) FROM read_parquet('{SF_CORRECT}/documents.parquet')"
    ).fetchone()
    sample_avg = sum(r["n_chars"] for r in rows) / len(rows)
    # weight-proportional sampling must pull the length distribution up
    assert sample_avg > corpus_avg, (sample_avg, corpus_avg)


def test_interval_concurrency_peak_bounds(spark):
    rows = run("interval_concurrency_peak", spark)
    assert rows
    import duckdb

    per_type = dict(
        duckdb.sql(
            f"SELECT event_type, COUNT(*) FROM read_parquet('{SF_CORRECT}/events.parquet') GROUP BY 1"
        ).fetchall()
    )
    for r in rows:
        assert 1 <= r["peak_concurrency"] <= per_type[r["event_type"]], r


def test_gaps_islands_streak_bounds(spark):
    rows = run("gaps_islands_streaks", spark)
    assert rows
    for r in rows:
        assert 1 <= r["longest_streak"] <= r["n_active_days"] <= 31, r


def test_rolling_correlation_in_range(spark):
    rows = run("rolling_correlation", spark)
    assert rows
    for r in rows:
        if r["roll_corr"] is not None:
            assert -1.0 - 1e-9 <= r["roll_corr"] <= 1.0 + 1e-9, r


def test_wav_roundtrip_pure_python_invariants():
    # writer/parser agreement without Spark: geometry formulas, header
    # size rule, and sign handling
    import hashlib

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.multimodal import (
        _wav_encode,
        _wav_parse,
    )

    for doc_id in (0, 1, 7, 399, 4321):
        hx = hashlib.md5(str(doc_id).encode()).hexdigest()
        b = _wav_encode(doc_id, hx)
        rate, n, size, mean = _wav_parse(b)
        assert rate == 8000 + 1000 * (doc_id % 5)
        assert n == 100 + doc_id % 400
        assert size == len(b) == 44 + 2 * n
        assert -32768 <= mean <= 32767


def test_countmin_never_undercounts(spark):
    rows = run("countmin_estimate", spark)
    assert len(rows) == 10
    for r in rows:
        assert r["overcount"] >= 0, r
        assert r["cm_est"] >= r["exact_cnt"], r


def test_km_survival_is_monotone_nonincreasing(spark):
    rows = sorted(run("km_survival_estimate", spark), key=lambda r: r["day"])
    surv = [r["survival"] for r in rows]
    assert all(0.0 <= x <= 1.0 for x in surv)
    assert all(a >= b - 1e-9 for a, b in zip(surv, surv[1:])), surv
    # everyone is at risk on the first table row
    assert rows[0]["n_at_risk"] == sum(r["n_events"] + r["n_censored"] for r in rows)


def test_abtest_split_is_roughly_balanced(spark):
    (r,) = run("abtest_proportions_ztest", spark)
    total = r["na"] + r["nb"]
    assert abs(r["na"] - r["nb"]) < 0.3 * total, r
    # conversion definition targets ~half the users; z must be finite-ish
    if r["z_stat"] is not None:
        assert abs(r["z_stat"]) < 10, r


def test_auc_is_near_half_for_independent_score(spark):
    (r,) = run("rank_auc_mann_whitney", spark)
    assert 0.0 <= r["auc"] <= 1.0
    # value is generated independently of event_type: AUC ~ 0.5
    assert abs(r["auc"] - 0.5) < 0.1, r


def test_entropy_balance_in_unit_range(spark):
    rows = run("shannon_entropy_profile", spark)
    assert len(rows) == 2
    for r in rows:
        assert 0.0 <= r["balance"] <= 1.0 + 1e-9, r
        assert r["entropy_nats"] >= 0.0, r


def test_chi_square_nonnegative_with_expected_dof(spark):
    (r,) = run("chi_square_independence", spark)
    assert r["chi2"] >= 0.0
    assert r["dof"] == (5 - 1) * (r["n_cells"] // 5 - 1) or r["dof"] > 0


def test_spearman_rho_in_range(spark):
    (r,) = run("spearman_rank_corr", spark)
    assert -1.0 - 1e-9 <= r["spearman_rho"] <= 1.0 + 1e-9, r


def test_jsd_pairs_in_unit_range_and_symmetric_keys(spark):
    rows = run("source_jsd_pairs", spark)
    assert rows
    for r in rows:
        assert 0.0 <= r["jsd_bits"] <= 1.0 + 1e-9, r
        assert r["sa"] < r["sb"], r


def test_theil_sen_median_rank_selection_even_and_odd(spark):
    """For EVEN pair counts the
    sen slope must be the MEAN of the two middle order statistics, not
    the upper one alone. Replays the op's rank-selection expression on
    synthetic slope sets where the answer is known in closed form."""
    from pyspark.sql import functions as F

    def sen_of(slopes):
        df = spark.createDataFrame([(float(s),) for s in slopes], "s double")
        from pyspark.sql.window import Window

        ranked = df.select(
            "s",
            F.row_number().over(Window.orderBy("s")).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
        )
        mid = F.when(
            (F.col("rn") == F.expr("(m + 1) div 2"))
            | (F.col("rn") == F.expr("(m + 2) div 2")),
            F.col("s"),
        )
        return ranked.agg(F.avg(mid)).collect()[0][0]

    assert sen_of([1, 2, 3, 4]) == 2.5  # even: mean of both middles
    assert sen_of([1, 2, 3]) == 2.0  # odd: single middle
    assert sen_of([4, 1, 3, 2, 5, 0]) == 2.5  # even, unsorted input
