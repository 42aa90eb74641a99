"""exact_quantiles must agree bitwise with Spark's built-in exact
percentile — same interpolated definition, no single-node value buffer —
on both of its paths: the small-input Arrow collect and the distributed
selection engine. The parity, edge-case and property tests run once
per path, forced through the small-input bound; the paths run inside
one test so each test keeps its one id."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

import health_etl_pipeline_and_analytics_with_machine_learning_spark.functions.quantiles as Q
from health_etl_pipeline_and_analytics_with_machine_learning_spark.functions.quantiles import (
    exact_quantiles,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import load
from conftest import SF_CORRECT

#: the small-input bound that forces each path: 0 sends every non-empty
#: input to the distributed engine, 10**9 (∞ for any test input)
#: answers every input from the Arrow collect
_BOUNDS = {"distributed": 0, "small": 10**9}


@contextmanager
def _forced(path: str):
    saved = Q.SMALL_INPUT_MAX_ROWS
    try:
        Q.SMALL_INPUT_MAX_ROWS = _BOUNDS[path]
        yield
    finally:
        Q.SMALL_INPUT_MAX_ROWS = saved


def _per_path(fn):
    """``fn()`` evaluated with each path forced, as {path: result}."""
    out = {}
    for path in _BOUNDS:
        with _forced(path):
            out[path] = fn()
    return out


def test_matches_builtin_exact_percentile(spark):
    li = load(spark, SF_CORRECT, "lineitem")
    probs = [0.0, 0.25, 0.5, 0.75, 1.0]
    builtin = li.agg(
        F.expr(f"percentile(l_extendedprice, array({','.join(map(str, probs))}))")
    ).collect()[0][0]
    for path, mine in _per_path(lambda: exact_quantiles(li, "l_extendedprice", probs)).items():
        assert all(abs(a - b) < 1e-9 for a, b in zip(mine, builtin)), path


def test_duplicate_heavy_column(spark):
    # l_quantity has ~50 distinct values over 60k rows — the histogram
    # degenerates to 50 rows and positions must still be exact
    li = load(spark, SF_CORRECT, "lineitem")
    builtin = li.agg(F.expr("percentile(l_quantity, array(0.5, 0.9))")).collect()[0][0]
    for path, mine in _per_path(lambda: exact_quantiles(li, "l_quantity", [0.5, 0.9])).items():
        assert all(abs(a - b) < 1e-9 for a, b in zip(mine, builtin)), path


def test_edge_cases(spark):
    import math

    tiny = spark.createDataFrame([(1.0,), (1.0,), (2.0,), (5.0,)], "x double")
    one = spark.createDataFrame([(3.5,)], "x double")
    empty = spark.createDataFrame([], "x double")
    for path in _BOUNDS:
        with _forced(path):
            assert exact_quantiles(tiny, "x", [0.0, 0.5, 1.0]) == [1.0, 1.5, 5.0], path
            assert exact_quantiles(one, "x", [0.25, 0.75]) == [3.5, 3.5], path
            assert all(math.isnan(v) for v in exact_quantiles(empty, "x", [0.5])), path


def test_quantile_profile_monotone_and_matches_builtin(spark):
    """The registered quantile_profile op: q must be nondecreasing in p
    within each column, and every scalar must match the builtin exact
    percentile at the op's own probe set (incl. the near-1 boundary
    prob where a premature 1-based shift loses the fraction)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.relational import (
        _PROFILE_COLS,
        _PROFILE_PROBS,
        quantile_profile,
    )

    rows = quantile_profile(spark, SF_CORRECT).collect()
    assert len(rows) == len(_PROFILE_COLS) * len(_PROFILE_PROBS)
    by_col: dict[str, list[tuple[float, float]]] = {}
    for r in rows:
        by_col.setdefault(r["col_name"], []).append((r["p"], r["q"]))
    li = load(spark, SF_CORRECT, "lineitem")
    for c, pq in by_col.items():
        pq.sort()
        qs = [q for _, q in pq]
        assert qs == sorted(qs), (c, pq)
        builtin = li.agg(
            F.expr(
                f"percentile({c}, array({','.join(repr(p) for p, _ in pq)}))"
            )
        ).collect()[0][0]
        import math

        # round_cmp's formula, with Python round() standing in for the
        # inner F.round — NOT bit-identical at a 7dp half-boundary
        # (half-to-even vs BigDecimal HALF_UP), but the outer
        # FLOOR(x*1e4+0.5) only feels that ulp if the value also sits
        # on a 4dp boundary, and the 1e-9 tolerance absorbs it
        for (_, q), b in zip(pq, builtin):
            rc = math.floor(round(b, 7) * 1e4 + 0.5) / 1e4
            assert abs(q - rc) <= 1e-9, (c, pq, builtin)


def test_multi_column_batch_matches_per_column(spark):
    li = load(spark, SF_CORRECT, "lineitem")
    spec = {"l_quantity": [0.5], "l_extendedprice": [0.25, 0.5, 0.75], "l_tax": [0.5]}
    for path, multi in _per_path(lambda: Q.exact_quantiles_multi(li, spec)).items():
        for c, probs in spec.items():
            builtin = li.agg(
                F.expr(f"percentile({c}, array({','.join(map(str, probs))}))")
            ).collect()[0][0]
            assert all(abs(a - b) < 1e-9 for a, b in zip(multi[c], builtin)), (path, c)


def test_skewed_bucket_recurses_and_stays_exact(spark, monkeypatch):
    """Value skew: one bucket holds more rows than the collect cap, so
    the engine must RECURSE into it (re-bucketing its value range)
    instead of collecting — shrink the constants so a tiny dataset
    exercises the recursion deterministically."""
    monkeypatch.setattr(Q, "SMALL_INPUT_MAX_ROWS", _BOUNDS["distributed"])
    monkeypatch.setattr(Q, "N_BUCKETS", 4)
    monkeypatch.setattr(Q, "MAX_BOUNDARY_COLLECT", 8)
    # 100 values packed into a sliver of [0, 1000]: every value lands in
    # bucket 0, whose count (100) exceeds the cap (8) at level 0 and
    # again at deeper levels until the range separates them
    vals = [(i * 1e-6,) for i in range(100)] + [(1000.0,)]
    df = spark.createDataFrame(vals, "x double")
    probs = [0.1, 0.5, 0.9]
    mine = Q.exact_quantiles(df, "x", probs)
    builtin = df.agg(
        F.expr(f"percentile(x, array({','.join(map(str, probs))}))")
    ).collect()[0][0]
    assert all(abs(a - b) < 1e-12 for a, b in zip(mine, builtin))

    # identical-value pile above the cap: recursion bottoms out on
    # lo == hi and resolves without collecting
    df2 = spark.createDataFrame([(7.0,)] * 50 + [(1.0,), (9.0,)], "x double")
    assert Q.exact_quantiles(df2, "x", [0.5]) == [7.0]


def test_nan_ranks_last_like_spark_sort(spark):
    """NaN policy (documented in the module docstring): NaN counts
    toward n and ranks above every number — matching Spark sort order,
    so a rank landing in the NaN region yields NaN."""
    import math

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (float("nan"),), (float("nan"),)], "x double"
    )
    # n=5: p=0.25 → t=2.0 → rank 2 → 2.0; p=1.0 → rank 5 → NaN;
    # p=0.75 → t=4.0 → rank 4 → NaN region
    for path, q in _per_path(lambda: exact_quantiles(df, "x", [0.25, 0.75, 1.0])).items():
        assert q[0] == 2.0, path
        assert math.isnan(q[1]) and math.isnan(q[2]), path


def test_exact_integer_rank_next_to_nan_region(spark):
    """frac == 0 short-circuit: when the target position is exactly the
    last real rank, the NaN-region neighbor must not poison it
    (matches built-in percentile's lower==higher behavior)."""
    import math

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (float("nan"),), (float("nan"),)], "x double"
    )
    df2 = spark.createDataFrame([(7.0,), (7.0,), (float("nan"),)], "x double")
    for path in _BOUNDS:
        with _forced(path):
            # n=5, p=0.5 → t=3.0 → rank 3 exactly = the last non-NaN value
            assert exact_quantiles(df, "x", [0.5]) == [3.0], path
            assert exact_quantiles(df2, "x", [0.5]) == [7.0], path
            # but a rank truly inside the NaN region stays NaN
            assert math.isnan(exact_quantiles(df, "x", [1.0])[0]), path


def test_infinities_follow_ieee_sort_order(spark):
    """±inf rows must not blow up the bucket math (inf width) — they
    resolve as closed-form prefix/suffix regions, and selection runs
    over the finite window only."""
    import math

    rows = [(float("-inf"),), (1.0,), (2.0,), (3.0,), (4.0,), (float("inf"),)]
    df = spark.createDataFrame(rows, "x double")
    probs = [0.0, 0.2, 0.5, 0.8, 1.0]
    builtin = df.agg(
        F.expr(f"percentile(x, array({','.join(map(str, probs))}))")
    ).collect()[0][0]
    for path, mine in _per_path(lambda: exact_quantiles(df, "x", probs)).items():
        for a, b in zip(mine, builtin):
            assert (math.isnan(a) and math.isnan(b)) or a == b, (path, mine, builtin)
        # interpolation between a finite value and +inf is +inf on both sides
        assert mine[-1] == float("inf") and mine[0] == float("-inf"), path


def test_fractional_interpolation_across_infinite_flank(spark):
    """t landing BETWEEN an infinite flank and a finite one must keep
    the infinity's sign like Spark/DuckDB (lower·(1−frac)+higher·frac),
    not collapse to NaN via v0 + frac·(v1 − v0)."""
    import math

    lo_span = spark.createDataFrame([(float("-inf"),), (5.0,)], "x double")
    hi_span = spark.createDataFrame([(5.0,), (float("inf"),)], "x double")
    both = spark.createDataFrame([(float("-inf"),), (float("inf"),)], "x double")
    for path in _BOUNDS:
        with _forced(path):
            assert exact_quantiles(lo_span, "x", [0.5]) == [float("-inf")], path
            assert exact_quantiles(hi_span, "x", [0.5]) == [float("inf")], path
            assert math.isnan(exact_quantiles(both, "x", [0.5])[0]), path  # like Spark


# ---------------------------------------------------------------------------
# property tests: both paths must agree with Spark's built-in exact
# percentile on arbitrary finite inputs
# ---------------------------------------------------------------------------

from hypothesis import example, given, settings, strategies as st

_spark = None


@pytest.fixture(autouse=True)
def _bind_spark(spark):
    """hypothesis @given can't take pytest fixtures — bind the session
    into the module global before every test (test_fuzz_expressions
    pattern)."""
    global _spark
    _spark = spark


# duplicates-heavy pool plus free doubles: selection must stay exact
# under ties, negatives, zeros, and large magnitudes
_POOL = [0.0, -0.0, 1.0, -1.0, 2.5, -2.5, 1e9, -1e9, 3.14159, 1e-9]
_VALUES = st.lists(
    st.one_of(
        st.sampled_from(_POOL),
        st.floats(
            min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=1,
    max_size=60,
)
_PROBS = st.lists(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    min_size=1,
    max_size=4,
)


@settings(max_examples=20, deadline=None)
@given(_VALUES, _PROBS)
# a Hypothesis find, kept permanently: (n-1)*p = 0.9999999999999999
# but 1 + (n-1)*p == 2.0 in IEEE doubles — the 1-based shift must happen
# AFTER extracting the fraction, and the interpolation must use Spark's
# symmetric lower·(1−frac)+higher·frac (the one-sided form loses ulps
# under 0.0/−1e9 cancellation). A premature shift returns 0.0; truth ≈
# −1.1102e-07.
@example(values=[0.0, -1e9], probs=[0.9999999999999999])
def test_engine_matches_builtin_percentile_on_random_input(values, probs):
    df = _spark.createDataFrame([(v,) for v in values], "x double")
    builtin = df.agg(
        F.expr(f"percentile(x, array({','.join(repr(p) for p in probs)}))")
    ).collect()[0][0]
    for path, mine in _per_path(lambda: exact_quantiles(df, "x", probs)).items():
        for a, b in zip(mine, builtin):
            tol = 1e-9 * max(1.0, abs(b))
            assert abs(a - b) <= tol, (path, values, probs, mine, builtin)


@settings(max_examples=15, deadline=None)
@given(
    _VALUES,
    st.integers(min_value=0, max_value=80),
    st.sampled_from([0.0, 1e-16, -1e-16, 4.44e-16, -4.44e-16]),
)
def test_probs_at_exact_rank_boundaries(values, k, eps):
    """probs at (and a few ulps around) k/(n-1) — the exact-integer-rank
    regime, where a premature 1-based shift drops the fraction: frac
    must survive the 1-based shift and the frac==0 short-circuit must
    fire only when pos is integral."""
    n = len(values)
    p = 0.5 if n == 1 else min(k, n - 1) / (n - 1) + eps
    if not (0.0 <= p <= 1.0):
        p = min(1.0, max(0.0, p))
    df = _spark.createDataFrame([(v,) for v in values], "x double")
    builtin = df.agg(F.expr(f"percentile(x, array({p!r}))")).collect()[0][0]
    tol = 1e-9 * max(1.0, abs(builtin[0]))
    for path, mine in _per_path(lambda: exact_quantiles(df, "x", [p])).items():
        assert abs(mine[0] - builtin[0]) <= tol, (path, values, p, mine, builtin)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.sampled_from([float("inf"), float("-inf"), 0.0, -1e9, 1e9, 1e-9]),
            st.floats(min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False),
        ),
        min_size=2,
        max_size=20,
    ),
    st.lists(
        st.one_of(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
            st.sampled_from([0.0, 1.0, 1e-16, 1 - 1e-16, 0.9999999999999999]),
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_infinite_flanks_match_builtin(values, probs):
    """±inf rows with frac near 0/1: the closed-form region ranks and the
    symmetric interpolation must agree with Spark's builtin, including
    sign-keeping across an infinite flank."""
    import math

    df = _spark.createDataFrame([(v,) for v in values], "x double")
    builtin = df.agg(
        F.expr(f"percentile(x, array({','.join(repr(p) for p in probs)}))")
    ).collect()[0][0]
    for path, mine in _per_path(lambda: exact_quantiles(df, "x", probs)).items():
        for a, b in zip(mine, builtin):
            if math.isnan(b):
                assert math.isnan(a), (path, values, probs, mine, builtin)
            elif math.isinf(b):
                assert a == b, (path, values, probs, mine, builtin)
            else:
                tol = 1e-9 * max(1.0, abs(b))
                assert abs(a - b) <= tol, (path, values, probs, mine, builtin)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=2), st.sampled_from(_POOL)),
        min_size=1,
        max_size=40,
    ),
    _PROBS,
)
@example(rows=[(0, 0.0), (0, -1e9)], probs=[0.9999999999999999])
def test_grouped_engine_matches_builtin_per_group(rows, probs):
    """The all-in-plan grouped engine (operators.scaled) must agree with
    the builtin exact percentile per group — including the boundary-prob
    class fixed under certification invariant 6 (0-based position before
    the 1-based shift, symmetric interpolation, frac==0 short-circuit)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.scaled import (
        grouped_exact_quantiles,
    )

    df = _spark.createDataFrame([(g, v) for g, v in rows], "g int, v double")
    got = {
        r["g"]: [r[f"q_{i}"] for i in range(len(probs))]
        for r in grouped_exact_quantiles(df, ["g"], "v", probs, n_parts=4).collect()
    }
    want = {
        r["g"]: r["qs"]
        for r in df.groupBy("g")
        .agg(
            F.expr(
                f"percentile(v, array({','.join(repr(p) for p in probs)}))"
            ).alias("qs")
        )
        .collect()
    }
    assert set(got) == set(want), (rows, probs)
    for g in want:
        for a, b in zip(got[g], want[g]):
            tol = 1e-9 * max(1.0, abs(b))
            assert abs(a - b) <= tol, (g, rows, probs, got[g], want[g])


@settings(max_examples=10, deadline=None)
@given(_VALUES, _VALUES, _PROBS, _PROBS)
def test_multi_column_batch_property(xs, ys, px, py):
    """The batched multi-column call must equal per-column builtins —
    ragged lengths (nulls pad the shorter column) included."""
    n = max(len(xs), len(ys))
    rows = [
        (xs[i] if i < len(xs) else None, ys[i] if i < len(ys) else None)
        for i in range(n)
    ]
    df = _spark.createDataFrame(rows, "x double, y double")
    per_path = _per_path(lambda: Q.exact_quantiles_multi(df, {"x": px, "y": py}))
    for c, probs in (("x", px), ("y", py)):
        builtin = df.agg(
            F.expr(f"percentile({c}, array({','.join(repr(p) for p in probs)}))")
        ).collect()[0][0]
        for path, multi in per_path.items():
            for a, b in zip(multi[c], builtin):
                tol = 1e-9 * max(1.0, abs(b))
                assert abs(a - b) <= tol, (path, c, probs, multi[c], builtin)


_RANK_CASES = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=10**12),
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        st.one_of(
            st.sampled_from([0.0, -0.0, 1.0, -1e9, float("inf"), float("-inf")]),
            st.floats(min_value=-1e12, max_value=1e12, allow_nan=False),
        ),
        st.one_of(
            st.sampled_from(
                [0.0, 1.0, -1e9, float("inf"), float("-inf"), float("nan")]
            ),
            st.floats(min_value=-1e12, max_value=1e12, allow_nan=False),
        ),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(_RANK_CASES)
@example(cases=[(2, 0.9999999999999999, 0.0, -1e9)])
@example(cases=[(5, 0.5, 0.0, float("nan"))])  # frac==0 must not read v1
def test_rank_math_column_forms_match_python_forms(cases):
    """The lockstep patrol for the consolidated invariant-6 module
    (functions.rank_math): the Catalyst Column dialect, evaluated by
    Spark, must agree BIT-FOR-BIT with the Python dialect the selection
    engine runs driver-side — ranks exactly, frac and interpolation as
    identical IEEE doubles (the expression shapes mirror the Python ops
    op-for-op, so equality is exact, not approximate)."""
    import math

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.functions.rank_math import (
        interp,
        interp_col,
        rank_spec,
        rank_spec_col,
    )

    df = _spark.createDataFrame(cases, "n long, p double, v0 double, v1 double")
    k_lo, k_hi, frac = rank_spec_col(F.col("n"), F.col("p"))
    got = df.select(
        "n",
        "p",
        "v0",
        "v1",
        k_lo.alias("k_lo"),
        k_hi.alias("k_hi"),
        frac.alias("frac"),
        interp_col(F.col("v0"), F.col("v1"), frac).alias("q"),
    ).collect()
    assert len(got) == len(cases)
    for r in got:
        k0, k1, fr = rank_spec(r["n"], r["p"])
        assert (r["k_lo"], r["k_hi"]) == (k0, k1), r
        assert r["frac"] == fr, r
        want = interp(r["v0"], r["v1"], fr)
        if math.isnan(want):
            assert math.isnan(r["q"]), r
        else:
            assert r["q"] == want, r


# --------------------------------------------------------------------------
# The hybrid transport (JVM explode ≤ JVM_TRANSPORT_MAX_COLS columns,
# Arrow above). The suites above use ≤4 columns (JVM branch only);
# these tests force BOTH branches and pin bit-equality between them,
# including the -0.0 aggregation-key normalization. The transports
# belong to the distributed path, so every test here forces it.


def _both_transports(df, col_probs):
    saved = Q.JVM_TRANSPORT_MAX_COLS
    try:
        with _forced("distributed"):
            Q.JVM_TRANSPORT_MAX_COLS = 10**9
            jvm = Q.exact_quantiles_multi(df, col_probs)
            Q.JVM_TRANSPORT_MAX_COLS = -1
            arrow = Q.exact_quantiles_multi(df, col_probs)
    finally:
        Q.JVM_TRANSPORT_MAX_COLS = saved
    return jvm, arrow


def _bits(x: float) -> str:
    import struct

    return struct.pack("<d", x).hex()


def test_transports_bit_identical_on_edge_values(spark):
    """JVM and Arrow transports must return BIT-identical results —
    including the sign of zero (np.unique keeps the first of a sorted
    equal run, so an un-normalized Arrow pass could return -0.0 where
    the JVM groupBy's key normalization returns 0.0, making a returned
    value's bit pattern depend on COLUMN COUNT)."""
    rows = [
        (-0.0, 5.0),
        (-0.0, -1e9),
        (0.0, 0.0),
        (-0.0, float("inf")),
        (1.0, None),
        (-1.5, float("-inf")),
        (-0.0, float("nan")),
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    probs = {"x": [0.0, 0.25, 0.5, 1.0], "y": [0.1, 0.5, 0.9]}
    jvm, arrow = _both_transports(df, probs)
    for c in probs:
        for a, b in zip(jvm[c], arrow[c]):
            assert _bits(a) == _bits(b), (c, jvm[c], arrow[c])
    # and the zero quantiles must come back POSITIVE zero on both
    assert _bits(jvm["x"][1]) == _bits(0.0)


def test_arrow_transport_matches_builtin_percentile(spark):
    """The Arrow branch pinned directly against the builtin exact
    percentile — the suites above run ≤4 columns and stay on the JVM
    branch, so without this the live >8-column path (the ETL sweep)
    would have no builtin anchor."""
    li = load(spark, SF_CORRECT, "lineitem")
    probs = [0.0, 0.25, 0.5, 0.75, 0.9999999999999999, 1.0]
    saved = Q.JVM_TRANSPORT_MAX_COLS
    try:
        Q.JVM_TRANSPORT_MAX_COLS = -1
        with _forced("distributed"):
            mine = Q.exact_quantiles_multi(
                li, {"l_extendedprice": probs, "l_quantity": probs, "l_discount": probs}
            )
    finally:
        Q.JVM_TRANSPORT_MAX_COLS = saved
    for c in ("l_extendedprice", "l_quantity", "l_discount"):
        builtin = li.agg(
            F.expr(f"percentile({c}, array({','.join(repr(p) for p in probs)}))")
        ).collect()[0][0]
        for a, b in zip(mine[c], builtin):
            tol = 1e-9 * max(1.0, abs(b))
            assert abs(a - b) <= tol, (c, mine[c], builtin)


@settings(max_examples=15, deadline=None)
@given(_VALUES, _PROBS)
@example(values=[-0.0, 0.0, -0.0], probs=[0.5])
@example(values=[0.0, -1e9], probs=[0.9999999999999999])
def test_transports_bit_identical_property(values, probs):
    """Hypothesis patrol over the dual-transport contract: for ANY
    input, switching transports may not change a single result bit."""
    df = _spark.createDataFrame([(v,) for v in values], "x double")
    jvm, arrow = _both_transports(df, {"x": probs})
    for a, b in zip(jvm["x"], arrow["x"]):
        assert _bits(a) == _bits(b), (values, probs, jvm, arrow)


def test_natural_dispatch_boundary_eight_vs_nine_columns(spark):
    """The 8-vs-9-column boundary exercised through
    the REAL dispatch (no monkeypatching) — an 8-column call rides the
    JVM explode, adding one more column tips the SAME request onto the
    Arrow transport, and the eight shared columns' results must not
    move by a single bit. This is the lockstep the registry consumers
    no longer provide now that they all sit at ≤8 columns."""
    import math

    assert Q.JVM_TRANSPORT_MAX_COLS == 8  # the boundary this test pins
    rows = []
    for i in range(37):
        base = [-0.0, 0.0, float(i), i * 0.125 - 2.0, float("inf"),
                float("-inf"), None, float(i % 5), -1e9 + i][i % 9]
        rows.append(tuple((base if j % 3 else (i + j) * 0.25) for j in range(9)))
    cols = [f"c{j}" for j in range(9)]
    df = spark.createDataFrame(rows, ", ".join(f"{c} double" for c in cols))
    probs = [0.0, 0.1, 0.5, 0.9999999999999999, 1.0]
    with _forced("distributed"):
        jvm8 = Q.exact_quantiles_multi(df, {c: probs for c in cols[:8]})
        arrow9 = Q.exact_quantiles_multi(df, {c: probs for c in cols})
    for c in cols[:8]:
        for a, b in zip(jvm8[c], arrow9[c]):
            if a is None or (isinstance(a, float) and math.isnan(a)):
                assert b is None or math.isnan(b), (c, jvm8[c], arrow9[c])
            else:
                assert _bits(a) == _bits(b), (c, jvm8[c], arrow9[c])


def _same_bits(a: float, b: float) -> bool:
    """Bit equality, with every NaN equal to every NaN: a NaN's payload
    is whatever the arithmetic or the data carried, not a result."""
    import math

    return (math.isnan(a) and math.isnan(b)) or _bits(a) == _bits(b)


def test_paths_bit_identical_on_edge_values(spark):
    """The small-input path and the distributed engine in lockstep on
    the values where their mechanics differ: ±0.0 (the groupBy key
    normalizer vs ``+ 0.0``, and a min()-returned −0.0 when every finite
    value is zero), ±inf, NaN, nulls, an all-null column and
    single-value columns. Every result comes back with the same bits,
    and a zero comes back as +0.0."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (-0.0, 5.0, None, -0.0, 7.0, -0.0),
        (-0.0, -1e9, None, None, None, 0.0),
        (0.0, 0.0, None, None, None, inf),
        (-0.0, inf, None, None, None, nan),
        (1.0, None, None, None, None, -inf),
        (-1.5, -inf, None, None, None, -0.0),
        (-0.0, nan, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "x double, y double, nulls double, negzero double, one double, z double"
    )
    probs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9999999999999999, 1.0]
    spec = {c: probs for c in df.columns}
    with _forced("small"):
        small = Q.exact_quantiles_multi(df, spec)
    with _forced("distributed"):
        dist = Q.exact_quantiles_multi(df, spec)
    for c in df.columns:
        for a, b in zip(small[c], dist[c]):
            assert _same_bits(a, b), (c, small[c], dist[c])
    assert all(v != v for v in small["nulls"])  # all-null → NaN
    assert [_bits(v) for v in small["negzero"]] == [_bits(0.0)] * len(probs)
    assert small["one"] == [7.0] * len(probs)
    assert _bits(small["x"][3]) == _bits(0.0)


def test_small_input_bound_is_inclusive(spark, monkeypatch):
    """With the bound patched to 6: six rows take the Arrow collect, and
    the same six values plus one null row (seven rows, so the same
    answers) take the distributed engine — only the larger input calls
    ``_multi_pass``."""
    monkeypatch.setattr(Q, "SMALL_INPUT_MAX_ROWS", 6)
    calls = []
    real = Q._multi_pass

    def spy(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(Q, "_multi_pass", spy)
    vals = [3.0, -1.0, 2.5, 2.5, 10.0, -0.0]
    at_bound = spark.createDataFrame([(v,) for v in vals], "x double")
    above = spark.createDataFrame([(v,) for v in vals + [None]], "x double")
    probs = [0.0, 0.3, 0.5, 0.9, 1.0]
    small = Q.exact_quantiles(at_bound, "x", probs)
    assert calls == []
    dist = Q.exact_quantiles(above, "x", probs)
    assert calls, "an input above the bound must run the distributed engine"
    assert [_bits(v) for v in small] == [_bits(v) for v in dist], (small, dist)
    builtin = at_bound.agg(
        F.expr(f"percentile(x, array({','.join(repr(p) for p in probs)}))")
    ).collect()[0][0]
    assert all(abs(a - b) <= 1e-12 for a, b in zip(small, builtin))


def test_env_probe_rebrands_only_anchored_missing_module_failures():
    """The executor-env probe must rebrand a
    failure into install instructions ONLY when the exception text
    carries the probe's own 'executor-env-probe:' sentinel naming one
    of the three probed modules — an error that merely echoes the word
    'ImportError' in a log line must propagate as itself, a TRANSITIVE
    dependency failure of a probed module (pandas present, dateutil
    missing) must still rebrand, and the rebranded message must retain
    the matched cause."""
    _probe_executor_python_env = Q._probe_executor_python_env

    class _FakeJob:
        def __init__(self, exc):
            self._exc = exc

        def repartition(self, n):
            return self

        def mapInPandas(self, fn, schema):
            return self

        def count(self):
            raise self._exc

    class _FakeSpark:
        def __init__(self, exc):
            self._exc = exc

        class _SC:
            defaultParallelism = 4

        sparkContext = _SC()

        def range(self, n):
            return _FakeJob(self._exc)

    genuine = RuntimeError(
        "Job aborted: PythonException: Traceback (most recent call last):\n"
        "  ...\nImportError: executor-env-probe: import pyarrow failed: "
        "ModuleNotFoundError(\"No module named 'pyarrow'\")"
    )
    with pytest.raises(ImportError) as ei:
        _probe_executor_python_env(_FakeSpark(genuine))
    assert "import pyarrow failed" in str(ei.value)
    assert ei.value.__cause__ is genuine

    # the transitive case: pandas itself is present but a dependency it
    # imports is not — the sentinel wraps it, so the rebrand still fires
    # with actionable text
    transitive = RuntimeError(
        "PythonException: ImportError: executor-env-probe: import pandas "
        "failed: ModuleNotFoundError(\"No module named 'dateutil'\")"
    )
    with pytest.raises(ImportError) as ti:
        _probe_executor_python_env(_FakeSpark(transitive))
    assert "import pandas failed" in str(ti.value)
    assert "dateutil" in str(ti.value)

    # the worker-bootstrap case: with pandas/pyarrow absent OUTRIGHT,
    # the Arrow serializer import in pyspark's worker dies BEFORE the
    # sentinel wrapper runs — the raw traceback form naming a probed
    # module must still rebrand
    bootstrap = RuntimeError(
        "PythonException: Traceback (most recent call last):\n"
        "  File pyspark/sql/pandas/serializers.py ...\n"
        "ModuleNotFoundError: No module named 'pyarrow'"
    )
    with pytest.raises(ImportError) as bi:
        _probe_executor_python_env(_FakeSpark(bootstrap))
    assert "No module named 'pyarrow" in str(bi.value)

    # dotted SUBMODULE of a probed package (a broken install whose
    # binary submodule is missing) still rebrands
    submodule = RuntimeError(
        "PythonException: ModuleNotFoundError: No module named "
        "'numpy.core._multiarray_umath'"
    )
    with pytest.raises(ImportError) as si:
        _probe_executor_python_env(_FakeSpark(submodule))
    assert "_multiarray_umath" in str(si.value)

    # echoes the keyword but is NOT a probe-module import failure:
    # propagates unchanged (transient executor loss whose log mentions
    # ImportError, a missing module that is not ours, and a
    # '_'-suffixed SIBLING package of a probed one, which a [\w.]*
    # suffix would wrongly swallow)
    for other in (
        RuntimeError("executor lost; stderr said: ImportError was retried"),
        RuntimeError("ModuleNotFoundError: No module named 'user_udf_helper'"),
        RuntimeError("ModuleNotFoundError: No module named 'pyarrow_hotfix'"),
        RuntimeError("ModuleNotFoundError: No module named 'pandas_flavor'"),
    ):
        with pytest.raises(RuntimeError) as ri:
            _probe_executor_python_env(_FakeSpark(other))
        assert ri.value is other
