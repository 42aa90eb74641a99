"""Relational query library — the SURVEY §2 operator inventory re-expressed
over the driver's TPC-H-ish tables.

Each query id corresponds to an operator *shape* the reference computes on
its health table (SURVEY §2.2–§2.7; reference citations inline). The health
columns are stand-ins: group keys map to ``l_returnflag`` /
``o_orderpriority`` / year-of-date, measures to ``l_extendedprice`` /
``o_totalprice`` etc. Every query:

- is declared with the DataFrame API (Catalyst plans it; filters and
  projections push down to the parquet scan),
- carries a DuckDB oracle with IDENTICAL column names and rounding,
- breaks every ORDER BY ... LIMIT tie with explicit trailing keys, so the
  rows surviving a LIMIT are deterministic across engines (SURVEY §4.3).

Scale notes are attached per-query: what the plan does at 100 TB, where
the shuffles are, and why they are the minimal set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import ROUND_DP, load, query, round_cmp, round_cmp_sql

DP = ROUND_DP


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------


@query(
    "project_dropna",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority, price_f
    FROM (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderstatus = 'O' THEN NULL ELSE ROUND(o_totalprice, {DP}) END AS price_f
      FROM orders
    )
    WHERE price_f IS NOT NULL
    """,
)
def project_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection + multi-col dropna (Health_Jim.py:478-482, nb@10:8).

    Scale: narrow projection + filter — no shuffle at all; Catalyst pushes
    the IS NOT NULL predicate below the projection and prunes the scan to
    3 columns.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.when(F.col("o_orderstatus") == "O", F.lit(None))
            .otherwise(F.round("o_totalprice", DP))
            .alias("price_f"),
        )
        .na.drop(subset=["price_f"])
    )


@query(
    "range_filter_agg",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), {DP}) AS sum_qty,
           {round_cmp_sql("AVG(l_extendedprice)")} AS avg_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def range_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate → agg (Year between clamp, Health_Jim.py:225, nb@0:123).

    Scale: the timestamp range predicate reaches the parquet scan
    (row-group min/max pruning); one partial→final hash aggregation over
    3 groups — map-side combine collapses the shuffle to ~3 rows/task.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), DP).alias("sum_qty"),
            round_cmp(F.avg("l_extendedprice")).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "eq_filter_group_agg",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {round_cmp_sql("AVG(value)")} AS avg_value
    FROM events
    WHERE event_type = 'click'
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def eq_filter_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality filter feeding a grouped agg — the app's interactive
    country/year filters (Health_Jim.py:886-892, 940-942).

    Scale: equality predicate pushed to the scan; if `events` were
    partitioned by event_type on disk this is partition pruning. One
    shuffle on user_id with partial aggregation.

    The avg uses ``round_cmp`` (not plain ROUND) because group means of
    2-decimal data over power-of-two group sizes land exactly on 4dp
    half-boundaries, where Spark (HALF_UP) and DuckDB (half-even)
    genuinely disagree — observed at sf0.01 (mean 70.49125 over 16 rows).
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_cmp(F.avg("value")).alias("avg_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations (the six notebook/app queries)
# ---------------------------------------------------------------------------


@query(
    "filter_group_avg_topk",
    oracle=f"""
    SELECT l_partkey,
           {round_cmp_sql("AVG(l_extendedprice)")} AS avg_price,
           COUNT(*) AS n_records
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
    GROUP BY l_partkey
    ORDER BY avg_price DESC, l_partkey
    LIMIT 5
    """,
)
def filter_group_avg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 'deadliest diseases': WHERE NOT NULL → GROUP BY → AVG, COUNT →
    ORDER BY avg DESC → LIMIT 5 (SQL nb@3:2-13, pandas nb@2:2-5,
    app Health_Jim.py:439-447).

    Scale: group key l_partkey is high-cardinality (~1/5 of rows) —
    partial agg shrinks the shuffle to one row per (task, key); the
    global top-5 is a TakeOrderedAndProject (per-partition top-5 then
    driver merge), never a full sort.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_extendedprice").isNotNull())
        .groupBy("l_partkey")
        .agg(
            round_cmp(F.avg("l_extendedprice")).alias("avg_price"),
            F.count(F.lit(1)).alias("n_records"),
        )
        .orderBy(F.desc("avg_price"), F.asc("l_partkey"))
        .limit(5)
    )


@query(
    "group2_sort_mixed_limit",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
           l_returnflag,
           COUNT(*) AS n_cases,
           {round_cmp_sql("AVG(l_quantity)")} AS avg_qty
    FROM lineitem
    GROUP BY ship_year, l_returnflag
    ORDER BY avg_qty ASC, n_cases DESC, ship_year, l_returnflag
    LIMIT 50
    """,
)
def group2_sort_mixed_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 'recovery trends': GROUP BY Year, disease → COUNT, AVG →
    mixed-direction multi-key sort → LIMIT 50 (nb@7:2-13, nb@6:3-7).

    Scale: two-key grouped agg (low cardinality: years × flags), then
    top-50 via TakeOrderedAndProject with full deterministic tiebreak.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.year("l_shipdate").alias("ship_year"),
            "l_returnflag",
        )
        .agg(
            F.count(F.lit(1)).alias("n_cases"),
            round_cmp(F.avg("l_quantity")).alias("avg_qty"),
        )
        .orderBy(
            F.asc("avg_qty"), F.desc("n_cases"), F.asc("ship_year"), F.asc("l_returnflag")
        )
        .limit(50)
    )


@query(
    "group_avg_having_sort",
    oracle=f"""
    SELECT o_orderpriority,
           {round_cmp_sql("AVG(o_totalprice)")} AS avg_price,
           {round_cmp_sql("AVG(o_custkey)")} AS avg_custkey,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    HAVING AVG(o_totalprice) IS NOT NULL AND COUNT(*) > 10
    ORDER BY avg_price DESC, o_orderpriority
    """,
)
def group_avg_having_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 'access vs mortality': GROUP BY → AVG×k → HAVING → ORDER BY
    (nb@11:2-13; pandas twin post-agg dropna nb@10:2-8).

    HAVING compiles to a post-aggregation filter — exactly how the pandas
    twin expresses it. Scale: agg output is tiny (5 groups); the HAVING
    filter runs on the aggregated side, never rescans the fact table.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            round_cmp(F.avg("o_totalprice")).alias("avg_price"),
            round_cmp(F.avg("o_custkey")).alias("avg_custkey"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("avg_price").isNotNull() & (F.col("n_orders") > 10))
        .orderBy(F.desc("avg_price"), F.asc("o_orderpriority"))
    )


@query(
    "filter_group2_avg2_count_sort",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {round_cmp_sql("AVG(l_extendedprice)")} AS avg_price,
           {round_cmp_sql("AVG(l_discount)")} AS avg_discount,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
    GROUP BY l_returnflag, l_linestatus
    ORDER BY avg_price DESC, l_returnflag, l_linestatus
    """,
)
def filter_group2_avg2_count_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 'treatment cost': WHERE NOT NULL → GROUP BY k1,k2 → AVG, AVG,
    COUNT → ORDER BY avg DESC (nb@15:2-14, nb@14:2-10)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_extendedprice").isNotNull())
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_cmp(F.avg("l_extendedprice")).alias("avg_price"),
            round_cmp(F.avg("l_discount")).alias("avg_discount"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("avg_price"), "l_returnflag", "l_linestatus")
    )


@query(
    "group_avg_sum2_topk",
    oracle=f"""
    SELECT l_returnflag,
           {round_cmp_sql("AVG(l_extendedprice)")} AS avg_price,
           ROUND(SUM(l_quantity), {DP}) AS sum_qty,
           ROUND(SUM(l_tax), {DP}) AS sum_tax
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
    GROUP BY l_returnflag
    ORDER BY avg_price DESC, l_returnflag
    LIMIT 10
    """,
)
def group_avg_sum2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 'gender split of deadliest': GROUP BY → AVG, SUM, SUM → top-10
    (nb@18:1-13). The reference's WHERE clause is a silent no-op in SQLite
    (unknown quoted identifier → string literal, SURVEY §2.2 Q7); this
    implements the INTENDED semantics — filter on the measure being
    non-null — and the oracle encodes the same decision.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_extendedprice").isNotNull())
        .groupBy("l_returnflag")
        .agg(
            round_cmp(F.avg("l_extendedprice")).alias("avg_price"),
            F.round(F.sum("l_quantity"), DP).alias("sum_qty"),
            F.round(F.sum("l_tax"), DP).alias("sum_tax"),
        )
        .orderBy(F.desc("avg_price"), "l_returnflag")
        .limit(10)
    )


@query(
    "two_level_agg",
    oracle=f"""
    SELECT l_returnflag,
           {round_cmp_sql("AVG(avg_price)")} AS avg_avg_price,
           {round_cmp_sql("AVG(avg_qty)")} AS avg_avg_qty,
           COUNT(*) AS n_groups
    FROM (
      SELECT l_returnflag, l_suppkey,
             AVG(l_extendedprice) AS avg_price,
             AVG(l_quantity) AS avg_qty
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
      GROUP BY l_returnflag, l_suppkey
    )
    GROUP BY l_returnflag
    ORDER BY avg_avg_price DESC, l_returnflag
    LIMIT 50
    """,
)
def two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 'urban/rural burden': level-1 GROUP BY (Country, disease) → AVGs,
    level-2 re-agg GROUP BY disease → avg-of-avgs (nb@21:1-16 + nb@22:1-12).
    Deliberately an avg-of-avgs, NOT a flat per-disease avg — the
    reference's two-step semantics are preserved.

    Scale: the second agg consumes the first agg's (already shuffled,
    already tiny) output; Catalyst reuses the hash-partitioning on
    l_returnflag ⊂ (l_returnflag, l_suppkey)? No — the level-2 keys are a
    prefix subset, so a second (cheap) shuffle of the reduced data runs.
    The reduction happens at level 1, which is what matters at 100 TB.
    """
    li = load(spark, sf_dir, "lineitem")
    l1 = (
        li.filter(F.col("l_extendedprice").isNotNull())
        .groupBy("l_returnflag", "l_suppkey")
        .agg(
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_quantity").alias("avg_qty"),
        )
    )
    return (
        l1.groupBy("l_returnflag")
        .agg(
            round_cmp(F.avg("avg_price")).alias("avg_avg_price"),
            round_cmp(F.avg("avg_qty")).alias("avg_avg_qty"),
            F.count(F.lit(1)).alias("n_groups"),
        )
        .orderBy(F.desc("avg_avg_price"), "l_returnflag")
        .limit(50)
    )


@query(
    "trend_group_avg_sort",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           {round_cmp_sql("AVG(o_totalprice)")} AS avg_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY order_year
    ORDER BY order_year
    """,
)
def trend_group_avg_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mortality-trend shape: GROUP BY Year → AVG → ORDER BY Year
    (Health_Jim.py:461-471)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            round_cmp(F.avg("o_totalprice")).alias("avg_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("order_year")
    )


@query(
    "overview_scalars",
    oracle=f"""
    SELECT COUNT(*) AS n_records,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           {round_cmp_sql("AVG(o_totalprice)")} AS avg_price,
           ROUND(MIN(o_totalprice), {DP}) AS min_price,
           ROUND(MAX(o_totalprice), {DP}) AS max_price,
           ROUND(MEDIAN(o_totalprice), {DP}) AS median_price
    FROM orders
    """,
)
def overview_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview metrics: COUNT, nunique, AVG/MIN/MAX/MEDIAN in one pass
    (nb@28:64-82, nb@0:386-404).

    Exactness: Spark ``median`` is the exact interpolating percentile
    (SortAggregate), matching pandas/DuckDB — the parity-tier choice per
    SURVEY §4.3. The 100 TB path swaps to percentile_approx behind the
    ``exact`` flag in quality.overview().
    """
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        round_cmp(F.avg("o_totalprice")).alias("avg_price"),
        F.round(F.min("o_totalprice"), DP).alias("min_price"),
        F.round(F.max("o_totalprice"), DP).alias("max_price"),
        F.round(F.median("o_totalprice"), DP).alias("median_price"),
    )


@query(
    "value_counts_topk",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type
    LIMIT 10
    """,
)
def value_counts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_counts().head(10) (nb@0:375-385)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type")
        .limit(10)
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT (SELECT COUNT(*) FROM part) AS n_total,
           (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM part)) AS n_distinct,
           (SELECT COUNT(*) FROM part)
             - (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM part)) AS n_duplicates
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicated().sum() / drop_duplicates() over all columns
    (nb@1:1, Health_Jim.py:410-419).

    Scale: dropDuplicates over all columns = hash-agg on a composite key;
    partial dedup happens map-side before the shuffle.
    """
    p = load(spark, sf_dir, "part")
    total = p.agg(F.count(F.lit(1)).alias("n_total"))
    distinct = p.dropDuplicates().agg(F.count(F.lit(1)).alias("n_distinct"))
    return (
        total.crossJoin(distinct)
        .withColumn("n_duplicates", F.col("n_total") - F.col("n_distinct"))
    )


@query(
    "median_fill",
    oracle=f"""
    SELECT {round_cmp_sql("MEDIAN(l_quantity)")} AS med_qty,
           {round_cmp_sql("MEDIAN(l_extendedprice)")} AS med_price,
           {round_cmp_sql("MEDIAN(l_discount)")} AS med_discount,
           {round_cmp_sql("MEDIAN(l_tax)")} AS med_tax
    FROM lineitem
    """,
)
def median_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column exact medians — the reference's fill values and UI
    defaults (Health_Jim.py:222, 293, 306, 390-391).

    Computed by ``functions.quantiles.exact_quantiles_multi``. Up to
    ``SMALL_INPUT_MAX_ROWS`` (65,536) lineitem rows — sf0.01's 60,000
    included — that is one Arrow collect of the four columns and a
    driver-side sort; above it (sf0.1 and up) the distributed-selection
    engine (bucket-refinement k-th-smallest) runs three bounded passes
    for all four columns after that collect's partial job, with no
    per-value aggregation buffer anywhere and collects capped at the
    histogram width. The
    built-in exact ``median`` it replaces buffers every distinct value
    in one final aggregation state — fine at parity scale, a memory
    funnel at 100 TB (and measurably slower even at sf0.1: 1.8 s vs
    1.4 s). The quantile scalars are metadata-sized, so the driver-side
    orchestration is the same legitimate two-phase pattern as the IVF
    index fit. Known tradeoff: the selection jobs run EAGERLY at
    DataFrame-construction time (the scalars ARE the result), so
    schema-only registry enumerations pay them too — cheap at the small
    SFs those sweeps use; callers needing a fully lazy plan use
    ``median_fill_scaled``, which certifies the all-in-plan grouped
    histogram alternative."""
    from ..functions.quantiles import exact_quantiles_multi

    li = load(spark, sf_dir, "lineitem")
    meds = exact_quantiles_multi(
        li,
        {c: [0.5] for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")},
    )
    row = [
        (
            meds["l_quantity"][0],
            meds["l_extendedprice"][0],
            meds["l_discount"][0],
            meds["l_tax"][0],
        )
    ]
    # round via the round_cmp/round_cmp_sql PAIR (certification
    # invariant 3), not Python round() (half-to-even) and not bare
    # ROUND either — plain ROUND itself diverges between Spark
    # (BigDecimal HALF_UP on the exact binary expansion) and DuckDB
    # (scaled-double rounding) at half-boundaries, which is the exact
    # divergence round_cmp pins away
    return spark.createDataFrame(
        row, "med_qty double, med_price double, med_discount double, med_tax double"
    ).select(*(round_cmp(F.col(c)).alias(c) for c in ("med_qty", "med_price", "med_discount", "med_tax")))


@query(
    "iqr_clip",
    oracle=f"""
    WITH q AS (
      SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem
    )
    SELECT COUNT(*) AS n_items,
           {round_cmp_sql("AVG(LEAST(GREATEST(l_extendedprice, q1 - 3 * (q3 - q1)), q3 + 3 * (q3 - q1)))")} AS avg_clipped,
           ROUND(MIN(LEAST(GREATEST(l_extendedprice, q1 - 3 * (q3 - q1)),
                           q3 + 3 * (q3 - q1))), {DP}) AS min_clipped,
           ROUND(MAX(LEAST(GREATEST(l_extendedprice, q1 - 3 * (q3 - q1)),
                           q3 + 3 * (q3 - q1))), {DP}) AS max_clipped
    FROM lineitem, q
    """,
)
def iqr_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier clipping: quantile(.25/.75) then clip to ±3·IQR
    (Health_Jim.py:332-347, nb@0:230-245).

    clip(lo, hi) = LEAST(GREATEST(x, lo), hi) — native expressions, no UDF.
    Scale: the q1/q3 scalars come from
    ``functions.quantiles.exact_quantiles`` — one Arrow collect up to
    ``SMALL_INPUT_MAX_ROWS`` rows (sf0.01), distributed-selection exact
    quantiles with bounded collects above it (the built-in exact
    ``percentile`` it replaces buffers every distinct value in one
    final aggregation state; it was also the slowest single stage of
    this op at sf0.1, 1.9 s → 1.2 s). The scalars then fold into the
    clip expressions as literals — same plan shape DuckDB certifies,
    minus the 1-row cross join.
    """
    from ..functions.quantiles import exact_quantiles

    li = load(spark, sf_dir, "lineitem")
    q1, q3 = exact_quantiles(li, "l_extendedprice", [0.25, 0.75])
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.lit(q1 - 3 * (q3 - q1))),
        F.lit(q3 + 3 * (q3 - q1)),
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_items"),
        round_cmp(F.avg(clipped)).alias("avg_clipped"),
        F.round(F.min(clipped), DP).alias("min_clipped"),
        F.round(F.max(clipped), DP).alias("max_clipped"),
    )


#: quantile_profile geometry: every numeric lineitem measure × a probe
#: set that brackets the engine's numeric edges — deep tails (0.01/
#: 0.99), the quartile core, and the near-1 boundary prob whose
#: fractional rank collapses under a premature 1-based shift
#: (certification invariant 6)
_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_PROFILE_PROBS = (0.01, 0.25, 0.5, 0.75, 0.99, 0.9999999999999999)


@query(
    "quantile_profile",
    oracle="""
    SELECT col_name, p, q FROM (
    """
    + " UNION ALL ".join(
        f"""SELECT '{c}' AS col_name, CAST({p!r} AS DOUBLE) AS p,
               {round_cmp_sql(f"quantile_cont({c}, {p!r})")} AS q
        FROM lineitem"""
        for c in _PROFILE_COLS
        for p in _PROFILE_PROBS
    )
    + """
    ) ORDER BY col_name, p
    """,
)
def quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column quantile PROFILE — the exact-quantile engine
    certified directly, not through a single consumer: 4 columns × 6
    probs (24 scalars) in one engine call, against DuckDB
    ``quantile_cont`` at every point. At sf0.01 (60,000 rows, under
    ``SMALL_INPUT_MAX_ROWS``) the engine's small-input path answers it;
    at sf0.1 its three batched distributed jobs do. The reference's describe()/
    quantile calls (Health_Jim.py:222, 332-347) are the 1-column
    special case of this shape.

    The probe set is chosen adversarially: at 0.9999999999999999
    ``1 + (n-1)·p`` rounds the fractional rank away in IEEE doubles (the
    engine derives the 0-based position first and interpolates with
    Spark's symmetric form — certification invariant 6), and 0.01/0.99
    exercise deep-tail bucket location where the cumulative histogram
    is flattest.

    Scale: same contract as ``median_fill`` — above the small-input
    bound the stats, histogram, and boundary collects are all bounded
    (O(N_BUCKETS) driver memory);
    no per-value aggregation buffer anywhere, so the 100 TB failure
    mode of builtin exact ``percentile`` (single-state value map) can't
    occur. The 24 result scalars are metadata-sized; the eager
    driver-side orchestration is the certified two-phase pattern.
    """
    from ..functions.quantiles import exact_quantiles_multi

    li = load(spark, sf_dir, "lineitem")
    res = exact_quantiles_multi(li, {c: list(_PROFILE_PROBS) for c in _PROFILE_COLS})
    rows = [
        (c, float(p), res[c][i])
        for c in _PROFILE_COLS
        for i, p in enumerate(_PROFILE_PROBS)
    ]
    return (
        spark.createDataFrame(rows, "col_name string, p double, q double")
        .select("col_name", "p", round_cmp(F.col("q")).alias("q"))
        .orderBy("col_name", "p")
    )


@query(
    "corr_matrix",
    oracle=f"""
    SELECT ROUND(CORR(l_extendedprice, l_quantity), {DP}) AS corr_qty,
           ROUND(CORR(l_extendedprice, l_discount), {DP}) AS corr_discount,
           ROUND(CORR(l_extendedprice, l_tax), {DP}) AS corr_tax
    FROM lineitem
    """,
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of each feature vs the target column — the
    reference's corr()['Mortality_Rate_per_100'] slice
    (Health_Jim.py:519-547, nb@26:8-9). One wide agg, one pass, no UDF.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), DP).alias("corr_qty"),
        F.round(F.corr("l_extendedprice", "l_discount"), DP).alias("corr_discount"),
        F.round(F.corr("l_extendedprice", "l_tax"), DP).alias("corr_tax"),
    )


@query(
    "approx_distinct_bound",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_exact,
           TRUE AS approx_within_5pct
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def approx_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactness ladder (SURVEY §4.3), made checkable: exact
    COUNT(DISTINCT) next to HyperLogLog++ `approx_count_distinct`
    (rsd=0.02), asserting the sketch lands within 5% of truth.

    Sketch values themselves can't be oracle-compared (different HLL
    implementations), so the contract IS the error bound: the oracle
    pins the exact counts and a constant TRUE that the Spark side must
    earn. At 100 TB this is the swap the engine makes — exact distinct
    shuffles every (group, key) pair; the sketch partial-aggregates to
    a fixed-size buffer per group, turning an O(distinct) shuffle into
    an O(groups) one.

    rsd picks the buffer: Spark's HLL++ buffer is ~2^p/6 Longs OF PLAN
    ATTRIBUTES, and p grows as rsd shrinks — rsd=0.01 means ~2,700
    buffer columns, megabyte task binaries and a 40× slower aggregate
    (measured). rsd=0.02 (~680 longs) already lands within 0.6% here.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_exact"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_approx"),
        )
        .select(
            "o_orderpriority",
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("approx_within_5pct"),
        )
        .orderBy("o_orderpriority")
    )


#: fixed histogram geometry — single-pass, no min/max pre-scan
_HIST_LO, _HIST_HI, _HIST_NB = 0.0, 500_000.0, 20
_HIST_W = (_HIST_HI - _HIST_LO) / _HIST_NB


@query(
    "histogram_fixed_width",
    oracle=f"""
    SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - {_HIST_LO}) / {_HIST_W}), 0),
                      {_HIST_NB - 1}) AS INT) AS bucket,
           ROUND(CAST(LEAST(GREATEST(FLOOR((o_totalprice - {_HIST_LO}) / {_HIST_W}), 0),
                      {_HIST_NB - 1}) AS INT) * CAST({_HIST_W} AS DOUBLE)
                 + CAST({_HIST_LO} AS DOUBLE), 4) AS lo_edge,
           COUNT(*) AS n_orders,
           {round_cmp_sql("AVG(o_totalprice)")} AS avg_price
    FROM orders
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram — the profiling primitive behind the
    reference's distribution plots (Health_Jim.py's plotly histograms),
    computed engine-side instead of collecting raw rows to the driver.

    FIXED edges mean ONE pass: no min/max pre-scan, bucket assignment
    is pure row-local arithmetic (floor + clamp — same least/greatest
    clip idiom as iqr_clip), and the aggregate shuffles ≤ {_HIST_NB}
    rows per task. A data-dependent histogram (edges from min/max)
    costs a second scan; at 100 TB you take fixed or quantile-sketched
    edges instead. Out-of-range values clamp into the edge buckets, so
    the histogram is total: no row is silently dropped.
    """
    o = load(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(F.floor((F.col("o_totalprice") - _HIST_LO) / _HIST_W), F.lit(0)),
        F.lit(_HIST_NB - 1),
    ).cast("int")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_cmp(F.avg("o_totalprice")).alias("avg_price"),
        )
        .select(
            "bucket",
            F.round(F.col("bucket") * _HIST_W + _HIST_LO, 4).alias("lo_edge"),
            "n_orders",
            "avg_price",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# §2.5 window-equivalent computations
# ---------------------------------------------------------------------------


@query(
    "window_group_median_fill",
    oracle=f"""
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
             CASE WHEN l_tax < 0.01 THEN NULL ELSE l_quantity END AS qty_v
      FROM lineitem
    ),
    gm AS (
      SELECT l_returnflag, l_linestatus, MEDIAN(qty_v) AS group_med
      FROM base GROUP BY l_returnflag, l_linestatus
    ),
    gl AS (SELECT MEDIAN(qty_v) AS global_med FROM base)
    SELECT b.l_returnflag, b.l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN b.qty_v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           {round_cmp_sql("AVG(COALESCE(b.qty_v, gm.group_med, gl.global_med))")} AS avg_filled
    FROM base b
    JOIN gm ON b.l_returnflag = gm.l_returnflag AND b.l_linestatus = gm.l_linestatus
    CROSS JOIN gl
    GROUP BY b.l_returnflag, b.l_linestatus
    ORDER BY b.l_returnflag, b.l_linestatus
    """,
)
def window_group_median_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median null fill — groupby(...).transform('median') → fillna
    with group-then-global median (Health_Jim.py:290-306, nb@0:187-204).
    Nulls are synthesized deterministically (l_tax < 0.01 → NULL) since the
    driver tables are null-free.

    Implemented the SCALE way: groupBy-agg of group medians + broadcast
    join back (the tiny median table is broadcast — zero extra shuffle of
    the fact table), not percentile-over-Window (which re-sorts every
    partition's rows per window frame). This is the §2.3 'join-shaped
    transform' pattern.
    """
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_linestatus",
        F.when(F.col("l_tax") < 0.01, F.lit(None))
        .otherwise(F.col("l_quantity"))
        .alias("qty_v"),
    )
    gm = base.groupBy("l_returnflag", "l_linestatus").agg(
        F.median("qty_v").alias("group_med")
    )
    gl = base.agg(F.median("qty_v").alias("global_med"))
    filled = (
        base.join(F.broadcast(gm), ["l_returnflag", "l_linestatus"])
        .crossJoin(F.broadcast(gl))
        .withColumn("qty_filled", F.coalesce("qty_v", "group_med", "global_med"))
    )
    return (
        filled.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("qty_v").isNull(), 1).otherwise(0)).alias("n_filled"),
            round_cmp(F.avg("qty_filled")).alias("avg_filled"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "global_sort_rowid",
    oracle="""
    SELECT s_suppkey, s_name,
           ROW_NUMBER() OVER (ORDER BY s_name, s_suppkey) AS record_id
    FROM supplier
    ORDER BY record_id
    """,
)
def global_sort_rowid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record_ID: 1-based sequential id after a canonical multi-column sort
    (Health_Jim.py:424-426, nb@0:322-324) — the engine's only true window
    function, over a global (unpartitioned) window.

    Scale caveat (SURVEY §4.4): an unpartitioned row_number funnels all
    rows through one task. Fine for dimension-sized tables (supplier here);
    for fact tables use operators.record_id.with_record_id(), the
    two-phase partition-offset pattern.
    """
    s = load(spark, sf_dir, "supplier")
    w = Window.orderBy("s_name", "s_suppkey")
    return (
        s.select(
            "s_suppkey",
            "s_name",
            F.row_number().over(w).cast("long").alias("record_id"),
        )
        .orderBy("record_id")
    )


# ---------------------------------------------------------------------------
# §2.7 reshape
# ---------------------------------------------------------------------------


@query(
    "group_sum2_unpivot",
    oracle=f"""
    WITH g AS (
      SELECT l_returnflag,
             ROUND(SUM(l_quantity), {DP}) AS sum_qty,
             ROUND(SUM(l_extendedprice), {DP}) AS sum_price
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS metric_value FROM g
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS metric_value FROM g
    ORDER BY l_returnflag, metric
    """,
)
def group_sum2_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gender-impact melt: GROUP BY → SUM, SUM then wide→long unpivot
    (Health_Jim.py:487-501). Spark ≥3.4 has a native unpivot."""
    li = load(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), DP).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), DP).alias("sum_price"),
    )
    return (
        g.unpivot(
            ids=["l_returnflag"],
            values=["sum_qty", "sum_price"],
            variableColumnName="metric",
            valueColumnName="metric_value",
        )
        .orderBy("l_returnflag", "metric")
    )


@query(
    "set_intersect_except",
    oracle="""
    WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         buyers   AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         tagged AS (
           SELECT 'click_and_buy' AS cohort, user_id FROM
             (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
           UNION ALL
           SELECT 'click_only', user_id FROM
             (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
           UNION ALL
           SELECT 'buy_only', user_id FROM
             (SELECT user_id FROM buyers EXCEPT SELECT user_id FROM clickers)
         )
    SELECT cohort, COUNT(*) AS n_users
    FROM tagged
    GROUP BY cohort
    ORDER BY cohort
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra over user cohorts: INTERSECT / EXCEPT / UNION of the
    clicker and buyer populations — the set-operation family the
    reference never uses (SURVEY §2.7: no union/intersect/except) but a
    complete engine must carry.

    Scale shape: INTERSECT and EXCEPT plan as semi/anti hash joins over
    the pre-DISTINCTed cohorts — the join sides are |users|, not
    |events|, because dedup happens BEFORE the set op. All three
    branches and the final rollup compose into ONE distributed plan
    (no driver-side counting); the unioned cohorts partial-aggregate
    to three rows.
    """
    ev = load(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    tagged = (
        clickers.intersect(buyers).select(
            F.lit("click_and_buy").alias("cohort"), "user_id"
        )
        .union(
            clickers.subtract(buyers).select(
                F.lit("click_only").alias("cohort"), "user_id"
            )
        )
        .union(
            buyers.subtract(clickers).select(
                F.lit("buy_only").alias("cohort"), "user_id"
            )
        )
    )
    return (
        tagged.groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort")
    )


@query(
    "group_quantiles",
    oracle=f"""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), {DP}) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), {DP}) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), {DP}) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.95), {DP}) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact interpolated quantiles (p25/p50/p75/p95 of price
    per return flag) — the grouped generalization of the reference's
    global IQR analysis (Health_Jim.py:338-347, SURVEY §2.4 iqr_clip).

    All four probes share ONE percentile aggregate (array form), so
    each group's values are buffered once, not four times. Exactness
    ladder (SURVEY §4.3): per-group exact percentile buffers each
    GROUP's values in its aggregation state — bounded by the largest
    group, not the table; at 100 TB with huge groups the swap is
    percentile_approx, or functions.quantiles.exact_quantiles per group
    when exactness is non-negotiable.
    """
    li = load(spark, sf_dir, "lineitem")
    probs = [0.25, 0.50, 0.75, 0.95]
    qs = F.percentile("l_extendedprice", F.array(*[F.lit(p) for p in probs]))
    agged = li.groupBy("l_returnflag").agg(qs.alias("q"))
    return agged.select(
        "l_returnflag",
        *[
            F.round(F.col("q")[i], DP).alias(f"p{int(p * 100)}")
            for i, p in enumerate(probs)
        ],
    ).orderBy("l_returnflag")


#: GK sketch accuracy: rank error ≤ 1/_APPROX_ACC; the check widens the
#: exact rank window by exactly that guarantee (±0.0001) times a 10×
#: safety margin against interpolation at the window edges.
_APPROX_ACC = 10_000
_APPROX_EPS = 10.0 / _APPROX_ACC


@query(
    "approx_quantile_bound",
    oracle=f"""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.50), {DP}) AS p50_exact,
           TRUE AS approx_within_rank_bound
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile rung of the exactness ladder (SURVEY §4.3), sibling
    of approx_distinct_bound's HLL rung: exact ``percentile`` next to the
    Greenwald-Khanna ``percentile_approx`` sketch, asserting the sketch
    honors its rank-error guarantee (≤ 1/accuracy, checked against the
    exact quantiles at p ± {_APPROX_EPS}).

    Sketch values can't be oracle-compared (DuckDB has no GK), so the
    contract IS the bound: the oracle pins the exact p50 and a TRUE the
    Spark side must earn. At 100 TB this is the swap: exact percentile
    buffers every value in the final agg state; the sketch is a fixed
    O(accuracy·log n) summary that partial-aggregates — and the bound
    stays a guarantee, not a hope.
    """
    li = load(spark, sf_dir, "lineitem")
    lo, hi = 0.5 - _APPROX_EPS, 0.5 + _APPROX_EPS
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                f"percentile(l_extendedprice, array({lo}, 0.5, {hi}))"
            ).alias("ex"),
            F.percentile_approx("l_extendedprice", 0.5, _APPROX_ACC).alias("ap"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("ex")[1], DP).alias("p50_exact"),
            ((F.col("ap") >= F.col("ex")[0]) & (F.col("ap") <= F.col("ex")[2])).alias(
                "approx_within_rank_bound"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "zscore_normalize",
    oracle=f"""
    WITH stats AS (
      SELECT l_returnflag,
             AVG(l_extendedprice) AS mu,
             STDDEV_SAMP(l_extendedprice) AS sigma
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           COUNT(*) AS n_items,
           {round_cmp_sql("AVG(ABS((l.l_extendedprice - s.mu) / s.sigma))")} AS avg_abs_z,
           CAST(SUM(CASE WHEN ABS((l.l_extendedprice - s.mu) / s.sigma) > 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization — the feature-scaling step in
    front of any distance-based model (the reference standardizes
    implicitly through sklearn; here it is an engine op): x → (x-μ)/σ
    per group, reported as mean |z| and the |z| > 2 outlier tally.

    Scale shape: μ/σ are one tiny partial-agg'd pass (|groups| rows),
    broadcast back onto the fact scan — the same agg-then-broadcast-back
    pattern as window_group_median_fill, chosen over a partitioned
    window because the window would sort 100 TB inside each group while
    the join-back touches each row once, unsorted. STDDEV_SAMP matches
    DuckDB's sample variance exactly (both Welford-free two-pass here:
    the partial agg carries (n, Σx, Σx²)).
    """
    li = load(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.avg("l_extendedprice").alias("mu"),
        F.stddev_samp("l_extendedprice").alias("sigma"),
    )
    z = F.abs((F.col("l_extendedprice") - F.col("mu")) / F.col("sigma"))
    return (
        li.join(F.broadcast(stats), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            round_cmp(F.avg(z)).alias("avg_abs_z"),
            F.sum((z > 2).cast("int")).alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "set_ops_bag_semantics",
    oracle="""
    WITH c AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events
               WHERE event_type = 'click'),
         p AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events
               WHERE event_type = 'purchase'),
         both_all AS (SELECT * FROM c INTERSECT ALL SELECT * FROM p),
         click_excess AS (SELECT * FROM c EXCEPT ALL SELECT * FROM p)
    SELECT (SELECT COUNT(*) FROM c) AS n_click_rows,
           (SELECT COUNT(*) FROM p) AS n_purchase_rows,
           (SELECT COUNT(*) FROM both_all) AS n_intersect_all,
           (SELECT COUNT(*) FROM click_excess) AS n_except_all,
           (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM c INTERSECT SELECT DISTINCT * FROM p))
             AS n_intersect_distinct
    """,
)
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the multiset siblings of
    set_intersect_except: multiplicity is preserved (a user with 3
    click-days and 2 purchase-days contributes min(3,2)=2 rows to the
    intersection, 1 to the excess), which the DISTINCT forms destroy.
    The distinct intersection rides along to make the difference
    visible in one row of output.

    Scale shape — ONE distributed plan, not five jobs: INTERSECT ALL /
    EXCEPT ALL are, by definition, arithmetic over per-key
    multiplicities (min(nc,np) and max(nc-np,0)), so a single shuffle
    on (user_id, day) computing both sides' counts at once, followed by
    a global conditional aggregate, answers all five numbers in one
    scan of events. multiplicities travel as counts, never as
    replicated rows; the final agg is partial→final over 5 longs.
    (Round-1 form ran five separate .count() actions — 5 scans and a
    driver-side createDataFrame; flagged weak and rebuilt.)
    """
    ev = load(spark, sf_dir, "events")
    per_key = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            (F.col("event_type") == "click").cast("long").alias("is_c"),
            (F.col("event_type") == "purchase").cast("long").alias("is_p"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("is_c").alias("nc"), F.sum("is_p").alias("np"))
    )
    zero = F.lit(0).cast("long")
    return per_key.agg(
        F.coalesce(F.sum("nc"), zero).alias("n_click_rows"),
        F.coalesce(F.sum("np"), zero).alias("n_purchase_rows"),
        F.coalesce(F.sum(F.least("nc", "np")), zero).alias("n_intersect_all"),
        F.coalesce(F.sum(F.greatest(F.col("nc") - F.col("np"), zero)), zero).alias(
            "n_except_all"
        ),
        F.coalesce(
            F.sum(((F.col("nc") > 0) & (F.col("np") > 0)).cast("long")), zero
        ).alias("n_intersect_distinct"),
    )
