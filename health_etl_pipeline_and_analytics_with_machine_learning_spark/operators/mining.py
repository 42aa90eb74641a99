"""Mining / sketch / interval operators — round-5 additions beyond the
reference surface: mergeable distinct sketches, deterministic weighted
sampling, time-range windows, change-point detection, single-pass data
profiling, sweep-line interval concurrency, and Pareto skylines.

Why these: a 100 TB training-data pipeline needs cardinality sketches
(pre-sizing shuffles and dedup passes), reproducible weighted sampling
(corpus mixing), interval analytics (concurrency/capacity planning),
and profiling (schema drift detection) — none of which the reference's
single-table pandas app (``Health_Jim.py``) provides. Every op keeps
the established determinism contract: md5-derived uniforms instead of
RNG state, explicit tiebreaks, ``round_cmp`` on accumulated doubles,
and a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.lineage import lineage_cut
from .registry import ROUND_DP, epoch_us_utc, load, query, round_cmp, round_cmp_sql, spread
from .text import ALPHA_TOKENIZE_EXPR, ALPHA_TOKENIZE_SQL

DP = ROUND_DP

# --------------------------------------------------------------------------
# KMV distinct sketch
# --------------------------------------------------------------------------

#: sketch size: k minimum hash values retained per group
_KMV_K = 64
#: md5 prefix width is 12 hex chars = 48 bits; hashes map to [0, 2^48)
_KMV_SPACE = float(1 << 48)


@query(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH dh AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM dh
    ),
    kth AS (
      SELECT event_type, MAX(h) AS kth_h
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
    ),
    nh AS (SELECT event_type, COUNT(*) AS n_h FROM dh GROUP BY event_type),
    ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT nh.event_type,
           {_KMV_K} AS k,
           {round_cmp_sql(f"CASE WHEN nh.n_h > {_KMV_K} THEN ({_KMV_K} - 1) / (kth.kth_h / {_KMV_SPACE}) ELSE CAST(nh.n_h AS DOUBLE) END")} AS est_distinct,
           ex.exact_distinct,
           {round_cmp_sql(f"(CASE WHEN nh.n_h > {_KMV_K} THEN ({_KMV_K} - 1) / (kth.kth_h / {_KMV_SPACE}) ELSE CAST(nh.n_h AS DOUBLE) END - ex.exact_distinct) / ex.exact_distinct")} AS rel_err
    FROM nh
    JOIN ex ON ex.event_type = nh.event_type
    LEFT JOIN kth ON kth.event_type = nh.event_type
    ORDER BY nh.event_type
    """,
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch per group, checked against
    the exact count — the mergeable-sketch primitive a 100 TB engine uses
    to size dedup passes and shuffle plans before running them.

    Estimator: with ``u_k`` the k-th smallest of the distinct hash values
    mapped to [0,1), ``D̂ = (k-1)/u_k`` (Bar-Yossef et al. 2002); exact
    when ≤ k distinct hashes exist. The hash is an md5 prefix (48 bits),
    so the sketch is a pure function of the data — the oracle replays it
    bit-for-bit, which no RNG-seeded sketch could offer.

    Scale shape: the distinct() is one hash shuffle on (group, h); the
    k-smallest scan is a per-group ``WindowGroupLimit`` (rn <= k keeps
    only k rows per group per map task before the window shuffle). On a
    cluster the k values per group are the ENTIRE inter-stage state —
    this is why KMV/HLL sketches exist: merging two sketches = merging
    two k-sets, never re-reading data.
    """
    ev = load(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    dh = ev.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kth = (
        dh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.max("h").alias("kth_h"))
    )
    nh = dh.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_h"))
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_h") > _KMV_K,
        (F.lit(_KMV_K - 1)) / (F.col("kth_h") / F.lit(_KMV_SPACE)),
    ).otherwise(F.col("n_h").cast("double"))
    return (
        nh.join(ex, "event_type")
        .join(kth, "event_type", "left")
        .select(
            "event_type",
            F.lit(_KMV_K).alias("k"),
            round_cmp(est).alias("est_distinct"),
            "exact_distinct",
            round_cmp(
                (est - F.col("exact_distinct")) / F.col("exact_distinct")
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Deterministic weighted sampling
# --------------------------------------------------------------------------

_WS_TOP = 20


@query(
    "weighted_sample_topk",
    oracle=f"""
    SELECT doc_id, source, n_chars,
           {round_cmp_sql(f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / n_chars")} AS priority
    FROM documents
    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / n_chars,
             doc_id
    LIMIT {_WS_TOP}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sample: the {_WS_TOP} documents with
    the smallest ``hash_uniform / weight`` priority, weight = n_chars —
    longer documents proportionally more likely to be drawn.

    This is the reproducible stand-in for weighted reservoir sampling
    (Efraimidis–Spirakis A-ES uses ``u^(1/w)`` keys; we use the
    transcendental-free ``u/w`` ordering so both engines compute
    bit-identical IEEE doubles — one division of exact integers — while
    keeping the monotone-in-weight property that defines priority
    sampling). No RNG state: re-running on any subset, any cluster
    size, any engine selects the same rows.

    Scale shape: priority is a row-local expression; global top-k plans
    as ``TakeOrderedAndProject`` — each task keeps {_WS_TOP} rows, the
    driver merges; no sort, no shuffle of the full corpus.
    """
    d = load(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    prio = u / F.col("n_chars")
    return (
        d.select(
            "doc_id", "source", "n_chars", prio.alias("_p"), round_cmp(prio).alias("priority")
        )
        .orderBy("_p", "doc_id")
        .limit(_WS_TOP)
        .drop("_p")
    )


# --------------------------------------------------------------------------
# Time-range sliding window
# --------------------------------------------------------------------------

#: trailing window width in seconds (1 hour, inclusive at both ends)
_RW_SECONDS = 3600
#: bound the checked output: users below this id (~1/5 of traffic)
_RW_USER_CAP = 30


@query(
    "range_interval_window",
    oracle=f"""
    SELECT user_id, event_id, epoch_s, roll_cnt,
           {round_cmp_sql("roll_sum")} AS roll_sum
    FROM (
      SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s,
             COUNT(*) OVER w AS roll_cnt,
             SUM(value) OVER w AS roll_sum
      FROM events
      WHERE user_id < {_RW_USER_CAP}
      WINDOW w AS (
        PARTITION BY user_id
        ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
        RANGE BETWEEN {_RW_SECONDS} PRECEDING AND CURRENT ROW
      )
    )
    ORDER BY user_id, epoch_s, event_id
    """,
)
def range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour sliding aggregate per user over event TIME, not
    row count — ``RANGE BETWEEN {_RW_SECONDS} PRECEDING AND CURRENT ROW``
    on epoch seconds. Completes the window family next to the row-based
    moving average: rows/range frames answer different questions when
    events arrive irregularly (a rate limiter cares about the last hour,
    not the last N events).

    Tie semantics are the ANSI ones — rows sharing a timestamp are frame
    peers, so every peer sees the same aggregate, which is what makes the
    result order-insensitive and oracle-comparable without a row tiebreak.

    Scale shape: one shuffle on user_id, per-partition sort on the frame
    key; the range frame is evaluated with two moving pointers per
    partition (no per-row rescan). Window sums may re-associate between
    engines, hence ``round_cmp`` on the sum but not the count.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < _RW_USER_CAP)
    ep = F.floor(epoch_us_utc(F.col("ts")) / F.lit(1_000_000)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-_RW_SECONDS, 0)
    )
    return (
        ev.select("user_id", "event_id", "value", ep.alias("epoch_s"))
        .select(
            "user_id",
            "event_id",
            "epoch_s",
            F.count(F.lit(1)).over(w).alias("roll_cnt"),
            round_cmp(F.sum("value").over(w)).alias("roll_sum"),
        )
        .orderBy("user_id", "epoch_s", "event_id")
    )


# --------------------------------------------------------------------------
# CUSUM change-point detection
# --------------------------------------------------------------------------


@query(
    "cusum_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             COUNT(*) AS n_events
      FROM events WHERE event_type = 'error' GROUP BY 1
    ),
    dev AS (
      SELECT day, n_events,
             SUM(n_events - (SELECT AVG(n_events) FROM daily)) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cusum
      FROM daily
    )
    SELECT day, n_events,
           {round_cmp_sql("cusum")} AS cusum,
           {round_cmp_sql("ABS(cusum)")} = {round_cmp_sql("MAX(ABS(cusum)) OVER ()")} AS is_peak
    FROM dev
    ORDER BY day
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily error-event series: the
    running sum of deviations from the global mean; the day where |CUSUM|
    peaks is the most likely level-shift point (Page 1954). The classic
    monitoring primitive for "did the error rate structurally change and
    when" — a closed-form two-window pass, no iteration.

    Scale shape: the heavy work is the daily pre-aggregation (partial →
    final HashAggregate over the raw events). Every window after that
    runs over #days rows — driver-sized post-agg cardinality, so the
    unpartitioned windows are not a funnel at any input scale.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    daily = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w_all = Window.partitionBy()
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dev = daily.withColumn("mean", F.avg("n_events").over(w_all)).withColumn(
        "cusum", F.sum(F.col("n_events") - F.col("mean")).over(w_run)
    )
    return dev.select(
        "day",
        "n_events",
        round_cmp(F.col("cusum")).alias("cusum"),
        (
            round_cmp(F.abs("cusum"))
            == round_cmp(F.max(F.abs("cusum")).over(w_all))
        ).alias("is_peak"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Single-pass column profiling
# --------------------------------------------------------------------------


@query(
    "column_profile",
    oracle=f"""
    SELECT * FROM (
      SELECT 'o_orderkey' AS col_name,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             COUNT(DISTINCT o_orderkey) AS n_distinct,
             {round_cmp_sql("CAST(MIN(o_orderkey) AS DOUBLE)")} AS min_num,
             {round_cmp_sql("CAST(MAX(o_orderkey) AS DOUBLE)")} AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      FROM orders
      UNION ALL
      SELECT 'o_custkey',
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_custkey),
             {round_cmp_sql("CAST(MIN(o_custkey) AS DOUBLE)")},
             {round_cmp_sql("CAST(MAX(o_custkey) AS DOUBLE)")},
             NULL, NULL
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus',
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_orderstatus),
             NULL, NULL, MIN(o_orderstatus), MAX(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice',
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_totalprice),
             {round_cmp_sql("MIN(o_totalprice)")},
             {round_cmp_sql("MAX(o_totalprice)")},
             NULL, NULL
      FROM orders
      UNION ALL
      SELECT 'o_orderdate',
             CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_orderdate),
             {round_cmp_sql("CAST(FLOOR(epoch(MIN(o_orderdate))) AS DOUBLE)")},
             {round_cmp_sql("CAST(FLOOR(epoch(MAX(o_orderdate))) AS DOUBLE)")},
             NULL, NULL
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority',
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_orderpriority),
             NULL, NULL, MIN(o_orderpriority), MAX(o_orderpriority)
      FROM orders
    )
    ORDER BY col_name
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile (null count, distinct count, min/max)
    in ONE scan — the schema-drift / data-quality primitive an ingest
    pipeline runs on every new partition before accepting it. The
    reference eyeballs ``df.describe()`` on pandas (``nb@1``); this is
    the distributed, single-pass equivalent.

    Scale shape: one pass, one multi-distinct aggregate (Catalyst plans
    the distinct aggregates via Expand — #distinct-cols × row
    amplification map-side, still a single shuffle), then a 6-row
    ``stack`` unpivot of the 1-row aggregate. The oracle re-scans per
    column (UNION ALL) — correctness-equivalent, and the contrast IS the
    point of the single-pass form at 100 TB.
    """
    o = load(spark, sf_dir, "orders")
    # the testdata ships one parquet split per table, so the Expand (6×
    # row amplification for the multi-distinct) and its partial
    # aggregate would run on ONE task; spread() self-disables once the
    # source has natural splits (production layouts).
    o = spread(o, "o_orderkey")

    def nn(c):
        return F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))

    a = o.agg(
        nn("o_orderkey").alias("nn_ok"),
        F.countDistinct("o_orderkey").alias("nd_ok"),
        round_cmp(F.min("o_orderkey").cast("double")).alias("mn_ok"),
        round_cmp(F.max("o_orderkey").cast("double")).alias("mx_ok"),
        nn("o_custkey").alias("nn_ck"),
        F.countDistinct("o_custkey").alias("nd_ck"),
        round_cmp(F.min("o_custkey").cast("double")).alias("mn_ck"),
        round_cmp(F.max("o_custkey").cast("double")).alias("mx_ck"),
        nn("o_orderstatus").alias("nn_st"),
        F.countDistinct("o_orderstatus").alias("nd_st"),
        F.min("o_orderstatus").alias("mn_st"),
        F.max("o_orderstatus").alias("mx_st"),
        nn("o_totalprice").alias("nn_tp"),
        F.countDistinct("o_totalprice").alias("nd_tp"),
        round_cmp(F.min("o_totalprice")).alias("mn_tp"),
        round_cmp(F.max("o_totalprice")).alias("mx_tp"),
        nn("o_orderdate").alias("nn_od"),
        F.countDistinct("o_orderdate").alias("nd_od"),
        # o_orderdate arrives as TIMESTAMP_NTZ; epoch_us_utc undoes the
        # session-TZ offset the NTZ→TIMESTAMP cast applies, so the epoch
        # seconds match DuckDB's epoch() under ANY session timezone
        round_cmp(
            F.floor(
                epoch_us_utc(F.min("o_orderdate").cast("timestamp"))
                / F.lit(1_000_000)
            ).cast("double")
        ).alias("mn_od"),
        round_cmp(
            F.floor(
                epoch_us_utc(F.max("o_orderdate").cast("timestamp"))
                / F.lit(1_000_000)
            ).cast("double")
        ).alias("mx_od"),
        nn("o_orderpriority").alias("nn_op"),
        F.countDistinct("o_orderpriority").alias("nd_op"),
        F.min("o_orderpriority").alias("mn_op"),
        F.max("o_orderpriority").alias("mx_op"),
    )
    stacked = a.select(
        F.expr(
            "stack(6, "
            "'o_orderkey', nn_ok, nd_ok, mn_ok, mx_ok, CAST(NULL AS STRING), CAST(NULL AS STRING), "
            "'o_custkey', nn_ck, nd_ck, mn_ck, mx_ck, CAST(NULL AS STRING), CAST(NULL AS STRING), "
            "'o_orderstatus', nn_st, nd_st, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_st, mx_st, "
            "'o_totalprice', nn_tp, nd_tp, mn_tp, mx_tp, CAST(NULL AS STRING), CAST(NULL AS STRING), "
            "'o_orderdate', nn_od, nd_od, mn_od, mx_od, CAST(NULL AS STRING), CAST(NULL AS STRING), "
            "'o_orderpriority', nn_op, nd_op, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_op, mx_op"
            ") AS (col_name, n_null, n_distinct, min_num, max_num, min_str, max_str)"
        )
    )
    return stacked.orderBy("col_name")


# --------------------------------------------------------------------------
# Sweep-line interval concurrency
# --------------------------------------------------------------------------

#: each event opens a 5-minute activity interval
_IC_DUR_US = 300 * 1_000_000


@query(
    "interval_concurrency_peak",
    oracle=f"""
    WITH pts AS (
      SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
      UNION ALL
      SELECT event_type, epoch_us(ts) + {_IC_DUR_US}, -1 FROM events
    ),
    run AS (
      SELECT event_type, t,
             SUM(delta) OVER (
               PARTITION BY event_type ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS running
      FROM pts
    ),
    pk AS (
      SELECT event_type, MAX(running) AS peak_concurrency FROM run GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(p.peak_concurrency AS BIGINT) AS peak_concurrency,
           MIN(r.t) AS peak_t_us
    FROM run r JOIN pk p
      ON p.event_type = r.event_type AND r.running = p.peak_concurrency
    GROUP BY r.event_type, p.peak_concurrency
    ORDER BY r.event_type
    """,
)
def interval_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency via sweep-line: each event opens a
    5-minute interval; +1/−1 boundary points, a running sum per type,
    and the max is the largest number of simultaneously-open intervals
    (with the earliest time it is reached). The capacity-planning query
    ("how many concurrent sessions must we provision for?") that
    pandas-style tools answer with an O(n²) overlap scan — here it is
    O(n log n) with all work distributed.

    Determinism: boundary ties process closings before openings
    (``ORDER BY t, delta`` — delta −1 < +1), the half-open-interval
    convention. Rows tied on (t, delta) permute only within a
    monotone run of the prefix sum, so the per-type max and its
    earliest time are order-invariant even though per-row running
    values are not — which is why the op emits the grouped peak, not
    per-row state.

    Scale shape: union+projection is map-side; one shuffle on
    event_type for the running-sum window; the peak join is on the
    grouped (driver-sized) side. Skewed types are the known hazard —
    the salted-window pattern (op/skew.py) applies unchanged.
    """
    ev = load(spark, sf_dir, "events")
    t = epoch_us_utc(F.col("ts"))
    starts = ev.select("event_type", t.alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        "event_type", (t + F.lit(_IC_DUR_US)).alias("t"), F.lit(-1).alias("delta")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = starts.unionAll(ends).select(
        "event_type", "t", F.sum("delta").over(w).alias("running")
    )
    # two consumers below (peak aggregate + the argmin join) — persist
    # the swept stream once instead of re-running the union+window
    run = lineage_cut(run, eager=True)
    pk = run.groupBy("event_type").agg(F.max("running").alias("peak_concurrency"))
    return (
        run.join(pk, "event_type")
        .filter(F.col("running") == F.col("peak_concurrency"))
        .groupBy("event_type", "peak_concurrency")
        .agg(F.min("t").alias("peak_t_us"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Pareto skyline
# --------------------------------------------------------------------------


@query(
    "skyline_pareto",
    oracle=f"""
    SELECT x.p_partkey, ROUND(x.p_retailprice, {DP}) AS price, x.p_size AS size
    FROM part x
    WHERE NOT EXISTS (
      SELECT 1 FROM part y
      WHERE y.p_retailprice <= x.p_retailprice AND y.p_size >= x.p_size
        AND (y.p_retailprice < x.p_retailprice OR y.p_size > x.p_size)
    )
    ORDER BY price, size, x.p_partkey
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline of parts — minimize price, maximize size: the
    rows no other row beats on both axes. The multi-objective "best
    tradeoffs" query (Börzsönyi et al., ICDE 2001) that SQL expresses
    only as a quadratic NOT EXISTS — which is exactly what the oracle
    runs, making it an INDEPENDENT formulation of the same semantics
    rather than a transliteration of this plan.

    Scale shape (prune-then-verify, the standard distributed skyline):
    (1) bucket rows by ⌊price⌋ and compute each bucket's max size — a
    tiny aggregate; (2) the strictly-cheaper-bucket running max forms a
    staircase; any row at-or-under the staircase is dominated by an
    actual cheaper row and is discarded in a row-local broadcast-join
    filter (no shuffle of the fact table); (3) the surviving candidate
    set — bounded by the staircase's step count, thousands at most
    regardless of input size — is verified exactly with a broadcast
    nested-loop anti-join against itself. Dominance is transitive, so
    pruned rows can never be needed as witnesses: every dominator chain
    ends at a survivor. Ties (equal price AND size) dominate neither
    way and are all retained, matching the oracle's strict clause.
    """
    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    b = p.withColumn("bucket", F.floor("p_retailprice"))
    bmax = b.groupBy("bucket").agg(F.max("p_size").alias("bsize"))
    # running max over strictly-lower buckets; bucket count is
    # price-range-bounded (driver-sized), so the global window is safe
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    stair = bmax.select("bucket", F.max("bsize").over(wb).alias("lower_max"))
    cand = (
        b.join(F.broadcast(stair), "bucket")
        .filter(F.col("lower_max").isNull() | (F.col("p_size") > F.col("lower_max")))
        .select("p_partkey", "p_retailprice", "p_size")
    )
    dom = F.broadcast(
        cand.select(
            F.col("p_partkey").alias("d_key"),
            F.col("p_retailprice").alias("d_price"),
            F.col("p_size").alias("d_size"),
        )
    )
    sky = cand.join(
        dom,
        (F.col("d_price") <= F.col("p_retailprice"))
        & (F.col("d_size") >= F.col("p_size"))
        & (
            (F.col("d_price") < F.col("p_retailprice"))
            | (F.col("d_size") > F.col("p_size"))
        ),
        "left_anti",
    )
    return sky.select(
        "p_partkey",
        F.round("p_retailprice", DP).alias("price"),
        F.col("p_size").alias("size"),
    ).orderBy("price", "size", "p_partkey")


# --------------------------------------------------------------------------
# Market-basket association rules
# --------------------------------------------------------------------------

#: a pair is "frequent" when it appears in at least this fraction of baskets
_AR_MINSUP = 0.005
_AR_TOP = 20


def _order_brand_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted brand set: fact ⋈ broadcast part dim, then ONE
    hash shuffle on the basket key. Shared by the basket-mining ops."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("items"))
    )


def _brand_pair_counts(sets: DataFrame) -> DataFrame:
    """Unordered co-occurrence pair counts, generated IN-ROW from each
    basket's sorted item set (C(k,2) per basket via indexed transform +
    slice) — quadratic only in basket size, and one aggregate shuffle
    on the pair key. The self-join formulation the oracle uses would
    shuffle the basket table twice more; measured 3.6 s → ~1 s at
    sf0.1."""
    return (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) ->"
                    " transform(slice(items, i + 2, size(items)),"
                    " y -> struct(x, y))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("pc"))
    )


@query(
    "assoc_rules_lift",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    tot AS (SELECT COUNT(DISTINCT o) AS n FROM baskets),
    items AS (SELECT item, COUNT(*) AS cnt FROM baskets GROUP BY item),
    pairs AS (
      SELECT b1.item AS x, b2.item AS y, COUNT(*) AS pc
      FROM baskets b1 JOIN baskets b2 ON b1.o = b2.o AND b1.item < b2.item
      GROUP BY b1.item, b2.item
    ),
    rules AS (
      SELECT x AS antecedent, y AS consequent, pc FROM pairs
      UNION ALL
      SELECT y, x, pc FROM pairs
    )
    SELECT antecedent, consequent, r.pc AS pair_cnt,
           {round_cmp_sql("r.pc / CAST(t.n AS DOUBLE)")} AS support,
           {round_cmp_sql("r.pc / CAST(ia.cnt AS DOUBLE)")} AS confidence,
           {round_cmp_sql("(r.pc * t.n) / CAST(ia.cnt * ic.cnt AS DOUBLE)")} AS lift
    FROM rules r
    JOIN items ia ON ia.item = r.antecedent
    JOIN items ic ON ic.item = r.consequent
    CROSS JOIN tot t
    WHERE r.pc >= {_AR_MINSUP} * t.n
    ORDER BY (r.pc * t.n) / CAST(ia.cnt * ic.cnt AS DOUBLE) DESC,
             antecedent, consequent
    LIMIT {_AR_TOP}
    """,
)
def assoc_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-2 association rules over order baskets (items = brands):
    support, confidence, and lift for every frequent brand pair, top-20
    by lift — the classic market-basket shape (Agrawal & Srikant, VLDB
    1994) restricted to pairs, which is the stage that dominates cost at
    scale anyway.

    Determinism: lift = (pc·n)/(cntₐ·cnt_c) is ONE IEEE division of
    exact integer products, so both engines order by bit-identical
    doubles; (antecedent, consequent) breaks residual ties.

    Scale shape: the basket build joins the fact table against a
    BROADCAST part dim and groups into per-order sorted item sets with
    ONE hash shuffle on the basket key; pairs are then generated IN-ROW
    (C(k,2) per basket — quadratic in basket size, never corpus size)
    and count-aggregated. The oracle states the same counts as a basket
    self-join — an independent formulation. The support threshold is a
    FRACTION of baskets (apriori pruning), so the frequent set stays
    stable as volume grows 1000×; item counts broadcast to the rule
    join.
    """
    sets = _order_brand_sets(spark, sf_dir)
    # three consumers below (total, item counts, pair counts) — persist
    # the basket table once instead of re-running the build per branch
    # (at cluster scale: .persist(StorageLevel.DISK_ONLY) instead)
    sets = lineage_cut(sets, eager=True)
    tot = sets.agg(F.count(F.lit(1)).alias("n"))
    items = sets.select(F.explode("items").alias("item")).groupBy("item").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pairs = _brand_pair_counts(sets)
    rules = pairs.select(
        F.col("x").alias("antecedent"), F.col("y").alias("consequent"), "pc"
    ).unionAll(
        pairs.select(
            F.col("y").alias("antecedent"), F.col("x").alias("consequent"), "pc"
        )
    )
    ia = F.broadcast(items.select(F.col("item").alias("antecedent"), F.col("cnt").alias("cnt_a")))
    ic = F.broadcast(items.select(F.col("item").alias("consequent"), F.col("cnt").alias("cnt_c")))
    lift = (F.col("pc") * F.col("n")) / (F.col("cnt_a") * F.col("cnt_c")).cast(
        "double"
    )
    return (
        rules.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("pc") >= F.lit(_AR_MINSUP) * F.col("n"))
        .select(
            "antecedent",
            "consequent",
            F.col("pc").alias("pair_cnt"),
            round_cmp(F.col("pc") / F.col("n").cast("double")).alias("support"),
            round_cmp(F.col("pc") / F.col("cnt_a").cast("double")).alias(
                "confidence"
            ),
            round_cmp(lift).alias("lift"),
            lift.alias("_lift_raw"),
        )
        .orderBy(F.desc("_lift_raw"), "antecedent", "consequent")
        .limit(_AR_TOP)
        .drop("_lift_raw")
    )


# --------------------------------------------------------------------------
# Co-purchase graph triangle census
# --------------------------------------------------------------------------

#: the graph keeps the N strongest co-purchase edges
_TRI_EDGES = 150


@query(
    "brand_copurchase_triangles",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pc AS (
      SELECT b1.item AS x, b2.item AS y, COUNT(*) AS c
      FROM baskets b1 JOIN baskets b2 ON b1.o = b2.o AND b1.item < b2.item
      GROUP BY b1.item, b2.item
    ),
    edges AS (
      SELECT x, y FROM (
        SELECT x, y, ROW_NUMBER() OVER (ORDER BY c DESC, x, y) AS rn FROM pc
      ) WHERE rn <= {_TRI_EDGES}
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges ab JOIN edges bc ON ab.y = bc.x
           JOIN edges ac ON ac.x = ab.x AND ac.y = bc.y
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT x AS node FROM edges UNION ALL SELECT y FROM edges
      ) GROUP BY node
    ),
    wedge AS (SELECT SUM(d * (d - 1) / 2) AS n_wedges FROM deg)
    SELECT {_TRI_EDGES} AS n_edges,
           t.n_triangles,
           CAST(w.n_wedges AS BIGINT) AS n_wedges,
           {round_cmp_sql("3.0 * t.n_triangles / w.n_wedges")} AS clustering_coef
    FROM tri t CROSS JOIN wedge w
    """,
)
def brand_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the brand
    co-purchase graph (nodes = brands, edges = the {_TRI_EDGES}
    strongest co-occurrence pairs). Triangle counting is THE canonical
    join-based graph kernel; the clustering coefficient 3·Δ/wedges says
    how cliquish co-purchasing is.

    The edge set is top-N by weight with full (count, x, y) tiebreak,
    which keeps the graph density INVARIANT to corpus scale — an
    absolute-count cutoff would go from empty to complete as volume
    grows.

    Scale shape: the heavy stage is the basket pair count (shared
    in-row C(k,2) build with assoc_rules_lift); the graph itself is
    dimension-sized, so the triangle 3-way self-join broadcasts. On billion-edge graphs the
    same query runs with edges oriented by degree (each edge stored
    low-degree → high-degree) — the standard bound that keeps the join
    fan-out at O(E^1.5) — which this node-ordered orientation already
    approximates.
    """
    pc = _brand_pair_counts(_order_brand_sets(spark, sf_dir)).withColumnRenamed(
        "pc", "c"
    )
    w = Window.orderBy(F.desc("c"), "x", "y")
    edges = (
        pc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TRI_EDGES)
        .select("x", "y")
    )
    # the edge list is referenced four times below (three join aliases +
    # the degree table); it is dimension-sized, so cut the lineage here
    # rather than re-running the basket pair count per reference
    edges = lineage_cut(edges, eager=True)
    ab = edges.select(F.col("x").alias("a"), F.col("y").alias("b"))
    bc = edges.select(F.col("x").alias("b"), F.col("y").alias("c"))
    ac = edges.select(F.col("x").alias("a"), F.col("y").alias("c"))
    tri = (
        ab.join(F.broadcast(bc), "b")
        .join(F.broadcast(ac), ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedge = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("n_wedges_raw")
    )
    return (
        tri.crossJoin(F.broadcast(wedge))
        .select(
            F.lit(_TRI_EDGES).alias("n_edges"),
            "n_triangles",
            F.col("n_wedges_raw").cast("long").alias("n_wedges"),
            round_cmp(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges_raw")
            ).alias("clustering_coef"),
        )
    )


# --------------------------------------------------------------------------
# Fixed-iteration PageRank
# --------------------------------------------------------------------------

_PR_DAMP = 0.85
_PR_ITERS = 3
_PR_N = 25  # nations


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT nn.n_nationkey AS node,
             {1 - _PR_DAMP:.2f} / {_PR_N} + {_PR_DAMP} * COALESCE(SUM({prev}.pr * tr.p), 0) AS pr
      FROM nation nn
      LEFT JOIN tr ON tr.dst = nn.n_nationkey
      LEFT JOIN {prev} ON {prev}.node = tr.src
      GROUP BY nn.n_nationkey
    )"""


@query(
    "pagerank_nation_trade",
    oracle=f"""
    WITH e AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY c.c_nationkey, s.s_nationkey
    ),
    ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
    tr AS (SELECT e.src, e.dst, e.w / CAST(ow.ow AS DOUBLE) AS p
           FROM e JOIN ow ON ow.src = e.src),
    pr0 AS (SELECT n_nationkey AS node, 1.0 / {_PR_N} AS pr FROM nation),
    {_pr_iter_sql("pr0", "pr1")},
    {_pr_iter_sql("pr1", "pr2")},
    {_pr_iter_sql("pr2", "pr3")}
    SELECT p3.node AS nationkey, n.n_name AS nation,
           {round_cmp_sql("p3.pr")} AS pagerank
    FROM pr3 p3 JOIN nation n ON n.n_nationkey = p3.node
    ORDER BY p3.node
    """,
)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_PR_ITERS}-iteration PageRank (damping {_PR_DAMP}) over the
    nation-level trade graph: edge i→j weighted by how many lineitems
    customers of nation i bought from suppliers of nation j. The
    fixed-iteration form of the canonical iterative-dataflow algorithm
    (Page et al. 1999) — exactly the shape Spark excels at (re-joining a
    small rank vector against a cached edge list) and the oracle can
    still replay as {_PR_ITERS} unrolled CTEs.

    Dangling mass (a node with no out-edges) is dropped, not
    redistributed — pinned identically on both sides; with this data
    every nation has customers, so no mass is lost in practice.

    Scale shape: the edge build is the real work — fact⋈fact on
    orderkey (one shuffle) with both dims broadcast, then a
    nation-pair aggregate that collapses 60k rows to ≤{_PR_N}². Each
    iteration after that joins a {_PR_N}-row rank vector — broadcast —
    against the aggregated transition matrix; on a billion-node graph
    the SAME loop runs with the rank vector partitioned instead of
    broadcast, and the plan per iteration is unchanged.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ow = e.groupBy("src").agg(F.sum("w").alias("ow"))
    tr = e.join(ow, "src").select(
        "src", "dst", (F.col("w") / F.col("ow").cast("double")).alias("p")
    )
    # the transition matrix is dimension-sized from here on; cut the
    # 4-table lineage so the 3 iterations don't re-run the joins
    tr = lineage_cut(tr, eager=True)
    nodes = n.select(F.col("n_nationkey").alias("node"))
    pr = nodes.withColumn("pr", F.lit(1.0) / F.lit(_PR_N))
    for _ in range(_PR_ITERS):
        contrib = (
            tr.join(F.broadcast(pr), tr.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("mass"))
        )
        pr = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(round(1 - _PR_DAMP, 10)) / F.lit(_PR_N)
                + F.lit(_PR_DAMP) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("pr"),
        )
    return (
        pr.join(F.broadcast(n), pr.node == n.n_nationkey)
        .select(
            F.col("node").alias("nationkey"),
            F.col("n_name").alias("nation"),
            round_cmp(F.col("pr")).alias("pagerank"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# Pointwise mutual information over adjacent token pairs
# --------------------------------------------------------------------------

#: a bigram must carry at least this fraction of all bigram mass
_PMI_MIN_FRAC = 0.0005
_PMI_TOP = 20


@query(
    "token_pmi_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             {ALPHA_TOKENIZE_SQL} AS a
      FROM documents
    ),
    uni AS (
      SELECT unnest(a) AS w FROM tok
    ),
    c1 AS (SELECT w, COUNT(*) AS u FROM uni GROUP BY w),
    t1 AS (SELECT COUNT(*) AS tu FROM uni),
    big AS (
      SELECT unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS bg
      FROM tok WHERE len(a) >= 2
    ),
    c2 AS (SELECT bg[1] AS w1, bg[2] AS w2, COUNT(*) AS n2 FROM big GROUP BY 1, 2),
    t2 AS (SELECT COUNT(*) AS tb FROM big)
    SELECT w1, w2, n2,
           {round_cmp_sql("ln((n2 / CAST(tb AS DOUBLE)) / ((ca.u / CAST(tu AS DOUBLE)) * (cb.u / CAST(tu AS DOUBLE))))")} AS pmi
    FROM c2
    JOIN c1 ca ON ca.w = c2.w1
    JOIN c1 cb ON cb.w = c2.w2
    CROSS JOIN t1 CROSS JOIN t2
    WHERE n2 >= {_PMI_MIN_FRAC} * tb
    ORDER BY pmi DESC, w1, w2
    LIMIT {_PMI_TOP}
    """,
)
def token_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PMI_TOP} adjacent token pairs by pointwise mutual
    information: PMI = ln(p(w₁w₂)/(p(w₁)p(w₂))) — the collocation
    detector (Church & Hanks 1990) an LLM-corpus pipeline uses to find
    multi-word units worth protecting from tokenizer splits. Shares the
    bigram_cross_entropy tokenizer so both ops see the identical stream.

    Rank is by the ROUNDED pmi (identical floor-formula doubles on both
    engines) with (w1, w2) tiebreak, making the top-k robust to the
    last-ulp ln() divergence between libm implementations; the min-count
    threshold is a fraction of total bigram mass, so selectivity is
    scale-invariant.

    Scale shape: token/bigram construction is narrow in-row array work;
    three partial-agg'd counts; the scoring join broadcasts the unigram
    table. At open-web vocabulary the unigram side outgrows broadcast —
    the swap is a shuffle join on w1/w2, same plan otherwise.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr(ALPHA_TOKENIZE_EXPR).alias("a"),
    )
    uni = toks.select(F.explode("a").alias("w"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).alias("u"))
    t1 = uni.agg(F.count(F.lit(1)).alias("tu"))
    pairs = (
        toks.filter(F.size("a") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),"
                    " (x, y) -> named_struct('w1', x, 'w2', y))"
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    t2 = pairs.agg(F.count(F.lit(1)).alias("tb"))
    ca = F.broadcast(c1.select(F.col("w").alias("w1"), F.col("u").alias("ua")))
    cb = F.broadcast(c1.select(F.col("w").alias("w2"), F.col("u").alias("ub")))
    pmi = F.log(
        (F.col("n2") / F.col("tb").cast("double"))
        / (
            (F.col("ua") / F.col("tu").cast("double"))
            * (F.col("ub") / F.col("tu").cast("double"))
        )
    )
    return (
        c2.join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .filter(F.col("n2") >= F.lit(_PMI_MIN_FRAC) * F.col("tb"))
        .select("w1", "w2", "n2", round_cmp(pmi).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOP)
    )


# --------------------------------------------------------------------------
# Seasonal baseline + anomaly flags
# --------------------------------------------------------------------------

#: |z| above this (after cross-engine rounding) flags an anomalous hour
_SEAS_Z = 1.5


@query(
    "seasonal_baseline_anomaly",
    oracle=f"""
    WITH hourly AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(strftime(CAST(ts AS DATE), '%w') AS INTEGER) + 1 AS dow,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT day, hour, n_events,
             AVG(n_events) OVER w AS baseline,
             STDDEV_SAMP(n_events) OVER w AS sd,
             COUNT(*) OVER w AS n_weeks
      FROM hourly
      WINDOW w AS (PARTITION BY dow, hour)
    )
    SELECT day, hour, n_events,
           {round_cmp_sql("baseline")} AS baseline,
           {round_cmp_sql("n_events - baseline")} AS residual,
           {round_cmp_sql("(n_events - baseline) / sd")} AS z
    FROM scored
    WHERE n_weeks >= 3 AND sd > 0
      AND {round_cmp_sql("ABS(n_events - baseline) / sd")} > {_SEAS_Z}
    ORDER BY day, hour
    """,
)
def seasonal_baseline_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: hourly event counts scored
    against their own (day-of-week × hour-of-day) history — the
    monitoring query behind "traffic this hour is abnormal FOR a Tuesday
    3pm". Cells with under 3 observed weeks or zero variance are
    unscoreable and excluded on both sides.

    The z threshold compares ROUNDED values (identical floor-formula
    doubles on both engines), so the flag set can't flip on the last-ulp
    variance divergence between Spark's and DuckDB's accumulation
    orders. Day-of-week is pinned to Spark's 1=Sunday convention
    (DuckDB's %w is 0=Sunday, shifted by one in the oracle).

    Scale shape: the raw scan collapses to day×hour cells in ONE
    partial-agg'd shuffle, and the baseline is an unbounded window
    over those cells partitioned by (dow, hour) — scoring each cell
    against its peers without a second scan or a self-join (a
    baseline-table join would recompute the cell aggregate, doubling
    the scan). Raw events are read exactly once.
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.dayofweek(F.to_date("ts")).alias("dow"),
        F.hour("ts").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("dow", "hour")
    scored = hourly.select(
        "day",
        "hour",
        "n_events",
        F.avg("n_events").over(w).alias("baseline"),
        F.stddev_samp("n_events").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_weeks"),
    )
    resid = F.col("n_events") - F.col("baseline")
    return (
        scored.filter((F.col("n_weeks") >= 3) & (F.col("sd") > 0))
        .filter(round_cmp(F.abs(resid) / F.col("sd")) > _SEAS_Z)
        .select(
            "day",
            "hour",
            "n_events",
            round_cmp(F.col("baseline")).alias("baseline"),
            round_cmp(resid).alias("residual"),
            round_cmp(resid / F.col("sd")).alias("z"),
        )
        .orderBy("day", "hour")
    )


# --------------------------------------------------------------------------
# Inverted index build
# --------------------------------------------------------------------------

_IDX_TOP_TOKENS = 20
_IDX_POSTINGS = 10


@query(
    "inverted_index_topk",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT unnest({ALPHA_TOKENIZE_SQL}) AS token,
                      doc_id
      FROM documents
    ),
    df AS (SELECT token, COUNT(*) AS doc_freq FROM pairs GROUP BY token),
    top AS (
      SELECT token, doc_freq FROM (
        SELECT token, doc_freq,
               ROW_NUMBER() OVER (ORDER BY doc_freq DESC, token) AS rn
        FROM df
      ) WHERE rn <= {_IDX_TOP_TOKENS}
    ),
    post AS (
      SELECT p.token, p.doc_id FROM (
        SELECT token, doc_id,
               ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        FROM pairs
      ) p WHERE p.rn <= {_IDX_POSTINGS}
    )
    SELECT t.token, t.doc_freq,
           (SELECT string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
            FROM post WHERE post.token = t.token) AS postings_head
    FROM top t
    ORDER BY t.doc_freq DESC, t.token
    """,
)
def inverted_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (token → sorted posting list),
    materialized for the {_IDX_TOP_TOKENS} highest-document-frequency
    tokens with the first {_IDX_POSTINGS} postings each — the build
    side of every search / retrieval system, and the access path a
    RAG-style corpus pipeline precomputes next to its embeddings.

    Posting lists are emitted as comma-joined strings (ascending
    doc_id), which keeps the cross-engine value comparison on scalar
    columns rather than engine-specific array encodings.

    Scale shape: distinct (token, doc) pairs is one hash shuffle;
    per-token posting truncation plans ``WindowGroupLimit`` (each map
    task ships ≤{_IDX_POSTINGS} postings per token before the window
    shuffle), so hot tokens ("the") cannot flood a reducer; the
    top-tokens ranking runs over the already-aggregated df table. A
    full index build is the same plan minus the two truncations, with
    postings written sorted-by-token via repartitionByRange — the
    bucketed-layout pattern of sources/sorted_layout.py.
    """
    d = load(spark, sf_dir, "documents")
    pairs = d.select(
        F.explode(
            F.expr(ALPHA_TOKENIZE_EXPR)
        ).alias("token"),
        "doc_id",
    ).distinct()
    df_tok = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    # top tokens by df as TakeOrderedAndProject — at open-web vocabulary
    # a global ranking window would single-task the whole df table
    top = df_tok.orderBy(F.desc("doc_freq"), "token").limit(_IDX_TOP_TOKENS)
    w_post = Window.partitionBy("token").orderBy("doc_id")
    post = (
        pairs.withColumn("rn", F.row_number().over(w_post))
        .filter(F.col("rn") <= _IDX_POSTINGS)
        .groupBy("token")
        .agg(
            F.concat_ws(
                ",",
                F.expr(
                    "transform(array_sort(collect_list(doc_id)),"
                    " x -> cast(x as string))"
                ),
            ).alias("postings_head")
        )
    )
    return (
        top.join(post, "token")
        .select("token", "doc_freq", "postings_head")
        .orderBy(F.desc("doc_freq"), "token")
    )


# --------------------------------------------------------------------------
# Mode (most frequent value) per group
# --------------------------------------------------------------------------


@query(
    "mode_per_group",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt,
           {round_cmp_sql("cnt / CAST(total AS DOUBLE)")} AS share
    FROM (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
             SUM(COUNT(*)) OVER (PARTITION BY o_orderstatus) AS total,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY COUNT(*) DESC, o_orderpriority
             ) AS rn
      FROM orders
      GROUP BY o_orderstatus, o_orderpriority
    )
    WHERE rn = 1
    ORDER BY o_orderstatus
    """,
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with share-of-group — the statistical MODE()
    aggregate SQL standardizes but engines rarely make deterministic:
    ties break by value ascending, pinned identically on both sides,
    so the answer is stable across engines and runs (a bare MODE()
    isn't, which is why the op is built from count + rank instead).

    Scale shape: one partial-agg'd count shuffle on (group, value);
    the rank and group-total windows then run over the AGGREGATED
    cells (|groups|×|values| rows, not raw rows), partitioned on the
    same key the aggregate just shuffled on — AQE coalesces them into
    the same exchange.
    """
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_tot = Window.partitionBy("o_orderstatus")
    w_rnk = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), "o_orderpriority"
    )
    return (
        counts.withColumn("total", F.sum("cnt").over(w_tot))
        .withColumn("rn", F.row_number().over(w_rnk))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
            round_cmp(F.col("cnt") / F.col("total").cast("double")).alias("share"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day streak
# --------------------------------------------------------------------------


@query(
    "gaps_islands_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    anchored AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day
             ) AS INTEGER) AS anchor
      FROM days
    ),
    islands AS (
      SELECT user_id, anchor, COUNT(*) AS streak,
             MIN(day) AS streak_start
      FROM anchored GROUP BY user_id, anchor
    )
    SELECT user_id,
           MAX(streak) AS longest_streak,
           MIN(CASE WHEN streak = ms THEN streak_start END) AS first_peak_start,
           CAST(SUM(streak) AS BIGINT) AS n_active_days
    FROM (SELECT *, MAX(streak) OVER (PARTITION BY user_id) AS ms FROM islands)
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def gaps_islands_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands idiom: subtracting each day's per-user rank from
    the day itself collapses every run of consecutive dates onto one
    anchor value, turning "find maximal runs" into a plain GROUP BY. The
    time-gap cousin of sessionization (which islands on elapsed time,
    not calendar adjacency); retention/engagement pipelines need both.

    Ties for the longest streak resolve to the EARLIEST streak start on
    both sides (MIN over the peak islands) — date arithmetic only, no
    floats anywhere.

    Scale shape: one distinct shuffle on (user, day) — already tiny
    relative to raw events — then rank + island aggregation all
    partition on user_id; nothing global, no joins.
    """
    ev = load(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak"), F.min("day").alias("streak_start")
    )
    wm = Window.partitionBy("user_id")
    return (
        islands.withColumn("ms", F.max("streak").over(wm))
        .groupBy("user_id")
        .agg(
            F.max("streak").alias("longest_streak"),
            F.min(
                F.when(F.col("streak") == F.col("ms"), F.col("streak_start"))
            ).alias("first_peak_start"),
            F.sum("streak").alias("n_active_days"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Shuffle-key skew diagnosis
# --------------------------------------------------------------------------


@query(
    "skew_diagnosis_gini",
    oracle=f"""
    WITH counts AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt, l_partkey) AS rk
      FROM counts
    ),
    stats AS (
      SELECT COUNT(*) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             MAX(cnt) AS max_cnt,
             SUM(rk * cnt) AS weighted
      FROM ranked
    )
    SELECT n_keys, n_rows, max_cnt,
           {round_cmp_sql("max_cnt * n_keys / CAST(n_rows AS DOUBLE)")} AS max_over_mean,
           {round_cmp_sql("(2.0 * weighted) / (n_keys * CAST(n_rows AS DOUBLE)) - (n_keys + 1.0) / n_keys")} AS gini
    FROM stats
    """,
)
def skew_diagnosis_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis for a prospective join/agg key
    (l_partkey): per-key row counts summarized as max/mean ratio and the
    Gini coefficient of the count distribution — the numbers that decide
    whether the salted-join path (op/skew.py) is worth its overhead
    BEFORE running the expensive shuffle. Gini uses the exact rank
    formula G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over counts sorted
    ascending (ties broken by key, pinned on both sides), so everything
    up to the two final divisions is integer-exact.

    Scale shape: the per-key count is the partial-agg'd shuffle the
    diagnosis is ABOUT — one pass; ranking runs over the aggregated key
    table (|keys| rows), and the output is a single row. On a truly
    hot-keyed input the count table itself is what you'd sketch
    (count-min) — the exact version here doubles as its oracle.
    """
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("cnt", "l_partkey")
    ranked = counts.withColumn("rk", F.row_number().over(w))
    stats = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("rk") * F.col("cnt")).alias("weighted"),
    )
    return stats.select(
        "n_keys",
        "n_rows",
        "max_cnt",
        round_cmp(
            F.col("max_cnt") * F.col("n_keys") / F.col("n_rows").cast("double")
        ).alias("max_over_mean"),
        round_cmp(
            (F.lit(2.0) * F.col("weighted"))
            / (F.col("n_keys") * F.col("n_rows").cast("double"))
            - (F.col("n_keys") + F.lit(1.0)) / F.col("n_keys")
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# KMV sketch join-cardinality estimate
# --------------------------------------------------------------------------

_KJC_K = 64


@query(
    "kmv_join_cardinality",
    oracle=f"""
    WITH va AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
      FROM events WHERE event_type = 'view'
    ),
    vb AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ),
    un AS (SELECT h FROM va UNION SELECT h FROM vb),
    ksmall AS (
      SELECT h, rn FROM (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM un
      ) WHERE rn <= {_KJC_K}
    ),
    kth AS (SELECT MAX(h) AS kth_h, COUNT(*) AS k_eff FROM ksmall),
    common AS (
      SELECT COUNT(*) AS c FROM ksmall
      WHERE h IN (SELECT h FROM va) AND h IN (SELECT h FROM vb)
    ),
    ex AS (
      SELECT COUNT(*) AS exact_both FROM (
        SELECT user_id FROM events WHERE event_type = 'view'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
      )
    )
    SELECT kth.k_eff AS k,
           {round_cmp_sql(f"CASE WHEN kth.k_eff >= {_KJC_K} THEN (common.c / CAST(kth.k_eff AS DOUBLE)) * (({_KJC_K} - 1) / (kth.kth_h / {_KMV_SPACE})) ELSE CAST(common.c AS DOUBLE) END")} AS est_intersection,
           ex.exact_both AS exact_intersection
    FROM kth CROSS JOIN common CROSS JOIN ex
    """,
)
def kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two KMV sketches WITHOUT running
    the join: |A∩B| ≈ Jaccard(k-set) × |A∪B|-estimate, where the k-set
    is the k smallest hashes of the UNION and Jaccard is the fraction of
    them present in both sides (Beyer et al., SIGMOD 2007). This is how
    an optimizer prices a candidate join from per-table sketches —
    merging two KMV sketches is just "k smallest of the union", no data
    re-read. Falls back to the exact common count when the union has
    fewer than k distinct hashes. The exact INTERSECT runs alongside as
    the ground truth the estimate is judged against.

    Scale shape: each side is one distinct-hash aggregation (map-side
    partial); the sketch merge touches 2k values; the exact check is the
    expensive part — which is the point of the sketch.
    """
    ev = load(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    va = ev.filter(F.col("event_type") == "view").select(h.alias("h")).distinct()
    vb = ev.filter(F.col("event_type") == "purchase").select(h.alias("h")).distinct()
    # each side feeds the union AND a membership semi-join — persist the
    # distinct-hash tables (sketch-sized) instead of re-scanning events
    va = lineage_cut(va, eager=True)
    vb = lineage_cut(vb, eager=True)
    un = va.union(vb).distinct()
    # k smallest of the union as TakeOrderedAndProject (per-task heap +
    # driver merge) — a global row_number window would funnel EVERY
    # distinct hash through one task at scale
    ksmall = lineage_cut(un.orderBy("h").limit(_KJC_K), eager=True)
    kth = ksmall.agg(
        F.max("h").alias("kth_h"), F.count(F.lit(1)).alias("k_eff")
    )
    common = (
        ksmall.join(va.withColumnRenamed("h", "ha"), ksmall.h == F.col("ha"), "semi")
        .join(vb.withColumnRenamed("h", "hb"), ksmall.h == F.col("hb"), "semi")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ex = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id")
        .intersect(
            ev.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count(F.lit(1)).alias("exact_both"))
    )
    est = F.when(
        F.col("k_eff") >= _KJC_K,
        (F.col("c") / F.col("k_eff").cast("double"))
        * ((F.lit(_KJC_K - 1)) / (F.col("kth_h") / F.lit(_KMV_SPACE))),
    ).otherwise(F.col("c").cast("double"))
    return (
        kth.crossJoin(common)
        .crossJoin(ex)
        .select(
            F.col("k_eff").alias("k"),
            round_cmp(est).alias("est_intersection"),
            F.col("exact_both").alias("exact_intersection"),
        )
    )


# --------------------------------------------------------------------------
# Time-weighted average
# --------------------------------------------------------------------------

#: intervals longer than this are capped (sensor-offline guard), seconds
_TWAP_CAP_S = 3600


@query(
    "time_weighted_avg",
    oracle=f"""
    WITH raw AS (
      SELECT event_type, value,
             (LEAD(epoch_us(ts)) OVER (
                PARTITION BY event_type ORDER BY epoch_us(ts), event_id
              ) - epoch_us(ts)) / 1000000.0 AS raw_dt
      FROM events
    ),
    stepped AS (
      -- LEAST() SKIPS nulls in both engines, so cap only real gaps:
      -- the partition-final reading must keep dt NULL and drop below
      SELECT event_type, value,
             CASE WHEN raw_dt IS NULL THEN NULL
                  ELSE LEAST(raw_dt, {_TWAP_CAP_S}.0) END AS dt
      FROM raw
    )
    SELECT event_type,
           COUNT(dt) AS n_intervals,
           {round_cmp_sql("SUM(dt)")} AS total_secs,
           {round_cmp_sql("SUM(value * dt) / SUM(dt)")} AS twap
    FROM stepped
    WHERE dt IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per event type — each reading
    weighted by how long it remained current (step-function/TWAP
    semantics, the IoT & market-data staple a row-mean silently gets
    wrong whenever sampling is irregular). Intervals cap at
    {_TWAP_CAP_S} s (offline guard); the final reading has no duration
    and drops from both sides.

    Weights are exact epoch-microsecond differences divided by 1e6 —
    one IEEE division each, bit-identical across engines; (ts,
    event_id) fully orders ties so LEAD is deterministic.

    Scale shape: one shuffle on event_type for the LEAD window, then a
    partial-agg'd rollup on the same key — at production partition
    counts this is the sessionization plan with an aggregate instead of
    a session id, and the same salting escape hatch if one type
    dominates.
    """
    ev = load(spark, sf_dir, "events")
    t = epoch_us_utc(F.col("ts"))
    w = Window.partitionBy("event_type").orderBy(t, F.col("event_id"))
    raw_dt = (F.lead(t).over(w) - t) / F.lit(1_000_000.0)
    # F.least SKIPS nulls: capping the raw gap directly would hand the
    # partition-final reading a phantom full-cap duration instead of
    # dropping it — guard the null through explicitly
    dt = F.when(raw_dt.isNotNull(), F.least(raw_dt, F.lit(float(_TWAP_CAP_S))))
    return (
        ev.select("event_type", "value", dt.alias("dt"))
        .filter(F.col("dt").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("dt").alias("n_intervals"),
            round_cmp(F.sum("dt")).alias("total_secs"),
            round_cmp(F.sum(F.col("value") * F.col("dt")) / F.sum("dt")).alias(
                "twap"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Sequence-pattern matching over per-user event strings
# --------------------------------------------------------------------------

#: the funnel pattern: a view, then (anything but a purchase)*, then a
#: purchase — encoded over single-char event initials
_SEQ_PATTERN = "v[^p]*p"


@query(
    "path_regex_match",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, substr(event_type, 1, 1) AS c,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id, string_agg(c, '' ORDER BY rn) AS path
      FROM ranked GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN regexp_matches(path, '{_SEQ_PATTERN}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(len(regexp_extract_all(path, '{_SEQ_PATTERN}')))
                AS BIGINT) AS n_matches_total
    FROM paths
    """,
)
def path_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern matching: each user's
    event history becomes a compact symbol string (first letter per
    event, time-ordered) and the funnel pattern ``{_SEQ_PATTERN}``
    ("view, then a purchase with no purchase in between") is evaluated
    as a regex — counting both matched users and total non-overlapping
    matches. This is the row-pattern-recognition capability (SQL:2016
    MATCH_RECOGNIZE) that engines without it emulate exactly this way;
    the funnel op answers "did the user ever convert", this one counts
    EVERY conversion episode and generalizes to arbitrary patterns by
    swapping one literal.

    Both engines use RE2-class non-overlapping leftmost matching for
    extract-all, and the symbol alphabet (one char per type) makes the
    pattern unambiguous.

    Scale shape: one shuffle on user_id builds the ordered symbol
    string per user (strings are |events-per-user| chars — bounded,
    unlike collecting raw rows); the regex evaluates row-locally; the
    final count is a single partial-agg'd scalar.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id",
        F.substring("event_type", 1, 1).alias("c"),
        F.row_number().over(w).alias("rn"),
    )
    paths = (
        ranked.groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.expr("transform(array_sort(collect_list(struct(rn, c))), s -> s.c)"),
            ).alias("path")
        )
    )
    return paths.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(F.col("path").rlike(_SEQ_PATTERN), 1).otherwise(0)
        ).alias("n_matched"),
        F.sum(F.size(F.expr(f"regexp_extract_all(path, '{_SEQ_PATTERN}', 0)"))).alias(
            "n_matches_total"
        ),
    )


# --------------------------------------------------------------------------
# Functional-dependency discovery
# --------------------------------------------------------------------------

#: candidate determinant → dependent column pairs probed on orders
_FD_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
]


def _fd_pairs():
    return [
        (a, b) for a in _FD_COLS for b in _FD_COLS if a < b
    ]


def _fd_oracle() -> str:
    selects = []
    for a, b in _fd_pairs():
        selects.append(
            f"""
      SELECT '{a}' AS det, '{b}' AS dep,
             COUNT(DISTINCT {a}) AS nd_det,
             COUNT(DISTINCT {b}) AS nd_dep,
             COUNT(DISTINCT ({a}, {b})) AS nd_pair,
             COUNT(DISTINCT {a}) = COUNT(DISTINCT ({a}, {b})) AS fd_forward,
             COUNT(DISTINCT {b}) = COUNT(DISTINCT ({a}, {b})) AS fd_backward
      FROM orders
      WHERE {a} IS NOT NULL AND {b} IS NOT NULL"""
        )
    return (
        "SELECT * FROM (" + "\n      UNION ALL".join(selects) + ") ORDER BY det, dep"
    )


@query("fd_discovery", oracle=_fd_oracle())
def fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over column pairs: A→B holds in
    the data iff |distinct(A)| = |distinct(A,B)| (every A value maps to
    exactly one B). The schema-inference primitive behind normalization
    advice, join-key candidates, and "is this column derivable"
    warnings in a profiling pipeline — the pairwise core of TANE-style
    FD mining, run both directions per unordered pair.

    Scale shape: ONE scan; all {len(_fd_pairs())} pairwise distinct
    counts evaluate in a single multi-distinct aggregate (Catalyst
    Expand), repartitioned first so the amplified stream is spread
    across tasks (single-split testdata; a no-op at natural split
    counts). The oracle re-states each pair as its own scan — the
    single-pass form IS the claim. Booleans derive from exact integer
    equality, so cross-engine comparison is exact.
    """
    o = load(spark, sf_dir, "orders")
    o = spread(o, "o_orderkey")
    aggs = []
    for a, b in _fd_pairs():
        # NULL semantics pinned on BOTH engines: Spark's
        # countDistinct(a, b) drops tuples with ANY null while DuckDB's
        # COUNT(DISTINCT (a, b)) keeps them — restrict every count to
        # rows where both columns are non-null so the FD verdicts agree
        # even on nullable inputs
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        aggs.append(F.countDistinct(F.when(both, F.col(a))).alias(f"nd_{a}_{b}_a"))
        aggs.append(F.countDistinct(F.when(both, F.col(b))).alias(f"nd_{a}_{b}_b"))
        aggs.append(
            F.countDistinct(
                F.when(both, F.col(a)), F.when(both, F.col(b))
            ).alias(f"nd_{a}_{b}_ab")
        )
    one = o.agg(*aggs)
    rows = []
    for a, b in _fd_pairs():
        rows.append(
            f"named_struct('det', '{a}', 'dep', '{b}',"
            f" 'nd_det', nd_{a}_{b}_a, 'nd_dep', nd_{a}_{b}_b,"
            f" 'nd_pair', nd_{a}_{b}_ab,"
            f" 'fd_forward', nd_{a}_{b}_a = nd_{a}_{b}_ab,"
            f" 'fd_backward', nd_{a}_{b}_b = nd_{a}_{b}_ab)"
        )
    return (
        one.select(F.explode(F.array(*[F.expr(r) for r in rows])).alias("s"))
        .select("s.*")
        .orderBy("det", "dep")
    )


# --------------------------------------------------------------------------
# Benford's-law first-digit conformance
# --------------------------------------------------------------------------


@query(
    "benford_law_check",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT SUM(n) AS t FROM obs)
    SELECT obs.d AS digit, obs.n AS observed,
           {round_cmp_sql("tot.t * log10(1.0 + 1.0 / obs.d)")} AS expected,
           {round_cmp_sql("obs.n / CAST(tot.t AS DOUBLE)")} AS obs_frac,
           {round_cmp_sql("(obs.n - tot.t * log10(1.0 + 1.0 / obs.d)) * (obs.n - tot.t * log10(1.0 + 1.0 / obs.d)) / (tot.t * log10(1.0 + 1.0 / obs.d))")} AS chi2_term
    FROM obs CROSS JOIN tot
    ORDER BY obs.d
    """,
)
def benford_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: observed first-digit
    counts vs the log₁₀(1+1/d) expectation with per-digit χ² terms —
    the fraud/fabrication screen auditors run on financial columns
    (Nigrini 1996). Deviation on a digit is a data-quality signal a
    profiling pipeline surfaces next to null rates.

    First digit extraction is integer string math (no float log on the
    VALUE — only on the closed-form expectation), so binning is exact
    on both engines; χ² terms round through the shared floor formula.

    Scale shape: digit extraction is row-local; one 9-row aggregate
    with map-side partials; the total joins back as a broadcast scalar.
    (The synthetic order totals are near-uniform over a wide range —
    digits 1-4 land ~10× over their Benford share — so the column FAILS
    conformance loudly, which is exactly the signal the χ² terms exist
    to produce on fabricated-looking data.)
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    # FLOOR pinned explicitly: a bare double→BIGINT cast truncates in
    # Spark but rounds half-to-even in DuckDB, flipping boundary digits
    d = F.substring(F.floor("o_totalprice").cast("string"), 1, 1).cast("int")
    obs = o.select(d.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("t"))
    exp = F.col("t") * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            F.col("n").alias("observed"),
            round_cmp(exp).alias("expected"),
            round_cmp(F.col("n") / F.col("t").cast("double")).alias("obs_frac"),
            round_cmp((F.col("n") - exp) * (F.col("n") - exp) / exp).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test
# --------------------------------------------------------------------------


@query(
    "mann_kendall_trend",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    s AS (SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat, COUNT(*) AS n_pairs FROM pairs),
    nn AS (SELECT COUNT(*) AS n_days FROM daily)
    SELECT s.s_stat, nn.n_days,
           {round_cmp_sql("s.s_stat / CAST(s.n_pairs AS DOUBLE)")} AS kendall_tau
    FROM s CROSS JOIN nn
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend statistic on the daily purchase
    series: S = Σᵢ<ⱼ sign(xⱼ−xᵢ) and Kendall's τ = S / C(n,2) — the
    nonparametric "is this KPI actually trending" test (Mann 1945)
    that, unlike a fitted slope, is exact integer arithmetic until the
    single final division.

    Scale shape: the raw scan collapses to one row per DAY first, so
    the O(n²) pairwise comparison runs over post-aggregation
    cardinality (30 days → 435 pairs — driver-sized at ANY input
    volume; a decade of days is still only ~6.7M pairs). This is the
    general pattern for quadratic statistics at 100 TB: aggregate to
    the statistic's natural granularity, then pay quadratic only
    there.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.select(F.col("day").alias("da"), F.col("n").alias("na"))
    b = daily.select(F.col("day").alias("db"), F.col("n").alias("nb"))
    sgn = (
        F.when(F.col("nb") > F.col("na"), 1)
        .when(F.col("nb") < F.col("na"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .select(sgn.alias("sgn"))
        .agg(
            F.sum("sgn").cast("long").alias("s_stat"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    nn = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return s.crossJoin(F.broadcast(nn)).select(
        "s_stat",
        "n_days",
        round_cmp(F.col("s_stat") / F.col("n_pairs").cast("double")).alias(
            "kendall_tau"
        ),
    )


# --------------------------------------------------------------------------
# Rolling correlation between two daily series
# --------------------------------------------------------------------------

#: rolling frame width in days (current day + 6 preceding)
_RC_DAYS = 7


@query(
    "rolling_correlation",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_buy
      FROM events GROUP BY 1
    )
    , moments AS (
      SELECT day, n_view, n_buy,
             COVAR_SAMP(n_view, n_buy) OVER w AS cxy,
             STDDEV_SAMP(n_view) OVER w AS sx,
             STDDEV_SAMP(n_buy) OVER w AS sy,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN {_RC_DAYS - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT day, n_view, n_buy,
           CASE WHEN sx > 0 AND sy > 0
                THEN {round_cmp_sql("cxy / (sx * sy)")} END AS roll_corr
    FROM moments
    WHERE rn >= {_RC_DAYS}
    ORDER BY day
    """,
)
def rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_RC_DAYS}-day rolling Pearson correlation between the daily view
    and purchase series — "are traffic and conversions still moving
    together this week?" The windowed form of the corr_matrix op:
    CORR as a WINDOW aggregate over a sliding frame, the shape
    monitoring dashboards need (a single whole-period correlation hides
    regime changes). Partial frames (the first {_RC_DAYS}-1 days) are
    excluded on both sides rather than reported at lower confidence.

    The correlation is assembled from explicit moment windows
    (covar_samp / (stddev·stddev)) with a zero-variance guard instead
    of the engines' CORR: under Spark's default ANSI mode a
    zero-variance frame makes CORR throw DIVIDE_BY_ZERO while DuckDB
    returns NULL — a quiet week of constant counts must yield a NULL
    cell, not crash the query.

    Scale shape: the conditional daily rollup is one partial-agg'd
    shuffle of the raw scan; the windows run over #days rows
    (driver-sized post-agg cardinality — not a funnel at any input
    scale) and carry constant-size moment state per frame.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("n_view"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_buy"),
    )
    w = Window.orderBy("day").rowsBetween(-(_RC_DAYS - 1), 0)
    wr = Window.orderBy("day")
    moments = daily.select(
        "day",
        "n_view",
        "n_buy",
        F.covar_samp("n_view", "n_buy").over(w).alias("cxy"),
        F.stddev_samp("n_view").over(w).alias("sx"),
        F.stddev_samp("n_buy").over(w).alias("sy"),
        F.row_number().over(wr).alias("_rn"),
    )
    return (
        moments.filter(F.col("_rn") >= _RC_DAYS)
        .select(
            "day",
            "n_view",
            "n_buy",
            F.when(
                (F.col("sx") > 0) & (F.col("sy") > 0),
                round_cmp(F.col("cxy") / (F.col("sx") * F.col("sy"))),
            ).alias("roll_corr"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Z-order (Morton) interleaving for multi-dimensional layout
# --------------------------------------------------------------------------

#: bits per dimension (8 → 16-bit z-values, 64 z-ranges of 1024)
_Z_BITS = 8
#: y quantization step for o_totalprice (500k range → 0..249)
_Z_PRICE_STEP = 2000


def _z_expr_sql(x: str, y: str) -> str:
    """Morton interleave as pure integer arithmetic — the SAME text for
    Spark SQL and DuckDB (both support >> << & on integers)."""
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


_ZX = f"(o_custkey % {1 << _Z_BITS})"
_ZY = f"LEAST(CAST(FLOOR(o_totalprice / {_Z_PRICE_STEP}) AS BIGINT), {(1 << _Z_BITS) - 1})"


@query(
    "zorder_interleave",
    oracle=f"""
    WITH z AS (
      SELECT {_ZX} AS x, {_ZY} AS y,
             {_z_expr_sql(_ZX, _ZY)} AS zval
      FROM orders
    )
    SELECT CAST(zval >> 10 AS BIGINT) AS zrange,
           COUNT(*) AS n_rows,
           MIN(x) AS x_lo, MAX(x) AS x_hi,
           MIN(y) AS y_lo, MAX(y) AS y_hi
    FROM z
    GROUP BY zval >> 10
    ORDER BY zrange
    """,
)
def zorder_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve interleaving of two layout dimensions
    (customer bucket × price bucket) with per-z-range min/max envelopes
    — the math behind multi-dimensional data clustering (Delta/Iceberg
    OPTIMIZE ZORDER BY): rows sorted by z land in files whose min/max
    footers are TIGHT in BOTH dimensions simultaneously, so a filter on
    either column prunes files. The emitted envelope table is exactly
    what a scan planner would consult; each z-range covers a bounded
    square-ish region of (customer, price) space, unlike a single-column
    sort where the secondary dimension's envelope spans everything.

    The interleave is {_Z_BITS}+{_Z_BITS}-bit integer bit arithmetic,
    generated from one shared expression string for both engines —
    deterministic, no floats until nothing.

    Scale shape: z computation is row-local (codegen'd shifts/masks);
    one partial-agg'd shuffle on the z-range. The production write path
    is ``df.repartitionByRange(col("z")).sortWithinPartitions("z")`` +
    the parquet writer — the same pattern as sources/sorted_layout.py
    with z as the sort key.
    """
    o = load(spark, sf_dir, "orders")
    z = o.select(
        F.expr(_ZX).alias("x"),
        F.expr(_ZY).alias("y"),
        F.expr(_z_expr_sql(_ZX, _ZY)).alias("zval"),
    )
    return (
        z.groupBy((F.col("zval") / (1 << 10)).cast("long").alias("zrange"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
        )
        .orderBy("zrange")
    )


# --------------------------------------------------------------------------
# Position-based (U-shaped) marketing attribution
# --------------------------------------------------------------------------

#: attribution lookback window before each conversion
_ATTR_DAYS = 7
#: U-shaped credit split: first 40%, last 40%, middles share 20%
_ATTR_EDGE = 0.4


@query(
    "attribution_position_based",
    oracle=f"""
    WITH conv AS (
      SELECT user_id, event_id AS conv_id, epoch_us(ts) AS cts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id AS touch_id, event_type AS touch_type,
             epoch_us(ts) AS tts
      FROM events WHERE event_type IN ('view', 'click')
    ),
    paired AS (
      SELECT c.conv_id, t.touch_type, t.tts, t.touch_id,
             ROW_NUMBER() OVER (
               PARTITION BY c.conv_id ORDER BY t.tts, t.touch_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY c.conv_id) AS n
      FROM conv c
      JOIN touch t ON t.user_id = c.user_id
        AND t.tts < c.cts
        AND t.tts >= c.cts - {_ATTR_DAYS}::BIGINT * 86400000000
    ),
    credited AS (
      SELECT touch_type,
             CASE WHEN n = 1 THEN 'only'
                  WHEN rn = 1 THEN 'first'
                  WHEN rn = n THEN 'last'
                  ELSE 'middle' END AS position_class,
             CASE WHEN n = 1 THEN 1.0
                  WHEN n = 2 THEN 0.5
                  WHEN rn = 1 OR rn = n THEN {_ATTR_EDGE}
                  ELSE (1.0 - 2 * {_ATTR_EDGE}) / (n - 2) END AS credit
      FROM paired
    )
    SELECT touch_type, position_class,
           COUNT(*) AS n_touches,
           {round_cmp_sql("SUM(credit)")} AS total_credit
    FROM credited
    GROUP BY touch_type, position_class
    ORDER BY touch_type, position_class
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) conversion attribution: every view or
    click in the {_ATTR_DAYS} days before a purchase shares that
    conversion's credit — first and last touch {_ATTR_EDGE} each, the
    middles split the remainder (single touch takes 1.0, a pair splits
    evenly). The marketing-warehouse workload that generalizes the
    as-of join: not just the LAST touch (op/advanced.py) but the whole
    ordered touch sequence per conversion.

    Credits are exact rationals over small integers (one IEEE division
    for the middle share), ranks fully tie-broken by (ts, event_id) —
    deterministic on both engines; only the final credit sums round.

    Scale shape: the conversion×touch pairing is an equi-join on
    user_id with the time band as a residual predicate (never a
    cross product); the per-conversion rank windows partition on
    conv_id — finer than user_id, so skew is BOUNDED by one user's
    touch history per conversion, and the final rollup is a tiny
    partial-agg'd aggregate over position classes.
    """
    ev = load(spark, sf_dir, "events")
    t_us = epoch_us_utc(F.col("ts"))
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("conv_id"), t_us.alias("cts")
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        t_us.alias("tts"),
    )
    paired = conv.join(touch, "user_id").filter(
        (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.lit(_ATTR_DAYS * 86_400_000_000))
    )
    w_rn = Window.partitionBy("conv_id").orderBy("tts", "touch_id")
    w_n = Window.partitionBy("conv_id")
    credited = paired.select(
        "touch_type",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    ).select(
        "touch_type",
        F.when(F.col("n") == 1, "only")
        .when(F.col("rn") == 1, "first")
        .when(F.col("rn") == F.col("n"), "last")
        .otherwise("middle")
        .alias("position_class"),
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(_ATTR_EDGE))
        .otherwise((F.lit(1.0) - 2 * _ATTR_EDGE) / (F.col("n") - 2))
        .alias("credit"),
    )
    return (
        credited.groupBy("touch_type", "position_class")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            round_cmp(F.sum("credit")).alias("total_credit"),
        )
        .orderBy("touch_type", "position_class")
    )


# --------------------------------------------------------------------------
# Count-Min sketch point estimates
# --------------------------------------------------------------------------

#: sketch geometry: d hash rows × w counters
_CM_D = 4
_CM_W = 256
#: how many (true) heavy keys to probe the sketch with
_CM_PROBE = 10


def _cm_bucket_sql(row: int, key: str) -> str:
    """Deterministic bucket for hash row ``row``: md5 of the seeded key,
    8 hex chars → int, mod w. Identical text on both engines."""
    return (
        f"CAST(('0x' || substr(md5('r{row}:' || CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" % {_CM_W}"
    )


def _cm_bucket_spark(row: int, key):
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"r{row}:"), key.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % _CM_W


#: shared by the batch op and its streaming replay twin — both produce
#: the identical probe table, so both certify against this one SQL
_CM_ORACLE = f"""
    WITH cells AS (
      {" UNION ALL ".join(f'''
      SELECT {r} AS hrow, {_cm_bucket_sql(r, "user_id")} AS bucket, COUNT(*) AS c
      FROM events GROUP BY 2''' for r in range(_CM_D))}
    ),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id
    ),
    probes AS (
      SELECT user_id, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, user_id LIMIT {_CM_PROBE}
    ),
    est AS (
      SELECT p.user_id, p.exact_cnt, MIN(c.c) AS cm_est
      FROM probes p
      JOIN cells c ON (
        {" OR ".join(f'(c.hrow = {r} AND c.bucket = {_cm_bucket_sql(r, "p.user_id")})' for r in range(_CM_D))}
      )
      GROUP BY p.user_id, p.exact_cnt
    )
    SELECT user_id, exact_cnt, CAST(cm_est AS BIGINT) AS cm_est,
           CAST(cm_est - exact_cnt AS BIGINT) AS overcount
    FROM est
    ORDER BY exact_cnt DESC, user_id
    """


def _cm_cells(ev: DataFrame) -> DataFrame:
    """All d hash rows generated IN-ROW from ONE pass over the input (a
    unionAll of d projections would scan the source d times). Works on
    batch AND streaming DataFrames — the same expression feeds both."""
    key = F.col("user_id")
    return ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("hrow"),
                        _cm_bucket_spark(r, key).alias("bucket"),
                    )
                    for r in range(_CM_D)
                ]
            )
        ).alias("cell")
    ).select("cell.hrow", "cell.bucket")


def _cm_probe(spark: SparkSession, sf_dir: str, grid: DataFrame) -> DataFrame:
    """Probe a (hrow, bucket, c) counter grid for the {_CM_PROBE}
    heaviest users and judge against their exact counts."""
    ev = load(spark, sf_dir, "events")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), "user_id").limit(_CM_PROBE)
    probe_cells = None
    for r in range(_CM_D):
        part = probes.select(
            "user_id",
            "exact_cnt",
            F.lit(r).alias("hrow"),
            _cm_bucket_spark(r, F.col("user_id")).alias("bucket"),
        )
        probe_cells = part if probe_cells is None else probe_cells.unionAll(part)
    return (
        probe_cells.join(F.broadcast(grid), ["hrow", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("cm_est"))
        .select(
            "user_id",
            "exact_cnt",
            F.col("cm_est").cast("long").alias("cm_est"),
            (F.col("cm_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), "user_id")
    )


@query("countmin_estimate", oracle=_CM_ORACLE)
def countmin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries vs exact counts: a {_CM_D}×{_CM_W}
    counter grid (independent md5-seeded hash rows), probed for the
    {_CM_PROBE} heaviest users — est = minᵢ counter[i][hᵢ(key)], which
    can only OVERcount (Cormode & Muthukrishnan 2005), so ``overcount``
    is certified ≥ 0 by construction on both sides. Completes the
    sketch shelf next to KMV (distinct), Misra–Gries (heavy hitters),
    and the bloom bitset (membership): CM answers frequency.

    Like those, the sketch is a pure function of the data via md5 — the
    oracle rebuilds the identical grid and replays the probes, which no
    RNG-seeded implementation could offer.

    Scale shape: the grid build is one partial-agg'd shuffle of
    (row, bucket) pairs — the sketch is ≤ {_CM_D}×{_CM_W} cells TOTAL
    regardless of input volume (the whole point: it broadcasts
    anywhere); probes then join the driver-sized grid. The exact side
    is the expensive full groupBy the sketch exists to avoid.
    """
    ev = load(spark, sf_dir, "events")
    grid = _cm_cells(ev).groupBy("hrow", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    return _cm_probe(spark, sf_dir, grid)


@query("streaming_countmin_replay", oracle=_CM_ORACLE, tags=("streaming",))
def streaming_countmin_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Count-Min: the counter grid maintained as a streaming
    aggregation over time-ordered micro-batches, then probed exactly
    like the batch twin — the final answer must hash-match the same
    DuckDB oracle. Sixth certified streaming operator class, and the
    canonical pairing: sketches exist BECAUSE streams can't be
    re-scanned, and a CM grid is pure mergeable state (one counter add
    per (row, bucket) per event — never O(events) state).

    The replay drives real micro-batches (maxFilesPerTrigger=1 over the
    chunked parquet dir, COMPLETE output to a memory sink named
    ``countmin_replay``); the exact ground-truth probe side runs as a
    batch query, which is exactly the production split — sketch on the
    stream, truth from the warehouse. The replay input is the one events
    stream source, ``streaming.events_stream.read_events_stream``;
    streaming/replay.py runs it with the JVM-state partition count.
    """
    from ..streaming.events_stream import read_events_stream
    from ..streaming.replay import REPLAY_STATE_PARTITIONS, run_bounded

    raw = read_events_stream(spark, sf_dir)
    grid_stream = (
        _cm_cells(raw)
        .groupBy("hrow", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    name = "countmin_replay"
    run_bounded(
        grid_stream.writeStream.outputMode("complete").format("memory").queryName(name),
        REPLAY_STATE_PARTITIONS,
    )
    grid = lineage_cut(spark.table(name), eager=True)
    return _cm_probe(spark, sf_dir, grid)


# --------------------------------------------------------------------------
# Theil-Sen robust trend slope
# --------------------------------------------------------------------------


@query(
    "theil_sen_slope",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             COUNT(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    slopes AS (
      SELECT (b.n - a.n) / CAST(b.d - a.d AS DOUBLE) AS s
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn, COUNT(*) OVER () AS m
      FROM slopes
    )
    SELECT CAST(MAX(m) AS BIGINT) AS n_pairs,
           {round_cmp_sql("AVG(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2) THEN s END)")} AS sen_slope
    FROM ranked
    """,
)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate on the daily purchase series: the
    MEDIAN of all pairwise slopes (yⱼ−yᵢ)/(xⱼ−xᵢ), i<j — the
    breakdown-resistant companion to mann_kendall_trend (Sen 1968): up
    to ~29% of the days can be corrupted before the slope moves, where
    OLS (regr_linear_fit) follows a single outlier.

    The median is the exact rank-based one (mean of the two middle
    order statistics for even counts, integer rank positions pinned on
    both sides) — each slope is ONE IEEE division of exact integers, so
    ordering is bit-identical across engines.

    Scale shape: identical to mann_kendall — the O(n²) pair join runs
    over the POST-AGGREGATION daily table (30 days → 435 pairs,
    driver-sized at any input volume); the rank window runs over those
    pairs, never raw events.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("long").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.select(F.col("d").alias("da"), F.col("n").alias("na"))
    b = daily.select(F.col("d").alias("db"), F.col("n").alias("nb"))
    slopes = a.join(b, F.col("da") < F.col("db")).select(
        ((F.col("nb") - F.col("na")) / (F.col("db") - F.col("da")).cast("double")).alias("s")
    )
    wk = Window.orderBy("s")
    wall = Window.partitionBy()
    ranked = slopes.select(
        "s",
        F.row_number().over(wk).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    # INTEGER division picks both middle ranks for even m (float `/`
    # would select only the upper one — ADVICE r5); for odd m the two
    # expressions coincide on the single middle rank
    mid = F.when(
        (F.col("rn") == F.expr("(m + 1) div 2"))
        | (F.col("rn") == F.expr("(m + 2) div 2")),
        F.col("s"),
    )
    return ranked.agg(
        F.max("m").cast("long").alias("n_pairs"),
        round_cmp(F.avg(mid)).alias("sen_slope"),
    )


# --------------------------------------------------------------------------
# Deterministic half-sample bootstrap CI
# --------------------------------------------------------------------------

#: number of half-sample replicas
_BOOT_B = 32


@query(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (
      SELECT r.r AS rep,
             AVG(o_totalprice) AS m,
             COUNT(*) AS n
      FROM orders
      CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS r) r
      WHERE CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)), 1, 2)) AS BIGINT) < 128
      GROUP BY r.r
    ),
    stats AS (
      SELECT AVG(m) AS boot_mean, STDDEV_SAMP(m) AS boot_sd, COUNT(*) AS b,
             MIN(n) AS min_n, MAX(n) AS max_n
      FROM reps
    ),
    full_mean AS (SELECT AVG(o_totalprice) AS mu FROM orders)
    SELECT CAST(s.b AS BIGINT) AS n_replicas,
           {round_cmp_sql("f.mu")} AS full_mean,
           {round_cmp_sql("s.boot_mean")} AS boot_mean,
           {round_cmp_sql("s.boot_sd")} AS boot_sd,
           {round_cmp_sql("f.mu - 2 * s.boot_sd")} AS ci_lo,
           {round_cmp_sql("f.mu + 2 * s.boot_sd")} AS ci_hi
    FROM stats s CROSS JOIN full_mean f
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-sample bootstrap confidence interval for the mean order
    total: {_BOOT_B} deterministic half-samples (row r is in replica b
    iff md5(b:key) lands in the lower half — no RNG state, every engine
    and every rerun draws the SAME replicas), the spread of the replica
    means estimates the sampling error, and μ ± 2σ_boot is the interval.
    The subsampling/half-sampling bootstrap is the variant whose
    replicas a distributed engine can evaluate in ONE pass (each row
    row-locally knows its replica memberships), unlike the multinomial
    bootstrap's random multiplicities.

    Scale shape: one scan; replica membership is a row-local md5
    predicate per replica, so the {_BOOT_B}-fold expansion happens
    IN-ROW (explode over the replica ids a row belongs to) feeding one
    partial-agg'd shuffle keyed by replica id — {_BOOT_B} cells of
    state, trivially mergeable.
    """
    o = load(spark, sf_dir, "orders")
    # the testdata ships one parquet split, so the B-fold in-row
    # expansion (32 md5 evaluations per row) would run on ONE task;
    # spread() self-disables once the source has natural splits.
    o = spread(o.select("o_orderkey", "o_totalprice"), "o_orderkey")
    member = F.expr(
        f"""filter(sequence(0, {_BOOT_B - 1}), r ->
              conv(substring(md5(concat(cast(r as string), ':',
                   cast(o_orderkey as string))), 1, 2), 16, 10) < 128)"""
    )
    reps = (
        o.select(F.explode(member).alias("rep"), "o_totalprice")
        .groupBy("rep")
        .agg(F.avg("o_totalprice").alias("m"), F.count(F.lit(1)).alias("n"))
    )
    stats = reps.agg(
        F.avg("m").alias("boot_mean"),
        F.stddev_samp("m").alias("boot_sd"),
        F.count(F.lit(1)).alias("b"),
    )
    full = o.agg(F.avg("o_totalprice").alias("mu"))
    return (
        stats.crossJoin(F.broadcast(full))
        .select(
            F.col("b").cast("long").alias("n_replicas"),
            round_cmp(F.col("mu")).alias("full_mean"),
            round_cmp(F.col("boot_mean")).alias("boot_mean"),
            round_cmp(F.col("boot_sd")).alias("boot_sd"),
            round_cmp(F.col("mu") - 2 * F.col("boot_sd")).alias("ci_lo"),
            round_cmp(F.col("mu") + 2 * F.col("boot_sd")).alias("ci_hi"),
        )
    )


# --------------------------------------------------------------------------
# Run-length / delta encodability statistics
# --------------------------------------------------------------------------


@query(
    "encoding_run_stats",
    oracle=f"""
    WITH ordered AS (
      SELECT o_orderstatus, o_orderpriority,
             LAG(o_orderstatus) OVER w AS prev_status,
             LAG(o_orderpriority) OVER w AS prev_prio
      FROM orders
      WINDOW w AS (ORDER BY o_orderkey)
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN prev_status IS NULL
                          OR o_orderstatus <> prev_status
                    THEN 1 ELSE 0 END) AS BIGINT) AS status_runs,
           CAST(SUM(CASE WHEN prev_prio IS NULL
                          OR o_orderpriority <> prev_prio
                    THEN 1 ELSE 0 END) AS BIGINT) AS priority_runs,
           {round_cmp_sql("COUNT(*) * 1.0 / SUM(CASE WHEN prev_status IS NULL OR o_orderstatus <> prev_status THEN 1 ELSE 0 END)")} AS status_avg_run_len,
           {round_cmp_sql("COUNT(*) * 1.0 / SUM(CASE WHEN prev_prio IS NULL OR o_orderpriority <> prev_prio THEN 1 ELSE 0 END)")} AS priority_avg_run_len
    FROM ordered
    """,
)
def encoding_run_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encodability of the low-cardinality columns under the
    table's primary order: run counts and average run length per column
    — the statistic a layout optimizer consults before choosing
    dictionary+RLE encodings or a sort key (a column whose avg run
    length ≈ 1 under the current order may compress 100× after sorting
    by it; pairs with zorder_interleave as the layout-analysis shelf).
    A run starts wherever the value differs from its predecessor.

    Scale shape: LAG over the primary-key order is the one global-order
    window — at production this is evaluated per PARQUET ROW GROUP (the
    unit RLE actually encodes), making it embarrassingly parallel; the
    whole-table form here is the exact global statistic at driver-sized
    post-agg output. Run counting itself is integer-exact.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    ordered = o.select(
        "o_orderstatus",
        "o_orderpriority",
        F.lag("o_orderstatus").over(w).alias("prev_status"),
        F.lag("o_orderpriority").over(w).alias("prev_prio"),
    )
    status_new = F.when(
        F.col("prev_status").isNull()
        | (F.col("o_orderstatus") != F.col("prev_status")),
        1,
    ).otherwise(0)
    prio_new = F.when(
        F.col("prev_prio").isNull()
        | (F.col("o_orderpriority") != F.col("prev_prio")),
        1,
    ).otherwise(0)
    return ordered.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(status_new).cast("long").alias("status_runs"),
        F.sum(prio_new).cast("long").alias("priority_runs"),
        round_cmp(
            F.count(F.lit(1)) * F.lit(1.0) / F.sum(status_new)
        ).alias("status_avg_run_len"),
        round_cmp(
            F.count(F.lit(1)) * F.lit(1.0) / F.sum(prio_new)
        ).alias("priority_avg_run_len"),
    )


# --------------------------------------------------------------------------
# A/B proportions z-test
# --------------------------------------------------------------------------


@query(
    "abtest_proportions_ztest",
    oracle=f"""
    WITH tot AS (
      SELECT COUNT(*) AS all_ev,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS all_p
      FROM events
    ),
    assign AS (
      -- converted = user's purchase share above the corpus share,
      -- compared by exact integer cross-multiplication (scale-stable:
      -- ~half the users at any volume, no float boundary)
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) < 128
                  THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * MAX(t.all_ev)
                       > COUNT(*) * MAX(t.all_p)
                  THEN 1 ELSE 0 END AS converted
      FROM events CROSS JOIN tot t GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS k
      FROM assign GROUP BY arm
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 'A' THEN n END) AS na,
        MAX(CASE WHEN arm = 'A' THEN k END) AS ka,
        MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
        MAX(CASE WHEN arm = 'B' THEN k END) AS kb
      FROM arms
    )
    SELECT na, ka, nb, kb,
           {round_cmp_sql("ka / CAST(na AS DOUBLE)")} AS rate_a,
           {round_cmp_sql("kb / CAST(nb AS DOUBLE)")} AS rate_b,
           CASE WHEN (ka + kb) > 0 AND (ka + kb) < (na + nb)
                THEN {round_cmp_sql("(ka / CAST(na AS DOUBLE) - kb / CAST(nb AS DOUBLE)) / sqrt(((ka + kb) / CAST(na + nb AS DOUBLE)) * (1 - (ka + kb) / CAST(na + nb AS DOUBLE)) * (1.0 / na + 1.0 / nb))")} END AS z_stat
    FROM wide
    """,
)
def abtest_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic hash-assigned A/B
    split: users land in arms by md5 parity (the same reproducible
    assignment a real experiment platform uses — no RNG state, stable
    under re-runs and partial data), conversion = ever purchased, and
    the pooled-variance z statistic decides whether the arms differ.
    The experiment-analysis primitive next to the descriptive shelf;
    with a hash-uniform split and identical behavior the z should
    hover near 0 — a large |z| here would flag assignment bias.

    All inputs to the z formula are exact integers; the handful of IEEE
    divisions and the sqrt are textually identical on both engines.

    Scale shape: one scan → per-user aggregate (partial-agg'd) → 2-row
    arm rollup → 1-row scalar math. The per-user dedup is the only
    shuffle, keyed by the experiment unit, exactly like production.
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 2
            ),
            16,
            10,
        ).cast("long")
        < 128,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    tot = ev.agg(
        F.count(F.lit(1)).alias("all_ev"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "all_p"
        ),
    )
    # converted = purchase share above the corpus share, decided by exact
    # integer cross-multiplication — ~half the users at any scale factor
    assign = (
        ev.crossJoin(F.broadcast(tot))
        .groupBy("user_id", arm.alias("arm"))
        .agg(
            F.when(
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
                * F.max("all_ev")
                > F.count(F.lit(1)) * F.max("all_p"),
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
    )
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").cast("long").alias("k")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("k"))).alias("ka"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("k"))).alias("kb"),
    )
    ra = F.col("ka") / F.col("na").cast("double")
    rb = F.col("kb") / F.col("nb").cast("double")
    pool = (F.col("ka") + F.col("kb")) / (F.col("na") + F.col("nb")).cast("double")
    z = F.when(
        ((F.col("ka") + F.col("kb")) > 0)
        & ((F.col("ka") + F.col("kb")) < (F.col("na") + F.col("nb"))),
        (ra - rb)
        / F.sqrt(
            pool
            * (1 - pool)
            * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
        ),
    )
    return wide.select(
        "na",
        "ka",
        "nb",
        "kb",
        round_cmp(ra).alias("rate_a"),
        round_cmp(rb).alias("rate_b"),
        round_cmp(z).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival estimate
# --------------------------------------------------------------------------


@query(
    "km_survival_estimate",
    oracle=f"""
    WITH horizon AS (SELECT MAX(ts) AS tmax FROM events),
    signup AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT s.user_id, s.t0, MIN(e.ts) AS tp
      FROM signup s
      LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts > s.t0
      GROUP BY s.user_id, s.t0
    ),
    durations AS (
      SELECT CASE WHEN c.tp IS NOT NULL
                  THEN CAST(FLOOR(epoch(c.tp)) - FLOOR(epoch(c.t0)) AS BIGINT) // 86400
                  ELSE CAST(FLOOR(epoch(h.tmax)) - FLOOR(epoch(c.t0)) AS BIGINT) // 86400
             END AS d,
             CASE WHEN c.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM conv c CROSS JOIN horizon h
    ),
    tbl AS (
      SELECT d, CAST(SUM(ev) AS BIGINT) AS n_events,
             CAST(SUM(1 - ev) AS BIGINT) AS n_censored,
             COUNT(*) AS n_at
      FROM durations GROUP BY d
    ),
    risk AS (
      SELECT d, n_events, n_censored,
             SUM(n_at) OVER (ORDER BY d DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_at_risk
      FROM tbl
    )
    SELECT d AS day, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_events, n_censored,
           -- survival hits exactly 0 once a day consumes everyone at
           -- risk; ln(0) is undefined, so sum logs of the POSITIVE
           -- factors and zero out from the first exhausting day on
           CASE WHEN MAX(CASE WHEN n_events >= n_at_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                THEN 0.0
                ELSE {round_cmp_sql("exp(SUM(CASE WHEN n_events < n_at_risk THEN ln(1 - n_events / CAST(n_at_risk AS DOUBLE)) ELSE 0 END) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))")}
           END AS survival
    FROM risk
    ORDER BY day
    """,
)
def km_survival_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase after
    signup, with right-censoring at the corpus horizon (Kaplan & Meier
    1958) — the retention/conversion-lag curve every growth team wants,
    and the canonical censored-data statistic naive "average days to
    convert" silently biases. Users who never purchase contribute
    at-risk time up to the horizon instead of being dropped.

    The product Π(1 − dᵢ/nᵢ) is evaluated as exp of a running sum of
    logs — the distributed-friendly form, textually identical on both
    engines; at-risk counts come from a DESCENDING cumulative sum over
    the grouped duration table, so every input to the product is
    integer-exact.

    Scale shape: two partial-agg'd passes over events (first-signup,
    first-purchase-after via a user-keyed join), then everything runs
    on the duration TABLE (distinct days — driver-sized at any input
    volume); the survival windows never see raw rows.
    """
    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("tmax"))
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    conv = (
        signup.join(
            purchases,
            (F.col("p_user") == F.col("user_id")) & (F.col("pts") > F.col("t0")),
            "left",
        )
        .groupBy("user_id", "t0")
        .agg(F.min("pts").alias("tp"))
    )
    d_days = F.when(
        F.col("tp").isNotNull(),
        F.expr("(cast(tp as long) - cast(t0 as long)) div 86400"),
    ).otherwise(F.expr("(cast(tmax as long) - cast(t0 as long)) div 86400"))
    durations = conv.crossJoin(F.broadcast(horizon)).select(
        d_days.cast("long").alias("d"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    tbl = durations.groupBy("d").agg(
        F.sum("ev").cast("long").alias("n_events"),
        F.sum(1 - F.col("ev")).cast("long").alias("n_censored"),
        F.count(F.lit(1)).alias("n_at"),
    )
    w_desc = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, 0)
    w_asc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    risk = tbl.withColumn("n_at_risk", F.sum("n_at").over(w_desc))
    return (
        risk.withColumn(
            "exhausted",
            F.max(
                F.when(F.col("n_events") >= F.col("n_at_risk"), 1).otherwise(0)
            ).over(w_asc),
        )
        .withColumn(
            "logsum",
            F.sum(
                F.when(
                    F.col("n_events") < F.col("n_at_risk"),
                    F.log(
                        1 - F.col("n_events") / F.col("n_at_risk").cast("double")
                    ),
                ).otherwise(F.lit(0.0))
            ).over(w_asc),
        )
        .select(
            F.col("d").alias("day"),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            "n_events",
            "n_censored",
            F.when(F.col("exhausted") == 1, F.lit(0.0))
            .otherwise(round_cmp(F.exp(F.col("logsum"))))
            .alias("survival"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Chi-square test of independence
# --------------------------------------------------------------------------


@query(
    "chi_square_independence",
    oracle=f"""
    WITH obs AS (
      SELECT event_type,
             CAST(strftime(CAST(ts AS DATE), '%w') AS INTEGER) + 1 AS dow,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    margins AS (
      SELECT event_type, dow, o,
             SUM(o) OVER (PARTITION BY event_type) AS row_tot,
             SUM(o) OVER (PARTITION BY dow) AS col_tot,
             SUM(o) OVER () AS n
      FROM obs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           {round_cmp_sql("SUM((o - row_tot * col_tot / CAST(n AS DOUBLE)) * (o - row_tot * col_tot / CAST(n AS DOUBLE)) / (row_tot * col_tot / CAST(n AS DOUBLE)))")} AS chi2,
           CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof
    FROM margins
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² test of independence between event type and day-of-week — "is
    traffic mix the same every day?" The categorical-association
    primitive next to the two-proportion z-test (which is its 2×2
    special case) and the Benford goodness-of-fit terms. Day-of-week
    pinned to Spark's 1=Sunday convention, as in
    seasonal_baseline_anomaly.

    Expected counts are row·col/n from the SAME observed table via
    margin windows (no second scan); every input to the χ² sum is
    integer-exact, with the handful of IEEE divisions textually
    identical on both engines.

    Scale shape: the raw scan collapses to |types|×|dows| cells in one
    partial-agg'd shuffle; margins, the statistic, and the degrees of
    freedom all run over those ≤ 35 cells.
    """
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", F.dayofweek(F.to_date("ts")).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("dow")
    w_all = Window.partitionBy()
    m = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(w_row).alias("row_tot"),
        F.sum("o").over(w_col).alias("col_tot"),
        F.sum("o").over(w_all).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("n").cast("long").alias("n_rows"),
        round_cmp(F.sum((F.col("o") - e) * (F.col("o") - e) / e)).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        )
        .cast("long")
        .alias("dof"),
    )


# --------------------------------------------------------------------------
# Shannon entropy / balance profile of categorical columns
# --------------------------------------------------------------------------


@query(
    "shannon_entropy_profile",
    oracle=f"""
    WITH stacked AS (
      SELECT 'o_orderstatus' AS col_name, o_orderstatus AS v FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
    ),
    counts AS (
      SELECT col_name, v, COUNT(*) AS c FROM stacked GROUP BY 1, 2
    ),
    tot AS (
      SELECT col_name, SUM(c) AS n, COUNT(*) AS k FROM counts GROUP BY 1
    )
    SELECT c.col_name,
           CAST(t.k AS BIGINT) AS n_values,
           {round_cmp_sql("SUM(-(c.c / CAST(t.n AS DOUBLE)) * ln(c.c / CAST(t.n AS DOUBLE)))")} AS entropy_nats,
           {round_cmp_sql("CASE WHEN t.k > 1 THEN SUM(-(c.c / CAST(t.n AS DOUBLE)) * ln(c.c / CAST(t.n AS DOUBLE))) / ln(CAST(t.k AS DOUBLE)) ELSE 0.0 END")} AS balance
    FROM counts c JOIN tot t ON t.col_name = c.col_name
    GROUP BY c.col_name, t.k, t.n
    ORDER BY c.col_name
    """,
)
def shannon_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy and normalized balance (H / ln k) of the
    categorical columns — the information-theoretic companion to
    column_profile's distinct counts: two columns with the same
    cardinality can be perfectly balanced (balance 1) or 99%-one-value
    (balance → 0), which decides dictionary-encoding wins, partition-key
    suitability, and whether a column is worth a filter statistic.

    Scale shape: one unpivoted pass (UNION of column projections here —
    at many columns the stack() form column_profile uses applies), a
    (column, value) count with map-side partials, then per-column
    rollups over the tiny distinct-value table.
    """
    o = load(spark, sf_dir, "orders")
    stacked = o.select(
        F.lit("o_orderstatus").alias("col_name"),
        F.col("o_orderstatus").alias("v"),
    ).unionAll(
        o.select(F.lit("o_orderpriority"), F.col("o_orderpriority"))
    )
    counts = stacked.groupBy("col_name", "v").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("col_name").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("k")
    )
    p = F.col("c") / F.col("n").cast("double")
    return (
        counts.join(tot, "col_name")
        .groupBy("col_name", "k", "n")
        .agg(F.sum(-p * F.log(p)).alias("h"))
        .select(
            "col_name",
            F.col("k").cast("long").alias("n_values"),
            round_cmp(F.col("h")).alias("entropy_nats"),
            round_cmp(
                F.when(
                    F.col("k") > 1,
                    F.col("h") / F.log(F.col("k").cast("double")),
                ).otherwise(F.lit(0.0))
            ).alias("balance"),
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# Mann-Whitney rank AUC
# --------------------------------------------------------------------------


@query(
    "rank_auc_mann_whitney",
    oracle=f"""
    WITH labeled AS (
      SELECT value AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    byval AS (
      SELECT s, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS pos
      FROM labeled GROUP BY s
    ),
    ranked AS (
      SELECT s, c, pos,
             COALESCE(SUM(c) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM byval
    ),
    stats AS (
      SELECT SUM(pos * (below + (c + 1) / 2.0)) AS rank_sum_pos,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(c - pos) AS BIGINT) AS n_neg
      FROM ranked
    )
    SELECT n_pos, n_neg,
           {round_cmp_sql("(rank_sum_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * CAST(n_neg AS DOUBLE))")} AS auc
    FROM stats
    """,
)
def rank_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of ``value`` as a predictor of the purchase label,
    computed exactly via the Mann–Whitney U identity — AUC =
    (R₊ − n₊(n₊+1)/2)/(n₊n₋) with midrank tie handling — in TWO
    aggregation passes, no pairwise comparisons and no sorting of raw
    rows. THE model-evaluation primitive a training pipeline runs at
    scale, where sklearn's in-memory roc_auc_score cannot.

    Midranks come from per-distinct-value counts and a prefix sum over
    the (tiny) distinct-value table: every quantity is an exact
    integer or half-integer until the single final division, so both
    engines agree bit-for-bit. With value independent of the label,
    AUC should sit near 0.5 — deviations flag leakage or real signal.

    Scale shape: one partial-agg'd shuffle to per-value counts; the
    rank prefix sum and U statistic run over distinct values
    (score-cardinality, not row-cardinality). A production variant
    buckets continuous scores first — same plan, bounded state.
    """
    ev = load(spark, sf_dir, "events")
    labeled = ev.select(
        F.col("value").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    byval = labeled.groupBy("s").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").cast("long").alias("pos")
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = byval.withColumn(
        "below", F.coalesce(F.sum("c").over(w), F.lit(0))
    )
    stats = ranked.agg(
        F.sum(
            F.col("pos") * (F.col("below") + (F.col("c") + 1) / F.lit(2.0))
        ).alias("rank_sum_pos"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("c") - F.col("pos")).cast("long").alias("n_neg"),
    )
    return stats.select(
        "n_pos",
        "n_neg",
        round_cmp(
            (F.col("rank_sum_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0))
            / (F.col("n_pos") * F.col("n_neg").cast("double"))
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# Spearman rank correlation
# --------------------------------------------------------------------------


@query(
    "spearman_rank_corr",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    -- midrank per value: rows below this value + (ties+1)/2, from a
    -- per-VALUE table so the prefix sums stay integer-exact
    vx AS (SELECT x, COUNT(*) AS c FROM daily GROUP BY x),
    vxr AS (
      SELECT x, COALESCE(SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS r
      FROM vx
    ),
    vy AS (SELECT y, COUNT(*) AS c FROM daily GROUP BY y),
    vyr AS (
      SELECT y, COALESCE(SUM(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS r
      FROM vy
    ),
    ranked AS (
      SELECT d.day, vxr.r AS rank_x, vyr.r AS rank_y
      FROM daily d JOIN vxr ON vxr.x = d.x JOIN vyr ON vyr.y = d.y
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           {round_cmp_sql("CORR(rank_x, rank_y)")} AS spearman_rho
    FROM ranked
    """,
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the daily view and purchase
    series — Pearson on MIDRANKS, the monotone-association measure
    that, unlike corr_matrix's Pearson, ignores outliers and nonlinear
    scaling. Completes the correlation family (whole-period Pearson,
    rolling Pearson, Kendall's τ via mann_kendall, now Spearman's ρ).

    Midranks are exact half-integers from per-distinct-value prefix
    sums (same machinery as the Mann–Whitney AUC); the final CORR runs
    over ranks whose variance is never zero unless a series is
    constant — days differ here, and the 30-row frame makes the
    aggregate's accumulation noise vanish under round_cmp.

    Scale shape: raw scan → daily cells (partial-agg'd); rank tables,
    joins, and the correlation all run over distinct VALUES and days —
    driver-sized at any volume.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )

    def midranks(col: str) -> DataFrame:
        v = daily.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return v.select(
            col,
            (
                F.coalesce(F.sum("c").over(w), F.lit(0))
                + (F.col("c") + 1) / F.lit(2.0)
            ).alias(f"rank_{col}"),
        )

    ranked = daily.join(F.broadcast(midranks("x")), "x").join(
        F.broadcast(midranks("y")), "y"
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        round_cmp(F.corr("rank_x", "rank_y")).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Jensen-Shannon divergence between source token distributions
# --------------------------------------------------------------------------

_JSD_TOP = 10


@query(
    "source_jsd_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({ALPHA_TOKENIZE_SQL}) AS t
      FROM documents
    ),
    cnt AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    tot AS (SELECT source, SUM(c) AS n FROM cnt GROUP BY 1),
    p AS (
      SELECT cnt.source, cnt.t, cnt.c / CAST(tot.n AS DOUBLE) AS p
      FROM cnt JOIN tot ON tot.source = cnt.source
    ),
    shared AS (
      SELECT a.source AS sa, b.source AS sb,
             SUM(0.5 * a.p * ln(2 * a.p / (a.p + b.p))
                 + 0.5 * b.p * ln(2 * b.p / (a.p + b.p))) AS jsd_shared,
             SUM(a.p) AS mass_a, SUM(b.p) AS mass_b
      FROM p a JOIN p b ON a.t = b.t AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT sa, sb,
           {round_cmp_sql("(jsd_shared + 0.5 * ln(2) * ((1 - mass_a) + (1 - mass_b))) / ln(2)")} AS jsd_bits
    FROM shared
    ORDER BY {round_cmp_sql("(jsd_shared + 0.5 * ln(2) * ((1 - mass_a) + (1 - mass_b))) / ln(2)")},
             sa, sb
    LIMIT {_JSD_TOP}
    """,
)
def source_jsd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between per-source token distributions,
    top-{_JSD_TOP} MOST similar pairs — the probabilistic upgrade of
    source_vocab_overlap's set Jaccard: JSD weighs how differently two
    sources USE shared vocabulary, not just whether they share it. The
    corpus-mixing diagnostic behind "are these two crawls near-duplicate
    distributions" before source_mixture_weights allocates budget.

    Tokens absent from one side contribute exactly ½·p·ln2 each (the
    m=p/2 limit), so the full divergence decomposes into a SHARED-token
    join plus closed-form unshared-mass terms — no full outer join, no
    per-pair vocab materialization. Normalized to bits; identical
    formula text on both engines, ranked by the ROUNDED value with
    (sa, sb) tiebreaks so the LIMIT boundary can't flip cross-engine.

    Scale shape: per-source token counts are one partial-agg'd shuffle;
    the pair stage is an equi-join ON TOKEN (Σ freq² like the dedup
    ladder, never |sources|²·|vocab|), and the pair aggregate is
    |source-pairs| rows.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.expr(ALPHA_TOKENIZE_EXPR)).alias("t")
    )
    cnt = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    p = cnt.join(tot, "source").select(
        "source", "t", (F.col("c") / F.col("n").cast("double")).alias("p")
    )
    a = p.select(F.col("source").alias("sa"), "t", F.col("p").alias("pa"))
    b = p.select(F.col("source").alias("sb"), "t", F.col("p").alias("pb"))
    m = F.col("pa") + F.col("pb")
    shared = (
        a.join(b, "t")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            F.sum(
                F.lit(0.5) * F.col("pa") * F.log(2 * F.col("pa") / m)
                + F.lit(0.5) * F.col("pb") * F.log(2 * F.col("pb") / m)
            ).alias("jsd_shared"),
            F.sum("pa").alias("mass_a"),
            F.sum("pb").alias("mass_b"),
        )
    )
    jsd = (
        F.col("jsd_shared")
        + F.lit(0.5)
        * F.log(F.lit(2.0))
        * ((1 - F.col("mass_a")) + (1 - F.col("mass_b")))
    ) / F.log(F.lit(2.0))
    # rank by the ROUNDED value (token_pmi_topk pattern, ADVICE r5):
    # the raw double is a float sum whose accumulation order differs
    # between engines, so near-equal pairs at the LIMIT boundary could
    # otherwise flip cross-engine
    return (
        shared.select("sa", "sb", round_cmp(jsd).alias("jsd_bits"))
        .orderBy("jsd_bits", "sa", "sb")
        .limit(_JSD_TOP)
    )
