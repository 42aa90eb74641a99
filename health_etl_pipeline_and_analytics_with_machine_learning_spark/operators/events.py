"""Event-stream batch operators over ``events`` — tumbling-window
rollups and sessionization. The Structured Streaming twins live in
``streaming.events_stream``; these batch forms share the same
aggregation logic and are the oracle-checkable surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import load, query, round_cmp, round_cmp_sql


@query(
    "events_hour_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY hour, event_type
    ORDER BY hour, event_type
    """,
)
def events_hour_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event type — the batch twin of the
    streaming windowed aggregation. date_trunc keys shuffle-aggregate
    with partial combine; output cardinality = hours × types."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


@query(
    "sessionization",
    oracle="""
    WITH ordered AS (
      -- gap rule pinned on BOTH sides: computed on SECOND-TRUNCATED
      -- timestamps (the Spark ops cast ts to epoch seconds), ordering
      -- on full-precision (ts, event_id). Sub-second drivers diverge
      -- without this pin; tests/test_events_load.py has the canary.
      SELECT user_id, ts, event_id,
             CASE WHEN date_trunc('second', ts)
                       - LAG(date_trunc('second', ts))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sessions AS (
      SELECT user_id,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events,
           ROUND(COUNT(*) * 1.0 / MAX(session_id), 4) AS events_per_session
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize with a 30-minute inactivity gap: lag(ts) per user →
    session-start flags → running sum = session ids (the classic
    gaps-and-islands shape; streaming twin: session_window).

    Scale: ONE shuffle on user_id serves both window passes and the final
    aggregation (same partitioning reused by Catalyst); skewed power
    users are bounded by per-user event counts, not corpus size."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.withColumn(
        "is_start",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.count(F.lit(1)) / F.max("session_id"), 4).alias("events_per_session"),
        )
        .orderBy("user_id")
    )


@query(
    "json_props_extract",
    oracle=f"""
    -- // is integer division: CAST(x/10 AS INT) would round-to-nearest
    -- in DuckDB while Spark's cast truncates
    SELECT CAST(CAST(props->>'$.k' AS INTEGER) // 10 AS INTEGER) AS k_decile,
           COUNT(*) AS n_events,
           {round_cmp_sql("AVG(value)")} AS avg_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY k_decile
    ORDER BY k_decile
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON payload with
    a DECLARED schema (``from_json``) and aggregate by the extracted
    key — the one-pass, JVM-side pattern for JSON event payloads.

    Scale shape: ``from_json`` with an explicit schema is a native
    expression inside whole-stage codegen — parsed once, pruned to the
    referenced field, no Python, no schema-inference scan. (Schema
    inference over a 100 TB stream is a full extra pass; declare or
    sample-infer once and pin it.) Integer division buckets keep the
    group cardinality fixed at 10 whatever the key range.
    """
    ev = load(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select((k / 10).cast("int").alias("k_decile"), "value", "user_id")
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_cmp(F.avg("value")).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("k_decile")
    )


@query(
    "events_enrich_segment",
    oracle="""
    SELECT c.c_mktsegment,
           e.event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    ORDER BY c.c_mktsegment, e.event_type
    """,
)
def events_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension enrichment of the event stream: join each event to its
    user's market segment, then roll up per (segment, type) — the batch
    twin of streaming.enrich_stream's stream-static join.

    Scale: the user dimension is dimension-sized → broadcast join, so
    the fact/event side is NEVER reshuffled for the join; the only
    shuffle is the final tiny (segment × type) aggregation. This is the
    plan a stream-static join runs per micro-batch, which is why the
    streaming twin stays cheap: broadcast once, probe every batch.
    """
    ev = load(spark, sf_dir, "events")
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


@query(
    "events_gap_fill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
      FROM events GROUP BY event_type, hr
    ),
    bounds AS (
      SELECT MIN(date_trunc('hour', ts)) AS lo, MAX(date_trunc('hour', ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT t.event_type,
             UNNEST(generate_series((SELECT lo FROM bounds),
                                    (SELECT hi FROM bounds),
                                    INTERVAL 1 HOUR)) AS hr
      FROM (SELECT DISTINCT event_type FROM events) t
    )
    SELECT strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hour,
           s.event_type,
           COALESCE(h.n, 0) AS n_events,
           CAST(h.n IS NULL AS INT) AS was_gap
    FROM spine s LEFT JOIN hourly h
      ON s.hr = h.hr AND s.event_type = h.event_type
    ORDER BY hour, s.event_type
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a dense hourly spine per event type,
    left-joined to the observed hourly counts, missing hours
    materialized as explicit zeros — the resample step every
    trend/moving-average consumer needs (a rolling window over a
    gappy series silently averages the wrong denominator).

    Scale shape: the spine is generated, not scanned — sequence()
    over the [min, max] hour bounds (one tiny agg) crossed with the
    distinct keys, so spine size is |keys| × hours regardless of fact
    volume; the fill join is a broadcast of the AGGREGATED hourly
    counts (hours × types rows), never of raw events.
    """
    ev = load(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    hourly = ev.groupBy(F.col("event_type"), hr.alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = ev.agg(F.min(hr).alias("lo"), F.max(hr).alias("hi"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr"),
    )
    return (
        spine.join(F.broadcast(hourly), ["hr", "event_type"], "left")
        .select(
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.col("n").isNull().cast("int").alias("was_gap"),
        )
        .orderBy("hour", "event_type")
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH steps AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view,
           CAST(SUM(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view_then_click,
           CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_purchase
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM steps
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: how many users progressed view → click →
    purchase, judged on each step's FIRST occurrence (NULL timestamps
    fail every comparison, so a missing step breaks the chain with no
    explicit null-handling).

    Scale shape: the classic funnel needs NO self-joins — one
    conditional-MIN pivot per user (single shuffle on user_id with
    partial aggregation), then a driver-sized scalar rollup. The
    event-sequence alternative (join events to events per step) is
    quadratic in steps and shuffles the fact table per stage.
    """
    ev = load(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    steps = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("n_view"),
        F.sum(
            F.when(F.col("t_view") < F.col("t_click"), 1).otherwise(0)
        ).alias("n_view_then_click"),
        F.sum(
            F.when(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                1,
            ).otherwise(0)
        ).alias("n_full_funnel"),
    )


@query(
    "running_distinct_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT first_day AS day, COUNT(*) AS n_new_users
      FROM first_seen GROUP BY first_day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_new_users,
           CAST(SUM(n_new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_distinct_users
    FROM daily ORDER BY day
    """,
)
def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth-curve query. A
    naive windowed COUNT(DISTINCT) is unsupported AND quadratic; the
    scalable identity is: cumulative-distinct = running SUM of
    first-seen counts, because each user increments the curve exactly
    once, on their first day.

    Scale shape: one shuffle keyed by user_id (min day per user), one
    tiny re-agg to |days| rows, and the unpartitioned running-sum window
    touches only those |days| rows — the global window that is a
    single-task funnel on raw data is FINE on a 30-row daily summary.
    """
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_new_users",
            F.sum("n_new_users").over(w).alias("cum_distinct_users"),
        )
        .orderBy("day")
    )


@query(
    "cohort_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id, date_trunc('week', MIN(CAST(ts AS DATE))) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS act_week
      FROM events
    )
    SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', c.cohort_week, a.act_week) / 7 AS INT) AS week_offset,
           COUNT(*) AS n_active
    FROM cohort c JOIN activity a ON c.user_id = a.user_id
    GROUP BY c.cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-activity week,
    counted in each subsequent week they return — the standard product-
    analytics matrix, and the reference's GROUP-BY-Year trend made
    user-resolved.

    Scale shape: cohort assignment (min week) and the distinct activity
    weeks (collect_set) come out of ONE groupBy(user_id) pass — a single
    fact-table shuffle, no join at all; the set explodes into at most
    |weeks| rows per user before the tiny triangle re-agg. The naive
    form (min-agg ⋈ distinct-pairs) costs two fact shuffles plus a join
    — measured 4 Exchanges vs 3 (incl. the final sort) for this plan.
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts").cast("date"))).alias("cohort_week"),
        F.collect_set(F.date_trunc("week", F.col("ts").cast("date"))).alias("act_weeks"),
    )
    return (
        per_user.select(
            "cohort_week", F.explode("act_weeks").alias("act_week")
        )
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("act_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


#: path length cap: the first K events define the behavioral prefix
_PATH_K = 5
_PATH_TOP = 20


@query(
    "user_event_paths",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '->' ORDER BY rn) AS path
      FROM ranked WHERE rn <= {_PATH_K}
      GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT {_PATH_TOP}
    """,
)
def user_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: each user's first {_PATH_K} events as
    an ordered ``a->b->c`` path, counted across users — the
    common-journey query behind funnel design (and an n-gram model over
    event sequences).

    Order-sensitive aggregation done DETERMINISTICALLY: Spark's
    collect_list gives no ordering guarantee after a shuffle, so the
    struct list is sort_array'd on the (ts, event_id) key INSIDE the
    row before the types are joined — same total order as the oracle's
    ``string_agg(... ORDER BY)``. One shuffle on user_id (window + agg
    share it), then a tiny path-frequency re-agg; per-user state is
    capped at {_PATH_K} structs by the rank filter before collect.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", "ts", "event_id", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _PATH_K)
    paths = (
        ranked.groupBy("user_id")
        .agg(
            F.concat_ws(
                "->",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s.event_type,
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(_PATH_TOP)
    )


#: MAD consistency constant for normally-distributed data, and the
#: conventional 3-sigma-equivalent cut
_MAD_K = 1.4826
_MAD_CUT = 3.0


@query(
    "mad_outlier_detect",
    oracle=f"""
    WITH med AS (
      SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, MEDIAN(ABS(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           ROUND(m.med, 4) AS median_value,
           ROUND(d.mad, 4) AS mad_value,
           CAST(SUM(CASE WHEN ABS(e.value - m.med) > {_MAD_CUT} * {_MAD_K} * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY e.event_type, m.med, d.mad
    ORDER BY e.event_type
    """,
)
def mad_outlier_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    heavy-tail-safe sibling of zscore_normalize (mean/σ are themselves
    dragged by the outliers they're supposed to find; median/MAD have a
    50% breakdown point). Flags |x - med| > {_MAD_CUT}·{_MAD_K}·MAD.

    Scale shape: two grouped exact medians (each |groups| rows out,
    broadcast back onto the fact scan — the iqr_clip agg-then-broadcast
    pattern twice, chained because MAD is a median OF residuals and
    genuinely needs the first pass's result). Three fact scans total;
    at 100 TB swap the exact medians for percentile_approx or
    functions/quantiles.py per the §4.3 exactness ladder.
    """
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > _MAD_CUT * _MAD_K * F.col("mad")
                ).cast("int")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.round("med", 4).alias("median_value"),
            F.round("mad", 4).alias("mad_value"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


@query(
    "forward_fill_last_purchase",
    oracle=f"""
    WITH filled AS (
      SELECT user_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(last_purchase) AS n_with_carry,
           {round_cmp_sql("AVG(last_purchase)")} AS avg_carried
    FROM filled
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def forward_fill_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF — last observation carried forward): every
    event annotated with the user's most recent purchase value — the
    time-series imputation primitive (pandas ``ffill``) the reference's
    fillna-with-constant cleaning never reaches.

    ``last(expr, ignorenulls=True)`` over a running frame is the native
    Spark form — no self-join, no gaps-and-islands gymnastics. ONE
    shuffle on user_id serves the window sort and nothing else moves;
    the carry state inside the frame is a single value per row.
    Tie-broken ordering (ts, event_id) keeps the carried value
    engine-identical when timestamps collide.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sparse = F.when(F.col("event_type") == "purchase", F.col("value"))
    filled = ev.select(
        "event_type",
        F.last(sparse, ignorenulls=True).over(w).alias("last_purchase"),
    )
    return (
        filled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("last_purchase").alias("n_with_carry"),
            round_cmp(F.avg("last_purchase")).alias("avg_carried"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_sessionization",
    oracle="""
    WITH ordered AS (
      -- gap rule pinned on BOTH sides: computed on SECOND-TRUNCATED
      -- timestamps (the Spark ops cast ts to epoch seconds), ordering
      -- on full-precision (ts, event_id). Sub-second drivers diverge
      -- without this pin; tests/test_events_load.py has the canary.
      SELECT user_id, ts, event_id,
             CASE WHEN date_trunc('second', ts)
                       - LAG(date_trunc('second', ts))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sessions AS (
      SELECT user_id,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events,
           ROUND(COUNT(*) * 1.0 / MAX(session_id), 4) AS events_per_session
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "stateful"),
)
def streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``sessionization``, certified by the SAME
    oracle: the events table is replayed as time-ordered micro-batches
    through a native ``session_window`` count (1800 s gap, session state
    kept across micro-batches), and the bounded stream's final per-user
    session stats must hash-match the batch/DuckDB gaps-and-islands
    answer. See streaming/sessionize.py for the gap-edge rule and the
    production form."""
    from ..streaming.sessionize import stream_sessionization

    return stream_sessionization(spark, sf_dir)


@query(
    "streaming_hour_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS approx_users_within_bound
    FROM events
    GROUP BY hour, event_type
    ORDER BY hour, event_type
    """,
    tags=("streaming",),
)
def streaming_hour_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``events_hour_agg``: the events table replays
    as time-ordered micro-batches through a tumbling-1-hour windowed
    aggregation, and the bounded stream's final window table must
    hash-match the batch/DuckDB GROUP BY date_trunc answer.

    Distinct users: exact DISTINCT isn't expressible inside a
    streaming aggregate (documented engine boundary), so the stream
    carries HyperLogLog++ ``approx_count_distinct(user_id,
    rsd=HLL_RSD)`` — the production answer — certified with the
    approx_distinct_bound pattern: the oracle pins the batch-exact count
    and a constant TRUE the sketch must earn by landing within
    max(4·rsd relative, 5 users). The margin derives from the sketch's
    rsd; the absolute floor covers tiny per-window cardinalities where
    HLL++ register noise (Spark has no sparse mode) is a few users
    regardless of rsd. See streaming/sessionize.py for the envelope
    constants and scale notes, streaming/replay.py for the replay."""
    from ..streaming.sessionize import stream_hour_rollup

    return stream_hour_rollup(spark, sf_dir)


@query(
    "streaming_view_purchase_join",
    oracle="""
    SELECT p.user_id,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT p.event_id) AS n_purchases,
           COUNT(DISTINCT v.event_id) AS n_views
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    GROUP BY p.user_id
    ORDER BY p.user_id
    """,
    tags=("streaming", "join"),
)
def streaming_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join, oracle-certified: purchases join the same
    user's views within the preceding hour, both sides replayed as
    independent micro-batch streams; the bounded stream's pair set must
    hash-match the batch/DuckDB range join. The stateful stream-stream
    join buffer is the certified operator class next to the windowed
    and session-window aggregations. See
    streaming/sessionize.py for the production watermark form and
    streaming/replay.py for the replay."""
    from ..streaming.sessionize import stream_view_purchase_join

    return stream_view_purchase_join(spark, sf_dir)


@query(
    "streaming_dedup_replay",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "stateful"),
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup, certified end-to-end: the replay
    feeds every event TWICE (two unioned file sources) and
    ``dropDuplicates`` state must restore the original multiset — the
    oracle aggregates the clean source directly. See
    streaming/sessionize.py:stream_dedup_replay for the operator and
    its watermark-bounded production form."""
    from ..streaming.sessionize import stream_dedup_replay

    return stream_dedup_replay(spark, sf_dir)
