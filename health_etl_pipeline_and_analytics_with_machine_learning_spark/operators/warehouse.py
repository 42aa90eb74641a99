"""Warehouse-maintenance operators — the mutation-shaped workloads a
lakehouse runs between queries: CDC compaction, MERGE upserts, SCD2
dimension versioning, snapshot diffing, and incremental aggregate
maintenance.

The reference is a read-only single-table app (SURVEY §2: no writes
beyond report sinks), but any 100 TB deployment lives or dies on these:
ingest arrives as change feeds, dimensions change under the queries,
and full recomputes of big aggregates are exactly what incremental
maintenance exists to avoid. Every op here is expressed as joins +
decomposable aggregations (the shapes Catalyst plans well), with the
"two table versions" derived DETERMINISTICALLY from the immutable
driver tables so the DuckDB oracle can replay the same mutation.

Scale notes per op in the docstrings; the common theme: every op is
one or two key-partitioned shuffles, no windows over global order, no
driver-side state beyond scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load, query, round_cmp, round_cmp_sql


@query(
    "cdc_latest_compaction",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def cdc_latest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-wins compaction of a change feed — the merge-on-read →
    copy-on-write step every CDC-ingesting lakehouse table runs: events
    is treated as an upsert stream keyed by user_id, and compaction
    keeps each key's newest record ((ts, event_id) ordering — unique, so
    deterministic).

    Spark form: ONE shuffle — ``groupBy(key).agg(max(struct(ordering,
    payload)))``. The struct-max is the scale-right plan: it partial-
    aggregates map-side (each input partition contributes one candidate
    per key), where the window-row_number equivalent must first shuffle
    EVERY version of every row and then sort each key group. At 100 TB
    with long-history keys that difference is the whole game. Payload
    fields ride inside the struct after the ordering fields, so no
    join-back is needed.
    """
    return latest_per_user(load(spark, sf_dir, "events")).orderBy("user_id")


def latest_per_user(ev: DataFrame) -> DataFrame:
    """Each user's newest (ts, event_id) event as (user_id,
    last_event_id, last_event_type, last_value, last_ts): the compaction
    body shared by ``cdc_latest_compaction`` (over the table) and
    ``streaming_cdc_compaction`` (over its micro-batch replay)."""
    s = F.max(
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            F.col("event_type"),
            F.col("value"),
        )
    ).alias("s")
    return (
        ev.groupBy("user_id")
        .agg(s)
        .select(
            "user_id",
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.event_type").alias("last_event_type"),
            F.col("s.value").alias("last_value"),
            F.date_format(F.col("s.ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    )


@query(
    "merge_upsert_counts",
    oracle=f"""
    WITH src_base AS (
      SELECT o_custkey AS custkey,
             {round_cmp_sql("SUM(o_totalprice)", 2)} AS new_bal
      FROM orders
      -- every customer has orders at these SFs; the %3 filter keeps a
      -- NOT-MATCHED-BY-SOURCE population so all three actions occur
      WHERE o_custkey % 3 <> 0
      GROUP BY o_custkey
    ),
    src AS (
      SELECT custkey, new_bal FROM src_base
      UNION ALL
      SELECT custkey + 1000000, {round_cmp_sql("new_bal * 0.5", 2)}
      FROM src_base WHERE custkey % 97 = 0
    ),
    merged AS (
      SELECT COALESCE(c.c_custkey, s.custkey) AS custkey,
             CASE WHEN c.c_custkey IS NULL THEN 'insert'
                  WHEN s.custkey IS NULL THEN 'unchanged'
                  ELSE 'update' END AS action,
             COALESCE(s.new_bal, c.c_acctbal) AS bal,
             COALESCE(c.c_mktsegment, 'NEW') AS segment
      FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.custkey
    )
    SELECT action, COUNT(*) AS n_rows,
           {round_cmp_sql("SUM(bal)", 2)} AS sum_bal
    FROM merged GROUP BY action ORDER BY action
    """,
)
def merge_upsert_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT / NOT MATCHED BY SOURCE keep) expressed relationally: target
    = customer, source = a deterministic upsert batch derived from
    orders (per-customer order revenue as the new balance, plus
    synthetic new-customer keys at +1e6 for custkey % 97 == 0). Output
    is the per-action row count and merged-balance checksum — what a
    MERGE reports.

    Spark has no MERGE statement outside table formats (Delta/Iceberg);
    the engine-level form IS this full outer join + conditional
    projection, which those formats lower to. Scale shape: one shuffle
    on the merge key for the join (or zero if target and feed are
    bucketed on it — see sources/bucketed.py), then a tiny 3-row
    aggregate. The balance sums are round_cmp-pinned on both sides
    (summation order differs between engines).
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    src_base = (
        o.filter(F.col("o_custkey") % 3 != 0)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(round_cmp(F.sum("o_totalprice"), 2).alias("new_bal"))
    )
    src = src_base.unionByName(
        src_base.filter(F.col("custkey") % 97 == 0).select(
            (F.col("custkey") + 1000000).alias("custkey"),
            round_cmp(F.col("new_bal") * 0.5, 2).alias("new_bal"),
        )
    )
    merged = c.join(src, c.c_custkey == src.custkey, "full_outer").select(
        F.when(F.col("c_custkey").isNull(), F.lit("insert"))
        .when(F.col("custkey").isNull(), F.lit("unchanged"))
        .otherwise(F.lit("update"))
        .alias("action"),
        F.coalesce(F.col("new_bal"), F.col("c_acctbal")).alias("bal"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            round_cmp(F.sum("bal"), 2).alias("sum_bal"),
        )
        .orderBy("action")
    )


_SCD2_EPOCH = "2020-01-01"


@query(
    "scd2_dimension_update",
    oracle=f"""
    WITH changes AS (
      SELECT o_custkey AS custkey,
             strftime(MAX(o_orderdate), '%Y-%m-%d') AS eff_date,
             'S' || CAST(o_custkey % 5 AS VARCHAR) AS new_segment
      FROM orders GROUP BY o_custkey
    ),
    old_rows AS (
      SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
             '{_SCD2_EPOCH}' AS valid_from,
             ch.eff_date AS valid_to,
             CAST(ch.custkey IS NULL AS INT) AS is_current
      FROM customer c LEFT JOIN changes ch ON c.c_custkey = ch.custkey
    ),
    new_rows AS (
      SELECT ch.custkey, ch.new_segment AS segment,
             ch.eff_date AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to,
             1 AS is_current
      FROM changes ch JOIN customer c ON c.c_custkey = ch.custkey
    )
    SELECT * FROM old_rows
    UNION ALL
    SELECT * FROM new_rows
    ORDER BY custkey, valid_from, is_current
    """,
)
def scd2_dimension_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension update: the customer dimension
    (all rows current since the epoch) absorbs a deterministic change
    batch (customers with orders move to segment 'S<custkey%5>'
    effective their latest order date). Changed keys close the old
    version (valid_to = effective date) and open a new current one;
    untouched keys pass through — the full versioned dimension comes
    back out.

    Scale shape: one key-partitioned left join flags closures, one
    inner join emits new versions, union — no windows, no global state.
    At 100 TB the dimension is bucketed on the key and both joins are
    co-located; the change batch is usually broadcast-sized. History
    grows by |changes| rows per batch, which is the point of SCD2:
    queries AS OF a date filter valid_from/valid_to instead of
    replaying a change log.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    changes = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("eff_date"),
    ).withColumn(
        "new_segment", F.concat(F.lit("S"), (F.col("custkey") % 5).cast("string"))
    )
    old_rows = c.join(changes, c.c_custkey == changes.custkey, "left").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(_SCD2_EPOCH).alias("valid_from"),
        F.col("eff_date").alias("valid_to"),
        F.col("custkey").isNull().cast("int").alias("is_current"),
    )
    new_rows = changes.join(c, c.c_custkey == changes.custkey).select(
        "custkey",
        F.col("new_segment").alias("segment"),
        F.col("eff_date").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    return old_rows.unionByName(new_rows).orderBy(
        "custkey", "valid_from", "is_current"
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH v2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0
                  THEN ROUND(c_acctbal + 10, 2) ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 97 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, 0.0, 'NEW'
      FROM customer WHERE c_custkey % 101 = 0
    ),
    diff AS (
      SELECT CASE WHEN a.c_custkey IS NULL THEN 'added'
                  WHEN b.c_custkey IS NULL THEN 'removed'
                  WHEN a.c_acctbal <> b.c_acctbal
                    OR a.c_mktsegment <> b.c_mktsegment THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer) a
      FULL OUTER JOIN v2 b ON a.c_custkey = b.c_custkey
    )
    SELECT change_type, COUNT(*) AS n_keys
    FROM diff GROUP BY change_type ORDER BY change_type
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-snapshot diff by primary key — the audit primitive behind
    time travel, replication verification, and backfill sign-off: v2 is
    a deterministic mutation of customer (keys % 97 deleted, % 13
    rebalanced, % 101 re-inserted under new keys), and the diff
    classifies every key as added / removed / changed / unchanged.

    Scale shape: one full outer join on the key (co-located if both
    snapshots share the table's bucketing) and a 4-row aggregate. The
    changed-detection compares columns directly here; at width, the
    production trick is comparing a per-row hash column computed in the
    same scan (one expression, no second pass) — same plan shape.
    """
    c = load(spark, sf_dir, "customer")
    v1 = c.select("c_custkey", "c_acctbal", "c_mktsegment")
    v2 = (
        v1.filter(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 13 == 0, F.round(F.col("c_acctbal") + 10, 2))
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            v1.filter(F.col("c_custkey") % 101 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
    )
    a, b = v1.alias("a"), v2.alias("b")
    diff = a.join(b, F.col("a.c_custkey") == F.col("b.c_custkey"), "full_outer").select(
        F.when(F.col("a.c_custkey").isNull(), F.lit("added"))
        .when(F.col("b.c_custkey").isNull(), F.lit("removed"))
        .when(
            (F.col("a.c_acctbal") != F.col("b.c_acctbal"))
            | (F.col("a.c_mktsegment") != F.col("b.c_mktsegment")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_type")
    )
    return (
        diff.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("change_type")
    )


@query(
    "incremental_agg_update",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY hour, event_type
    ORDER BY hour, event_type
    """,
)
def incremental_agg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the hourly rollup
    is NOT recomputed from scratch — a pre-existing base aggregate
    (events before a cutoff two days shy of the newest event) is merged
    with the delta's partial aggregate, and the result must equal the
    full recompute, which is exactly what the oracle runs.

    This works because count and sum are decomposable (merge = sum of
    partials); the deliberately-omitted n_users column is the standard
    counterexample — COUNT(DISTINCT) does not merge, which is why
    maintained rollups carry HLL sketches or pre-deduped feeds instead
    (see approx_distinct_bound). Scale shape: the base is a stored
    hours×types table (tiny); each refresh scans ONLY the delta
    partitions (partition pruning on ts), one small shuffle to merge.
    round_cmp absorbs the partial-vs-full summation-order difference —
    the same pin every cross-engine sum already needs.
    """
    ev = load(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.date_trunc("day", F.max("ts")) - F.expr("INTERVAL 2 DAYS")).alias("cut")
    )
    with_cut = ev.crossJoin(F.broadcast(cutoff))
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
        "hour"
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(hour, "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )

    base = partial(with_cut.filter(F.col("ts") < F.col("cut")))
    delta = partial(with_cut.filter(F.col("ts") >= F.col("cut")))
    return (
        base.unionByName(delta)
        .groupBy("hour", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


@query(
    "streaming_cdc_compaction",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
    tags=("streaming", "stateful"),
)
def streaming_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``cdc_latest_compaction``, certified by the
    same oracle: the batch op's own ``latest_per_user`` aggregation runs
    over the micro-batch replay, its per-user max(struct) kept in the
    state store (O(1) per key) instead of periodic batch rewrites. See
    streaming/sessionize.py:stream_cdc_compaction."""
    from ..streaming.sessionize import stream_cdc_compaction

    return stream_cdc_compaction(spark, sf_dir)
