"""Bounded Structured Streaming replays of the events table, each the
oracle-certified twin of a batch op: sessionization, the hourly
rollup, the view-to-purchase join, exactly-once dedup and CDC
compaction. Every replay reads the one events stream source,
:func:`events_stream.read_events_stream` (time-ordered chunks, one per
micro-batch), and runs to completion through :func:`replay.run_bounded`.

Sessionization is a native ``session_window`` count. The batch twin
(``operators.events.sessionization``) starts a session when the gap to
the user's previous event, on second-truncated timestamps, exceeds
1800 s (``gap > 1800``). ``session_window(t, "1800 seconds")`` gives
each event the window [t, t + 1800 s) and merges windows that overlap
or only touch, so events exactly 1800 s apart share a session and
events 1801 s apart do not: the batch rule, on the same
``CAST(ts AS LONG)`` time basis. The bounded replay runs in complete
mode, so the sink holds every session at stream end. Production
(unbounded) form: append mode plus a watermark on the event time, which
emits each session once the watermark passes its end and evicts its
state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events_stream import _fmt_wall, _wall_ts, read_events_stream
from .replay import REPLAY_STATE_PARTITIONS, run_bounded

#: batch twin's inactivity gap (operators/events.py sessionization)
SESSION_GAP_S = 30 * 60

#: HLL++ relative standard deviation for the streaming distinct-user
#: sketch (stream_hour_rollup) — the knob everything below derives from
HLL_RSD = 0.02

#: certified relative envelope DERIVED from the sketch's rsd: 4
#: standard deviations keep the per-window breach probability ~1e-4 at
#: any scale factor, so a red row here points at a change in the HLL++
#: register math, not at the envelope.
HLL_REL_MARGIN = 4 * HLL_RSD

#: absolute floor (users) for tiny per-window cardinalities: Spark's
#: HLL++ implements no sparse representation, so register noise is a
#: few users regardless of rsd (measured |err| up to 3 at sf0.1, which
#: is 25% relative on a 4-user window — a relative margin alone can
#: never cover that regime)
HLL_ABS_FLOOR = 5.0


def session_counts(raw: DataFrame) -> DataFrame:
    """One row per (user, session): ``user_id``, the session window over
    whole-second event time (the batch twin's ``CAST(ts AS LONG)``) with
    a :data:`SESSION_GAP_S` gap, and the session's event ``count``."""
    t = F.timestamp_seconds(F.col("ts").cast("long"))
    return raw.groupBy(
        "user_id", F.session_window(t, f"{SESSION_GAP_S} seconds")
    ).count()


def stream_sessionization(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """Run the bounded event stream through :func:`session_counts` to
    completion and roll the sessions up per user — same columns, same
    values as the batch ``sessionization`` query (and its DuckDB
    oracle)."""
    raw = read_events_stream(spark, sf_dir, n_chunks)
    name = "sessionize_sessions"
    sessions = session_counts(raw)
    run_bounded(
        sessions.writeStream.outputMode("complete").format("memory").queryName(name),
        REPLAY_STATE_PARTITIONS,
    )
    return (
        spark.sql(f"SELECT * FROM {name}")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("count").alias("n_events"),
        )
        .select(
            "user_id",
            "n_sessions",
            "n_events",
            F.round(F.col("n_events") / F.col("n_sessions"), 4).alias(
                "events_per_session"
            ),
        )
        .orderBy("user_id")
    )


def stream_hour_rollup(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """Windowed streaming rollup replayed over time-ordered micro-batches
    — the certified twin of the batch tumbling-hour aggregation
    (operators.events.events_hour_agg). Exact DISTINCT inside a
    streaming aggregate isn't expressible (a documented engine
    boundary), so the distinct-user column ships the way production
    ships it: HyperLogLog++
    ``approx_count_distinct`` INSIDE the streaming aggregate, certified
    with the approx_distinct_bound pattern — the oracle pins the exact
    per-window count and a constant TRUE that the stream's sketch must
    EARN by landing within max(4·rsd relative, HLL_ABS_FLOOR users) of
    the batch-exact count (sketch values themselves can't be
    oracle-compared across HLL implementations; the envelope constants
    and the rsd→margin derivation live on HLL_REL_MARGIN /
    HLL_ABS_FLOOR above — measured max |err| is 1 at sf0.01 and 3 at
    sf0.1, i.e. up to 25% relative on a 4-user window, which is why
    the absolute floor exists).

    The bounded replay runs in COMPLETE output mode, so the memory sink
    holds the full window table at stream end — no watermark races, and
    the final answer must equal the batch GROUP BY date_trunc exactly.
    Production (unbounded) uses events_stream.hourly_rollup: the same
    window expression with a 2 h watermark and append output to a real
    sink. State here is O(hours × event types), not O(events) — the
    HLL buffer is a fixed ~kB per (hour, type) group at rsd=0.02."""
    raw = read_events_stream(spark, sf_dir, n_chunks)
    rolled = (
        raw.groupBy(F.window(_wall_ts(F.col("ts")), "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("n_users_approx"),
        )
    )
    name = "hour_rollup_replay"
    run_bounded(
        rolled.writeStream.outputMode("complete").format("memory").queryName(name),
        REPLAY_STATE_PARTITIONS,
    )
    # the bound column is earned against the BATCH-exact distinct count
    # (tiny: hours × event-types rows, computed once after stream end —
    # the stream itself never does an exact DISTINCT)
    from ..operators.registry import load

    exact = (
        load(spark, sf_dir, "events")
        # the SAME window() expression as the stream, never
        # date_trunc('hour', …): under a fractional-offset session TZ
        # (the hostile-session suite) date_trunc cuts on session-local
        # hour boundaries while window() buckets align to epoch hours —
        # the join would come back empty
        .groupBy(
            F.window(_wall_ts(F.col("ts")), "1 hour")
            .getField("start")
            .alias("win_start"),
            F.col("event_type").alias("et"),
        )
        .agg(F.count_distinct("user_id").alias("n_users_exact"))
    )
    streamed = spark.sql(f"SELECT * FROM {name}")
    return (
        streamed.join(
            F.broadcast(exact),
            (streamed["win.start"] == exact["win_start"])
            & (streamed["event_type"] == exact["et"]),
        )
        .select(
            _fmt_wall(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users_exact",
            (
                F.abs(F.col("n_users_approx") - F.col("n_users_exact"))
                <= F.greatest(
                    HLL_REL_MARGIN * F.col("n_users_exact"), F.lit(HLL_ABS_FLOOR)
                )
            ).alias("approx_users_within_bound"),
        )
        .orderBy("hour", "event_type")
    )


def stream_view_purchase_join(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """STREAM-STREAM inner join replay — the stateful streaming operator
    class next to the windowed and session-window aggregations: each
    user's purchases join the views they followed within one hour
    (event-time range condition).

    Both sides read the same chunked replay directory as independent
    FileStreamSources; the inner join buffers both sides' state, so the
    bounded replay emits exactly the batch join's pairs regardless of
    how micro-batches interleave — which is what the oracle certifies.
    Production (unbounded) adds watermarks on BOTH sides plus the same
    time-range predicate, which lets Spark expire view-state older than
    the hour bound instead of buffering forever; the replay keeps the
    unexpired form so the bounded answer is exact.

    Scale shape: the join shuffles both streams on user_id once;
    per-micro-batch work is new-rows × matching-state, with state
    bounded by the watermark horizon in the production form."""
    views = (
        read_events_stream(spark, sf_dir, n_chunks)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir, n_chunks)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"))
    name = "view_purchase_pairs"
    run_bounded(
        joined.writeStream.outputMode("append").format("memory").queryName(name),
        REPLAY_STATE_PARTITIONS,
    )
    # the pair set is the certified object; roll it up per user so the
    # result is small and deterministically ordered
    return (
        spark.sql(f"SELECT * FROM {name}")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.countDistinct("view_id").alias("n_views"),
        )
        .orderBy("user_id")
    )


def stream_dedup_replay(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """Streaming exactly-once dedup replay — the stateful operator
    class next to the windowed and session-window aggregations and the
    stream-stream join: the chunked event replay is read by
    TWO independent FileStreamSources and unioned, so every event
    arrives twice (an at-least-once delivery simulation), then
    ``dropDuplicates("event_id")`` must emit each exactly once
    regardless of which micro-batch the duplicate lands in — Spark
    keeps seen-key state across batches.

    The certified object is the deduped stream aggregated per event
    type; the batch/DuckDB twin is a plain GROUP BY over the source
    (event_id is unique there by construction — the canary test pins
    that). Production note: unbounded streams bound the seen-key state
    with a watermark on an event-time column (duplicates only arrive
    within the lateness horizon); the bounded replay keeps full state
    so the answer is exact.
    """
    a = read_events_stream(spark, sf_dir, n_chunks)
    b = read_events_stream(spark, sf_dir, n_chunks)
    deduped = (
        a.unionByName(b)
        .select("event_id", "event_type", "value")
        .dropDuplicates(["event_id"])
    )
    name = "dedup_replay_events"
    run_bounded(
        deduped.writeStream.outputMode("append").format("memory").queryName(name),
        REPLAY_STATE_PARTITIONS,
    )
    out = spark.sql(f"SELECT * FROM {name}")
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def stream_cdc_compaction(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """Streaming twin of ``operators.warehouse.cdc_latest_compaction``,
    certified by the SAME oracle: the batch op's own
    ``latest_per_user`` max(struct) aggregation runs over the chunked
    replay in complete mode, each user's latest row held in the state
    store across micro-batches. Production form: update mode to a real
    sink, where the O(keys) state IS the compacted table, maintained
    incrementally with no periodic rewrite of cold keys — the advantage
    over batch compaction at 100 TB.
    """
    from ..operators.warehouse import latest_per_user

    raw = read_events_stream(spark, sf_dir, n_chunks)
    name = "cdc_compaction_latest"
    latest = latest_per_user(raw)
    run_bounded(
        latest.writeStream.outputMode("complete").format("memory").queryName(name),
        REPLAY_STATE_PARTITIONS,
    )
    return spark.sql(f"SELECT * FROM {name}").orderBy("user_id")
