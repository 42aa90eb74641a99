"""Streaming sessionization — the custom STATEFUL streaming operator
(SURVEY §2.9 extension tier): per-user 30-minute-inactivity sessions
maintained incrementally with ``applyInPandasWithState``.

The batch twin is ``operators.events.sessionization`` (gaps-and-islands
via two window passes); built-in ``session_window`` is NOT its streaming
equivalent — its gap boundary is exclusive (an event exactly 30:00 after
the previous one starts a NEW session) while the batch rule keeps it
(``gap > 1800`` strictly, on second-truncated timestamps). The stateful
operator below implements the batch rule bit-for-bit, so the bounded
stream's final answer hash-matches the batch/DuckDB result — a full
oracle certification of a streaming operator.

State per user: (last event time in truncated seconds, sessions so far,
events so far) — O(1) per key, the property that makes this viable on an
unbounded stream. Arrow moves each micro-batch group to pandas in one
batch (no per-row Python). Emission is ``update`` mode: every
micro-batch yields the user's current running totals; the final totals
are the rows with the max n_events per user (n_events is strictly
increasing), recovered relationally after the bounded run.

At 100 TB (unbounded production): add EventTimeTimeout + watermark to
evict idle users' state and emit their final sessions; the bounded
parquet replay here processes every file, so NoTimeout keeps the test
deterministic while exercising identical state-transition code.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .replay import (
    REPLAY_PANDAS_STATE_PARTITIONS,
    REPLAY_STATE_PARTITIONS,
    ReplayDir,
    chunk_table,
    read_chunks,
    run_bounded,
)


def _wall_ts(col):
    """Session-TZ-proof event-time canonicalization: ``ts`` arrives
    as an NTZ→TIMESTAMP cast whose epoch carries the session offset;
    re-adding it makes the epoch equal the wall clock read as UTC, so
    tumbling ``window()`` buckets align to WALL hours under any session
    timezone (identity under UTC). Mirrors registry.epoch_us_utc."""
    return F.from_utc_timestamp(col, F.expr("current_timezone()"))


def _fmt_wall(col, fmt: str):
    """Render a wall-canonical timestamp (epoch == wall-as-UTC) as its
    wall-clock string regardless of session TZ: ``to_utc_timestamp``
    subtracts the session offset that ``date_format`` re-adds."""
    return F.date_format(F.to_utc_timestamp(col, F.expr("current_timezone()")), fmt)

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

_OUT_SCHEMA = "user_id long, n_sessions long, n_events long"
_STATE_SCHEMA = "last_ts_s long, n_sessions long, n_events long"


def _sessionize_user(key, pdf_iter, state: GroupState):
    """Fold one user's micro-batch events through (last_ts, n_sessions,
    n_events) state. Matches the batch rule exactly: timestamps truncate
    to whole seconds, a gap of exactly 1800 s continues the session."""
    (user_id,) = key
    if state.exists:
        last_ts, n_sessions, n_events = state.get
    else:
        last_ts, n_sessions, n_events = None, 0, 0

    pdfs = [p for p in pdf_iter if len(p)]
    if not pdfs:
        # zero-row invocation: happens for EventTimeTimeout expirations
        # (the production config this module documents) and is legal for
        # any timeout conf — emit the user's current totals if any state
        # exists, never index into an empty frame
        if state.exists:
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_sessions": [n_sessions],
                    "n_events": [n_events],
                }
            )
        return
    rows = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"])
    # datetime64[us/ns] → epoch seconds, truncated like CAST(ts AS LONG);
    # the gap scan is vectorized — no per-row Python in the hot path
    ts = (rows["ts"].astype("datetime64[us]").astype("int64") // 1_000_000).to_numpy()
    first_starts = 1 if (last_ts is None or ts[0] - last_ts > SESSION_GAP_S) else 0
    n_sessions += first_starts + int((ts[1:] - ts[:-1] > SESSION_GAP_S).sum())
    n_events += len(ts)
    last_ts = int(ts[-1])

    state.update((last_ts, n_sessions, n_events))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_sessions": [n_sessions],
            "n_events": [n_events],
        }
    )


def _chunked_events_dir(spark: SparkSession, sf_dir: str, n_chunks: int) -> ReplayDir:
    """The events table as ``n_chunks`` equal-count, time-ordered chunks
    (:func:`replay.chunk_table`), so every user active in more than one
    time slice crosses batch boundaries and exercises the cross-batch
    state path. Chunk = global (ts, event_id) rank ÷ step, with the rank
    from the funnel-free two-phase pattern (operators.record_id): the
    only driver data is the row count and the per-partition offset map.
    Chunks hold ``ts`` as registry.load normalizes it, a session-TZ
    TIMESTAMP, whatever the on-disk encoding."""
    from ..operators.record_id import with_record_id
    from ..operators.registry import load

    def build() -> DataFrame:
        ev = load(spark, sf_dir, "events")
        step = (ev.count() + n_chunks - 1) // n_chunks
        ranked = with_record_id(ev, ["ts", "event_id"], id_col="__rid", mode="scaled")
        return ranked.withColumn(
            "__chunk", F.expr(f"CAST((__rid - 1) DIV {step} AS INT)")
        ).drop("__rid")

    return chunk_table(spark, "events_chunks", sf_dir, "events", n_chunks, build)


def _read_chunked_stream(spark: SparkSession, chunks: ReplayDir) -> DataFrame:
    """FileStreamSource over an events chunk dir, read with the schema
    the chunker recorded."""
    return read_chunks(spark, chunks.path, chunks.schema)


def stream_sessionization(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """Run the bounded event stream through the stateful sessionizer to
    completion and return the FINAL per-user session stats — same
    columns, same values as the batch ``sessionization`` query (and its
    DuckDB oracle)."""
    raw = _read_chunked_stream(spark, _chunked_events_dir(spark, sf_dir, n_chunks))

    updates = (
        raw.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_user,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = "sessionize_updates"
    run_bounded(
        updates.writeStream.outputMode("update").format("memory").queryName(name),
        REPLAY_PANDAS_STATE_PARTITIONS,
    )

    all_updates = spark.sql(f"SELECT * FROM {name}")
    # final row per user = the update with the largest n_events
    # (strictly increasing across micro-batches)
    final = (
        all_updates.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "n_sessions")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_sessions").alias("n_sessions"),
            F.col("s.n_events").alias("n_events"),
        )
    )
    return final.select(
        "user_id",
        "n_sessions",
        "n_events",
        F.round(F.col("n_events") / F.col("n_sessions"), 4).alias("events_per_session"),
    ).orderBy("user_id")


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
    raw = _read_chunked_stream(spark, _chunked_events_dir(spark, sf_dir, n_chunks))
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
    """STREAM-STREAM inner join replay — the third stateful streaming
    operator class next to the windowed aggregation and the custom
    applyInPandasWithState state machine: each user's purchases join the
    views they followed within one hour (event-time range condition).

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
    chunks = _chunked_events_dir(spark, sf_dir, n_chunks)
    views = (
        _read_chunked_stream(spark, chunks)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        _read_chunked_stream(spark, chunks)
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
    """Streaming exactly-once dedup replay — the fourth stateful
    operator class (next to the custom state machine, the windowed agg,
    and the stream-stream join): the chunked event replay is read by
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
    chunks = _chunked_events_dir(spark, sf_dir, n_chunks)
    a = _read_chunked_stream(spark, chunks)
    b = _read_chunked_stream(spark, chunks)
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


_CDC_OUT_SCHEMA = (
    "user_id long, ts_us long, event_id long, event_type string, value double"
)
_CDC_STATE_SCHEMA = "ts_us long, event_id long, event_type string, value double"


def _cdc_user(key, pdf_iter, state: GroupState):
    """Latest-row-wins fold: keep each user's max-(ts, event_id) record
    across micro-batches — O(1) state per key, the streaming form of the
    batch max(struct) aggregation."""
    (user_id,) = key
    best = tuple(state.get) if state.exists else None
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        ts = (
            pdf["ts"].astype("datetime64[us]").astype("int64").reset_index(drop=True)
        )
        rows = pdf.reset_index(drop=True).assign(__t=ts)
        top = rows.sort_values(["__t", "event_id"]).iloc[-1]
        cand = (
            int(top["__t"]),
            int(top["event_id"]),
            str(top["event_type"]),
            float(top["value"]),
        )
        if best is None or (cand[0], cand[1]) > (best[0], best[1]):
            best = cand
    if best is None:
        return
    state.update(best)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "ts_us": [best[0]],
            "event_id": [best[1]],
            "event_type": [best[2]],
            "value": [best[3]],
        }
    )


def stream_cdc_compaction(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """Streaming twin of ``operators.warehouse.cdc_latest_compaction``,
    certified by the SAME oracle: the chunked replay folds each user's
    change feed through O(1) latest-row state (applyInPandasWithState),
    and the bounded stream's final compacted table must hash-match the
    batch max(struct) answer. Production form: the state IS the
    compacted table, maintained incrementally — no periodic rewrite of
    cold keys, which is the advantage over batch compaction at 100 TB.
    """
    raw = _read_chunked_stream(spark, _chunked_events_dir(spark, sf_dir, n_chunks))
    updates = (
        raw.select("user_id", "ts", "event_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _cdc_user,
            outputStructType=_CDC_OUT_SCHEMA,
            stateStructType=_CDC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = "cdc_compaction_updates"
    run_bounded(
        updates.writeStream.outputMode("update").format("memory").queryName(name),
        REPLAY_PANDAS_STATE_PARTITIONS,
    )
    out = spark.sql(f"SELECT * FROM {name}")
    final = (
        out.groupBy("user_id")
        .agg(F.max(F.struct("ts_us", "event_id", "event_type", "value")).alias("s"))
        .select(
            "user_id",
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.event_type").alias("last_event_type"),
            F.col("s.value").alias("last_value"),
            # ts_us is already wall-canonical micros (the Arrow transfer
            # renders session-TZ wall clock before the int64 cast), so
            # only the re-rendering needs the session-offset pin
            _fmt_wall(
                F.timestamp_micros(F.col("s.ts_us")), "yyyy-MM-dd HH:mm:ss"
            ).alias("last_ts"),
        )
    )
    return final.orderBy("user_id")
