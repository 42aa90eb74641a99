"""Structured Streaming flows over the events table — the idiomatic
extension of the reference's weekly-batch report cadence (SURVEY §2.9,
§7.5): continuous ingest replaces re-running the batch.

:func:`read_events_stream` is the ONE events stream source: the table
as time-ordered chunk files (:func:`events_chunks`), one chunk per
micro-batch. Every events flow reads it: the rollup, dedup and
enrichment drains here and in ``enrich_stream``, the five certified
replays in ``sessionize`` and ``operators.mining.streaming_countmin_replay``.
Each drains through :func:`replay.run_bounded`.

The aggregation logic is shared with the batch twin
(operators.events.events_hour_agg) so batch and streaming stay
consistent; tests drive the stream from the same parquet and compare
against the batch result.

Scale notes: watermark bounds state (late rows beyond 2 hours are
dropped); the windowed aggregate state is keyed by (window, event_type)
— cardinality hours × types, tiny. For exactly-once delivery to real
sinks use foreachBatch with idempotent writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import ReplayDir, chunk_table, read_chunks, run_bounded


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


def events_chunks(spark: SparkSession, sf_dir: str, n_chunks: int) -> ReplayDir:
    """The events table as ``n_chunks`` equal-count, time-ordered chunks
    (:func:`replay.chunk_table`), so every user active in more than one
    time slice crosses batch boundaries and exercises the cross-batch
    state path. Chunk = global (ts, event_id) rank ÷ step, with the rank
    from the funnel-free two-phase pattern (operators.record_id): the
    only driver data is the row count and the per-partition offset map.
    Chunks hold ``ts`` as registry.load normalizes it, a session-TZ
    TIMESTAMP, whatever the on-disk encoding, so the stream agrees with
    the batch under any session timezone."""
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


def read_events_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 3) -> DataFrame:
    """readStream over the events table (stand-in for kafka/kinesis):
    a FileStreamSource over :func:`events_chunks`, read with the schema
    the chunker recorded, one chunk per micro-batch. Two reads share one
    chunk dir and are independent sources; unioning them is an
    at-least-once redelivery (every event twice)."""
    chunks = events_chunks(spark, sf_dir, n_chunks)
    return read_chunks(spark, chunks.path, chunks.schema)


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window per event type with a late-data watermark —
    the streaming twin of events_hour_agg. Windows cut and render wall
    hours under any session timezone, as the batch twin's ``date_trunc``
    does (the canonicalization of ``sessionize.stream_hour_rollup``)."""
    return (
        events.withColumn("ts", _wall_ts(F.col("ts")))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            _fmt_wall(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_to_memory(
    spark: SparkSession, sf_dir: str, query_name: str = "events_rollup"
) -> DataFrame:
    """Drive the stream to completion against the bounded source
    (memory sink, complete mode) and return the result as a DataFrame.
    This is the local smoke path; production uses a real sink +
    checkpointLocation."""
    stream = hourly_rollup(read_events_stream(spark, sf_dir))
    run_bounded(
        stream.writeStream.outputMode("complete").format("memory").queryName(query_name)
    )
    return spark.sql(f"SELECT * FROM {query_name}")


def dedup_within_watermark(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exactly-once dedup under at-least-once delivery:
    ``dropDuplicatesWithinWatermark`` on event_id — the streaming twin
    of the batch ``dedup_exact`` ladder (operators.dedup).

    Scale shape: state is keyed by event_id but EVICTED once the
    watermark passes an id's first-seen event time, so state size is
    bounded by (arrival rate × watermark horizon), not stream lifetime
    — the property that makes exact streaming dedup viable at all.
    (Plain dropDuplicates without a watermark grows state forever; with
    redelivery windows under the horizon the results are identical.)
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_dedup_to_memory(
    spark: SparkSession, sf_dir: str, query_name: str = "events_dedup"
) -> DataFrame:
    """Drive the redelivered stream (two unioned reads, every event
    twice) through the dedup operator to completion; append-mode memory
    sink."""
    redelivered = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    stream = dedup_within_watermark(redelivered)
    run_bounded(
        stream.writeStream.outputMode("append").format("memory").queryName(query_name)
    )
    return spark.sql(f"SELECT * FROM {query_name}")
