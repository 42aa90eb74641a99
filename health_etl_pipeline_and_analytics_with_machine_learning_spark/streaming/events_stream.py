"""Structured Streaming flows over the events table — the idiomatic
extension of the reference's weekly-batch report cadence (SURVEY §2.9,
§7.5): continuous ingest replaces re-running the batch.

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

from ..functions import artifacts
from ..operators.registry import events_ts, table_schema
from .replay import ReplayDir, run_bounded
from .sessionize import _fmt_wall, _wall_ts


def read_events_stream(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    """readStream over the events parquet (stand-in for kafka/kinesis),
    read with ``load``'s memoized footer schema and normalized by the
    batch loader's own ``ts`` rebuild (``registry.events_ts``), so the
    stream and the batch agree under either on-disk encoding and any
    session timezone.

    FileStreamSource wants a DIRECTORY it can watch for arriving files;
    the driver ships one flat file, so we expose it through a temp
    directory of symlinks — which is also exactly how continuous ingest
    would land files in production. ``copies > 1`` symlinks the file
    multiple times to simulate at-least-once redelivery (every event
    duplicated), the input the streaming dedup twin exists for. The
    directory is a replay slot of :func:`artifacts.memo`, shared by
    every read with the same ``copies``."""
    import os

    src = os.path.join(sf_dir, "events.parquet")
    watch_dir = src
    if os.path.isfile(src):

        def link(out: str) -> None:
            for i in range(copies):
                os.symlink(src, os.path.join(out, f"events_{i}.parquet"))

        watch_dir = artifacts.memo(
            spark, "events_stream", sf_dir, "events", (copies,),
            lambda: ReplayDir.new("events_stream", link),
            ReplayDir.on_disk, ReplayDir.remove,
        ).path
    schema = table_schema(spark, sf_dir, "events")
    return events_ts(spark.readStream.schema(schema).parquet(watch_dir))


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
    """Drive the stream to completion against the bounded parquet source
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
    spark: SparkSession,
    sf_dir: str,
    copies: int = 2,
    query_name: str = "events_dedup",
) -> DataFrame:
    """Drive the redelivered (``copies``×) stream through the dedup
    operator to completion; append-mode memory sink."""
    stream = dedup_within_watermark(read_events_stream(spark, sf_dir, copies=copies))
    run_bounded(
        stream.writeStream.outputMode("append").format("memory").queryName(query_name)
    )
    return spark.sql(f"SELECT * FROM {query_name}")
