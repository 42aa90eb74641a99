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
from pyspark.sql import types as T

from .replay import mkdtemp, run_bounded


def _probe_events_schema(spark: SparkSession, src: str) -> T.StructType:
    """Resolve the on-disk schema of the events parquet via one batch
    footer read — the stream schema and the ts rebuild branch both
    derive from it, so a driver-side change of the on-disk ``ts``
    encoding (nanos-long vs timestamp[us]) can't desync batch and
    streaming (see registry.load for the batch twin)."""
    try:
        return spark.read.parquet(src).schema
    except Exception:
        # TIMESTAMP(NANOS) footer: readable only as long via legacy conf
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(src).schema


def read_events_stream(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    """readStream over the events parquet (stand-in for kafka/kinesis;
    same schema-adaptive ts rebuild as the batch loader).

    FileStreamSource wants a DIRECTORY it can watch for arriving files;
    the driver ships one flat file, so we expose it through a temp
    directory of symlinks — which is also exactly how continuous ingest
    would land files in production. ``copies > 1`` symlinks the file
    multiple times to simulate at-least-once redelivery (every event
    duplicated), the input the streaming dedup twin exists for."""
    import os

    src = os.path.join(sf_dir, "events.parquet")
    schema = _probe_events_schema(spark, src)
    watch_dir = src
    if os.path.isfile(src):
        watch_dir = mkdtemp("events_stream_")
        for i in range(copies):
            os.symlink(src, os.path.join(watch_dir, f"events_{i}.parquet"))
    raw = spark.readStream.schema(schema).parquet(watch_dir)
    dt = schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # integer division (`div`): double division loses the last
        # microsecond above 2^53 ns — same rebuild as registry.load
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # session TZ is UTC (session.py), so this preserves epoch micros
        return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return raw


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window per event type with a late-data watermark —
    the streaming twin of events_hour_agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
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
