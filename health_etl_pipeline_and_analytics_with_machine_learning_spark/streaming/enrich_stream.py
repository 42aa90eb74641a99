"""Stream-static join enrichment — the production shape for decorating
an event stream with slowly-changing dimension attributes.

The static side is a plain batch DataFrame; Structured Streaming
re-plans the join per micro-batch, so a dimension-sized static side
broadcasts and the stream is never shuffled for the join (the same plan
`operators.events.events_enrich_segment` pins for the batch twin).
State: NONE — stream-static inner joins are stateless, unlike
stream-stream joins; nothing accumulates, no watermark is needed for
the join itself.

At 100 TB-scale ingest this is the first enrichment stage of a
training-data pipeline (attach source/license/owner metadata to every
incoming document batch); the dimension refreshes by re-reading the
static table between micro-batches — for dimension updates to be
visible the static side must be a re-readable source (a path/table,
not a cached frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.registry import load
from .events_stream import read_events_stream
from .replay import run_bounded


def enrich_with_segment(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static inner join: each event picks up its user's market
    segment; rolled up per (segment, type) to stay comparable with the
    batch twin (same logic, same aliases)."""
    dim = dim.select("c_custkey", "c_mktsegment")
    return (
        events.join(F.broadcast(dim), events.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def run_enrich_to_memory(
    spark: SparkSession, sf_dir: str, query_name: str = "events_enriched"
) -> DataFrame:
    """Drive the enrichment stream to completion against the bounded
    events source (memory sink, complete mode — the aggregate makes
    this a stateful sink query even though the join itself is
    stateless)."""
    dim = load(spark, sf_dir, "customer")
    stream = enrich_with_segment(read_events_stream(spark, sf_dir), dim)
    run_bounded(
        stream.writeStream.outputMode("complete").format("memory").queryName(query_name)
    )
    return spark.sql(f"SELECT * FROM {query_name}")
