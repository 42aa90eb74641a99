"""Streaming twin must agree with the batch rollup on the same bounded
input (events parquet driven through a memory sink)."""

from __future__ import annotations

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.events import (
    events_hour_agg,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming import (
    events_stream,
)

from conftest import SF_SMOKE


def test_stream_matches_batch(spark):
    streamed = events_stream.run_to_memory(spark, SF_SMOKE)
    batch = events_hour_agg(spark, SF_SMOKE)

    s_rows = {
        (r.hour, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in streamed.collect()
    }
    b_rows = {
        (r.hour, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in batch.collect()
    }
    assert s_rows == b_rows
    assert len(s_rows) > 0


# (the stateful sessionizer's stream-vs-batch equality now lives in
# tests/test_streaming_sessionize.py against streaming/sessionize.py —
# the chunked-replay, oracle-certified successor of the single-batch
# sessionize_stream module removed in r4)


def test_streaming_dedup_restores_exactly_once(spark):
    """Every event delivered twice (at-least-once redelivery); the
    watermarked dedup stream must emit each event exactly once and
    agree with the batch table on count and checksum."""
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )

    deduped = events_stream.run_dedup_to_memory(spark, SF_SMOKE)
    batch = load(spark, SF_SMOKE, "events")

    d = deduped.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
        F.round(F.sum("value"), 4).alias("checksum"),
    ).collect()[0]
    b = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("checksum"),
    ).collect()[0]
    assert d.n == d.n_ids == b.n  # one output row per unique event
    assert d.checksum == b.checksum


def test_stream_static_enrichment_matches_batch(spark):
    """The stream-static broadcast join rollup must agree exactly with
    the batch enrichment twin (events_enrich_segment) on the bounded
    input — and every event must have found its dimension row."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.events import (
        events_enrich_segment,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming import (
        enrich_stream,
    )

    streamed = enrich_stream.run_enrich_to_memory(spark, SF_SMOKE)
    batch = events_enrich_segment(spark, SF_SMOKE)
    s_rows = {
        (r.c_mktsegment, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in streamed.collect()
    }
    b_rows = {
        (r.c_mktsegment, r.event_type): (r.n_events, round(r.sum_value, 4))
        for r in batch.collect()
    }
    assert s_rows == b_rows and s_rows
    # inner join lost nothing: user_ids are a subset of the dimension keys
    total_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert sum(n for n, _ in s_rows.values()) == total_events


def test_streaming_countmin_matches_batch_twin(spark):
    # the stream-maintained grid probed identically to the batch sketch
    # must give byte-identical answers — counters are mergeable state
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        REGISTRY,
    )
    from conftest import SF_SMOKE

    batch = REGISTRY["countmin_estimate"].fn(spark, SF_SMOKE).collect()
    stream = REGISTRY["streaming_countmin_replay"].fn(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, stream))


def test_streaming_neardup_probe_batch_boundary_invariance(spark):
    """The incremental near-dup replay (r11) must be a pure function of
    the corpus, not of micro-batch boundaries: replaying the ten ingest
    sources as 1, 3, or 5 micro-batches yields the identical final
    top-50 pair set — the invariance that justifies certifying the
    3-chunk replay against the batch/DuckDB oracle. Also pins the
    asymmetry contract on real data: doc_a is always an ingest doc,
    doc_b always a store doc."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _store_pred,
        stream_neardup_probe,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )
    from pyspark.sql import functions as F

    runs = {
        n: [tuple(r) for r in stream_neardup_probe(spark, SF_SMOKE, n_chunks=n).collect()]
        for n in (1, 3, 5)
    }
    assert runs[1] == runs[3] == runs[5]
    assert len(runs[3]) > 0

    docs = load(spark, SF_SMOKE, "documents")
    store_ids = {
        r.doc_id for r in docs.filter(_store_pred(F.col("source"))).select("doc_id").collect()
    }
    for doc_a, doc_b, hamming in runs[3]:
        assert doc_a not in store_ids, (doc_a, "probe side must be ingest docs")
        assert doc_b in store_ids, (doc_b, "store side must be history docs")
        assert 0 <= hamming <= 12


def test_bounded_replays_go_through_the_replay_module():
    """Every bounded replay drains, triggers and pins its shuffle
    partitions in streaming/replay.py (run_bounded) and nowhere else;
    the session builder's ``.config`` is not a ``conf.set`` and stays
    exempt."""
    import pathlib
    import re

    import health_etl_pipeline_and_analytics_with_machine_learning_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    banned = re.compile(
        r"processAllAvailable\(|awaitTermination\(|\.trigger\("
        r"|conf\.set\(\s*[\"']spark\.sql\.shuffle\.partitions"
    )
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "streaming" / "replay.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert offenders == []
