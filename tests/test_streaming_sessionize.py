"""Streaming sessionization (a native ``session_window`` count replayed
in complete mode) must reproduce the batch gaps-and-islands answer
exactly from a chunked micro-batch replay — including sessions that
span micro-batches and the exact 1800 s gap edge."""

from __future__ import annotations

import datetime as dt
import functools
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.events import (
    sessionization,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
    REGISTRY,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.events_stream import (
    events_chunks,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.sessionize import (
    session_counts,
    stream_sessionization,
)


def test_stream_final_equals_batch(spark):
    stream = [tuple(r) for r in stream_sessionization(spark, SF_SMOKE).collect()]
    batch = [
        tuple(r) for r in REGISTRY["sessionization"].fn(spark, SF_SMOKE).collect()
    ]
    assert stream == batch
    assert len(stream) > 0


def _write_events(tmp_path, rows) -> str:
    """An events table of ``rows`` = (event_id, user_id, seconds after
    2024-01-01[, event_type, default "view"]) in ``tmp_path``; returns
    the dir to pass as sf_dir."""
    t0 = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [t0 + dt.timedelta(seconds=r[2]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array(
                    [r[3] if len(r) > 3 else "view" for r in rows], pa.string()
                ),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(['{"k": 1}'] * len(rows), pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    return str(tmp_path)


def _n_sessions(df):
    return {(r["user_id"], r["n_sessions"]) for r in df.collect()}


def test_state_actually_crosses_microbatches(spark, tmp_path):
    assert [tuple(r) for r in stream_sessionization(spark, SF_SMOKE, 4).collect()] == [
        tuple(r) for r in sessionization(spark, SF_SMOKE).collect()
    ]
    # no smoke-table session spans one of its chunk boundaries, so the
    # cross-batch merge is pinned on a table where both users' single
    # session spans all four chunks (3 rows each, in time order):
    # sessionizing each chunk on its own counts 4 and 3 sessions, a
    # replay that dropped state between micro-batches keeps only the
    # last chunk's sessions, and only a carried state answers 1 and 1
    u1 = [0, 300, 600, 900, 1200, 1500, 1800, 2100]
    u2 = [50, 1000, 1900, 2800]
    rows = sorted([(1, t) for t in u1] + [(2, t) for t in u2], key=lambda r: r[1])
    sf = _write_events(tmp_path, [(i, u, t) for i, (u, t) in enumerate(rows)])

    chunks = events_chunks(spark, sf, 4)
    files = sorted(f for f in os.listdir(chunks.path) if f.endswith(".parquet"))
    assert len(files) == 4
    per_chunk = [
        session_counts(spark.read.parquet(os.path.join(chunks.path, f)))
        for f in files
    ]
    chunk_sum = _n_sessions(
        functools.reduce(DataFrame.unionByName, per_chunk)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    assert chunk_sum == {(1, 4), (2, 3)}
    batch = _n_sessions(sessionization(spark, sf))
    assert batch == {(1, 1), (2, 1)}
    assert _n_sessions(stream_sessionization(spark, sf, n_chunks=4)) == batch


def test_gap_edge_matches_batch_stream_and_oracle(spark, tmp_path):
    # each user's two events sit in different chunks of a 2-chunk
    # replay. User 1 is exactly 1800 s apart (one session), user 2
    # 1801 s (two), user 3 1800.05 s but 1800 s on whole seconds (one:
    # the gap is on CAST(ts AS LONG))
    sf = _write_events(
        tmp_path,
        [
            (0, 1, 0.0),
            (1, 2, 1.0),
            (2, 3, 2.9),
            (3, 1, 1800.0),
            (4, 2, 1802.0),
            (5, 3, 1802.95),
        ],
    )
    chunks = events_chunks(spark, sf, 2)
    first = spark.read.parquet(os.path.join(chunks.path, "chunk_000.parquet"))
    assert sorted(r["event_id"] for r in first.collect()) == [0, 1, 2]

    want = [(1, 1, 2, 2.0), (2, 2, 2, 1.0), (3, 1, 2, 2.0)]
    batch = [tuple(r) for r in sessionization(spark, sf).collect()]
    stream = [tuple(r) for r in stream_sessionization(spark, sf, n_chunks=2).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    oracle = [
        tuple(r)
        for r in con.execute(REGISTRY["streaming_sessionization"].oracle).fetchall()
    ]
    con.close()
    assert batch == want
    assert stream == want
    assert oracle == want


def test_registered_with_oracle():
    rq = REGISTRY["streaming_sessionization"]
    assert rq.oracle is not None and "INTERVAL 30 MINUTE" in rq.oracle
    assert "streaming" in rq.tags


def test_stream_hour_rollup_equals_batch():
    rq = REGISTRY["streaming_hour_rollup"]
    assert rq.oracle is not None and "date_trunc" in rq.oracle


def test_stream_hour_rollup_values(spark):
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.events import (
        events_hour_agg,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.sessionize import (
        stream_hour_rollup,
    )

    rows = stream_hour_rollup(spark, SF_SMOKE).collect()
    # r12: the stream carries HLL++ approx distinct users; the op's
    # contract is the batch-exact count column plus an earned bound flag
    assert all(r["approx_users_within_bound"] for r in rows)
    stream = {
        (r["hour"], r["event_type"], r["n_events"], r["sum_value"], r["n_users_exact"])
        for r in rows
    }
    batch = {
        tuple(r)
        for r in events_hour_agg(spark, SF_SMOKE).select(
            "hour", "event_type", "n_events", "sum_value", "n_users"
        ).collect()
    }
    assert stream == batch and len(stream) > 0


def _range_join_pairs(ev: DataFrame) -> list[tuple]:
    """The batch view→purchase range join rolled up per user, the
    columns of ``stream_view_purchase_join``."""
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    return sorted(
        tuple(r)
        for r in p.join(v, "user_id")
        .filter(
            (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.countDistinct("view_id").alias("n_views"),
        )
        .collect()
    )


def test_stream_stream_join_equals_batch_range_join(spark):
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.sessionize import (
        stream_view_purchase_join,
    )

    stream = sorted(
        tuple(r) for r in stream_view_purchase_join(spark, SF_SMOKE).collect()
    )
    batch = _range_join_pairs(load(spark, SF_SMOKE, "events"))
    assert stream == batch and len(stream) > 0


def test_stream_stream_join_pairs_straddle_microbatches(spark, tmp_path):
    # no view→purchase pair of the test tables straddles a chunk
    # boundary, so pin the join buffer on a table where every pair's
    # view and purchase land in different chunks of the 3-chunk replay
    # (2 rows per chunk, in time order): joining each chunk alone finds
    # no pair, and only state carried across micro-batches finds all 3
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.sessionize import (
        stream_view_purchase_join,
    )

    sf = _write_events(
        tmp_path,
        [
            (0, 1, 0, "view"),
            (1, 2, 100, "view"),
            (2, 1, 1000, "purchase"),
            (3, 3, 1100, "view"),
            (4, 2, 2000, "purchase"),
            (5, 3, 2100, "purchase"),
        ],
    )
    chunks = events_chunks(spark, sf, 3)
    files = sorted(f for f in os.listdir(chunks.path) if f.endswith(".parquet"))
    per_chunk = [
        pair
        for f in files
        for pair in _range_join_pairs(spark.read.parquet(os.path.join(chunks.path, f)))
    ]
    assert len(files) == 3 and per_chunk == []
    batch = _range_join_pairs(load(spark, sf, "events"))
    assert batch == [(1, 1, 1, 1), (2, 1, 1, 1), (3, 1, 1, 1)]
    stream = sorted(tuple(r) for r in stream_view_purchase_join(spark, sf).collect())
    assert stream == batch
