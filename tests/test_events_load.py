"""registry.load() must yield a session-TZ TIMESTAMP ``events.ts``
under BOTH on-disk encodings the driver has shipped:

- parquet TIMESTAMP(NANOS)  (rounds 1-2: readable only as nanos-long
  via the legacy conf, then rebuilt to micros), and
- parquet timestamp[us]     (round 3+: read as TIMESTAMP_NTZ, cast).

Round 3 lost 20 of 95 registry queries because load() assumed the first
encoding after the driver switched to the second; this test pins the
schema-adaptive behavior so a future format flip can never silently
kill a third of the registry again. The nanos fixture is synthesized
with pyarrow (coerce_timestamps is not allowed to ns, so the column is
written as int64 nanos and the schema patched to TIMESTAMP(NANOS) via
a pass-through of pa.timestamp('ns'), which parquet stores as
isAdjustedToUTC nanos under version 2.6).
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
    load,
)

from conftest import SF_SMOKE

_ROWS = {
    "event_id": [0, 1, 2],
    "user_id": [10, 11, 12],
    "event_type": ["view", "click", "purchase"],
    "value": [1.5, 2.5, 3.5],
    "props": ['{"k": 1}', '{"k": 2}', '{"k": 3}'],
}
_TS = [
    dt.datetime(2024, 1, 1, 0, 0, 0),
    dt.datetime(2024, 1, 1, 0, 0, 1),
    dt.datetime(2024, 1, 2, 3, 4, 5),
]


def _write_events(tmpdir, ts_array: pa.Array) -> str:
    tbl = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    path = str(tmpdir / "events.parquet")
    pq.write_table(tbl, path, version="2.6")
    return str(tmpdir)


@pytest.fixture()
def micros_dir(tmp_path):
    return _write_events(tmp_path, pa.array(_TS, pa.timestamp("us")))


@pytest.fixture()
def nanos_dir(tmp_path):
    return _write_events(tmp_path, pa.array(_TS, pa.timestamp("ns")))


def _assert_ts_ok(df):
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = [r.ts for r in df.orderBy("event_id").select("ts").collect()]
    # session TZ is UTC (session.py), so wall-clock values round-trip
    assert [t.replace(tzinfo=None) for t in got] == _TS


def test_load_micros_encoding(spark, micros_dir):
    _assert_ts_ok(load(spark, micros_dir, "events"))


def test_load_nanos_encoding(spark, nanos_dir):
    # must work whether or not the legacy conf is already set
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    _assert_ts_ok(load(spark, nanos_dir, "events"))


def test_load_nanos_encoding_conf_preset(spark, nanos_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _assert_ts_ok(load(spark, nanos_dir, "events"))


def test_load_driver_testdata(spark):
    # whatever encoding the driver currently ships, ts comes back as a
    # usable TIMESTAMP
    df = load(spark, SF_SMOKE, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.count() > 0


def test_events_schema_assumptions(spark):
    """Canary completing the trio (embeddings dim, documents columns):
    the 20+ events operators assume these columns with unique event_id
    and a timestamp-typed ts after load() normalization."""
    from pyspark.sql import types as T

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        ev = load(spark, sf, "events")
        assert set(ev.columns) >= {
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            "props",
        }, (sf, ev.columns)
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType), sf
        n, n_ids = ev.count(), ev.select("event_id").distinct().count()
        assert n == n_ids and n > 0, (sf, n, n_ids)


def test_sessionization_gap_rule_pinned_at_subsecond_precision(spark, tmp_path):
    """The 30-min gap rule is computed on SECOND-TRUNCATED timestamps on
    BOTH engine and oracle sides (operators/events.py). A driver regen
    with sub-second ts must not diverge: gap 1800.5 s straddles the
    boundary differently under truncation vs full precision, so pin the
    truncated rule end-to-end with a synthesized sub-second table."""
    import duckdb

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        events as events_ops,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        REGISTRY,
    )

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    # user 1: true gap 1800.5s (full precision would say NEW session)
    #         but truncated gap 1800 → SAME session — the divergence case
    # user 2: true gap 1799.9s, truncated 1800 → SAME either way (control)
    ts = [
        base + dt.timedelta(microseconds=200_000),          # u1 e0  .2
        base + dt.timedelta(seconds=1800, microseconds=700_000),  # u1 e1  1800.7
        base + dt.timedelta(microseconds=900_000),          # u2 e2  .9
        base + dt.timedelta(seconds=1800, microseconds=800_000),  # u2 e3  1800.8
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([0, 1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([1, 1, 2, 2], pa.int64()),
            "event_type": pa.array(["view"] * 4, pa.string()),
            "value": pa.array([1.0] * 4, pa.float64()),
            "props": pa.array(["{}"] * 4, pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"), version="2.6")

    got = {
        r.user_id: r.n_sessions
        for r in events_ops.sessionization(spark, str(tmp_path)).collect()
    }
    # truncated rule: u1 gap floor(1800.7)-floor(0.2)=1800 → same session;
    # u2 gap floor(1800.8)-floor(0.9)=1800 → same session
    assert got == {1: 1, 2: 1}, got

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = {
        int(r[0]): int(r[1])
        for r in con.execute(REGISTRY["sessionization"].oracle).fetchall()
    }
    assert oracle == got, (oracle, got)


def test_load_wall_clock_invariant_under_hostile_tz(spark, micros_dir, nanos_dir):
    """r6 invariant: under ANY session timezone, ts's SESSION-rendered
    wall clock (date_format — collect() renders in the Python process's
    system TZ instead, which is not the contract) equals DuckDB's naive
    reading of the file — for BOTH encodings. The nanos branch re-bases
    the true epoch through to_utc_timestamp; the NTZ cast is
    wall-preserving by construction."""
    from pyspark.sql import functions as F

    want = [t.strftime("%Y-%m-%d %H:%M:%S") for t in _TS]
    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        for d in (micros_dir, nanos_dir):
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            got = [
                r.w
                for r in load(spark, d, "events")
                .orderBy("event_id")
                .select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("w"))
                .collect()
            ]
            assert got == want, d
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


@pytest.mark.parametrize("encoding", ["micros_dir", "nanos_dir"])
def test_events_stream_rollup_matches_batch_under_hostile_tz(spark, request, encoding):
    """The events stream applies ``load``'s own ``ts`` rebuild and cuts
    wall-clock hours, so under a non-UTC session its hour rollup equals
    the batch ``events_hour_agg`` for both encodings (the nanos rebuild's
    ``to_utc_timestamp`` re-base keeps the stream's wall clock on the
    batch's)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.events import (
        events_hour_agg,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming import (
        events_stream,
    )

    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        cols = ["hour", "event_type", "n_events", "sum_value"]
        d = request.getfixturevalue(encoding)
        stream = events_stream.run_to_memory(spark, d).select(cols)
        batch = events_hour_agg(spark, d).select(cols)
        got = sorted(tuple(r) for r in stream.collect())
        assert got == sorted(tuple(r) for r in batch.collect())
        assert [h for h, *_ in got] == [
            "2024-01-01 00:00:00",
            "2024-01-01 00:00:00",
            "2024-01-02 03:00:00",
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
