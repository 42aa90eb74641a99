"""Environment-invariance gate for the driver's correctness check.

Round-5 lesson: four ops passed the local DuckDB differential under
every config we tried yet failed the official driver check
(CORRECTNESS_r05.json hash_match false). Root cause was NOT the Spark
session at all — the oracles emitted DuckDB HUGEINT columns
(un-cast integer SUMs) that a pandas/Arrow fetch turns into
float64/decimal while Spark emits int64; the local ``fetchall()``
masked it by converting HUGEINT to Python int. Two defenses now:

1. ``test_no_hugeint_oracle_outputs`` — every oracle's DECLARED result
   types must match Spark's numeric class column-for-column (DESCRIBE
   binds without executing, so this covers all 168 oracles in seconds).
2. ``test_hostile_session_parity`` — the epoch/time-deriving ops that
   motivated the TZ hypothesis re-run under a deliberately hostile
   session (non-UTC fixed-offset timezone + ANSI mode ON, the confs the
   driver demonstrably runs) and must still match DuckDB bit-for-bit.
   This pins ``epoch_us_utc`` (operators/registry.py) as the only
   sanctioned epoch-extraction path.
"""

from __future__ import annotations

import duckdb
import pytest

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
    REGISTRY,
)

from conftest import SF_CORRECT

pytestmark = pytest.mark.parity

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

from health_etl_pipeline_and_analytics_with_machine_learning_spark.oracle_types import (  # noqa: E402
    canon,
    class_mismatches,
)

#: the ops that derive epooch/date numbers from the NTZ ``ts``/date
#: columns — the surface the TZ-invariance fix covers
_TZ_SENSITIVE = [
    "column_profile",
    "interval_concurrency_peak",
    "gaps_islands_streaks",
    "skew_diagnosis_gini",
    "range_interval_window",
    "time_weighted_avg",
    "attribution_position_based",
    # streaming ops that render wall-clock strings from replayed event
    # time: the hour rollup through streaming/sessionize.py's
    # _wall_ts/_fmt_wall session-offset pins, CDC compaction through the
    # batch op's own date_format over session-TZ chunk timestamps
    "streaming_hour_rollup",
    "streaming_cdc_compaction",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    yield con
    con.close()


def test_no_hugeint_oracle_outputs(spark, duck):
    """Every oracle's declared output types share Spark's numeric class.

    HUGEINT/DECIMAL (or int-vs-float class flips) in any output column
    is exactly the r5 driver-red failure mode; DESCRIBE binds the query
    without running it, so the sweep is cheap enough to cover all
    oracles every session.
    """
    errs = []
    for name, rq in REGISTRY.items():
        if rq.oracle is None:
            continue
        schema = rq.fn(spark, SF_CORRECT).schema
        desc = duck.execute(f"DESCRIBE {rq.oracle}").fetchall()
        errs += [f"{name}.{e}" for e in class_mismatches(desc, schema)]
    assert not errs, errs


def test_dst_zone_epoch_contract(spark, tmp_path):
    """Pin epoch_us_utc's behavior under a DST session zone (the
    NTZ→TIMESTAMP cast resolves the offset at local wall time,
    from_utc_timestamp at the instant — so DST zones COULD diverge).

    Empirical contract, asserted here with synthetic events placed
    inside and around both 2024 America/New_York transitions: the two
    resolutions cancel for every wall clock that EXISTS in the zone —
    including ambiguous fall-back times — and diverge ONLY for wall
    times inside the spring-forward gap (nonexistent local times),
    which normalize forward by exactly the gap width. The driver
    session is UTC, so the gap edge never reaches certification."""
    import duckdb as _duckdb
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        epoch_us_utc,
        load,
    )
    from pyspark.sql import functions as F

    walls = [
        "2024-03-10 01:59:59",  # last instant before the spring-forward gap
        "2024-03-10 02:30:00",  # INSIDE the gap — nonexistent local time
        "2024-03-10 03:00:00",  # first instant after the gap
        "2024-11-03 00:30:00",
        "2024-11-03 01:30:00",  # ambiguous (fall-back hour occurs twice)
        "2024-11-03 02:30:00",
        "2024-06-15 12:00:00",
        "2024-01-15 12:00:00",
    ]
    gap = {"2024-03-10 02:30:00"}
    ts = [datetime.fromisoformat(w) for w in walls]
    tbl = pa.table(
        {
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "event_id": list(range(len(ts))),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    con = _duckdb.connect()
    oracle = dict(
        con.execute(
            f"SELECT event_id, epoch_us(ts) FROM "
            f"read_parquet('{tmp_path}/events.parquet')"
        ).fetchall()
    )
    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = {
            r.event_id: r.ep
            for r in load(spark, str(tmp_path), "events")
            .select("event_id", epoch_us_utc(F.col("ts")).alias("ep"))
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved_tz)
    for i, w in enumerate(walls):
        if w in gap:
            # nonexistent wall time: normalized forward by the 1 h gap
            assert got[i] - oracle[i] == 3_600_000_000, (w, got[i], oracle[i])
        else:
            assert got[i] == oracle[i], (w, got[i], oracle[i])


def test_hostile_session_parity(spark, duck):
    """The TZ-sensitive ops match DuckDB under non-UTC TZ + ANSI."""
    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    saved_ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        # fixed-offset zone: epoch shift is unconditional (no DST window
        # to luck through) — the strictest cheap hostile setting
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        for name in _TZ_SENSITIVE:
            rq = REGISTRY[name]
            sdf = rq.fn(spark, SF_CORRECT)
            s_rows = [tuple(r) for r in sdf.collect()]
            res = duck.execute(rq.oracle)
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
            assert sorted(sdf.columns) == sorted(o_cols), name
            cs, co = canon(s_rows, sdf.columns), canon(o_rows, o_cols)
            assert len(cs) == len(co), f"{name}: {len(cs)} vs {len(co)} rows"
            diffs = [(a, b) for a, b in zip(cs, co) if a != b][:3]
            assert cs == co, f"{name}: first diffs {diffs}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved_tz)
        spark.conf.set("spark.sql.ansi.enabled", saved_ansi)
