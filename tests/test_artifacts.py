"""The artifact memo (functions/artifacts.py): every memoized kind answers
from a table rewritten in place at the same path, ``load`` serves its
footer schema without a Spark job once warm, and neither ``load`` nor
the events stream leaves ``spark.sql.legacy.parquet.nanosAsLong``
changed."""

from __future__ import annotations

import ast
import os
import pathlib

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import health_etl_pipeline_and_analytics_with_machine_learning_spark as pkg
from health_etl_pipeline_and_analytics_with_machine_learning_spark.functions import (
    artifacts,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
    load,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.events_stream import (
    read_events_stream,
)

from conftest import SF_SMOKE
from test_events_load import _TS, _assert_ts_ok, _write_events
from test_oracle_parity import TABLES, assert_matches_oracle
from test_streaming_replay import _halve, _sf_copy

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize(
    "op, kind, table",
    [
        ("similarity_ivf_topk", "kmeans_fit", "embeddings"),
        ("bpe_train_merges", "bpe_rules", "documents"),
    ],
)
def test_memoized_op_answers_table_rewritten_in_place(spark, tmp_path, op, kind, table):
    sf = _sf_copy(tmp_path, table)
    assert_matches_oracle(spark, op, sf, require_nonempty=True)
    misses = artifacts.counts(kind)[1]
    _halve(os.path.join(sf, f"{table}.parquet"))
    assert_matches_oracle(spark, op, sf, require_nonempty=True)
    assert artifacts.counts(kind)[1] > misses


def test_load_follows_micros_to_nanos_rewrite(spark, tmp_path):
    d = _write_events(tmp_path, pa.array(_TS, pa.timestamp("us")))
    _assert_ts_ok(load(spark, d, "events"))
    hits, misses = artifacts.counts("table_schema")
    _assert_ts_ok(load(spark, d, "events"))
    assert artifacts.counts("table_schema") == (hits + 1, misses)
    _write_events(tmp_path, pa.array(_TS, pa.timestamp("ns")))
    df = load(spark, d, "events")
    assert artifacts.counts("table_schema")[1] == misses + 1
    _assert_ts_ok(df)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_schema_matches_inference_and_warm_load_runs_no_job(spark, sf):
    sf_dir = os.path.join(os.path.dirname(SF_SMOKE), sf)
    for t in TABLES:
        want = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t == "events":  # timestamp[us] on disk, read as TIMESTAMP_NTZ
            want = want.withColumn("ts", F.col("ts").cast("timestamp"))
        assert load(spark, sf_dir, t).schema == want.schema, t
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("warm_load", "warm_load")
    try:
        for t in TABLES:
            load(spark, sf_dir, t)
        assert tracker.getJobIdsForGroup("warm_load") == []
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("preset", [None, "true"])
@pytest.mark.parametrize("unit", ["us", "ns"])
def test_load_and_events_stream_leave_nanos_conf_as_found(spark, tmp_path, unit, preset):
    d = _write_events(tmp_path, pa.array(_TS, pa.timestamp(unit)))
    if preset is None:
        spark.conf.unset(_NANOS)
    else:
        spark.conf.set(_NANOS, preset)
    try:
        _assert_ts_ok(load(spark, d, "events"))
        assert spark.conf.get(_NANOS, None) == preset
        # a cold stream read infers too
        artifacts.evict("table_schema", d)
        stream = read_events_stream(spark, d)
        assert stream.isStreaming
        assert spark.conf.get(_NANOS, None) == preset
    finally:
        spark.conf.unset(_NANOS)


def test_nanos_conf_is_set_only_inside_the_schema_inference():
    """``nanosAsLong`` appears in the package only in
    ``registry.table_schema``, whose inference puts the value back in a
    ``finally``: no other code path can leave it set."""
    root = pathlib.Path(pkg.__file__).parent
    registry = root / "operators" / "registry.py"
    (fn,) = [
        fn
        for fn in ast.parse(registry.read_text()).body
        if isinstance(fn, ast.FunctionDef) and fn.name == "table_schema"
    ]
    (infer,) = [n for n in fn.body if isinstance(n, ast.FunctionDef)]
    sets = [
        n.lineno
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and getattr(n.func, "attr", "") in ("set", "unset")
    ]
    restore = infer.body[-1]
    assert isinstance(restore, ast.Try) and restore.finalbody
    body_end = restore.body[-1].end_lineno
    # one set before the try; every other set/unset is in the finally
    assert [n for n in sets if n < restore.lineno] == [restore.lineno - 1]
    assert all(n > body_end for n in sets if n > restore.lineno)
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "nanosAsLong" in line
        and not (path == registry and fn.lineno <= i <= fn.end_lineno)
    ]
    assert offenders == []


def test_evict_drops_and_releases_only_its_kind_and_dir(spark, tmp_path):
    released = []

    def put(kind, sf_dir, value):
        return artifacts.memo(
            spark, kind, sf_dir, "t", (), lambda: value, release=released.append
        )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    put("test_kind", a, 1)
    put("test_kind", b, 2)
    put("test_other", a, 3)
    artifacts.evict("test_kind", a)
    assert released == [1]
    hits, misses = artifacts.counts("test_kind")
    assert put("test_kind", a, 4) == 4 and put("test_kind", b, 5) == 2
    assert artifacts.counts("test_kind") == (hits + 1, misses + 1)
    for kind, d in [("test_kind", a), ("test_kind", b), ("test_other", a)]:
        artifacts.evict(kind, d)
    assert sorted(released) == [1, 2, 3, 4]
