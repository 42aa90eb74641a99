"""The bounded-replay module (streaming/replay.py): the runner's failure
path, the temp-dir reaper, and the replay-directory cache's key rule
under a source table rewritten in place."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from health_etl_pipeline_and_analytics_with_machine_learning_spark.functions import artifacts
from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
    REGISTRY,
    load,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming import replay

from conftest import SF_SMOKE
from test_oracle_parity import TABLES, assert_matches_oracle


def test_run_bounded_failure_restores_conf_and_stops_query(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(4).write.parquet(src)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev != "3"
    seen = []

    def boom(_df, _batch_id):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        raise RuntimeError("boom in micro-batch")

    writer = replay.read_chunks(spark, src, "id long").writeStream.foreachBatch(boom)
    with pytest.raises(Exception, match="boom in micro-batch"):
        replay.run_bounded(writer, shuffle_partitions="3")
    assert seen == ["3"]  # the override was live while the batch ran
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.streams.active == []


def test_chunker_dirs_are_registered_and_reaped(spark, tmp_path, monkeypatch):
    # a private registry, so the reaper below touches only this test's dirs
    monkeypatch.setattr(replay, "_TMP_DIRS", [])
    spark.range(10).write.parquet(str(tmp_path / "t.parquet"))

    def build():
        t = spark.read.parquet(str(tmp_path / "t.parquet"))
        return t.withColumn("__chunk", (F.col("id") % 3).cast("int"))

    chunks = replay.chunk_table(spark, "test_chunks", str(tmp_path), "t", 3, build)
    files = sorted(os.listdir(chunks.path))
    assert files == ["chunk_000.parquet", "chunk_001.parquet", "chunk_002.parquet"]
    assert [int(os.stat(os.path.join(chunks.path, f)).st_mtime) for f in files] == [
        replay._MTIME0 + i for i in range(3)
    ]
    assert chunks.schema.fieldNames() == ["id"]
    assert chunks.path in replay._TMP_DIRS
    # the staging dir is registered too, and already gone
    assert [d for d in replay._TMP_DIRS if not os.path.exists(d)]

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.events_stream import (
        read_events_stream,
    )

    def events_slots():
        return [
            d
            for d in replay._TMP_DIRS
            if os.path.basename(d).startswith("events_chunks_") and os.path.isdir(d)
        ]

    # two reads share one chunk dir; a reaped one refills
    artifacts.evict("events_chunks", SF_SMOKE)
    read_events_stream(spark, SF_SMOKE)
    read_events_stream(spark, SF_SMOKE)
    (slot,) = events_slots()

    replay._reap_tmp_dirs()
    assert not os.path.exists(chunks.path) and not os.path.exists(slot)
    assert replay._TMP_DIRS == []
    read_events_stream(spark, SF_SMOKE)
    (refilled,) = events_slots()
    assert refilled != slot
    assert sorted(os.listdir(refilled)) == [f"chunk_00{i}.parquet" for i in range(3)]
    replay._reap_tmp_dirs()


def _sf_copy(tmp_path, table: str) -> str:
    """A scale-factor dir whose ``table`` is a writable copy of the smoke
    table and whose other tables link to the originals."""
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in TABLES:
        src = os.path.join(SF_SMOKE, f"{t}.parquet")
        if t == table:
            shutil.copyfile(src, sf / f"{t}.parquet")
        else:
            os.symlink(src, sf / f"{t}.parquet")
    return str(sf)


def _halve(path: str) -> None:
    """Rewrite a parquet file in place with every other row."""
    t = pq.read_table(path)
    pq.write_table(t.take(list(range(0, t.num_rows, 2))), path)


def test_dedup_replay_sees_events_rewritten_in_place(spark, tmp_path):
    sf = _sf_copy(tmp_path, "events")
    op = REGISTRY["streaming_dedup_replay"].fn
    first = {r.event_type: r.n_events for r in op(spark, sf).collect()}
    size = os.path.getsize(os.path.join(sf, "events.parquet"))
    _halve(os.path.join(sf, "events.parquet"))
    assert os.path.getsize(os.path.join(sf, "events.parquet")) != size

    got = {r.event_type: (r.n_events, r.sum_value) for r in op(spark, sf).collect()}
    want = {
        r.event_type: (r.n, r.s)
        for r in load(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k, (n, s) in want.items():
        assert got[k][0] == n, k
        assert got[k][1] == pytest.approx(s, abs=1e-3), k
    assert sum(n for n, _ in got.values()) < sum(first.values())


def test_neardup_probe_sees_documents_rewritten_in_place(spark, tmp_path):
    sf = _sf_copy(tmp_path, "documents")
    op = REGISTRY["streaming_neardup_probe"].fn
    first = [tuple(r) for r in op(spark, sf).collect()]
    _halve(os.path.join(sf, "documents.parquet"))
    assert_matches_oracle(spark, "streaming_neardup_probe", sf)
    assert [tuple(r) for r in op(spark, sf).collect()] != first
