"""Streaming bronze ingest must equal the batch row-stage exactly:
the same stage_rowwise code runs per micro-batch via foreachBatch, so
the accumulated bronze table and the one-shot batch output are the same
multiset of rows (order differs — append order follows micro-batch
completion)."""

from __future__ import annotations

from health_etl_pipeline_and_analytics_with_machine_learning_spark.functions.cleaning import (
    null_na_tokens,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.pipeline import (
    stage_rowwise,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.sources.ingest import (
    read_csv_raw,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.silver_ingest import (
    stream_bronze_ingest,
)


def _canon(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return (
        pdf[cols]
        .astype(str)
        .sort_values(cols)
        .reset_index(drop=True)
    )


def test_streamed_bronze_equals_batch_rowstage(spark, tmp_path, raw_health_csv):
    bronze = stream_bronze_ingest(
        spark, raw_health_csv, str(tmp_path / "bronze"), n_chunks=4
    )
    batch = stage_rowwise(read_csv_raw(spark, raw_health_csv))
    assert bronze.count() == batch.count()
    assert sorted(bronze.columns) == sorted(batch.columns)
    a, b = _canon(bronze), _canon(batch)
    assert a.equals(b)


def test_streamed_bronze_preserves_non_utf8_bytes(spark, tmp_path, raw_health_csv):
    # the input (the reference CSV or the FIXTURES.md §1 CSV) is NOT
    # valid UTF-8: both carry the byte 0xA5; the chunk writer must pass
    # raw bytes through so the latin1 read sees the same cells
    bronze = stream_bronze_ingest(
        spark, raw_health_csv, str(tmp_path / "bronze2"), n_chunks=3
    )
    batch = stage_rowwise(read_csv_raw(spark, raw_health_csv))
    col = "Country"
    a = {r[0] for r in bronze.select(col).distinct().collect()}
    b = {r[0] for r in batch.select(col).distinct().collect()}
    assert a == b
