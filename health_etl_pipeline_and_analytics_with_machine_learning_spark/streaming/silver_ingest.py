"""Streaming bronze ingest of the raw health CSV — the medallion
architecture's first hop expressed on Structured Streaming, reusing the
BATCH pipeline's code verbatim inside ``foreachBatch``.

Which cleaning stages may run on a stream is a semantics question, not
a plumbing one:

- ``stage_rowwise`` (trim/case/NA-token/country fixes) is stateless
  per-row → streaming-safe, applied here per micro-batch, and the
  streamed bronze table must equal the batch stage output EXACTLY
  (tests/test_streaming_silver.py pins set-equality).
- every later stage computes DATA-DEPENDENT statistics (medians, IQR
  bounds, group fills) whose value depends on the whole dataset; a
  per-batch recompute would silently drift from batch semantics. Those
  stay batch: silver refreshes run the full pipeline over accumulated
  bronze on a cadence (the reference's weekly-report rhythm), or freeze
  fitted constants offline and apply them online — either way the
  decision is explicit, not an accident of micro-batch boundaries.

``foreachBatch`` is the load-bearing hook: the micro-batch arrives as a
plain batch DataFrame, so the SAME tested transformation code serves
both engines — no streaming fork of the pipeline to keep in sync.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cleaning import null_na_tokens
from ..pipeline import stage_rowwise
from ..sources.ingest import SPARK_CHARSET, detect_encoding
from .replay import mkdtemp, run_bounded


def chunk_csv(raw_csv: str, n_chunks: int) -> str:
    """Split a CSV into ``n_chunks`` files (header replicated), byte-
    preserving: lines are split on raw newlines WITHOUT decode/re-encode
    so non-UTF-8 bytes (the dataset really contains 0xA5) survive
    untouched. Returns the watch directory."""
    with open(raw_csv, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    header, body = lines[0], lines[1:]
    out = mkdtemp("csv_chunks_")
    step = (len(body) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        part = body[i * step : (i + 1) * step]
        if not part:
            continue
        path = os.path.join(out, f"chunk_{i:03d}.csv")
        with open(path, "wb") as f:
            f.write(header)
            f.writelines(part)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return out


def stream_bronze_ingest(
    spark: SparkSession, raw_csv: str, out_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Replay the CSV as ``n_chunks`` micro-batches through the
    row-stateless cleaning stage and append to a bronze parquet table;
    returns the accumulated bronze DataFrame.

    Scale shape: at 100 TB this is files landing in object storage and
    FileStreamSource picking them up; per-batch work is a narrow
    projection (no shuffle), the parquet append is partition-parallel,
    and bronze accumulates append-only — the shape that absorbs
    arbitrary ingest volume.
    """
    enc = detect_encoding(raw_csv)
    with open(raw_csv, "rb") as f:
        header = f.readline().decode(enc).rstrip("\r\n")
    cols = [c.strip('"') for c in header.split(",")]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])

    watch_dir = chunk_csv(raw_csv, n_chunks)
    raw = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("encoding", SPARK_CHARSET.get(enc, enc))
        .option("maxFilesPerTrigger", 1)
        .csv(watch_dir)
    )

    def _bronze_batch(batch_df: DataFrame, batch_id: int) -> None:
        cleaned = stage_rowwise(
            batch_df.select(
                *[null_na_tokens(F.col(f"`{c}`")).alias(c) for c in batch_df.columns]
            )
        )
        cleaned.write.mode("append").parquet(out_dir)

    run_bounded(raw.writeStream.foreachBatch(_bronze_batch), "8")
    return spark.read.parquet(out_dir)
