"""Global sequential Record_ID after a total sort — SURVEY §4.4.

The reference does ``df.sort_values([...]).reset_index(); df.index + 1``
(Health_Jim.py:424-426). The naive Spark translation,
``row_number() OVER (ORDER BY ...)``, funnels every row through ONE task
— fine for dimension-sized data, fatal at 100 TB.

Two implementations behind one helper:

- ``mode='window'``  : global-window row_number (parity tier, small data).
- ``mode='scaled'``  : range-repartition by the sort keys, sort within
  partitions, count rows per partition (one cheap job over a
  counting-only projection), then assign ids inside an Arrow-batched
  mapInPandas with the per-partition offsets — no global funnel, no
  second shuffle. This is the zipWithIndex pattern expressed on the
  DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.lineage import lineage_cut


def with_record_id(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "Record_ID",
    mode: str = "window",
) -> DataFrame:
    if mode == "window":
        w = Window.orderBy(*[F.col(f"`{c}`") for c in order_cols])
        return df.withColumn(id_col, F.row_number().over(w).cast("long"))

    if mode != "scaled":
        raise ValueError(f"unknown mode {mode!r}")

    # cluster default parallelism, NOT df.rdd.getNumPartitions(): reading
    # the partition count off the RDD forces a DataFrame→RDD conversion
    # (deserialization plan) just to fetch an integer; the target
    # partition count for the range shuffle only needs to match the
    # session's parallelism anyway.
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    ordered = (
        df.repartitionByRange(n_parts, *[F.col(f"`{c}`") for c in order_cols])
        .sortWithinPartitions(*[F.col(f"`{c}`") for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
    )
    # PIN the range partitioning before reading it twice: the counting
    # action below and the mapInPandas action are separate jobs, and
    # repartitionByRange re-SAMPLES its boundaries per job (reservoir
    # sampling over RDD-id-seeded draws) — at scale the two jobs could
    # place a row in different partitions and every offset after the
    # first drifted boundary would be wrong. Checkpointing materializes
    # one partitioning that both jobs then share.
    ordered = lineage_cut(ordered, eager=True)
    # one narrow counting pass; tiny result collected to the driver
    counts = dict(
        ordered.groupBy("__pid").count().collect()
    )
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = ordered.drop("__pid").schema.add(id_col, "long", False)

    def assign(batches):
        local = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            start = local.get(pid, offsets[pid])
            local[pid] = start + len(pdf)
            out = pdf.drop(columns="__pid")
            out[id_col] = range(start + 1, start + 1 + len(pdf))
            yield out

    return ordered.mapInPandas(assign, schema=out_schema)
