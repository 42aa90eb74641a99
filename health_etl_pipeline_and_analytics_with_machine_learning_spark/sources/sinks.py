"""Relational file sinks (SURVEY §2.1).

The reference writes one cleaned CSV (`cleaned_global_health_data.csv`,
Health_Jim.py:432-434) and reloads it. The engine's canonical silver
sink is parquet (typed, splittable, predicate-pushable); CSV remains
for export parity. ``single_file=True`` coalesces to one partition for
byte-level file parity — correct only for export-sized results; a
100 TB table is written partitioned, never coalesced.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_csv(
    df: DataFrame, path: str, single_file: bool = False, header: bool = True
) -> str:
    """Write a CSV sink. With ``single_file``, produce exactly one
    ``.csv`` FILE at ``path`` (Spark writes a directory of parts; the
    one part is moved out and the directory removed)."""
    if not single_file:
        df.write.mode("overwrite").option("header", header).csv(path)
        return path
    tmp = path + ".__spark_tmp__"
    df.coalesce(1).write.mode("overwrite").option("header", header).csv(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.csv"))
    if os.path.exists(path):
        os.remove(path)
    shutil.move(part, path)
    shutil.rmtree(tmp)
    return path


def write_compacted_parquet(
    df: DataFrame, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> str:
    """Parquet sink with small-file compaction: size the output file
    count from the data's actual bytes instead of inheriting the
    upstream partitioning.

    The small-files problem is the write-side twin of partition sizing:
    a 100 TB pipeline that writes one file per upstream task after a
    wide shuffle (e.g. 2000 shuffle partitions x 10k jobs/day) melts
    the namenode/object-store listing and makes every downstream scan
    open millions of tiny footers. Targeting ~128 MB files keeps scans
    row-group-bound, listings cheap, and splits even.

    File count = ceil(estimated_bytes / target). The estimate comes
    from the plan's logical statistics (sizeInBytes — parquet footer
    totals adjusted by Catalyst through the operator tree), a
    driver-side lookup, NOT an extra scan of the data. When Catalyst
    has NO stats for a subtree it propagates a defensive huge default
    (≈ Long.MaxValue), which would make n_files enormous and silently
    skip compaction — that case is detected and falls back to a bounded
    file count with a warning instead of degrading quietly. (The stats
    lookup goes through `df._jdf` — a private bridge, flagged as such;
    there is no public DataFrame-stats API to replace it yet.)

    `coalesce` (not `repartition`) folds upstream partitions without a
    shuffle when shrinking; an exact-size rebalance that must SPLIT
    skewed partitions would use repartition and pay one shuffle.
    """
    import math
    import warnings

    #: anything above this is Catalyst's "unknown" propagation, not a
    #: real size (1 PiB — far beyond any single compacted write)
    _SANE_MAX_BYTES = 1 << 50
    _FALLBACK_N_FILES = 32

    try:
        est_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception as exc:  # private API moved — degrade loudly
        warnings.warn(
            f"plan-stats lookup failed ({exc!r}); compacting to "
            f"{_FALLBACK_N_FILES} files instead of a size-based count"
        )
        est_bytes = None
    if est_bytes is None or est_bytes > _SANE_MAX_BYTES:
        if est_bytes is not None:
            warnings.warn(
                f"Catalyst sizeInBytes={est_bytes} is the unknown-stats "
                f"default, not a real size; compacting to {_FALLBACK_N_FILES} files"
            )
        n_files = _FALLBACK_N_FILES
    else:
        n_files = max(1, math.ceil(est_bytes / target_file_bytes))
    df = df.coalesce(n_files)
    df.write.mode("overwrite").parquet(path)
    return path


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> str:
    """JSON-lines sink — the interchange format LLM-data tooling speaks
    (one JSON object per line; Spark's native ``json`` writer IS jsonl).
    Partitioned by default: each task writes its own part file, no
    driver funnel. ``single_file`` is for export-sized results only,
    same contract as :func:`write_csv`."""
    if not single_file:
        df.write.mode("overwrite").json(path)
        return path
    tmp = path + ".__spark_tmp__"
    df.coalesce(1).write.mode("overwrite").json(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.json"))
    if os.path.exists(path):
        os.remove(path)
    shutil.move(part, path)
    shutil.rmtree(tmp)
    return path


def read_jsonl(spark, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Pass the schema whenever it is known: schema
    inference is a FULL extra pass over the data (and types drift —
    e.g. an all-null column infers as string), which at 100 TB doubles
    the read. Inference is the explicitly-opt-in fallback."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
