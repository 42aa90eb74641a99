"""Bounded stream replays: a finished table replayed as micro-batches
through a Structured Streaming query run to completion. The runner
(:func:`run_bounded`), the chunk layout (:func:`chunk_table`,
:func:`read_chunks`), the replay directories (:class:`ReplayDir`, held
in the engine's artifact memo, ``functions/artifacts.py``, so a source
table rewritten in place refills them) and the temp-dir reaper
(:func:`mkdtemp`) live here and nowhere else."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..functions import artifacts

_SHUFFLE = "spark.sql.shuffle.partitions"

#: state-store partition count for the bounded replays (fixed at query
#: start; answers are partition-count-invariant). Each partition costs a
#: state-store commit and an exchange per micro-batch, and replay keys
#: number a few hundred, so the stateful replays (join buffer,
#: dropDuplicates, windowed, session-window and max(struct)
#: aggregations) want few: the join replay at sf0.1 took 4.5 s at 8 and
#: 2.3–3.0 s at 2.
REPLAY_STATE_PARTITIONS = "2"

#: base of the pinned chunk mtimes: chunk i gets _MTIME0 + i seconds
_MTIME0 = 1_700_000_000

_TMP_DIRS: list[str] = []


def mkdtemp(prefix: str) -> str:
    """A temp dir removed at interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _TMP_DIRS.append(d)
    return d


@atexit.register
def _reap_tmp_dirs() -> None:
    for d in _TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _TMP_DIRS.clear()


def run_bounded(
    writer: DataStreamWriter, shuffle_partitions: str | None = None
) -> None:
    """Start ``writer``'s query, process everything its sources hold and
    stop it, also when a micro-batch raises (the error propagates). With
    ``shuffle_partitions`` the session conf carries that value for the
    run only."""
    # the writer's own session, which DataStreamWriter keeps only as a
    # private attribute; the active session may be another thread's
    conf = writer._spark.conf
    prev = conf.get(_SHUFFLE)
    if shuffle_partitions is not None:
        conf.set(_SHUFFLE, shuffle_partitions)
    try:
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if shuffle_partitions is not None:
            conf.set(_SHUFFLE, prev)


class ReplayDir(NamedTuple):
    """A replay directory and the schema recorded when it was filled:
    the value of a replay slot of :func:`artifacts.memo`, which refills
    a slot whose directory was deleted (:meth:`on_disk`) and removes a
    replaced one (:meth:`remove`)."""

    path: str
    schema: T.StructType | None

    @classmethod
    def new(cls, kind: str, write: Callable[[str], T.StructType | None]) -> ReplayDir:
        """A fresh temp dir filled by ``write(path)``, which returns the
        schema to record; removed again if ``write`` raises."""
        out = mkdtemp(f"{kind}_")
        try:
            return cls(out, write(out))
        except BaseException:
            shutil.rmtree(out, ignore_errors=True)
            raise

    def on_disk(self) -> bool:
        return os.path.isdir(self.path)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def chunk_table(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    table: str,
    n_chunks: int,
    build: Callable[[], DataFrame],
) -> ReplayDir:
    """Write ``build()``'s rows as one file per value of its int
    ``__chunk`` column, ``chunk_NNN.parquet`` with mtime ``_MTIME0 +
    NNN`` so FileStreamSource replays them in index order; held in
    :func:`artifacts.memo` with params ``(n_chunks,)``, so ``build``
    runs only on a miss.

    One partitioned write: each chunk hashes to one shuffle partition,
    so the writer emits one file per chunk. It stages outside the watch
    dir, which never holds anything but chunk files. The recorded schema
    is the first chunk's footer, which every chunk shares."""

    def fill(out: str) -> T.StructType:
        staging = mkdtemp(f"{kind}_staging_")
        try:
            build().repartition(n_chunks, "__chunk").write.mode(
                "overwrite"
            ).partitionBy("__chunk").parquet(staging)
            for sub in os.listdir(staging):
                if not sub.startswith("__chunk="):
                    continue
                i = int(sub.split("=", 1)[1])
                parts = [
                    f
                    for f in os.listdir(os.path.join(staging, sub))
                    if f.endswith(".parquet")
                ]
                assert len(parts) == 1, f"chunk {i}: expected 1 file, got {parts}"
                path = os.path.join(out, f"chunk_{i:03d}.parquet")
                os.rename(os.path.join(staging, sub, parts[0]), path)
                os.utime(path, (_MTIME0 + i, _MTIME0 + i))
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return spark.read.parquet(os.path.join(out, min(os.listdir(out)))).schema

    return artifacts.memo(
        spark, kind, sf_dir, table, (n_chunks,), lambda: ReplayDir.new(kind, fill),
        ReplayDir.on_disk, ReplayDir.remove,
    )


def read_chunks(
    spark: SparkSession, watch_dir: str, schema: T.StructType | str
) -> DataFrame:
    """FileStreamSource over a chunk dir: one chunk per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch_dir)
    )
