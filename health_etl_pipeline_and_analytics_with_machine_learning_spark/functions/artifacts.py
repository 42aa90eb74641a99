"""The engine's one process-level memo for artifacts derived from a
parquet table of a scale-factor directory: table footer schemas, replay
directories, k-means fits, BPE merge rules and the tercile histogram.

A slot is (kind, sf_dir, table, params). Its stamp is the table files'
(path, mtime_ns, size), the session timezone and the session itself. A
call whose stamp differs from the slot's releases the stored value and
refills the slot, so a table rewritten in place, a timezone switch or a
restarted session never serves the old artifact. A stat per source file
costs microseconds; the cheapest artifact here (a footer schema) costs
a Spark job.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

#: slot -> (stamp, value, release)
_SLOTS: dict[tuple, tuple] = {}
#: (kind, hit) -> calls
_COUNTS: Counter = Counter()


def _files(sf_dir: str, table: str) -> tuple:
    """(path, mtime_ns, size) of every file of ``table`` (one file or a
    directory of part files)."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    paths = [root] if os.path.isfile(root) else [
        os.path.join(base, f) for base, _, files in os.walk(root) for f in files
    ]
    stats = [(p, os.stat(p)) for p in sorted(paths)]
    return tuple((p, st.st_mtime_ns, st.st_size) for p, st in stats)


def _release(held: tuple) -> None:
    _, value, release = held
    if release is not None:
        # best effort: the value may belong to a stopped session, and
        # dropping the slot matters more than the release call
        try:
            release(value)
        except Exception:
            pass


def memo(
    spark: SparkSession, kind: str, sf_dir: str, table: str, params: tuple,
    fill: Callable[[], Any],
    valid: Callable[[Any], bool] | None = None,
    release: Callable[[Any], None] | None = None,
) -> Any:
    """``fill()``'s value for slot (kind, sf_dir, table, params), where
    ``params`` holds everything besides ``table`` that the value
    depends on. A stored value is served while its stamp matches and
    ``valid(value)`` holds; otherwise ``release`` gets the stored value
    and ``fill`` runs. A ``fill`` that raises stores nothing."""
    slot = (kind, sf_dir, table, params)
    stamp = (_files(sf_dir, table), spark.conf.get("spark.sql.session.timeZone"), spark)
    held = _SLOTS.get(slot)
    hit = held is not None and held[0] == stamp and (valid is None or valid(held[1]))
    _COUNTS[kind, hit] += 1
    if hit:
        return held[1]
    if held is not None:
        # release before the refill: Spark's cache manager matches a
        # re-persisted plan over a rewritten file to the old blocks
        _release(_SLOTS.pop(slot))
    value = fill()
    _SLOTS[slot] = (stamp, value, release)
    return value


def counts(kind: str) -> tuple[int, int]:
    """(hits, misses) of ``kind`` since the process started."""
    return _COUNTS[kind, True], _COUNTS[kind, False]


def evict(kind: str, sf_dir: str) -> None:
    """Drop and release every ``kind`` slot of ``sf_dir``."""
    for slot in [s for s in _SLOTS if s[:2] == (kind, sf_dir)]:
        _release(_SLOTS.pop(slot))
