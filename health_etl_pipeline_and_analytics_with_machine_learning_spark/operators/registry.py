"""Query registry shared by every operator module.

Each registered query is a pair:
- a Spark implementation ``fn(spark, sf_dir) -> DataFrame``, and
- an optional ANSI-SQL oracle string runnable by DuckDB on the same
  parquet tables (views ``region nation customer supplier part orders
  lineitem events documents embeddings`` are pre-registered by the
  driver). ``oracle=None`` marks a genuinely non-SQL-expressible op —
  the driver then records a weaker rows-only check.

Column names must be identical between the two sides (the driver's
comparison sorts columns by name before hashing values), so every
computed column is aliased the same way in both. Aggregated doubles are
rounded (ROUND_DP decimals) on BOTH sides: Spark and DuckDB accumulate
floating-point sums in different orders, so the raw last-ULP bits are
not comparable, but the rounded values are.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import artifacts

#: decimals to which cross-engine-compared aggregate doubles are rounded
ROUND_DP = 4


@dataclass
class RegisteredQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, RegisteredQuery] = {}


def query(name: str, oracle: str | None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = RegisteredQuery(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def round_cmp(col, dp: int = ROUND_DP):
    """Cross-engine-stable rounding for aggregated doubles.

    A plain ``ROUND(x, dp)`` diverges between Spark (HALF_UP) and DuckDB
    (half-to-even) whenever the true mean lands exactly on a half
    boundary — which genuinely happens when averaging 2-decimal data over
    power-of-two group sizes (e.g. mean 70.49125 over 16 rows → 70.4913
    vs 70.4912). The fix is to use the *same* IEEE-double formula on both
    sides: an inner round at ``dp+3`` absorbs summation-order noise
    (~1e-12), then ``FLOOR(x*10^dp + 0.5)/10^dp`` pins the tie-break to
    identical double ops in both engines. Pair with :func:`round_cmp_sql`
    in the oracle.
    """
    scale = float(10**dp)
    return F.floor(F.round(col, dp + 3) * scale + F.lit(0.5)) / F.lit(scale)


def round_cmp_sql(expr: str, dp: int = ROUND_DP) -> str:
    """DuckDB-side twin of :func:`round_cmp` — textually identical math."""
    scale = float(10**dp)
    return f"FLOOR(ROUND({expr}, {dp + 3}) * {scale} + 0.5) / {scale}"


def spread(df: DataFrame, *cols: str, n: int | None = None) -> DataFrame:
    """Keyed repartition that SELF-DISABLES on production layouts.

    The driver testdata ships each table as one parquet split, so an op
    whose heavy compute is a narrow stage (multi-distinct Expand,
    Arrow-batched tally, banded-DP verify) would run on a single task
    without a spread. At real split counts the scan is already parallel
    and the extra shuffle is pure cost, so skip it when the input
    already has at least the target partition count. Results are
    partition-count-invariant for every caller (aggregates/tallies).

    The split count is estimated cheaply from ``df.inputFiles()``
    (analysis only). It is biased both ways: large files split further,
    and many small files pack several per partition, so a
    100-tiny-file input can skip a widening it needed. That miss costs
    speed only. Inputs not rooted in files (``spark.range`` in tests)
    fall back to ``df.rdd.getNumPartitions()``. On Spark Connect, where
    ``sparkContext`` and ``df.rdd`` raise, only ``inputFiles`` is
    probed and a non-file input repartitions unconditionally.
    """
    try:
        default_par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover - Connect-only path
        default_par = 8
    target = n if n is not None else min(16, default_par)
    try:
        n_splits = len(df.inputFiles())
    except Exception:  # pragma: no cover - defensive; analysis errors surface later
        n_splits = 0
    if n_splits == 0:
        try:
            n_splits = df.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - Connect-only path
            n_splits = 0  # unknown → take the (invariant-safe) repartition
    if n_splits >= target:
        return df
    return df.repartition(target, *cols)


def epoch_us_utc(col):
    """Session-TZ-proof epoch micros for a timestamp column that
    originated as TIMESTAMP_NTZ (the driver's parquet encoding).

    ``load`` casts NTZ→TIMESTAMP, which computes ``epoch = wall − off(S)``
    under session TZ ``S``; a bare ``unix_micros`` then disagrees with
    DuckDB's ``epoch_us`` (naive wall clock read as UTC) whenever
    ``S ≠ UTC``. ``from_utc_timestamp(ts, current_timezone())`` adds
    ``off(S)`` back, recovering wall-clock-as-UTC micros; under UTC it
    is an exact identity.

    CONTRACT (pinned empirically by
    tests/test_driver_conditions.py::test_dst_zone_epoch_contract):
    exact under every FIXED-OFFSET session zone (UTC, Asia/Kolkata,
    any ±HH:MM), and under DST zones (America/New_York) for every wall
    clock that EXISTS in that zone — including ambiguous fall-back
    times, where both the NTZ cast and from_utc_timestamp resolve to
    the same (earlier-offset) instant and cancel. The one divergence:
    wall times inside a spring-forward GAP (nonexistent local times,
    at most one hour per year) normalize forward by the gap width on
    the Spark side while DuckDB reads them naively. The driver session
    is UTC, so this edge never reaches certification;
    it is documented rather than papered over. Use this — never a bare
    ``unix_micros``/``cast("long")`` — wherever an op emits or compares
    epoch-derived numbers.
    """
    return F.unix_micros(F.from_utc_timestamp(col, F.expr("current_timezone()")))


def table_schema(spark: SparkSession, sf_dir: str, table: str) -> T.StructType:
    """The footer schema of ``table``, inferred once per stamp of the
    artifact memo. ``events.parquet`` has shipped ``ts`` as
    TIMESTAMP(NANOS), which Spark infers only with
    ``spark.sql.legacy.parquet.nanosAsLong`` set (as a long), so the
    inference sets it and puts back the value it found; a read with the
    inferred schema needs no conf."""

    def infer() -> T.StructType:
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            return spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)

    return artifacts.memo(spark, "table_schema", sf_dir, table, (), infer)


def events_ts(events: DataFrame) -> DataFrame:
    """``events`` (read with :func:`table_schema`) with
    ``ts`` as a TIMESTAMP whose session-rendered WALL CLOCK equals
    DuckDB's naive reading of the file, at microsecond precision,
    whichever on-disk encoding the file uses. timestamp[us] reads as
    TIMESTAMP_NTZ, and the cast preserves the wall clock. TIMESTAMP(NANOS)
    reads as a long: integer division (``ts / 1000`` is a double and
    loses the last microsecond above 2^53 ns; DuckDB truncates exactly),
    then ``to_utc_timestamp(..., current_timezone())`` re-bases the true
    epoch so wall-clock operators (date_trunc/to_date/hour) and
    :func:`epoch_us_utc` agree with the oracle under any session
    timezone (identity under UTC)."""
    dt = events.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return events.withColumn(
            "ts",
            F.to_utc_timestamp(
                F.timestamp_micros(F.expr("ts div 1000")),
                F.expr("current_timezone()"),
            ),
        )
    if isinstance(dt, T.TimestampNTZType):
        return events.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return events


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one of the driver's parquet tables with its memoized footer
    schema (:func:`table_schema`, no Spark job once warm); ``events``
    gets its ``ts`` normalized by :func:`events_ts`."""
    df = spark.read.schema(table_schema(spark, sf_dir, table)).parquet(
        f"{sf_dir}/{table}.parquet"
    )
    return events_ts(df) if table == "events" else df
