"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in the
``health_etl_pipeline_and_analytics_with_machine_learning_spark`` package;
this module only adapts the registry to the driver's calling convention.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (  # noqa: F401
    registry as _registry,
)

# importing the operator modules populates the registry
import health_etl_pipeline_and_analytics_with_machine_learning_spark.operators  # noqa: F401,E402
from health_etl_pipeline_and_analytics_with_machine_learning_spark.certification import (  # noqa: E402
    correctness_order,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's 'deadliest diseases' shape,
    SURVEY §7.1) on /root/testdata/sf0.001."""
    return _registry.REGISTRY["filter_group_avg_topk"].fn(
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in the order
    of :func:`correctness_order`: ops changed since their last
    certification first, then the oldest certified."""
    return {name: _registry.REGISTRY[name].fn for name in correctness_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query id (omitted for genuinely
    non-SQL-expressible ops — driver then records a rows-only check)."""
    return {
        name: rq.oracle for name, rq in _registry.REGISTRY.items() if rq.oracle is not None
    }
