"""Differential tests: every registered query's Spark DataFrame result must
match its DuckDB oracle on the same parquet tables — the same check the
driver runs (row-count + schema-name + order-insensitive value comparison).

This mirrors the reference's own informal dual-implementation strategy
(pandas twin vs SQL, SURVEY §5.1) made rigorous.
"""

from __future__ import annotations

import duckdb
import pytest

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
    REGISTRY,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.oracle_types import canon

from conftest import SF_CORRECT

pytestmark = pytest.mark.parity

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


ORACLE_QUERIES = sorted(n for n, rq in REGISTRY.items() if rq.oracle is not None)


def assert_matches_oracle(spark, name, sf_dir, require_nonempty=False):
    """ONE statement of the Spark-vs-DuckDB compare protocol (column
    names sorted, row count, order-insensitive 9dp values) shared by
    every parity tier — the protocol must not fork per scale factor
    (r16 review: the cross-SF tier had started as a drifting copy)."""
    rq = REGISTRY[name]
    sdf = rq.fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_con(sf_dir)
    res = con.execute(rq.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row counts differ: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    if require_nonempty:
        assert len(spark_rows) > 0, f"{name}: degenerate empty result at {sf_dir}"
    sc, dc = canon(spark_rows, spark_cols), canon(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatching rows; first: {mismatches[:3]}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, name):
    assert_matches_oracle(spark, name, SF_CORRECT)


def test_rows_only_queries_run(spark):
    """Queries without an oracle must still run and return a stable schema."""
    for name, rq in REGISTRY.items():
        if rq.oracle is None:
            df = rq.fn(spark, SF_CORRECT)
            assert df.columns, name
            assert df.count() >= 0, name


#: ops with data-calibrated predicates also certify at the SMOKE scale
#: factor — sf_dir is a real parameter (the /verify gotcha list: "run a
#: query at sf0.001 too"), and a second SF catches anything the sf0.01
#: hash can mask (e.g. a LIMIT whose tiebreak only bites when the
#: result overflows it, or a filter that happens to be empty-vs-empty):
#: all 22 TPC-H shapes (each carries adapted, data-calibrated
#: predicates) plus the threshold-calibrated LLM-pipeline op.
CROSS_SF_QUERIES = [
    "minhash_jaccard_calibration",
    *[f"tpch_q{i}" for i in range(1, 23)],
]


@pytest.mark.parametrize("name", CROSS_SF_QUERIES)
def test_calibrated_ops_match_oracle_at_smoke_sf(spark, name):
    from conftest import SF_SMOKE

    assert_matches_oracle(spark, name, SF_SMOKE, require_nonempty=True)


