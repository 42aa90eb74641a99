"""Output checks: invariants that hold for any seed, result digests pinned
for the default seed, and the DuckDB oracle comparison for operators."""

from __future__ import annotations

import hashlib
import json
import math
import os
from pathlib import Path

DIGESTS = Path(os.environ.get("PERFBENCH_DIGESTS", Path(__file__).with_name("digests.json")))
DEFAULT_SEED = 1


def _canon(v):
    """JSON-stable form; floats keep 6 significant digits so that
    summation-order noise in the last bits cannot change a digest."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.6g}")
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def digest(obj) -> str:
    blob = json.dumps(_canon(obj), sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def pinned(ctx, name: str, value: str) -> None:
    """Compare against the digest pinned for the default seed."""
    print(f"{name} digest (seed {ctx.seed}): {value}")
    if ctx.seed != DEFAULT_SEED:
        return
    expected = json.loads(DIGESTS.read_text()).get(name)
    if expected != value:
        ctx.fail(f"{name}: digest {value} differs from the pinned {expected}")


def silver_invariants(ctx, df, name: str) -> None:
    """Record_ID runs 1..N without gaps, no nulls remain, years are sane."""
    from pyspark.sql import functions as F

    nulls = sum(F.col(f"`{c}`").isNull().cast("long") for c in df.columns)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("Record_ID").alias("lo"),
        F.max("Record_ID").alias("hi"),
        F.countDistinct("Record_ID").alias("ids"),
        F.sum(nulls).alias("nulls"),
        F.min("Year").alias("y0"),
        F.max("Year").alias("y1"),
    ).first()
    n = r["n"]
    if not (n > 0 and r["lo"] == 1 and r["hi"] == n and r["ids"] == n):
        ctx.fail(f"{name}: Record_ID is not 1..{n} (min {r['lo']}, max {r['hi']}, distinct {r['ids']})")
    if r["nulls"]:
        ctx.fail(f"{name}: {r['nulls']} nulls remain after the sweep")
    if not (1900 <= r["y0"] <= r["y1"] <= 2100):
        ctx.fail(f"{name}: Year spans {r['y0']}..{r['y1']}")


def _rows(df) -> list:
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in df.collect()), key=repr
    ), sorted(cols)


def sql_twins_agree(ctx, cleaned) -> None:
    """Each ``queries`` DataFrame build matches its Spark-SQL twin."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark import queries

    cleaned.createOrReplaceTempView(queries.VIEW)
    for name, sql in queries.sql_twins().items():
        built = _rows(getattr(queries, name)(cleaned))
        twin = _rows(ctx.spark.sql(sql))
        if built != twin:
            ctx.fail(f"queries.{name} disagrees with its SQL twin")


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the plan ``df`` ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    ms = 0.0
    while it.hasNext():
        ms += it.next()._2().durationMs()
    return ms


TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duckdb_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _oracle_canon(rows, cols):
    """Column names sorted, rows order-insensitive, floats at 9dp — the
    comparison scripts/drive_entry.py applies."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return ("nan",) if math.isnan(v) else round(v, 9)
        return v

    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def oracle_mismatch(con, sql: str | None, cols: list[str], rows: list[tuple]) -> str | None:
    """None when the Spark result matches the DuckDB oracle; operators
    without an oracle get a rows-only check."""
    if sql is None:
        return None if rows is not None else "no rows"
    o = con.execute(sql)
    o_cols = [d[0] for d in o.description]
    o_rows = o.fetchall()
    if sorted(cols) != sorted(o_cols):
        return f"schema mismatch: spark {sorted(cols)} oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"row count mismatch: spark {len(rows)} oracle {len(o_rows)}"
    if _oracle_canon(rows, cols) != _oracle_canon(o_rows, o_cols):
        return "value mismatch"
    return None
