"""Driver-mimic: verify the __spark_entry__ contract end-to-end.

Run from the repo root with the repo on PYTHONPATH (executor Python
workers import the package from there):

    PYTHONPATH=. python scripts/drive_entry.py [op ...]   [SF_DIR=<scale-factor dir>]

With no args: entry() smoke at sf0.001, then EVERY queries() entry vs
its oracle_sql() in DuckDB at $SF_DIR (column names, row count,
order-insensitive values at 9dp, and the numeric class of every oracle
column against Spark's, ``oracle_types.class_mismatches``). With args:
only the named ops (the fast inner loop while authoring). Exits 1 on
any MISMATCH. This is the /verify skill's recipe.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import __spark_entry__ as E

from health_etl_pipeline_and_analytics_with_machine_learning_spark.oracle_types import (
    canon,
    class_mismatches,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.session import get_spark

SF01 = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# the test suite's session settings (tests/conftest.py ``spark``)
spark = get_spark(app_name="drive_entry", cpus=8, shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

# 1. entry() smoke at sf0.001
res = E.entry(spark)
rows = res.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in res.schema.fields]}")
# the flagship filter_group_avg_topk query is non-empty at sf0.001 —
# a zero-row entry() means the pipeline broke, not that data is thin
assert len(rows) > 0

con = duckdb.connect()
for t in TABLES:
    p = f"{SF01}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

queries = E.queries()
oracles = E.oracle_sql()
n_fail = 0
only = sys.argv[1:]
for name, fn in queries.items():
    if only and name not in only:
        continue
    try:
        sdf = fn(spark, SF01)
        s_cols = [f.name for f in sdf.schema.fields]
        s_rows = sdf.collect()
    except Exception as ex:
        print(f"{name}: SPARK ERROR {type(ex).__name__}: {ex}")
        n_fail += 1
        continue
    sql = oracles.get(name)
    if sql is None:
        print(f"{name}: rows-only ({len(s_rows)} rows)")
        continue
    try:
        o = con.execute(sql)
        o_cols = [d[0] for d in o.description]
        type_errs = class_mismatches(o.description, sdf.schema)
        o_rows = o.fetchall()
    except Exception as ex:
        print(f"{name}: ORACLE ERROR {type(ex).__name__}: {ex}")
        n_fail += 1
        continue
    if type_errs:
        # fetchall() turns HUGEINT into a Python int; a pandas/Arrow
        # fetch gives float64/decimal, so the class must match too
        print(f"{name}: TYPE MISMATCH {type_errs}")
        n_fail += 1
        continue
    if sorted(s_cols) != sorted(o_cols):
        print(f"{name}: SCHEMA MISMATCH spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        n_fail += 1
        continue
    if len(s_rows) != len(o_rows):
        print(f"{name}: ROWCOUNT MISMATCH spark={len(s_rows)} oracle={len(o_rows)}")
        n_fail += 1
        continue
    sc = canon([tuple(r) for r in s_rows], s_cols)
    oc = canon(o_rows, o_cols)
    if sc != oc:
        bad = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
        print(f"{name}: VALUE MISMATCH (first diffs: {bad})")
        n_fail += 1
        continue
    print(f"{name}: OK ({len(s_rows)} rows)")

print(f"DONE: {len(queries)} queries, {n_fail} failures")
sys.exit(1 if n_fail else 0)
