"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line with per-query steady-state seconds.

Methodology (BASELINE.md): Spark's fixed startup/planning overhead
dominates at these scale factors, so we report steady-state query time —
each query runs once to warm the parquet footer/page caches and JIT, then
the best of LAPS timed runs executes the full plan (collect to the
driver, like the reference's eager pandas/SQLite execution). The map is
also written to BENCH_LOCAL_c{cpus}.json, one file per core count."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (  # noqa: E402
    registry,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.session import (  # noqa: E402
    get_spark,
)

#: timed laps per entry, after one warm-up lap; the entry's time is the best
LAPS = 3


def best_of(run) -> float:
    run()  # warm-up: caches, JIT, file footers
    best = float("inf")
    for _ in range(LAPS):
        t0 = time.perf_counter()
        run()  # fresh plan — no shuffle reuse
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="bench", cpus=cpus)

    timings: dict[str, float] = {}
    for name, rq in sorted(registry.REGISTRY.items()):
        try:
            timings[name] = best_of(lambda: rq.fn(spark, sf_dir).collect())
        except Exception as exc:  # pragma: no cover - report, don't die
            timings[name] = -1.0
            print(f"bench error in {name}: {exc}", file=sys.stderr)

    # the full cleaning ETL at sf-equivalent volume: ingest (encoding
    # fallback + NA tokens) → clean → write parquet, on the scale
    # record-id path. The dirty CSV is generated once per machine
    # (seed-deterministic, cached) outside the timed window.
    try:
        import shutil
        import tempfile

        from scripts.gen_health_raw import ensure_csv
        from health_etl_pipeline_and_analytics_with_machine_learning_spark.pipeline import (
            clean_health_dataset,
        )

        csv_path = ensure_csv(max(10_000, int(6_000_000 * (sf or 0.1))))
        out_dir = tempfile.mkdtemp(prefix="bench_pipeline_")
        try:
            timings["pipeline_clean"] = best_of(
                lambda: clean_health_dataset(spark, csv_path, record_id_mode="scaled")
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, "clean"))
            )
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    except Exception as exc:  # pragma: no cover - report, don't die
        timings["pipeline_clean"] = -1.0
        print(f"bench error in pipeline_clean: {exc}", file=sys.stderr)

    payload = {
        "queries": timings,
        "metric": "steady_state_total_query_time",
        "value": round(sum(t for t in timings.values() if t >= 0), 4),
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "laps": LAPS,
        "note": "total includes pipeline_clean",
    }
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), f"BENCH_LOCAL_c{cpus}.json")
    try:
        with open(out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError as exc:  # pragma: no cover - stdout is the contract
        print(f"bench: could not write {out}: {exc}", file=sys.stderr)
    # Two stdout lines: the full payload with the per-query map (a
    # reader compares per-query times across core counts), then a
    # compact final line small enough for a reader that keeps only the
    # tail of stdout and parses its last line.
    print(json.dumps(payload, separators=(",", ":")))
    summary = {k: v for k, v in payload.items() if k != "queries"}
    summary["n_queries"] = len(timings)
    summary["n_errors"] = sum(1 for t in timings.values() if t < 0)
    summary["queries"] = f"full per-op map on the previous stdout line and in {os.path.basename(out)}"
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
