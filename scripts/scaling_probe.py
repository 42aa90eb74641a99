"""Scaling-exponent probe: a measured t(10x)/t(1x) ratio per expensive
op, next to the plan-shape pins and the 600k-row measurements.

It builds a scratch 10x corpus (~6M lineitem rows) under /tmp, never
touching the source tables, then times the ops at both scales with
bench.py's method (a warm-up lap, then min-of-N fresh-plan laps). A
linear op lands near 10x (below when a fixed cost amortizes, a little
above when a sort or a spill bites); well above ~12x is a
superlinearity to investigate.

Corpus model ("10x more data", not "10x hotter keys"): each fact table
is replicated 10x with copy-local key offsets and a per-copy
token/vector perturbation, so dup clusters, sessions and LSH buckets
grow in NUMBER, not in size, as in a real corpus (hot-key growth is
the salted ops' concern). Dimension tables stay fixed.

Usage (idle box; ~45 min):

    PYTHONPATH=/root/repo python scripts/scaling_probe.py [op ...]

Writes SCALING_LOCAL.json next to the repo's bench artifacts and
prints one summary line per op. Results are summarized in BASELINE.md
("Scaling exponent" section).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_sf1")
FACTOR = 10

#: the top of BENCH_LOCAL_c8.json's cost ranking — every
#: op over ~2 s — plus the ETL entry, handled specially below.
DEFAULT_OPS = [
    "streaming_neardup_store_maintenance",
    "streaming_neardup_store_compaction",
    "streaming_neardup_probe",
    "similarity_ivf_pq_residual_topk",
    "similarity_ivf_pq_topk",
    "similarity_pq_topk",
    "streaming_cdc_compaction",
    "streaming_sessionization",
    "streaming_hour_rollup",
    "streaming_view_purchase_join",
    "split_leakage_lsh",
    "dedup_connected_components",
    "dedup_minhash_lsh",
    "minhash_jaccard_calibration",
    "quantile_profile",
    "median_fill_scaled",
    "group_quantiles_scaled",
    "bigram_cross_entropy_hashed",
]

#: tables replicated with copy-local perturbation; everything else is
#: copied verbatim (fixed dimensions).
_COPY_TABLES = ["region", "nation", "customer", "supplier", "part"]


def build_corpus(src: str = SRC, dst: str = DST, factor: int = FACTOR) -> str:
    """Materialize the 10x corpus (idempotent: skips when complete)."""
    import duckdb

    done_marker = os.path.join(dst, f"_built_x{factor}")
    if os.path.exists(done_marker):
        return dst
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(16, os.cpu_count() or 8)}")

    def src_pq(t: str) -> str:
        return f"read_parquet('{src}/{t}.parquet')"

    def write(t: str, sql: str) -> None:
        out = os.path.join(dst, f"{t}.parquet")
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")

    for t in _COPY_TABLES:
        shutil.copyfile(f"{src}/{t}.parquet", os.path.join(dst, f"{t}.parquet"))

    copies = f"(SELECT UNNEST(range({factor})) AS __c)"

    # documents: per-copy token suffix — every ASCII token of copy c>0
    # becomes token||'zz'||c, so signatures/shingles/vocab are
    # copy-local (no cross-copy near-dup pairs, vocab grows with the
    # corpus) while each copy's internal dup structure is sf0.1's own.
    write(
        "documents",
        f"""
        SELECT d.doc_id + __c * (SELECT MAX(doc_id)+1 FROM {src_pq('documents')}) AS doc_id,
               CASE WHEN __c = 0 THEN d.text
                    ELSE regexp_replace(d.text, '([A-Za-z0-9]+)', '\\1zz' || __c::VARCHAR, 'g')
               END AS text,
               d.lang, d.source,
               LENGTH(CASE WHEN __c = 0 THEN d.text
                           ELSE regexp_replace(d.text, '([A-Za-z0-9]+)', '\\1zz' || __c::VARCHAR, 'g')
                      END)::BIGINT AS n_chars
        FROM {src_pq('documents')} d CROSS JOIN {copies}
        """,
    )

    # embeddings: copy c>0 gets a deterministic per-(copy, dim) SIGN
    # FLIP (a reflection). The first probe run used a tiny additive
    # shift (x + 0.0003·c) and split_leakage_lsh read 30.6x at 10x —
    # adjudicated a CORPUS artifact, not an op property: the shift was
    # far below the LSH bucket width (0.5), so all ten copies of every
    # vector landed in the SAME (table, bucket) keys and bucket
    # populations grew 10x in SIZE, violating this probe's own
    # "across copies nothing collides" doctrine (candidate pairs then
    # grow ~quadratically by construction). A reflection preserves
    # norms and every WITHIN-copy cosine exactly (cos(s∘u, s∘v) =
    # cos(u, v) for a shared sign vector s) while decorrelating every
    # fixed hyperplane/centroid projection ACROSS copies — the honest
    # "10x more samples from the same distribution" model.
    write(
        "embeddings",
        f"""
        SELECT e.vec_id + __c * (SELECT MAX(vec_id)+1 FROM {src_pq('embeddings')}) AS vec_id,
               CASE WHEN __c = 0 THEN e.embedding
                    ELSE list_transform(generate_series(1, len(e.embedding)),
                                        i -> CAST(e.embedding[i] *
                                             (CASE WHEN hash(__c * 1024 + i) % 2 = 0
                                                   THEN 1 ELSE -1 END) AS FLOAT))
               END AS embedding,
               e.label
        FROM {src_pq('embeddings')} e CROSS JOIN {copies}
        """,
    )

    # events: 10x users, each copy replaying sf0.1's session shapes in
    # the same time range (event density grows, per-user behavior
    # constant — the "more users" scale model).
    write(
        "events",
        f"""
        SELECT e.event_id + __c * (SELECT MAX(event_id)+1 FROM {src_pq('events')}) AS event_id,
               e.ts,
               e.user_id + __c * (SELECT MAX(user_id)+1 FROM {src_pq('events')}) AS user_id,
               e.event_type, e.value, e.props
        FROM {src_pq('events')} e CROSS JOIN {copies}
        """,
    )

    write(
        "orders",
        f"""
        SELECT o.o_orderkey + __c * (SELECT MAX(o_orderkey)+1 FROM {src_pq('orders')}) AS o_orderkey,
               o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority
        FROM {src_pq('orders')} o CROSS JOIN {copies}
        """,
    )

    write(
        "lineitem",
        f"""
        SELECT l.l_orderkey + __c * (SELECT MAX(o_orderkey)+1 FROM {src_pq('orders')}) AS l_orderkey,
               l.l_partkey, l.l_suppkey, l.l_linenumber, l.l_quantity,
               l.l_extendedprice, l.l_discount, l.l_tax,
               l.l_returnflag, l.l_linestatus, l.l_shipdate
        FROM {src_pq('lineitem')} l CROSS JOIN {copies}
        """,
    )

    con.close()
    with open(done_marker, "w") as f:
        f.write("ok\n")
    return dst


def _time_op(fn, spark, sf_dir: str, laps: int) -> float:
    fn(spark, sf_dir).collect()  # warm-up: caches, JIT, file footers
    best = float("inf")
    for _ in range(laps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()  # fresh plan — no shuffle reuse
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import registry
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.session import get_spark

    ops = sys.argv[1:] or DEFAULT_OPS
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)

    print(f"scaling_probe: building {FACTOR}x corpus at {DST} ...", file=sys.stderr)
    t0 = time.perf_counter()
    build_corpus()
    print(f"scaling_probe: corpus ready ({time.perf_counter()-t0:.1f}s)", file=sys.stderr)

    spark = get_spark(app_name="scaling_probe", cpus=cpus)
    results: dict[str, dict] = {}
    for name in ops:
        rq = registry.REGISTRY[name]
        try:
            t1 = _time_op(rq.fn, spark, SRC, laps=2)
            t10 = _time_op(rq.fn, spark, DST, laps=2)
            results[name] = {
                "t_sf01": t1,
                "t_10x": t10,
                "ratio": round(t10 / t1, 2) if t1 > 0 else None,
            }
            print(f"{name}: {t1:.2f}s -> {t10:.2f}s  ratio {t10/t1:.1f}x", flush=True)
        except Exception as exc:
            results[name] = {"error": str(exc)[:300]}
            print(f"{name}: ERROR {exc}", flush=True)

    # the ETL entry: same honest end-to-end job bench.py times, at
    # 600k and 6M CSV rows (generation is outside the timed window).
    try:
        import tempfile

        from scripts.gen_health_raw import ensure_csv
        from health_etl_pipeline_and_analytics_with_machine_learning_spark.pipeline import (
            clean_health_dataset,
        )

        pc = {}
        for label, n_rows in (("t_sf01", 600_000), ("t_10x", 6_000_000)):
            csv_path = ensure_csv(n_rows)
            out_dir = tempfile.mkdtemp(prefix="scaling_pipeline_")
            try:

                def _run() -> None:
                    clean_health_dataset(
                        spark, csv_path, record_id_mode="scaled"
                    ).write.mode("overwrite").parquet(os.path.join(out_dir, "clean"))

                _run()  # warm-up
                t0 = time.perf_counter()
                _run()
                pc[label] = round(time.perf_counter() - t0, 4)
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)
        pc["ratio"] = round(pc["t_10x"] / pc["t_sf01"], 2)
        results["pipeline_clean"] = pc
        print(
            f"pipeline_clean: {pc['t_sf01']:.2f}s -> {pc['t_10x']:.2f}s  ratio {pc['ratio']}x",
            flush=True,
        )
    except Exception as exc:
        results["pipeline_clean"] = {"error": str(exc)[:300]}
        print(f"pipeline_clean: ERROR {exc}", flush=True)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    payload = {
        "factor": FACTOR,
        "src": SRC,
        "dst": DST,
        "cpus": cpus,
        "results": results,
    }
    with open(os.path.join(here, "SCALING_LOCAL.json"), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"scaling_probe": "done", "n_ops": len(results)}))
    spark.stop()


if __name__ == "__main__":
    main()
