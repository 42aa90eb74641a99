"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line with per-query steady-state seconds.

Methodology (BASELINE.md): Spark's fixed startup/planning overhead
dominates at these scale factors, so we report steady-state query time —
each query runs once to warm the parquet footer/page caches and JIT, then
the timed run executes the full plan (collect to the driver, like the
reference's eager pandas/SQLite execution)."""

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

#: the build round producing this artifact — bump each round. Stamped
#: into the payload so the box-normalization block can pick the last
#: artifact from a DIFFERENT round as its reference (ADVICE r14: a
#: plain HEAD read self-compares after the round's artifact commit).
ROUND = 19


def pick_reference(repo_dir: str, current_round: int):
    """Walk BENCH_LOCAL.json's git history newest-first and return
    (payload, commit) for the first committed artifact produced by a
    DIFFERENT round than ``current_round`` — the cross-round reference
    the box-normalization block adjudicates against. Pre-r15 artifacts
    carry no ``producing_round`` and qualify (they are by definition
    earlier rounds'); commits where the blob is unreadable (deleted /
    renamed file, truncated JSON — BENCH_r05 was clipped by the
    harness once) are skipped, not fatal (r15 review). Returns
    (None, None) when no qualifying artifact exists. Unit-tested
    against a scratch git repo in tests/test_driver_conditions.py."""
    import subprocess

    def _git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", repo_dir, *args],
            capture_output=True,
            text=True,
            check=True,
        ).stdout

    for commit in _git("log", "--format=%H", "--", "BENCH_LOCAL.json").split():
        try:
            cand = json.loads(_git("show", f"{commit}:BENCH_LOCAL.json"))
        except Exception:
            continue
        if cand.get("producing_round") != current_round:
            return cand, commit
    return None, None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="bench", cpus=cpus)

    # Ambient-load noise control (BASELINE.md methodology): the official
    # r5 artifact showed simhash_near_pairs at 3.80 s where a quiesced
    # re-measure gave 1.45 s — the Arrow-batch + Python-worker ops are
    # the most sensitive to background load, so they get min-of-4
    # instead of min-of-2. Everything else stays at min-of-2 to keep the
    # full registry sweep (192 ops + the ETL entry) tractable per round.
    noisy = {
        "simhash_near_pairs",
        "text_simhash",
        "entity_resolution_blocked",
        "similarity_ivf_topk",
        "set_ops_bag_semantics",
        "term_frequency_topk",
    }
    # the selection-engine consumers (median_fill, iqr_clip,
    # quantile_profile) left this set in r10: the hybrid transport
    # routes their ≤8-column passes through the JVM explode, so the
    # Arrow/Python-worker load sensitivity that earned them min-of-4
    # no longer applies

    def _sentinel(warm_laps: int = 1) -> float:
        """min-of-2 tpch_q1 — the drift reference BASELINE.md's bench
        methodology uses. Bracketing the run (start + mid + end) lets
        any artifact reader separate multiplicative box drift from real
        per-op movement without a second run.

        The START bracket is NOT fully comparable to mid/end and cannot
        be made so: the r10 adjudication measured the cold-start lap
        decay (5.15, 0.78, 0.64, 0.59, 0.53, 0.46, … → plateau
        ~0.40-0.44 after ~10 laps, vs ~0.30-0.34 once the whole run has
        warmed the JVM) — C2 compilation decays gradually and
        JVM-wide warmth from running 180 other queries is part of what
        mid/end enjoy. A convergence criterion (consecutive laps within
        15%) terminates on the gradual slope and still read 1.9×
        (sentinel 0.58 vs 0.31/0.30 in the first r10 artifact). So:
        the start sentinel takes a FIXED 10-lap warm-up (lands within
        ~1.3× of hot) and artifact readers should adjudicate box phase
        primarily on mid vs end, treating start as a gross (>2×)
        anomaly detector only."""
        rq = registry.REGISTRY["tpch_q1"]
        for _ in range(warm_laps):
            rq.fn(spark, sf_dir).collect()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            rq.fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    sentinel_start = _sentinel(warm_laps=10)

    # mid-run sentinel (VERDICT r9 item 3): the r9 driver artifact's
    # brackets read 0.80 s → 0.38 s, which invalidated the WHOLE
    # artifact because two points can't localize when the box phase
    # flipped. A third reading at the midpoint splits the run into two
    # halves, each adjudicable on its own bracket pair.
    sentinel_mid = None
    items = sorted(registry.REGISTRY.items())
    midpoint = len(items) // 2

    # Sub-second noise damping (VERDICT r15 item 4): every op has run
    # min-of-2 (noisy set: min-of-4) since the early rounds, yet the
    # sub-second population still produced >2× round-over-round movers
    # on untouched code (star_join_revenue, stratified_hash_sample in
    # r15) — at ~0.3-0.9 s an op is within one scheduler hiccup of
    # doubling. Ops whose time in the last cross-round reference
    # artifact was under 1 s get ONE extra timed lap (min-of-3; noisy
    # stays min-of-4): the sub-second set's total is small, so the
    # extra lap costs ~1 min of wall time and makes the min estimator
    # robust to a single bad lap instead of requiring two good laps in
    # two. Ops with no reference time (new this round) are treated as
    # sub-second — they are, overwhelmingly, and the extra lap is
    # cheap exactly when the guess is right. Per-op repeat counts are
    # recorded in the artifact (``repeats``) so the ledger is
    # self-describing.
    here = os.path.dirname(os.path.abspath(__file__))
    # ONE reference walk per run, shared by the repeats policy and the
    # box-normalization block below (r16 review: two pick_reference
    # calls duplicated the git subprocess walk and could disagree)
    ref, ref_commit = pick_reference(here, ROUND)
    ref_times = {
        k: v for k, v in (ref or {}).get("queries", {}).items() if v and v > 0
    }

    def n_laps(name: str) -> int:
        if name in noisy:
            return 4
        t_ref = ref_times.get(name)
        if t_ref is None or t_ref < 1.0:
            return 3
        return 2

    timings: dict[str, float] = {}
    repeats: dict[str, int] = {}
    for i, (name, rq) in enumerate(items):
        if i == midpoint:
            sentinel_mid = _sentinel()
        try:
            repeats[name] = n_laps(name)
            rq.fn(spark, sf_dir).collect()  # warm-up: caches, JIT, file footers
            best = float("inf")
            for _ in range(repeats[name]):
                t0 = time.perf_counter()
                rq.fn(spark, sf_dir).collect()  # fresh plan — no shuffle reuse
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 4)
        except Exception as exc:  # pragma: no cover - report, don't die
            timings[name] = -1.0
            print(f"bench error in {name}: {exc}", file=sys.stderr)

    # the full cleaning ETL at sf-equivalent volume (VERDICT r8 item 7:
    # the 24-column expression chain was pinned for correctness on the
    # fixed 10k-row reference file but never benched at scale). The
    # dirty CSV is generated once per machine (seed-deterministic,
    # cached — generation is NOT in the timed window); the timed action
    # is the honest end-to-end job: ingest (encoding fallback + NA
    # tokens) → clean → write parquet, on the scale record-id path.
    # Reference baseline: 0.45 s at 10k rows → ~27 s scaled to 600k
    # (BASELINE.md "Cleaning pipeline at volume").
    try:
        import shutil
        import tempfile

        from scripts.gen_health_raw import ensure_csv
        from health_etl_pipeline_and_analytics_with_machine_learning_spark.pipeline import (
            clean_health_dataset,
        )

        n_rows = max(10_000, int(6_000_000 * (sf or 0.1)))
        csv_path = ensure_csv(n_rows)
        out_dir = tempfile.mkdtemp(prefix="bench_pipeline_")
        try:

            def _run_pipeline() -> None:
                clean_health_dataset(
                    spark, csv_path, record_id_mode="scaled"
                ).write.mode("overwrite").parquet(os.path.join(out_dir, "clean"))

            repeats["pipeline_clean"] = 2  # multi-second: min-of-2
            _run_pipeline()  # warm-up
            best = float("inf")
            for _ in range(repeats["pipeline_clean"]):
                t0 = time.perf_counter()
                _run_pipeline()
                best = min(best, time.perf_counter() - t0)
            timings["pipeline_clean"] = round(best, 4)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    except Exception as exc:  # pragma: no cover - report, don't die
        timings["pipeline_clean"] = -1.0
        print(f"bench error in pipeline_clean: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 4)

    # Mechanical box-factor adjudication (VERDICT r13 item 3): three
    # rounds running, cross-round totals needed a MANUAL sentinel
    # normalization narrative in BASELINE.md because the box load
    # differs between rounds. Emit the normalization itself: read the
    # last COMMITTED BENCH_LOCAL.json produced by a DIFFERENT round
    # (ADVICE r14: the workflow commits the round's own artifact at
    # final HEAD, so a plain HEAD read made any later same-round rerun
    # self-compare — box_factor ~1.0 — and the cross-round adjudication
    # silently measured nothing; walking the artifact's git history for
    # the first commit whose producing_round differs restores a true
    # cross-round reference, and reference_commit in the payload lets
    # readers spot any residual self-comparison). Scale this run's
    # common-set total by the mid-sentinel ratio AND by the per-op
    # median ratio — the robust "did any plan actually move" statistic
    # (a box-phase change moves every ratio together; a plan regression
    # moves one op far off the median). BASELINE.md policy: when the
    # two factors disagree, the MEDIAN is the better box factor (the
    # sentinel is one op's noise), so median_normalized_common_total is
    # the primary cross-round figure (VERDICT r14 item 4).
    box_normalization = None
    try:
        import statistics

        ref_q = ref_times  # the shared reference walk above
        common = sorted(k for k, v in timings.items() if v > 0 and k in ref_q)
        if ref and ref.get("sentinel_mid") and sentinel_mid and common:
            common_total = sum(timings[k] for k in common)
            common_total_ref = sum(ref_q[k] for k in common)
            box = sentinel_mid / ref["sentinel_mid"]
            median_ratio = statistics.median(
                timings[k] / ref_q[k] for k in common
            )
            box_normalization = {
                "reference_commit": ref_commit,
                "reference_round": ref.get("producing_round"),
                "reference_sentinel_mid": ref["sentinel_mid"],
                "box_factor_mid": round(box, 4),
                "n_common": len(common),
                "common_total_raw": round(common_total, 4),
                "common_total_reference": round(common_total_ref, 4),
                "sentinel_normalized_common_total": round(common_total / box, 4),
                "per_op_median_ratio": round(median_ratio, 4),
                # primary cross-round figure (BASELINE.md policy)
                "median_normalized_common_total": round(
                    common_total / median_ratio, 4
                ),
            }
    except Exception as exc:  # pragma: no cover - the block must never
        # kill a completed run: losing ~190 timed ops to a normalization
        # guard would invert its purpose
        print(f"bench: no box normalization ({exc})", file=sys.stderr)

    payload = {
        "queries": timings,
        "metric": "steady_state_total_query_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "producing_round": ROUND,
        "repeats": repeats,
        "sentinel_start": sentinel_start,
        "sentinel_mid": sentinel_mid,
        "sentinel_end": _sentinel(),
        "box_normalization": box_normalization,
        # ADVICE r9: the headline total includes the pipeline_clean
        # end-to-end ETL entry since r9 (~26 s at sf0.1) — totals from
        # BENCH_r01–r08 artifacts are NOT directly comparable without
        # reading the per-query map
        "note": "total includes pipeline_clean since r9",
    }
    # Two stdout lines (VERDICT r16 item 3 + the driver contract):
    #   line 1 — the FULL payload, one JSON line, per-query map
    #     included. The driver contract requires the complete
    #     `"queries": {name: sec, ...}` map on stdout (the driver
    #     re-runs the bench at a lower core count and compares
    #     per-query times), so this line must stay.
    #   line 2 (FINAL) — a COMPACT (<1 kB) summary. The per-round
    #     artifact capture keeps only the last ~2 kB of stdout and
    #     json-parses the last line; the 12.6 kB payload line got
    #     truncated there (`parsed: null` in BENCH_r15/r16), so the
    #     final line is now small enough to parse end-to-end while
    #     the full map stays one line up (and in BENCH_LOCAL.json).
    try:
        with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError as exc:  # pragma: no cover - stdout is the contract
        print(f"bench: could not write BENCH_LOCAL.json: {exc}", file=sys.stderr)
    print(json.dumps(payload, separators=(",", ":")))
    summary = {
        k: payload[k]
        for k in (
            "metric",
            "value",
            "unit",
            "sf",
            "cpus",
            "producing_round",
            "sentinel_start",
            "sentinel_mid",
            "sentinel_end",
            "box_normalization",
            "note",
        )
    }
    summary["n_queries"] = len(timings)
    summary["n_errors"] = sum(1 for t in timings.values() if t < 0)
    summary["queries"] = (
        "full per-op map on the previous stdout line and in BENCH_LOCAL.json"
    )
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
