"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads are defined in
``perfbench/workloads.py``; ``perfbench/NOTES.md`` says what each one
measures and which metric should move for which kind of change.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run, and the
full span record is written to ``.perfbench/trace-<workload>-<seed>.json``.
The run exits non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
CORES = 4


def _isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from the checkout root."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = str(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, str(ROOT))


def start_session():
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.session import get_spark

    tmp = str(WORK / "tmp")
    spark = get_spark(
        app_name="perfbench",
        cpus=min(CORES, os.cpu_count() or CORES),
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class ConfGuard:
    """Diffs the session conf against its state at session start and puts
    back whatever a unit of work changed, so that one unit's leaked
    settings cannot move the next unit's numbers."""

    def __init__(self, spark):
        self.spark = spark
        self.base = dict(spark.conf.getAll)
        self.changed: set[str] = set()

    def restore(self) -> None:
        now = dict(self.spark.conf.getAll)
        diff = {k for k in self.base.keys() | now.keys() if self.base.get(k) != now.get(k)}
        self.changed |= diff
        for k in diff:
            if k in self.base:
                self.spark.conf.set(k, self.base[k])
            else:
                self.spark.conf.unset(k)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm = 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024
    return own + jvm


class Context:
    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = WORK / args.workload
        self.work.mkdir(parents=True, exist_ok=True)
        self.root = ROOT
        self.spark = None
        self.tracer = None
        self.guard = None
        self.clock = None
        self.setup_s = None
        self.session_start_s = None
        self.failures: list[str] = []

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"CHECK FAILED: {msg}", flush=True)

    def raw_csv(self, n_rows: int) -> Path:
        """Seed-keyed cache of the dirty health CSV."""
        from scripts.gen_health_raw import generate

        cache = WORK / "inputs"
        cache.mkdir(parents=True, exist_ok=True)
        path = cache / f"health_raw_{n_rows}_seed{self.seed}.csv"
        if not path.exists():
            generate(str(path), n_rows, self.seed)
        return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_environment()
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import workloads
    from cpuclock import CpuClock
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    ctx = Context(args)
    wl = workloads.WORKLOADS[args.workload]()
    wl.inputs(ctx)

    t0 = time.perf_counter()
    ctx.spark = start_session()
    ctx.session_start_s = time.perf_counter() - t0
    try:
        ctx.guard = ConfGuard(ctx.spark)
        ctx.clock = CpuClock()
        ctx.tracer = Tracer(ctx.spark, enabled=False)
        try:
            wl.setup(ctx)
            ctx.guard.restore()
            t1 = time.perf_counter()
            ctx.setup_s = t1 - t0
            if ctx.trace:
                layer = {**workloads.layer_defaults(), **wl.traced(ctx)}
            else:
                res = wl.measure(ctx)
            t2 = time.perf_counter()
            wl.verify(ctx)
            ctx.guard.restore()
            t3 = time.perf_counter()
        finally:
            wl.teardown(ctx)
        rss = peak_rss_mb(ctx.spark)
    finally:
        stop_session(ctx.spark)
    print(
        f"phases: session {ctx.session_start_s:.1f} s, setup {ctx.setup_s:.1f} s, "
        f"run {t2 - t1:.1f} s, verify {t3 - t2:.1f} s, stop {time.perf_counter() - t3:.1f} s"
    )

    attempted = wl.attempted
    failed = wl.failed + len(ctx.failures)
    if ctx.trace:
        ctx.tracer.totals()
        layer.update(
            {
                "session.start_s": (ctx.session_start_s, "s"),
                "session.peak_rss_mb": (rss, "MB"),
                "session.conf_changed_keys": (len(ctx.guard.changed), "count"),
            }
        )
        out = WORK / f"trace-{args.workload}-{args.seed}.json"
        out.write_text(
            json.dumps(
                {"layers": {k: v[0] for k, v in layer.items()}, "spans": ctx.tracer.spans},
                default=str,
            )
        )
        print("layers: " + json.dumps({k: round(v[0], 6) for k, v in sorted(layer.items())}))
        print(f"conf keys changed: {sorted(ctx.guard.changed)}")
        metrics = {k: layer[k] for k in workloads.PER_LAYER}
    else:
        metrics = {
            "setup_s": (ctx.setup_s, "s"),
            "batch_cpu_s": (res["batch_cpu_s"], "s"),
            "unit_cpu_ms": (res["unit_cpu_s"] * 1e3, "ms"),
        }
        print(f"{args.workload}: {res['summary']}")
        for k, v in res.get("details", {}).items():
            print(f"  {k}: {v}")
        named = {
            **metrics,
            **res["wall"],
            "run_delay_s": (res["run_delay_s"], "s", "measured work's threads waiting for a CPU"),
            "failed_frac": (failed / max(attempted, 1), "frac", f"{failed} of {attempted} operations"),
        }
        for k, (v, u, *note) in named.items():
            print(f"metric {k} = {v:.6g} {u}" + (f"  [{note[0]}]" if note else ""))

    correct = not ctx.failures and wl.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
