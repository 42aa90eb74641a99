"""The two benchmark workloads.

Each workload has the same shape:

- ``inputs``: make the seeded inputs (not timed; cached per seed);
- ``setup``: everything a user pays before the first measured unit
  (timed into ``setup_s`` together with the session start);
- ``measure``: the untraced run, returning the end-to-end figures;
- ``traced``: the traced run, returning the per-layer metrics;
- ``verify``: output checks; any mismatch fails the run.
"""

from __future__ import annotations

import hashlib
import http.client
import importlib
import json
import random
import statistics
import sys
import threading
import time
from collections import defaultdict

import checks
from tracing import seconds, total, wrap

PKG = "health_etl_pipeline_and_analytics_with_machine_learning_spark"

#: the seven queries a dashboard miss runs (jobs.dashboard.dashboard_sections)
DASHBOARD_QUERIES = (
    "overview_metrics",
    "q1_deadliest_diseases",
    "mortality_trend",
    "gender_impact_melted",
    "q4_treatment_cost",
    "q6_urban_rural_level1",
    "correlation_with_mortality",
)
#: the queries the weekly report collects; only the last is not also a
#: dashboard query
REPORT_QUERIES = ("overview_metrics", "q1_deadliest_diseases", "q4_treatment_cost", "q5_gender_split")
QUERIES = tuple(dict.fromkeys(DASHBOARD_QUERIES + REPORT_QUERIES))
#: modules of the operators in ``OperatorSweep.SAMPLE``
OPERATOR_MODULES = ("events", "mining", "multimodal", "prep", "relational", "text", "tpch")
#: the per-layer metrics, in BENCHMARK.json's order
PER_LAYER = (
    "session.start_s",
    "session.peak_rss_mb",
    "session.conf_changed_keys",
    "trace.overhead_frac",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "sources.ingest.read_csv_raw_s",
    "pipeline.clean_s",
    "pipeline.write_s",
    "pipeline.jobs",
    "pipeline.tasks",
    "functions.quantiles.calls",
    "functions.quantiles.s",
    "functions.quantiles.jobs",
    "ml.train_s",
    "ml.jobs",
    "ml.predict_single_ms",
    "report.collect_section_s",
    "report.write_pdf_s",
    "report.write_xlsx_s",
    "quality.s",
    "jobs.dashboard.sections_s",
    "jobs.dashboard.jobs_per_miss",
    "jobs.webapp.memo_hit_ratio",
    "jobs.webapp.queue_ms",
    *(f"queries.{fn}_ms" for fn in QUERIES),
    "operators.build_s",
    "operators.exec_s",
    "operators.catalyst_ms",
    "operators.build_jobs",
    "operators.exec_jobs",
    "operators.first_call_s",
    *(f"operators.{mod}.s" for mod in OPERATOR_MODULES),
    "operators.registry.load_calls",
    "operators.registry.load_s",
    "streaming.build_s",
    "streaming.ops",
)


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it; the maximum
    when there are too few samples for that percentile to exceed the
    median."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], f"max of {n}"
    k = n - 11
    return xs[k], f"p{100 * (k + 1) / n:.1f} of {n}"


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def instrument(ctx) -> None:
    """Wrap the public entry points of each layer in spans. Only the
    traced run calls this; the process ends with them in place."""
    tr = ctx.tracer
    pipeline = _mod("pipeline")
    quantiles = _mod("functions.quantiles")
    weekly = _mod("jobs.weekly_report")
    webapp = _mod("jobs.webapp")
    ml = _mod("ml")
    quality = _mod("quality")
    queries = _mod("queries")
    registry = _mod("operators.registry")

    wrap(pipeline, "read_csv_raw", tr, "sources.ingest.read_csv_raw")
    wrap(quantiles, "exact_quantiles_multi", tr, "functions.quantiles.exact_quantiles_multi")
    pipeline.exact_quantiles_multi = quantiles.exact_quantiles_multi
    for owner in (pipeline, weekly, webapp):
        wrap(owner, "clean_health_dataset", tr, "pipeline.clean_health_dataset")
    wrap(weekly, "train_mortality_model", tr, "ml.train_mortality_model")
    wrap(ml.TrainedModel, "predict_single", tr, "ml.predict_single")
    wrap(
        weekly, "collect_section", tr, "report.collect_section",
        attrs=lambda title, *a, **k: {"title": title},
    )
    wrap(weekly, "write_pdf", tr, "report.write_pdf")
    wrap(weekly, "write_xlsx", tr, "report.write_xlsx")
    for fn in ("shape_report", "null_report", "key_metric_summary"):
        wrap(quality, fn, tr, f"quality.{fn}")
    wrap(webapp, "dashboard_sections", tr, "jobs.dashboard.dashboard_sections")

    from pyspark.sql.readwriter import DataFrameWriter

    wrap(DataFrameWriter, "parquet", tr, "spark.write_parquet")

    # a query function only builds a plan; its jobs run in the collect
    # that follows, which is attributed back to the query
    last_query = threading.local()
    for fn in QUERIES:
        original = getattr(queries, fn)

        def traced(*args, _fn=fn, _orig=original, **kwargs):
            with tr.span(f"queries.{_fn}", query=_fn):
                out = _orig(*args, **kwargs)
            last_query.name = _fn
            return out

        setattr(queries, fn, traced)
    df_class = type(ctx.spark.range(1))
    collect = df_class.collect

    def traced_collect(self):
        query = getattr(last_query, "name", None)
        last_query.name = None
        with tr.span("spark.collect", query=query):
            return collect(self)

    df_class.collect = traced_collect

    # operator modules import ``load`` by name; swap every binding
    original_load = registry.load
    wrap(registry, "load", tr, "operators.registry.load")
    for name, module in list(sys.modules.items()):
        if name.startswith(PKG) and getattr(module, "load", None) is original_load:
            module.load = registry.load


def layer_table(tr, spans: list[dict], units: int) -> dict:
    """Per-layer metrics from the spans of ``units`` traced units of work.
    Times and counts are per unit; layers the spans do not touch read
    zero."""
    tr.totals()
    by_id = {s["id"]: s for s in tr.spans}

    def named(name):
        return [s for s in spans if s["name"] == name]

    def under(s, name):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == name:
                return True
        return False

    def mean_ms(ss):
        return 1e3 * seconds(ss) / len(ss) if ss else 0.0

    clean = named("pipeline.clean_health_dataset")
    writes = [s for s in named("spark.write_parquet") if under(s, "pipeline.clean_health_dataset")]
    quant = named("functions.quantiles.exact_quantiles_multi")
    train = named("ml.train_mortality_model")
    predict = named("ml.predict_single")
    sections = named("report.collect_section")
    quality = [s for s in spans if s["name"].startswith("quality.")]
    quality += [s for s in sections if s["title"].startswith("Data Quality")]
    dash = named("jobs.dashboard.dashboard_sections")
    loads = named("operators.registry.load")
    tops = [s for s in spans if s["name"] == "unit"]

    u = max(units, 1)
    m = {
        "spark.jobs": (total(tops, "jobs") / u, "count"),
        "spark.stages": (total(tops, "stages") / u, "count"),
        "spark.tasks": (total(tops, "tasks") / u, "count"),
        "sources.ingest.read_csv_raw_s": (seconds(named("sources.ingest.read_csv_raw")) / u, "s"),
        "pipeline.clean_s": ((seconds(clean) - seconds(writes)) / u, "s"),
        "pipeline.write_s": (seconds(writes) / u, "s"),
        "pipeline.jobs": (total(clean, "jobs") / u, "count"),
        "pipeline.tasks": (total(clean, "tasks") / u, "count"),
        "functions.quantiles.calls": (len(quant) / u, "count"),
        "functions.quantiles.s": (seconds(quant) / u, "s"),
        "functions.quantiles.jobs": (total(quant, "jobs") / u, "count"),
        "ml.train_s": (seconds(train) / u, "s"),
        "ml.jobs": ((total(train, "jobs") + total(predict, "jobs")) / u, "count"),
        "ml.predict_single_ms": (mean_ms(predict), "ms"),
        "report.collect_section_s": (seconds(sections) / u, "s"),
        "report.write_pdf_s": (seconds(named("report.write_pdf")) / u, "s"),
        "report.write_xlsx_s": (seconds(named("report.write_xlsx")) / u, "s"),
        "quality.s": (seconds(quality) / u, "s"),
        "jobs.dashboard.sections_s": (seconds(dash) / len(dash) if dash else 0.0, "s"),
        "jobs.dashboard.jobs_per_miss": (total(dash, "jobs") / len(dash) if dash else 0.0, "count"),
        "operators.registry.load_calls": (len(loads) / u, "count"),
        "operators.registry.load_s": (seconds(loads) / u, "s"),
    }
    for fn in QUERIES:
        build = named(f"queries.{fn}")
        run = [s for s in named("spark.collect") if s["query"] == fn]
        m[f"queries.{fn}_ms"] = (mean_ms(build) + mean_ms(run) if build else 0.0, "ms")
    return m


def _overhead(traced: float, untraced: float) -> tuple[float, str]:
    return (traced / untraced - 1.0, "frac")


def layer_defaults() -> dict:
    return {
        "jobs.webapp.memo_hit_ratio": (0.0, "ratio"),
        "jobs.webapp.queue_ms": (0.0, "ms"),
        "operators.build_s": (0.0, "s"),
        "operators.exec_s": (0.0, "s"),
        "operators.catalyst_ms": (0.0, "ms"),
        "operators.build_jobs": (0.0, "count"),
        "operators.exec_jobs": (0.0, "count"),
        "operators.first_call_s": (0.0, "s"),
        "streaming.build_s": (0.0, "s"),
        "streaming.ops": (0, "count"),
        **{f"operators.{mod}.s": (0.0, "s") for mod in OPERATOR_MODULES},
    }


class Workload:
    attempted = 0
    failed = 0

    def inputs(self, ctx):
        pass

    def setup(self, ctx):
        pass

    def teardown(self, ctx):
        pass


# --------------------------------------------------------------------------
class ReportDashboard(Workload):
    """The reference's two user-facing paths on one seeded 10k-row dirty
    CSV (the reference dataset's size), in one session.

    Set-up: ``jobs.webapp`` over loopback HTTP. The app cleans the CSV
    and the landing page loads. Then one ``jobs.weekly_report.run``
    (``batch_cpu_s``), and two filtered views as an untimed warm-up. Then
    two closed-loop clients send a seeded sequence of
    ``/api/dashboard?year=&country=`` requests: a fixed number of cycles
    of eight for a given ``--seconds``, so that no run does more or less
    work because the host ran faster or slower. The last two requests of
    every cycle repeat earlier keys, so a quarter are memo hits in every
    run. The repeats come in pairs, one for each client: a lone repeat
    lets the next miss skip the lock wait, which splits the latencies into
    two equal groups and leaves the median jumping between them.

    The report runs before the dashboard window, so that its Spark work
    and the warm-up views take the window's misses past the steep part of
    their warm-up, where a few percent of host speed moved every
    latency."""

    ROWS = 10_000
    CLIENTS = 2
    CYCLE = 8
    WARM_MISSES = 2
    TRACED_REQUESTS = 8
    tracing = False

    def inputs(self, ctx):
        self.csv = ctx.raw_csv(self.ROWS)
        self.out = ctx.work / "report"

    def setup(self, ctx):
        webapp = _mod("jobs.webapp")
        self.app = webapp.DashboardApp(ctx.spark, str(self.csv))
        self.server = webapp.make_server(self.app, port=0)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.keys = self._sequence(ctx.seed, self.app.meta)
        # the page's first load: filter lists and the unfiltered view
        self._load("/api/meta", "/api/dashboard")
        self.next = 0
        self.lock = threading.Lock()
        self.log: list[dict] = []

    def _load(self, *paths):
        for path in paths:
            status, _ = self._get(path)
            if status != 200:
                raise RuntimeError(f"{path} answered {status} outside the measured requests")

    def _warm(self):
        """Filtered views whose keys the sequence never sends, one after
        another and untimed: the first filtered misses of a session, and
        the first after the report, run slower."""
        self._load(*map(self._path, self.warm_keys))

    def _report(self, ctx):
        self.attempted += 1
        self.report = _mod("jobs.weekly_report").run(ctx.spark, str(self.csv), str(self.out))

    def _sequence(self, seed: int, meta: dict, n: int = 200) -> list[tuple]:
        rng = random.Random(seed)
        space = [(y, c) for y in meta["years"] for c in meta["countries"]]
        rng.shuffle(space)
        self.warm_keys = [space.pop() for _ in range(self.WARM_MISSES)]
        fresh = iter(space)
        seq: list[tuple] = [next(fresh)]
        for i in range(1, min(n, len(space))):
            # the repeat never names the request just before it, which the
            # other client may still have in flight
            repeat = i % self.CYCLE >= self.CYCLE - 2
            seq.append(rng.choice(seq[:-1]) if repeat else next(fresh))
        return seq

    @staticmethod
    def _path(key: tuple) -> str:
        from urllib.parse import urlencode

        q = {k: v for k, v in zip(("year", "country"), key) if v is not None}
        return "/api/dashboard?" + urlencode(q)

    def _get(self, path: str) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _client(self, stop):
        while True:
            with self.lock:
                if stop(self.next) or self.next >= len(self.keys):
                    return
                i = self.next
                self.next += 1
            key = self.keys[i]
            a = time.perf_counter()
            try:
                status, body = self._get(self._path(key))
            except OSError as exc:
                status, body = -1, repr(exc).encode()
            rec = {
                "i": i, "key": key, "status": status, "s": time.perf_counter() - a,
                "sha": hashlib.sha256(body).hexdigest(), "traced": self.tracing,
            }
            with self.lock:
                self.log.append(rec)

    def _session(self, stop):
        threads = [threading.Thread(target=self._client, args=(stop,)) for _ in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def _is_miss(self, rec) -> bool:
        return all(r["key"] != rec["key"] for r in self.log if r["i"] < rec["i"])

    def requests(self, ctx) -> int:
        """Whole cycles, one per ten seconds of ``--seconds``."""
        return self.CYCLE * max(1, round(ctx.seconds / 10))

    def measure(self, ctx):
        (c0, d0), a = ctx.clock.sample(), time.perf_counter()
        self._report(ctx)
        report_s = time.perf_counter() - a
        c1, d1 = ctx.clock.sample()
        ctx.guard.restore()
        self._warm()
        n = self.requests(ctx)
        (c2, d2), t0 = ctx.clock.sample(), time.perf_counter()
        self._session(lambda i: i >= n)
        window = time.perf_counter() - t0
        c3, d3 = ctx.clock.sample()
        ctx.guard.restore()
        units = [r["s"] for r in self.log]
        misses = [r["s"] for r in self.log if self._is_miss(r)]
        tail_s, tail_label = tail(units)
        return {
            "batch_cpu_s": c1 - c0,
            "unit_cpu_s": (c3 - c2) / len(units),
            "run_delay_s": d1 - d0 + d3 - d2,
            "summary": f"{len(units)} HTTP requests, tail = {tail_label}",
            "wall": {
                "report_wall_s": (report_s, "s"),
                "dashboard_p50_ms": (1e3 * statistics.median(units), "ms"),
                "dashboard_tail_ms": (1e3 * tail_s, "ms", f"{tail_label} requests"),
                "dashboard_rps": (len(units) / window, "1/s"),
            },
            "details": {
                "clients": self.CLIENTS, "requests": len(units), "misses": len(misses),
                "miss_p50_ms": round(1e3 * statistics.median(misses), 1) if misses else None,
                "latency_ms (hit = h)": [
                    f"{1e3 * r['s']:.0f}" + ("" if self._is_miss(r) else "h")
                    for r in sorted(self.log, key=lambda r: r["i"])
                ],
            },
        }

    def traced(self, ctx):
        """A traced report, then untraced and traced dashboard requests;
        ``trace.overhead_frac`` compares the median miss latency of the
        two sets of requests."""
        instrument(ctx)
        mark = ctx.tracer.mark()
        ctx.tracer.enabled = True
        with ctx.tracer.span("unit"):
            self._report(ctx)
        ctx.tracer.enabled = False
        ctx.guard.restore()
        report = ctx.tracer.since(mark)

        self._warm()
        n = self.TRACED_REQUESTS
        self._session(lambda i: i >= n)
        mark = ctx.tracer.mark()
        ctx.tracer.enabled = True
        self.tracing = True
        self._session(lambda i: i >= 2 * n)
        self.tracing = False
        ctx.tracer.enabled = False
        ctx.guard.restore()
        spans = ctx.tracer.since(mark)

        traced = [r for r in self.log if r["traced"]]
        plain = [r for r in self.log if not r["traced"]]

        m = layer_table(ctx.tracer, report, 1)
        d = layer_table(ctx.tracer, spans, len(traced))
        for k in ("jobs.dashboard.sections_s", "jobs.dashboard.jobs_per_miss"):
            m[k] = d[k]
        for fn in DASHBOARD_QUERIES:
            m[f"queries.{fn}_ms"] = d[f"queries.{fn}_ms"]
        dash = [s for s in spans if s["name"] == "jobs.dashboard.dashboard_sections"]
        m["jobs.webapp.memo_hit_ratio"] = (1 - len(dash) / len(traced), "ratio")
        m["jobs.webapp.queue_ms"] = (
            1e3 * (sum(r["s"] for r in traced) - seconds(dash)) / len(traced), "ms",
        )

        def miss_p50(rs):
            return statistics.median([r["s"] for r in rs if self._is_miss(r)])

        m["trace.overhead_frac"] = _overhead(miss_p50(traced), miss_p50(plain))
        return m

    def verify(self, ctx):
        # the report: its silver table, its sections and artifacts, and
        # (seed 1) its digest without the timestamp
        rep = dict(self.report)
        rep.pop("generated_at")
        silver = ctx.spark.read.parquet(str(self.out / "silver.parquet"))
        checks.silver_invariants(ctx, silver, "weekly_report")
        titles = [s["title"] for s in rep["sections"]]
        if len(titles) != 10 or any(not s["rows"] for s in rep["sections"]):
            ctx.fail(f"weekly_report: unexpected sections {titles}")
        # without reportlab/openpyxl the report module writes JSON instead
        artifacts = [p for p in self.out.iterdir() if p.name.startswith("health_weekly_report.")]
        if not artifacts or any(p.stat().st_size == 0 for p in artifacts):
            ctx.fail(f"weekly_report: missing or empty artifacts {artifacts}")
        checks.pinned(ctx, "weekly_report", checks.digest(rep))

        # the dashboard: every request answered, repeated keys gave the
        # same body, and (seed 1) the first three answers' digest
        self.attempted += len(self.log)
        bad = [r for r in self.log if r["status"] != 200]
        self.failed += len(bad)
        for r in bad[:3]:
            print(f"request {r['key']} answered {r['status']}")
        bodies = defaultdict(set)
        for r in self.log:
            bodies[r["key"]].add(r["sha"])
        differ = [k for k, v in bodies.items() if len(v) > 1]
        if differ:
            ctx.fail(f"dashboard: repeated keys returned different bodies: {differ[:3]}")
        answers = []
        for key in list(dict.fromkeys(self.keys))[:3]:
            status, body = self._get(self._path(key))
            if status != 200:
                ctx.fail(f"dashboard: verification request {key} answered {status}")
                return
            answers.append(json.loads(body))
        cleaned = self.app.cleaned
        checks.silver_invariants(ctx, cleaned, "dashboard_session")
        checks.sql_twins_agree(ctx, cleaned)
        checks.pinned(ctx, "dashboard_session", checks.digest(answers))

    def teardown(self, ctx):
        server = getattr(self, "server", None)
        if server is not None:
            server.shutdown()
            server.server_close()
            self.thread.join()


# --------------------------------------------------------------------------
class OperatorSweep(Workload):
    """A fixed sample of ``operators.registry.REGISTRY`` at sf0.01, called
    in laps on fresh plans, always in the same order. The first lap holds
    the operators' first calls in the session and is part of the set-up.
    Then a fixed number of warm laps for a given ``--seconds``: the
    operators keep getting faster lap after lap as the JVM compiles them,
    so a lap count that followed the host's speed would move every
    figure. Each operator's time is its minimum over the warm laps. The
    tables are fixed, so the seed does not change this workload."""

    #: one cheap operator from each of five modules, and the two cheapest
    #: streaming operators (in ``events`` and ``mining``): seven of the
    #: fifteen operator modules. ``image_phash_neardup`` runs Python code
    #: in Spark's workers.
    SAMPLE = (
        "tpch_q6",
        "value_counts_topk",
        "shard_assignment_balance",
        "term_frequency_topk",
        "image_phash_neardup",
        "streaming_dedup_replay",
        "streaming_countmin_replay",
    )
    #: warm laps per ten seconds of ``--seconds``
    LAPS_PER_10S = 2

    def inputs(self, ctx):
        self.sf_dir = str(ctx.root / "perfbench" / "data" / "sf0.01")

    def setup(self, ctx):
        _mod("operators")
        self.registry = _mod("operators.registry").REGISTRY
        self.ops = list(self.SAMPLE)
        self.results: dict[str, tuple] = {}
        self.errors: dict[str, str] = {}
        self._first_lap(ctx)

    def _call(self, ctx, name, record=None):
        """Build and collect one operator; errors are counted, never
        dropped."""
        self.attempted += 1
        try:
            c0, t0 = ctx.clock.cpu_s(), time.perf_counter()
            with ctx.tracer.span("operators.build", op=name):
                df = self.registry[name].fn(ctx.spark, self.sf_dir)
            t1 = time.perf_counter()
            with ctx.tracer.span("operators.exec", op=name):
                rows = df.collect()
            t2, c2 = time.perf_counter(), ctx.clock.cpu_s()
        except Exception as exc:  # counted as a failed operation
            self.failed += 1
            self.errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
            print(f"operator {name} failed: {self.errors[name]}", flush=True)
            return None
        self.results[name] = ([f.name for f in df.schema.fields], [tuple(r) for r in rows])
        if record is not None:
            record[name] = {"build": t1 - t0, "exec": t2 - t1, "cpu": c2 - c0}
            if ctx.tracer.enabled:
                record[name]["catalyst_ms"] = checks.catalyst_ms(df)
        return rows

    def _lap(self, ctx) -> dict:
        rec: dict[str, dict] = {}
        for name in self.ops:
            self._call(ctx, name, rec)
            ctx.guard.restore()
        return rec

    def _first_lap(self, ctx) -> dict:
        lap = self._lap(ctx)
        self.first = {n: r["build"] + r["exec"] for n, r in lap.items()}
        return lap

    def measure(self, ctx):
        delay0, t0 = ctx.clock.sample()[1], time.perf_counter()
        laps = [self._lap(ctx) for _ in range(max(2, round(self.LAPS_PER_10S * ctx.seconds / 10)))]
        busy, delay = time.perf_counter() - t0, ctx.clock.sample()[1] - delay0
        ok = [n for n in self.ops if all(n in p for p in laps)]
        per_op = {n: min(p[n]["build"] + p[n]["exec"] for p in laps) for n in ok}
        per_op_cpu = {n: min(p[n]["cpu"] for p in laps) for n in ok}
        tail_s, tail_label = tail(list(per_op.values()))
        sweep_s = sum(per_op.values())
        calls = sum(len(p) for p in laps)
        return {
            "batch_cpu_s": sum(per_op_cpu.values()),
            "unit_cpu_s": statistics.geometric_mean(per_op_cpu.values()),
            "run_delay_s": delay,
            "summary": f"{len(laps)} laps of {len(self.ops)} operators, tail = {tail_label}",
            "wall": {
                "sweep_s": (sweep_s, "s"),
                "op_p50_s": (statistics.median(per_op.values()), "s"),
                "op_tail_s": (tail_s, "s", f"{tail_label} operators"),
                "op_calls_per_s": (calls / busy, "1/s"),
            },
            "details": {
                "first_call_s": {n: round(v, 4) for n, v in self.first.items()},
                "ops_s": {n: round(v, 4) for n, v in per_op.items()},
                "ops_cpu_s": {n: round(v, 4) for n, v in per_op_cpu.items()},
            },
        }

    def traced(self, ctx):
        """An untraced warm lap, then a traced one; ``trace.overhead_frac``
        compares the two."""
        instrument(ctx)
        plain = self._lap(ctx)
        mark = ctx.tracer.mark()
        ctx.tracer.enabled = True
        rec = self._lap(ctx)
        ctx.tracer.enabled = False
        spans = ctx.tracer.since(mark)
        n = len(rec)
        m = layer_table(ctx.tracer, spans, n)

        def op_spans(kind, op):
            return [s for s in spans if s["name"] == f"operators.{kind}" and s["op"] == op]

        build = [s for s in spans if s["name"] == "operators.build"]
        execs = [s for s in spans if s["name"] == "operators.exec"]
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}"] = ((total(build, k) + total(execs, k)) / n, "count")
        m["operators.build_s"] = (seconds(build) / n, "s")
        m["operators.exec_s"] = (seconds(execs) / n, "s")
        m["operators.catalyst_ms"] = (sum(r["catalyst_ms"] for r in rec.values()) / n, "ms")
        m["operators.build_jobs"] = (total(build, "jobs") / n, "count")
        m["operators.exec_jobs"] = (total(execs, "jobs") / n, "count")
        m["operators.first_call_s"] = (sum(self.first.values()) / len(self.first), "s")
        by_module = defaultdict(float)
        for name, r in rec.items():
            by_module[self.registry[name].fn.__module__.rsplit(".", 1)[-1]] += r["build"] + r["exec"]
        for mod, s in sorted(by_module.items()):
            m[f"operators.{mod}.s"] = (s, "s")
        streaming = [n for n in rec if n.startswith("streaming_")]
        m["streaming.ops"] = (len(streaming), "count")
        m["streaming.build_s"] = (
            sum(seconds(op_spans("build", n)) for n in streaming) / max(len(streaming), 1), "s",
        )
        traced_s = sum(r["build"] + r["exec"] for r in rec.values())
        plain_s = sum(r["build"] + r["exec"] for r in plain.values())
        m["trace.overhead_frac"] = _overhead(traced_s, plain_s)
        return m

    def verify(self, ctx):
        con = checks.duckdb_views(self.sf_dir)
        for name in self.ops:
            if name not in self.results:
                continue
            cols, rows = self.results[name]
            problem = checks.oracle_mismatch(con, self.registry[name].oracle, cols, rows)
            if problem:
                self.failed += 1
                print(f"operator {name}: {problem}", flush=True)


WORKLOADS = {
    "report_dashboard": ReportDashboard,
    "operator_sweep": OperatorSweep,
}
