"""Exact quantiles — the scale path for the reference's exact
medians/IQR (SURVEY §4.3).

Spark's built-in exact ``percentile`` aggregate buffers every distinct
value (a value→count map) inside one final aggregation state — correct,
but a single-node memory funnel: at 100 TB it OOMs the task that merges
the buffers. ``percentile_approx`` fixes memory but changes answers,
which the parity tier can't accept.

Small inputs (at most ``SMALL_INPUT_MAX_ROWS`` rows, the engine's own
``MAX_BOUNDARY_COLLECT``) are answered on the driver: one
``limit(bound + 1)`` ``toArrow()`` collect of the requested columns —
one job, no Python worker — and a numpy sort per column. This is the
engine's rule "collect a bucket that fits" applied to the whole input;
the reference's 10k-row ETL lives here.

Larger inputs go through DISTRIBUTED SELECTION (bucket refinement —
the classic k-th-smallest algorithm). No stage ever moves more than
``N_BUCKETS`` rows per map task:

1. one aggregate → (count, nan count, min, max) per column;
2. one aggregate → a fixed-width ``N_BUCKETS``-bucket count histogram
   (map-side partial, ≤ N_BUCKETS rows per task, collected to the
   driver: O(N_BUCKETS) driver memory);
3. the cumulative histogram locates the bucket holding each needed
   global rank k = the flanking positions of pos = (n−1)·p (0-based,
   computed BEFORE the 1-based shift so the fraction survives IEEE
   rounding);
4. one job collects the (value, count) pairs of just those buckets —
   expected n/N_BUCKETS values each — and walks to the k-th value;
   a bucket whose count exceeds ``MAX_BOUNDARY_COLLECT`` (value skew)
   recurses: re-bucket THAT bucket's value range, shrinking the
   candidate set ×N_BUCKETS per level (≤ log_B(n) levels, 2–3 at
   100 TB), so both collect size and driver memory stay bounded.

Multi-column batching (``exact_quantiles_multi``) runs stages 1/2/4
for ALL requested columns in single passes, so e.g. four medians cost
three passes after the small-input collect, not twelve. The
histogram/boundary passes ride the JVM struct-explode for few columns
and Arrow batches with numpy ``bincount``/``unique`` partials for many
(``_multi_pass``), so a pass costs one scan, not row-count ×
column-count rows.

Both paths share one ordering rule. NaN and ±Infinity follow
IEEE/Spark sort order (−inf < finite < +inf < NaN) and all four
regions count toward n; −0.0 equals +0.0 and comes back as +0.0; nulls
are ignored. In the distributed path, ranks landing in the −inf, +inf,
or NaN prefix/suffix regions resolve in closed form from the region
counts, and bucket selection runs only over the FINITE window (so an
infinite outlier can't produce an infinite bucket width).

Rank extraction and interpolation are the SHARED invariant-6 math
(``functions.rank_math`` — one definition for this engine, the grouped
in-plan engine, and the quantile-normalize op), so results are
bit-comparable with the oracle (pinned by tests/test_quantiles.py
against the built-in exact percentile, with each path forced; see
BASELINE.md "Certification invariants" item 6 and the rank_math module
docstring).
"""

from __future__ import annotations

import bisect
import math
from collections import defaultdict
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .rank_math import interp, rank_spec

#: histogram resolution per refinement level; driver memory is O(this)
N_BUCKETS = 8192
#: a located bucket with more rows than this recurses instead of
#: collecting (value skew guard); expected bucket load is n/N_BUCKETS
MAX_BOUNDARY_COLLECT = 65536
#: refinement depth guard — progress is guaranteed while lo < hi, but
#: degenerate FP ranges fall back to an exact histogram collect
MAX_DEPTH = 64
#: inputs of at most this many rows are answered from one driver-side
#: Arrow collect (:func:`_small_input_quantiles`); larger ones run the
#: distributed engine
SMALL_INPUT_MAX_ROWS = MAX_BOUNDARY_COLLECT


def _small_input_quantiles(
    df: DataFrame, col_probs: dict[str, Sequence[float]]
) -> dict[str, list[float]] | None:
    """The small-input path: collect the requested columns (as doubles)
    once with ``limit(bound + 1).toArrow()`` — one job, no Python
    worker — and return None when the collect holds more than
    :data:`SMALL_INPUT_MAX_ROWS` rows. Otherwise every rank is read
    off a numpy sort, which orders −inf < finite < +inf < NaN like
    Spark; nulls are dropped, NaN counts toward n, and ``+ 0.0`` turns
    −0.0 into +0.0 as the distributed path's ``groupBy`` key
    normalization does."""
    import numpy as np

    bound = SMALL_INPUT_MAX_ROWS
    cols = list(col_probs)
    tbl = (
        df.select(
            *[F.col(c).cast("double").alias(f"__q_{i}") for i, c in enumerate(cols)]
        )
        .limit(bound + 1)
        .toArrow()
    )
    if tbl.num_rows > bound:
        return None
    out: dict[str, list[float]] = {}
    for i, c in enumerate(cols):
        vals = np.sort(tbl.column(i).drop_null().to_numpy() + 0.0)
        n = len(vals)
        res = []
        for p in col_probs[c]:
            if n == 0:
                res.append(float("nan"))
                continue
            k0, k1, frac = rank_spec(n, p)
            res.append(interp(float(vals[k0 - 1]), float(vals[k1 - 1]), frac))
        out[c] = res
    return out


def _bucket_expr(v, lo: float, width: float):
    """The shared JVM-side bucket assignment; `_bucket_of` is its exact
    Python twin (both pure IEEE-double ops, so they always agree)."""
    return F.least(
        F.lit(N_BUCKETS - 1),
        F.floor((v - F.lit(lo)) / F.lit(width) * N_BUCKETS),
    ).cast("int")


def _bucket_of(v: float, lo: float, width: float) -> int:
    return min(N_BUCKETS - 1, int(math.floor((v - lo) / width * N_BUCKETS)))


#: transport crossover (measured at 600k rows): the Arrow path pays a
#: fixed Python-worker + serialization cost PER PASS that the JVM
#: explode path does not, while the explode path pays row-count ×
#: column-count intermediate rows. At 1 column the fixed cost dominates
#: (iqr_clip 0.64 s JVM vs 1.08 s Arrow); at 25 columns the explode
#: rows do (4.9 s JVM vs ~1.1 s Arrow). Bucket math is bit-identical on
#: both, so the dispatch on column count is invisible to results.
JVM_TRANSPORT_MAX_COLS = 8


def _multi_pass(
    df: DataFrame,
    specs: list[tuple[str, float, float]],
    needed: dict[str, list[int]] | None,
):
    """The multi-column histogram / boundary-value transport. Two
    bit-identical implementations, dispatched on column count (see
    :data:`JVM_TRANSPORT_MAX_COLS`): few columns ride the JVM
    struct-explode (codegen, no Python workers), many columns ride
    Arrow batches + numpy ``bincount``/``unique`` partials.

    ``needed`` is None for the HISTOGRAM pass (emit (c, b, cnt) bucket
    partials) or a {col: [bucket...]} map for the BOUNDARY pass (emit
    (c, v, cnt) value partials for just those buckets — expected
    n/N_BUCKETS values per bucket). Each task's output is bounded by
    N_BUCKETS (histogram) / the boundary buckets' distinct values —
    the driver collect stays O(N_BUCKETS)-ish either way."""
    if len(specs) <= JVM_TRANSPORT_MAX_COLS:
        return _multi_pass_jvm(df, specs, needed)
    return _multi_pass_arrow(df, specs, needed)


def _multi_pass_jvm(
    df: DataFrame,
    specs: list[tuple[str, float, float]],
    needed: dict[str, list[int]] | None,
):
    """JVM transport: ``explode(array(<struct per column>))`` into a
    hash aggregate, used for FEW columns where its
    row-count × column-count intermediate stays cheap and whole-stage
    codegen beats the Arrow path's fixed per-pass Python-worker cost.
    Bucket assignment is :func:`_bucket_expr` — the exact JVM twin of
    the numpy math in :func:`_multi_pass_arrow` (pure IEEE-double ops,
    always agree)."""
    inf = float("inf")
    structs = []
    for c, lo, width in specs:
        v = F.col(c).cast("double")
        fin = (
            v.isNotNull() & ~F.isnan(v) & (v != F.lit(inf)) & (v != F.lit(-inf))
        )
        if needed is None:
            k = _bucket_expr(v, lo, width).cast("double")
        else:
            b = _bucket_expr(v, lo, width)
            k = F.when(b.isin([int(x) for x in needed[c]]), v)
        structs.append(
            F.struct(F.lit(c).alias("c"), F.when(fin, k).alias("k"))
        )
    return (
        df.select(F.explode(F.array(*structs)).alias("s"))
        .select(F.col("s.c").alias("c"), F.col("s.k").alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("c", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )


def _probe_executor_python_env(spark: SparkSession) -> None:
    """Fail fast, with a clear message, when the EXECUTOR Python envs
    lack the Arrow transport's dependencies (pandas / pyarrow / numpy);
    :func:`_multi_pass_arrow` runs it before its first pass. Driver and
    executor envs often differ on YARN/K8s, so a cluster missing them
    fails with install instructions, not mid-job. The probe is a minimal
    mapInPandas job spread over default-parallelism tasks — it reaches
    the executors that pick up its tasks, representative, not
    exhaustive; its success is cached on the SparkSession."""
    if getattr(spark, "_arrow_env_probed", False):
        return

    def _probe(batches):
        # each probed import is wrapped so ANY failure to import the
        # module, a broken transitive dependency included, surfaces
        # under the sentinel the driver-side rebrand anchors on
        import importlib

        for _mod in ("numpy", "pandas", "pyarrow"):
            try:
                importlib.import_module(_mod)
            except BaseException as e:
                raise ImportError(
                    f"executor-env-probe: import {_mod} failed: {e!r}"
                ) from e
        for b in batches:
            yield b

    try:
        # sparkContext raises on Spark Connect sessions — the probe
        # still works there (range/mapInPandas are Connect-compatible),
        # it just spreads over a fixed task count instead
        try:
            n = spark.sparkContext.defaultParallelism
        except Exception:  # pragma: no cover - Connect-only path
            n = 8
        spark.range(n).repartition(n).mapInPandas(_probe, "id long").count()
    except Exception as exc:  # pragma: no cover - env-dependent
        # Rebrand ONLY failures of the probe's OWN three imports — a
        # preempted executor, a transient shuffle error, or an exception
        # that merely ECHOES 'ImportError' must propagate as itself.
        # TWO anchored forms rebrand: the 'executor-env-probe:' sentinel
        # the probe wraps its imports in (covers transitive breakage,
        # e.g. pandas present but dateutil missing), and the raw
        # missing-module traceback naming one of the three — when
        # pandas/pyarrow are absent outright, the pyspark worker
        # bootstrap dies before the sentinel wrapper runs.
        import re

        msg = f"{type(exc).__name__}: {exc}"
        probe_module_missing = re.search(
            r"executor-env-probe: import (?:numpy|pandas|pyarrow) failed:[^\n]*"
            r"|(?:ImportError|ModuleNotFoundError): No module named "
            # dotted SUBMODULES of the three only, with a trailing
            # word-boundary guard — [\w.]* would also swallow
            # '_'-suffixed sibling packages (pyarrow_hotfix,
            # pandas_flavor) and rebrand an unrelated missing module
            r"'?(?:numpy|pandas|pyarrow)(?:\.\w+)*'?(?!\w)",
            msg,
        )
        if not probe_module_missing:
            raise
        raise ImportError(
            "the exact-quantile engine's Arrow bincount transport "
            "(functions/quantiles.py, inputs above SMALL_INPUT_MAX_ROWS "
            "rows with more than JVM_TRANSPORT_MAX_COLS columns) requires "
            "pandas, pyarrow and numpy in every EXECUTOR Python "
            "environment. An executor failed the probe; install them in "
            f"the cluster Python environment. "
            f"Probe failure: {probe_module_missing.group(0)}"
        ) from exc
    spark._arrow_env_probed = True


def _multi_pass_arrow(
    df: DataFrame,
    specs: list[tuple[str, float, float]],
    needed: dict[str, list[int]] | None,
):
    """Arrow transport: numpy ``bincount``/``unique`` partials per task,
    merged by a tiny (column, key) aggregation, used for MANY columns
    where the explode's row-count × column-count intermediate rows
    dominate (at 25 columns × 600k rows the explode passes cost 10× the
    scan: 4.9 s vs 1.1 s). Per-element ops are IEEE-identical to the
    JVM expression (``(v − lo) / width · B`` then ``floor`` then the B−1
    clamp, exactly :func:`_bucket_of`), so the histogram is bit-equal;
    the engine's property suite covers it.

    ``mapInArrow``, not ``mapInPandas``: the numpy partials need no
    pandas (measured at 25 columns × 600k rows: 1.92 → 1.57 s per
    pass); ``Array.to_numpy(zero_copy_only=False)`` gives the float64
    array with nulls as NaN. The partials column ``c`` stays the
    COLUMN NAME (not an index) so the merged rows are drop-in for both
    callers. Its first use in a session runs
    :func:`_probe_executor_python_env`."""
    import numpy as np
    import pyarrow as pa

    _probe_executor_python_env(df.sparkSession)

    aliases = [(f"__q_{i}", c, lo, width) for i, (c, lo, width) in enumerate(specs)]
    sub = df.select(
        *[F.col(c).cast("double").alias(a) for a, c, _, _ in aliases]
    )
    B = N_BUCKETS
    need_arrs = (
        {c: np.asarray(bs, dtype=np.int64) for c, bs in needed.items()}
        if needed is not None
        else None
    )

    def gen(batches):
        for rb in batches:
            out_c: list = []
            out_k: list = []
            out_n: list = []
            for i, (a, c, lo, width) in enumerate(aliases):
                arr = rb.column(i).to_numpy(zero_copy_only=False)
                m = np.isfinite(arr)
                if not m.any():
                    continue
                vals = arr[m]
                b = np.minimum(
                    B - 1, np.floor((vals - lo) / width * B)
                ).astype(np.int64)
                if need_arrs is None:
                    cnt = np.bincount(b)
                    nz = np.flatnonzero(cnt)
                    ks, ns = nz.astype("float64"), cnt[nz]
                else:
                    sel = np.isin(b, need_arrs[c])
                    if not sel.any():
                        continue
                    # -0.0/+0.0 sign bits need no handling here: these
                    # partials feed the groupBy("c","k") below, whose
                    # NormalizeFloatingNumbers rule canonicalizes -0.0
                    # keys to +0.0 — the SAME normalizer the JVM
                    # transport's groupBy applies, so the transports
                    # agree on zero's sign (the dual-transport lockstep
                    # tests pin it)
                    ks, ns = np.unique(vals[sel], return_counts=True)
                out_c.append(np.full(len(ks), i, dtype=np.int64))
                out_k.append(ks)
                out_n.append(ns)
            if out_c:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_c), type=pa.int64()),
                        pa.array(np.concatenate(out_k), type=pa.float64()),
                        pa.array(np.concatenate(out_n), type=pa.int64()),
                    ],
                    names=["ci", "k", "cnt"],
                )

    names = [c for c, _, _ in specs]
    return [
        {"c": names[r["ci"]], "k": r["k"], "cnt": r["cnt"]}
        for r in (
            sub.mapInArrow(gen, "ci long, k double, cnt long")
            .groupBy("ci", "k")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
    ]


def _walk(rows, base: int, ks: Sequence[int], out: dict[int, float]) -> None:
    """Resolve ranks from sorted (value, count) pairs starting at global
    rank ``base`` (exclusive)."""
    acc = base
    for v, cnt in rows:
        for k in ks:
            if acc < k <= acc + cnt:
                out[k] = float(v)
        acc += cnt


def _kth_smallest(
    frame: DataFrame, ks: Sequence[int], lo: float, hi: float, base: int = 0
) -> dict[int, float]:
    """Exact k-th smallest values (1-based global ranks ``ks``) of the
    non-NaN double column ``v`` of ``frame``, whose values lie in
    [lo, hi] and which holds ranks base+1.. — by iterative bucket
    refinement. Every collect is ≤ max(N_BUCKETS, MAX_BOUNDARY_COLLECT)
    rows; skewed buckets recurse instead of collecting."""
    out: dict[int, float] = {}
    pending = [(tuple(ks), frame, lo, hi, base, 0)]
    while pending:
        ks_, fr, lo_, hi_, base_, depth = pending.pop()
        if lo_ == hi_:
            for k in ks_:
                out[k] = float(lo_) + 0.0  # -0.0 → +0.0
            continue
        if depth >= MAX_DEPTH:  # pragma: no cover - degenerate FP ranges
            rows = [
                (r["v"], r["c"])
                for r in fr.groupBy("v").agg(F.count(F.lit(1)).alias("c")).orderBy("v").collect()
            ]
            _walk(rows, base_, ks_, out)
            continue
        width = hi_ - lo_
        b = _bucket_expr(F.col("v"), lo_, width)
        hist = {
            r["b"]: r["c"]
            for r in fr.groupBy(b.alias("b")).agg(F.count(F.lit(1)).alias("c")).collect()
        }
        buckets = sorted(hist)
        cum, acc = [], 0
        for j in buckets:
            acc += hist[j]
            cum.append(acc)
        by_bucket: dict[int, list[int]] = defaultdict(list)
        for k in ks_:
            i = bisect.bisect_left(cum, k - base_)
            by_bucket[i].append(k)
        collect_now = []
        for i, kk in by_bucket.items():
            j, start = buckets[i], (cum[i - 1] if i else 0)
            if hist[j] <= MAX_BOUNDARY_COLLECT:
                collect_now.append((j, start, kk))
            else:
                sub = fr.filter(_bucket_expr(F.col("v"), lo_, width) == j)
                sst = sub.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).first()
                pending.append((tuple(kk), sub, sst["lo"], sst["hi"], base_ + start, depth + 1))
        if collect_now:
            needed = [j for j, _, _ in collect_now]
            rows = (
                fr.filter(_bucket_expr(F.col("v"), lo_, width).isin(needed))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy("v")
                .collect()
            )
            per_bucket: dict[int, list[tuple[float, int]]] = defaultdict(list)
            for r in rows:
                per_bucket[_bucket_of(r["v"], lo_, width)].append((r["v"], r["c"]))
            for j, start, kk in collect_now:
                _walk(per_bucket[j], base_ + start, kk, out)
    return out


def exact_quantiles_multi(
    df: DataFrame, col_probs: dict[str, Sequence[float]]
) -> dict[str, list[float]]:
    """Exact interpolated quantiles for SEVERAL columns — see module
    docstring. A small input costs one job (the Arrow collect); a large
    one that collect's partial job plus three passes (stats, histograms,
    boundary values) and any skew recursion. Returns
    ``{col: [q for each prob]}``; empty columns yield NaN."""
    small = _small_input_quantiles(df, col_probs)
    if small is not None:
        return small
    cols = list(col_probs)
    inf = float("inf")
    aggs = []
    for c in cols:
        v = F.col(c).cast("double")
        nn = v.isNotNull() & ~F.isnan(v)
        fin = nn & (v != F.lit(inf)) & (v != F.lit(-inf))
        aggs += [
            F.count(F.when(v.isNotNull(), 1)).alias(f"__n_{c}"),
            F.min(F.when(fin, v)).alias(f"__lo_{c}"),
            F.max(F.when(fin, v)).alias(f"__hi_{c}"),
            F.count(F.when(fin, 1)).alias(f"__nf_{c}"),
            F.count(F.when(nn & (v == F.lit(-inf)), 1)).alias(f"__ni_{c}"),
            F.count(F.when(nn, 1)).alias(f"__nr_{c}"),
        ]
    st = df.agg(*aggs).first().asDict()

    def _region_value(c: str, k: int) -> float | None:
        """Value of rank k when it falls OUTSIDE the finite-selection
        window (IEEE sort order: -inf < finite < +inf < NaN), or None
        when selection must resolve it."""
        n_neg, n_fin, n_real = st[f"__ni_{c}"], st[f"__nf_{c}"], st[f"__nr_{c}"]
        if k <= n_neg:
            return -inf
        if k <= n_neg + n_fin:
            return None
        if k <= n_real:
            return inf
        return float("nan")

    # ranks each column needs resolved by selection — LOCAL ranks within
    # the finite window (global rank minus the -inf prefix); every other
    # region (±inf, NaN) resolves in closed form above
    specs: dict[str, list[tuple[int, int, float]]] = {}
    need: dict[str, list[int]] = {}
    for c, probs in col_probs.items():
        n = st[f"__n_{c}"] or 0
        sp, ks = [], set()
        for p in probs:
            if n == 0:
                sp.append((0, 0, 0.0))
                continue
            # the shared invariant-6 rank math (functions.rank_math):
            # 0-based position FIRST, then the 1-based flanking shift
            k0, k1, frac = rank_spec(n, p)
            sp.append((k0, k1, frac))
            ks.add(k0)
            # the upper flank is only read when interpolation happens —
            # skip resolving it for integral positions (saves a bucket
            # locate+collect whenever p lands exactly on a rank)
            if frac != 0.0:
                ks.add(k1)
        specs[c] = sp
        n_neg, lo, hi = st[f"__ni_{c}"], st[f"__lo_{c}"], st[f"__hi_{c}"]
        if st[f"__nf_{c}"] and lo != hi:
            need[c] = sorted(
                k - n_neg for k in ks if _region_value(c, k) is None
            )
        else:
            need[c] = []

    # one histogram job for every column that needs selection (Arrow
    # bincount partials — see _multi_pass for the measured rationale)
    hist_specs = [
        (c, st[f"__lo_{c}"], st[f"__hi_{c}"] - st[f"__lo_{c}"])
        for c in cols
        if need[c]
    ]
    hist: dict[tuple[str, int], int] = {}
    if hist_specs:
        for r in _multi_pass(df, hist_specs, None):
            hist[(r["c"], int(r["k"]))] = r["cnt"]

    # locate buckets; batch the well-behaved ones into ONE boundary job,
    # recurse per skewed bucket via _kth_smallest
    resolved: dict[str, dict[int, float]] = {c: {} for c in cols}
    boundary_need: dict[str, list[int]] = {}
    walk_plan: list[tuple[str, int, int, list[int]]] = []  # (col, bucket, start, ks)
    for c in cols:
        if not need[c]:
            continue
        lo, hi = st[f"__lo_{c}"], st[f"__hi_{c}"]
        width = hi - lo
        buckets = sorted(b for (cc, b) in hist if cc == c)
        cum, acc = [], 0
        for j in buckets:
            acc += hist[(c, j)]
            cum.append(acc)
        by_bucket: dict[int, list[int]] = defaultdict(list)
        for k in need[c]:
            by_bucket[bisect.bisect_left(cum, k)].append(k)
        v = F.col(c).cast("double")
        fin = (
            v.isNotNull() & ~F.isnan(v) & (v != F.lit(inf)) & (v != F.lit(-inf))
        )
        col_buckets: list[int] = []
        for i, kk in by_bucket.items():
            j, start = buckets[i], (cum[i - 1] if i else 0)
            if hist[(c, j)] <= MAX_BOUNDARY_COLLECT:
                walk_plan.append((c, j, start, kk))
                col_buckets.append(j)
            else:
                sub = df.filter(fin & (_bucket_expr(v, lo, width) == j)).select(
                    v.alias("v")
                )
                sst = sub.agg(F.min("v").alias("l"), F.max("v").alias("h")).first()
                resolved[c].update(
                    _kth_smallest(sub, kk, sst["l"], sst["h"], base=start)
                )
        if col_buckets:
            boundary_need[c] = col_buckets
    if boundary_need:
        # one boundary job for every column at once (the Arrow value
        # pass — bucket membership is decided task-side on the same
        # float64 bucket math; the driver-side walk regroups values by
        # bucket via _bucket_of exactly as before)
        bspecs = [
            (c, st[f"__lo_{c}"], st[f"__hi_{c}"] - st[f"__lo_{c}"])
            for c in cols
            if c in boundary_need
        ]
        rows = sorted(
            _multi_pass(df, bspecs, boundary_need),
            key=lambda r: (r["c"], r["k"]),
        )
        per_cb: dict[tuple[str, int], list[tuple[float, int]]] = defaultdict(list)
        for r in rows:
            c = r["c"]
            lo, hi = st[f"__lo_{c}"], st[f"__hi_{c}"]
            per_cb[(c, _bucket_of(r["k"], lo, hi - lo))].append((r["k"], r["cnt"]))
        for c, j, start, kk in walk_plan:
            _walk(per_cb[(c, j)], start, kk, resolved[c])

    out: dict[str, list[float]] = {}
    for c in cols:
        n = st[f"__n_{c}"] or 0
        n_neg, lo = st[f"__ni_{c}"], st[f"__lo_{c}"]

        def _value_at(k: int) -> float:
            region = _region_value(c, k)
            if region is not None:
                return region
            if need[c]:
                try:
                    return resolved[c][k - n_neg]
                except KeyError:
                    # a missing rank here means bucket location or
                    # recursion went wrong — fail loudly rather than
                    # degrade to a silently-wrong NaN (NaN results may
                    # only come from the closed-form NaN region)
                    raise AssertionError(
                        f"quantile engine: rank {k} (finite-window rank "
                        f"{k - n_neg}) of column {c!r} was never resolved"
                    ) from None
            # finite window exists but needed no selection: every
            # finite value equals lo (the lo == hi degenerate case);
            # min() may return -0.0, which the groupBy paths normalize
            return float(lo) + 0.0

        res = []
        for k0, k1, frac in specs[c]:
            if n == 0:
                res.append(float("nan"))
                continue
            # frac == 0 short-circuits BEFORE _value_at(k1): rank k0 IS
            # the target, AND the upper flank was deliberately never
            # resolved for integral positions (see the `ks.add` above) —
            # rank_math.interp's own guard cannot give that back
            v0 = _value_at(k0)
            if frac == 0.0:
                res.append(v0)
                continue
            # the shared symmetric interpolation (invariant 6 — see
            # functions.rank_math for the cancellation/±inf rationale)
            res.append(interp(v0, _value_at(k1), frac))
        out[c] = res
    return out


def exact_quantiles(
    df: DataFrame, value_col: str, probs: Sequence[float]
) -> list[float]:
    """Exact interpolated quantiles of ``value_col`` (nulls ignored,
    NaN ranks last), computed without any single-node value buffer."""
    return exact_quantiles_multi(df, {value_col: probs})[value_col]
