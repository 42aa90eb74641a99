"""Similarity search over the ``embeddings`` table (``array<float>``,
64-dim): brute-force cosine top-k as the exact baseline, IVF and
bucketed-LSH candidate generation as the scale paths, and
embedding-cosine near-dup.

Dot products are native higher-order array expressions
(``zip_with`` + ``aggregate``) computed in float64 with fixed
accumulation order, so results are reproducible and oracle-comparable
(DuckDB ``list_cosine_similarity`` on ``DOUBLE[]``).

EVERY op here is oracle-certified, including the ANN paths — possible
because the index-build randomness is replaced with determinism the
oracle can replay:

- the IVF / semantic-dedup coarse quantizer is a fixed-iteration Lloyd
  k-means fit on an md5-hash sample, initialized from the sample's K
  lowest vec_ids, with distances and centroid means pinned to shared
  IEEE rounding (``round_cmp``) — DuckDB re-derives bit-identical
  centroids from unrolled CTEs (verified: exact equality);
- the LSH hyperplanes draw their coefficients from md5 of the
  (table, plane, dim) index — the same constants fall out of SQL's
  ``md5()`` and Python's ``hashlib`` — so bucket keys, candidate sets,
  and therefore results match exactly.

Deterministic index builds are not just a test convenience: at 100 TB
they make index rebuilds reproducible across reruns, engines, and
incremental refreshes — the same argument as hash-based sampling.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import artifacts
from ..functions.lineage import lineage_cut
from .registry import load, query, round_cmp, round_cmp_sql

N_QUERIES = 10
TOP_K = 5


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _dot_sql(a: str, b: str) -> str:
    """Spark-SQL text twin of :func:`_dot` (r17): one ``F.expr`` parse
    instead of ~25 py4j round-trips per dot — the same driver-latency
    rationale as :func:`_lsh_buckets`' one-string bucket expression.
    Parses to the IDENTICAL Catalyst tree (aggregate/zip_with with a
    0.0D seed), so pinned values are unchanged."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        " (acc, v) -> acc + v)"
    )


def _rc_sql(expr: str, dp: int) -> str:
    """Spark-SQL text twin of ``registry.round_cmp`` — same IEEE-double
    formula, D-suffixed literals so Spark parses doubles (a bare
    ``1000000.0`` parses as DECIMAL in Spark SQL)."""
    scale = float(10**dp)
    return f"floor(round({expr}, {dp + 3}) * {scale!r}D + 0.5D) / {scale!r}D"


def _d2s_sql(vv: str, v: str, c: str) -> str:
    """Spark-SQL text twin of :func:`_d2s` — ``c`` is any SQL fragment
    exposing ``cv``/``cc`` fields (a lambda variable or a literal-array
    ``element_at``)."""
    return _rc_sql(f"{vv} - 2 * {_dot_sql(v, c + '.cv')} + {c}.cc", 6)


def _norm2(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors with their L2 norm precomputed ONCE per row — cosine
    inside a pair join then costs one zip_with dot, not a dot plus two
    re-derived norms per candidate pair (2/3 of the pair work)."""
    e = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id", "label", v.alias("v"), _norm2(v).alias("nrm")
    )


@query(
    "similarity_bruteforce_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.qv, e.v), 6) AS cosine
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: top-{TOP_K} cosine neighbors for each of the
    first {N_QUERIES} vectors.

    Scale shape: the query set is broadcast (it is small BY DEFINITION —
    that's what makes brute force viable); the corpus streams through a
    map-side cross join scoring pass, then per-query top-k is a
    partial-topk-then-merge (window over query_id after a shuffle of only
    the scored rows). At 100 TB you page the corpus, never the queries.
    """
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


@query(
    "embedding_neardup_topk",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ORDER BY cosine DESC, vec_a, vec_b
    LIMIT 25
    """,
)
def embedding_neardup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: top-25 most-similar
    same-label pairs. Blocking on the label column keeps the pair space
    |label-class|² instead of n² — the generic pattern: near-dup search
    ALWAYS needs a blocking key (label, LSH bucket, simhash band) before
    the quadratic verify."""
    e = _emb(spark, sf_dir)
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_a", "vec_b")
        .limit(25)
    )


N_IVF_CELLS = 16
#: 6-of-16 probes: this corpus is near-isotropic (random unit vectors),
#: so cell membership only weakly predicts the true top-k — 6 probes
#: measure recall 0.64 @5 (4 probes sat at 0.48). Clustered production
#: embeddings concentrate neighbors in 1-2 cells and probe fewer.
N_PROBE = 6
#: md5(vec_id) 16-bit prefix thresholds: 0x4ccc/0x10000 ≈ 30% fit
#: sample for IVF, 0x8000 ≈ 50% for semantic dedup
_IVF_SAMPLE_HEX = "4ccc"
_IVF_ITERS = 2
_DIM = 64


def _d2s(vv: Column, v: Column, c: Column) -> Column:
    """Pinned squared L2 distance ‖v-c‖² = v·v - 2v·c + c·c against one
    centroid struct. The inner-product form (not Σ(x-y)²) lets the
    oracle use list_inner_product; both engines' FP noise (~1e-13) is
    absorbed by round_cmp(·, 6). ``vv`` is the row's v·v computed ONCE
    (not per centroid), and ``c["cc"]`` is the centroid's c·c as a
    driver-precomputed literal (Python's left-to-right double sum is
    bit-identical to the engines') — so per-centroid work is a single
    dot product."""
    return round_cmp(vv - 2 * _dot(v, c["cv"]) + c["cc"], 6)


def _d2_sql(v: str, cv: str) -> str:
    return round_cmp_sql(
        f"list_inner_product({v}, {v}) - 2*list_inner_product({v}, {cv})"
        f" + list_inner_product({cv}, {cv})",
        6,
    )


def _cent_array_sql(cents: list[tuple[int, list[float]]]) -> str:
    """Centroids as a literal array<struct<cell,cv,cc>> SQL fragment —
    folded into the row expression, so cell assignment is narrow (NO
    join, NO shuffle): the pattern that lets a 100 TB corpus assign
    cells in one scan. ONE parsed SQL expression: the F.lit/F.struct
    equivalent costs a py4j round-trip per literal (K×dim ≈ 1600 calls,
    ~2 s of pure driver overhead per plan — measured); one F.expr parse
    is ~5 ms. repr() round-trips doubles exactly, so the literals are
    bit-identical to the collected centroid values. r17: returns the
    TEXT so consuming expressions (assignment, probe ranking, ADC)
    compose into one parse themselves instead of nesting Column calls."""
    items = []
    for c, cv in cents:
        arr = ",".join(f"{float(x)!r}D" for x in cv)
        cc = f"{float(sum(x * x for x in cv))!r}D"
        items.append(
            f"named_struct('cell', {int(c)}, 'cv', array({arr}), 'cc', {cc})"
        )
    return "array(" + ",".join(items) + ")"


def _cent_array(cents: list[tuple[int, list[float]]]) -> Column:
    """Column form of :func:`_cent_array_sql` for call-sites that embed
    the array inside DataFrame-API expressions."""
    return F.expr(_cent_array_sql(cents))


def _cent_dense_sql(
    cents: list[tuple[int, list[float]]], k: int, subdim: int
) -> str:
    """Centroids as a DENSE literal array (slot i+1 holds cell i) for
    O(1) ``element_at(arr, code + 1)`` code→centroid lookup (r17): the
    previous ``element_at(filter(arr, c -> c.cell = code), 1)`` form
    re-scanned all ``k`` entries through an interpreted lambda per
    lookup — and each ADC term reads the struct twice (cv and cc), so
    every scored pair paid 2·M·k lambda evaluations. Cells the pinned
    Lloyd fit dropped hold a NEVER-REFERENCED filler (codes and cell
    assignments only ever name surviving cells, by construction of the
    argmin), so results are identical; pinned by the unchanged oracle
    parity of all three PQ-family ops."""
    by = dict(cents)
    items = []
    for i in range(k):
        cv = by.get(i)
        if cv is None:
            arr = ",".join("0.0D" for _ in range(subdim))
            cc = "CAST('NaN' AS DOUBLE)"
        else:
            arr = ",".join(f"{float(x)!r}D" for x in cv)
            cc = f"{float(sum(x * x for x in cv))!r}D"
        items.append(f"named_struct('cell', {i}, 'cv', array({arr}), 'cc', {cc})")
    return "array(" + ",".join(items) + ")"


def _best_cell_sql(v: str, vv: str, arr_sql: str) -> str:
    """struct(d2, cell) of the nearest centroid — array_min over
    struct ordering = argmin with deterministic cell tiebreak.
    ``v``/``vv`` are SQL fragments (typically column names)."""
    d2 = _d2s_sql(vv, v, "c")
    return (
        f"array_min(transform({arr_sql},"
        f" c -> named_struct('d2', {d2}, 'cell', c.cell)))"
    )


def _best_cell(v: str, vv: str, arr_sql: str) -> Column:
    """Column form of :func:`_best_cell_sql` (r17: the argument
    convention moved from Column objects to SQL text — one F.expr
    parse replaces the per-centroid lambda/struct py4j traffic; the
    parsed tree, and so every pinned value, is identical)."""
    return F.expr(_best_cell_sql(v, vv, arr_sql))


def _probe_cells_expr(arr_sql: str, v: str, vv: str) -> Column:
    """Per-query probe list: rank centroids by pinned d2, keep
    ``N_PROBE`` — all inside ONE narrow array expression (sort the
    struct array). ``v``/``vv`` name the query-vector column and its
    precomputed self-dot. Shared by the flat IVF op and the composed
    IVF-ADC op."""
    d2 = _d2s_sql(vv, v, "c")
    return F.expr(
        f"slice(array_sort(transform({arr_sql},"
        f" c -> named_struct('d2', {d2}, 'cell', c.cell))), 1, {N_PROBE})"
    )


def _det_kmeans_fit(
    spark: SparkSession, e: DataFrame, k: int, iters: int, sample_hex: str
) -> list[tuple[int, list[float]]]:
    """Deterministic fixed-iteration Lloyd k-means, the coarse quantizer
    behind the IVF and semantic-dedup ops.

    Determinism contract (the oracle replays every step in SQL):
    fit set = rows with md5(vec_id) 16-bit prefix < sample_hex (hash
    sample, not rand()); init = the sample's ``k`` lowest vec_ids;
    assignment = argmin of round_cmp-pinned d2 with cell-id tiebreak;
    new centroid = per-dimension mean pinned with round_cmp(·, 9).
    Cells that lose every member drop out on both sides identically.

    Scale shape: the per-iteration work is one narrow assignment scan of
    the SAMPLE plus a (cell, dim)-keyed partial-aggregated mean; only
    k×dim values ever reach the driver. At 100 TB the sample threshold
    is the only knob — the corpus itself is never scanned until the
    final (also narrow) assignment pass.
    """
    samp = lineage_cut(
        e.filter(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4) < sample_hex
        ).select("vec_id", "v")
    )
    init = samp.orderBy("vec_id").limit(k).collect()
    cents = [(i, list(r["v"])) for i, r in enumerate(init)]
    for _ in range(iters):
        arr = _cent_array_sql(cents)
        assigned = samp.withColumn("__vv", F.expr(_dot_sql("v", "v"))).select(
            "v", _best_cell("v", "__vv", arr)["cell"].alias("cell")
        )
        rows = (
            assigned.select("cell", F.posexplode("v").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(round_cmp(F.avg("x"), 9).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("sm"))
            .select("cell", F.expr("transform(sm, s -> s.m)").alias("cv"))
            .orderBy("cell")
            .collect()
        )
        cents = [(r["cell"], list(r["cv"])) for r in rows]
    return cents


def _fit_cached(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    iters: int,
    sample_hex: str,
    *,
    key_suffix: str = "",
    e: DataFrame | None = None,
) -> list[tuple[int, list[float]]]:
    """:func:`_det_kmeans_fit` held in the artifact memo
    (``functions/artifacts.py``), stamped on the embeddings table's
    files: the fit is a pure function of that table and the params
    (md5-hash sample, deterministic init, pinned rounding), so a repeat
    call skips ~0.9 s of driver-side Lloyd iterations at sf0.1 while the
    assignment scan, probe and re-score still run per call, and a table
    rewritten in place refits. ``key_suffix`` names a derived input
    handed in via ``e`` (a PQ subspace slice, a residual). At 100 TB
    this is the index-build vs index-serve split: the quantizer is fit
    once and SHIPPED with the index, not re-derived per query."""
    return artifacts.memo(
        spark, "kmeans_fit", sf_dir, "embeddings", (key_suffix, k, iters, sample_hex),
        lambda: _det_kmeans_fit(
            spark, _emb(spark, sf_dir) if e is None else e, k, iters, sample_hex
        ),
    )


def _kmeans_cte_sql(
    k: int,
    iters: int,
    sample_hex: str,
    *,
    prefix: str = "",
    vsel: str = "v",
    dims: str = "dims",
    emit_head: bool = True,
    src: str = "e",
) -> tuple[str, str]:
    """DuckDB twin of :func:`_det_kmeans_fit` as unrolled CTEs — the ONE
    textual statement of the pinned determinism contract (md5 sample,
    lowest-vec_id init, round_cmp-pinned argmin with cell tiebreak,
    round_cmp(·, 9) mean update), serving the IVF, semantic-dedup, AND
    per-subspace PQ fits. Returns (cte_body, final_centroid_table_name).

    ``prefix`` namespaces every CTE so several chains coexist in one
    query; ``vsel`` is the sample's vector projection (a subspace fit
    passes ``v[a:b] AS v``); ``dims`` names the 1..subdim index table;
    ``emit_head=False`` skips the shared ``e``/dims CTEs for callers
    that emit them once for many chains; ``src`` names the (vec_id, v)
    table the sample draws from (the residual-PQ fits pass a derived
    residual CTE, r14)."""
    d2 = _d2_sql("s.v", "c.cv")
    head = (
        f"""
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    {prefix}samp AS (SELECT vec_id, {vsel} FROM {src}
             WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '{sample_hex}'),
    dims AS (SELECT unnest(generate_series(1, {_DIM})) AS i),"""
        if emit_head
        else f"""
    {prefix}samp AS (SELECT vec_id, {vsel} FROM {src}
             WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '{sample_hex}'),"""
    )
    parts = [
        head
        + f"""
    {prefix}c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
                  v AS cv
           FROM {prefix}samp ORDER BY vec_id LIMIT {k})"""
    ]
    prev = f"{prefix}c0"
    for t in range(1, iters + 1):
        parts.append(
            f"""
    {prefix}a{t} AS (SELECT v, cell FROM (
      SELECT s.v, c.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY {d2}, c.cell) AS rn
      FROM {prefix}samp s, {prev} c) WHERE rn = 1),
    {prefix}c{t} AS (SELECT cell, list(m ORDER BY i) AS cv FROM (
      SELECT a.cell, d.i, {round_cmp_sql("AVG(a.v[d.i])", 9)} AS m
      FROM {prefix}a{t} a, {dims} d GROUP BY a.cell, d.i) GROUP BY cell)"""
        )
        prev = f"{prefix}c{t}"
    return ",".join(parts), prev


_IVF_CTE, _IVF_CENT = _kmeans_cte_sql(N_IVF_CELLS, _IVF_ITERS, _IVF_SAMPLE_HEX)


def _ivf_assign_probe_ctes(assigned_cols: str = "vec_id, v, cell") -> str:
    """The IVF oracle's assigned/q/probes CTE block — ONE textual
    statement of the pinned coarse-quantizer serve contract (round_cmp
    d2 argmin with cell tiebreak for assignment, rn <= {N_PROBE} for
    the probe list), shared by the flat IVF oracle and the composed
    IVF-ADC oracle. ``assigned_cols`` is the assignment projection —
    the flat op re-scores raw vectors so it carries ``v``; the
    composed op scores codes and needs only ``vec_id, cell``."""
    return f"""
    assigned AS (SELECT {assigned_cols} FROM (
      SELECT s.vec_id, s.v, c.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY {_d2_sql("s.v", "c.cv")}, c.cell) AS rn
      FROM e s, {_IVF_CENT} c) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (SELECT query_id, qv, cell FROM (
      SELECT s.query_id, s.qv, c.cell,
             ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY {_d2_sql("s.qv", "c.cv")}, c.cell) AS rn
      FROM q s, {_IVF_CENT} c) WHERE rn <= {N_PROBE}),"""


@query(
    "similarity_ivf_topk",
    oracle=f"""
    WITH {_IVF_CTE},{_ivf_assign_probe_ctes()}
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 6) AS cosine
      FROM probes p JOIN assigned a USING (cell)
      WHERE a.vec_id <> p.query_id),
    ranked AS (SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the other classic scale path next to
    LSH: a deterministic k-means coarse quantizer (see
    :func:`_det_kmeans_fit`) assigns every vector to one of
    {N_IVF_CELLS} cells; each query probes only its {N_PROBE} nearest
    cells and re-scores exact cosine inside them — touching
    ~nprobe/cells of the corpus, never all of it.

    Scale shape: the quantizer fits on an md5-hash sample (never the
    full corpus at 100 TB), centroids come back as a tiny driver-side
    constant folded into a NARROW assignment expression (no join, no
    shuffle for cell assignment); search is a broadcast of the
    (query × probed-cell) list against the cell-assigned corpus. On
    disk you'd bucket/partition the corpus BY cell so a probe is a
    partition-pruned scan. Fully oracle-certified: the driver's DuckDB
    twin re-derives the same centroids, cells, probes, and neighbors.
    Recall vs the exact baseline is measured in tests/test_llm_ops.py.
    """
    e = _emb(spark, sf_dir)
    cents = _fit_cached(spark, sf_dir, N_IVF_CELLS, _IVF_ITERS, _IVF_SAMPLE_HEX)
    arr = _cent_array_sql(cents)
    assigned = e.withColumn("__vv", F.expr(_dot_sql("v", "v"))).select(
        "vec_id",
        "v",
        "nrm",
        _best_cell("v", "__vv", arr)["cell"].alias("cell"),
    )
    probes = (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
        .withColumn("__qvv", F.expr(_dot_sql("qv", "qv")))
        .select(
            "query_id",
            "qv",
            "qnrm",
            F.explode(_probe_cells_expr(arr, "qv", "__qvv")).alias("pc"),
        )
        .select("query_id", "qv", "qnrm", F.col("pc.cell").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


#: composite LSH geometry: _LSH_TABLES hash tables, each the
#: concatenation of _LSH_K bucketed projections of width _LSH_LEN.
#: Tuned on the driver corpus: recall@5 ≈ 0.76 vs exact while scoring
#: ~58% of the corpus per query — this corpus is near-isotropic (random
#: unit vectors, weak cluster structure), which bounds ANY LSH's
#: pruning; on genuinely clustered production embeddings the identical
#: geometry prunes much harder.
_LSH_TABLES = 12
_LSH_K = 3
_LSH_LEN = 0.5


def _lsh_planes() -> list[tuple[int, int, list[float]]]:
    """(table, plane, coefs): coefficients are md5-derived uniforms in
    [-0.5, 0.5) — the same constants DuckDB's md5() yields, so both
    engines project onto bit-identical hyperplanes."""
    return [
        (
            t,
            j,
            [
                int(hashlib.md5(f"{t}_{j}_{i}".encode()).hexdigest()[:8], 16)
                / 4294967295.0
                - 0.5
                for i in range(1, _DIM + 1)
            ],
        )
        for t in range(_LSH_TABLES)
        for j in range(_LSH_K)
    ]


def _lsh_buckets(df: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """One row per (vec, table) with the table's composite bucket key —
    '<b0>_<b1>_<b2>', each b = floor(pinned-projection / _LSH_LEN).
    The plane constants fold into the row expression: bucketing is a
    narrow scan, no shuffle, exactly like the IVF cell assignment. Like
    _cent_array, the whole bucket expression is ONE parsed SQL string
    (the F.lit equivalent would be ~2300 py4j calls); ROUND/FLOOR in
    SQL text are the same Catalyst functions round_cmp composes, so the
    pinned values are unchanged. ``extra`` columns of ``df`` (e.g. a
    split flag, a label) pass through unchanged."""
    planes = _lsh_planes()
    tables = []
    for t in range(_LSH_TABLES):
        parts = []
        for (tt, j, coefs) in planes:
            if tt != t:
                continue
            arr = ",".join(f"{float(x)!r}D" for x in coefs)
            ip = f"aggregate(zip_with(v, array({arr}), (x, y) -> x * y), 0.0D, (acc, w) -> acc + w)"
            pinned = f"FLOOR(ROUND({ip}, 9) * 1000000.0 + 0.5) / 1000000.0"
            parts.append(f"CAST(FLOOR({pinned} / {_LSH_LEN!r}D) AS STRING)")
        tables.append(
            f"named_struct('t', {t}, 'bkey', concat_ws('_', {','.join(parts)}))"
        )
    b = F.expr("array(" + ",".join(tables) + ")")
    return df.select("vec_id", "v", "nrm", *extra, F.explode(b).alias("b")).select(
        "vec_id", "v", "nrm", *extra, F.col("b.t").alias("t"), F.col("b.bkey").alias("bkey")
    )


def _lsh_planes_sql() -> str:
    return f"""
    planes AS (
      SELECT t, j, list(coef ORDER BY i) AS pv FROM (
        SELECT tp.t, tp.j, d.i,
               ('0x' || substr(md5(CAST(tp.t AS VARCHAR) || '_' ||
                                   CAST(tp.j AS VARCHAR) || '_' ||
                                   CAST(d.i AS VARCHAR)), 1, 8))::BIGINT
                 / 4294967295.0 - 0.5 AS coef
        FROM (SELECT t.t, j.j
              FROM (SELECT unnest(generate_series(0, {_LSH_TABLES - 1})) AS t) t,
                   (SELECT unnest(generate_series(0, {_LSH_K - 1})) AS j) j) tp,
             dims d)
      GROUP BY t, j),
    vb AS (
      SELECT e.vec_id, pl.t,
             string_agg(CAST(CAST(FLOOR(
               {round_cmp_sql("list_inner_product(e.v, pl.pv)", 6)} / {_LSH_LEN}
             ) AS BIGINT) AS VARCHAR), '_' ORDER BY pl.j) AS bkey
      FROM e, planes pl
      GROUP BY e.vec_id, pl.t)"""


@query(
    "similarity_lsh_bucketed",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT unnest(generate_series(1, {_DIM})) AS i),
    {_lsh_planes_sql()},
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM vb q JOIN vb c ON q.t = c.t AND q.bkey = c.bkey
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             ROUND(list_cosine_similarity(eq.v, ec.v), 6) AS cosine
      FROM cand JOIN e eq ON eq.vec_id = cand.query_id
                JOIN e ec ON ec.vec_id = cand.neighbor_id),
    ranked AS (SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def similarity_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN via composite bucketed random projections:
    {_LSH_TABLES} hash tables × {_LSH_K} md5-derived hyperplanes each;
    a pair is a candidate when ANY table's composite bucket key matches
    (equi-join on (table, key) — never a cross product); exact cosine
    re-scores candidates only. Same output shape as the brute-force
    baseline so recall is measurable (tests/test_llm_ops.py).

    Scale shape: bucketing is a narrow expression scan; the candidate
    join shuffles on (table, bucket-key) — bounded buckets, Σfreq² not
    n²; query buckets broadcast. Deterministic planes (md5 of the
    (table, plane, dim) index) make the index reproducible across
    reruns, engines, and incremental refreshes — and let the driver's
    DuckDB oracle replay the entire pipeline for full certification.
    """
    e = _emb(spark, sf_dir)
    # the bucket expression (tables × planes 64-dim dot products per
    # row) has TWO consumers — the candidate join's stream side and the
    # broadcast query side; cut the lineage once (policy + cluster
    # caveat in functions.lineage.lineage_cut). Measured at sf0.1:
    # 1.81 → 1.39 s, result-identical (r8 shared-subtree audit, same
    # shape as dedup_minhash_lsh's bands cut).
    vb = lineage_cut(_lsh_buckets(e))
    qb = vb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        "t",
        "bkey",
    )
    cand = (
        vb.join(F.broadcast(qb), ["t", "bkey"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "qnrm", F.col("vec_id").alias("neighbor_id"), "v", "nrm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


#: semantic-dedup geometry: cluster count sets the dedup aggressiveness
#: (corpus/K docs collapse into one representative per cluster)
K_SEMANTIC = 25
_SEM_SAMPLE_HEX = "8000"
_SEM_ITERS = 3

_SEM_CTE, _SEM_CENT = _kmeans_cte_sql(K_SEMANTIC, _SEM_ITERS, _SEM_SAMPLE_HEX)


def semantic_cluster_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-level view behind dedup_semantic_cluster: every vector
    with its cluster id and PINNED squared distance to its own centroid
    (the deterministic quantizer's d2, already round_cmp'd). Exposed so
    tests can pin the argmin/partition properties."""
    e = _emb(spark, sf_dir)
    cents = _fit_cached(spark, sf_dir, K_SEMANTIC, _SEM_ITERS, _SEM_SAMPLE_HEX)
    best = _best_cell("v", "__vv", _cent_array_sql(cents))
    return e.withColumn("__vv", F.expr(_dot_sql("v", "v"))).select(
        "vec_id",
        best["cell"].alias("cluster"),
        best["d2"].alias("dist2"),
    )


@query(
    "dedup_semantic_cluster",
    oracle=f"""
    WITH {_SEM_CTE},
    members AS (SELECT vec_id, cell AS cluster, d2 AS dist2 FROM (
      SELECT s.vec_id, c.cell, {_d2_sql("s.v", "c.cv")} AS d2,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id
               ORDER BY {_d2_sql("s.v", "c.cv")}, c.cell) AS rn
      FROM e s, {_SEM_CENT} c) WHERE rn = 1)
    SELECT cluster, COUNT(*) AS n_members,
           (ARRAY_AGG(vec_id ORDER BY dist2, vec_id))[1] AS rep_vec_id,
           ROUND(MIN(dist2), 6) AS rep_dist2
    FROM members GROUP BY cluster ORDER BY cluster
    """,
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup — the embedding-space rung of the dedup ladder
    (exact → MinHash/SimHash/n-gram → cosine near-dup → THIS): cluster
    the corpus with the deterministic quantizer and keep ONE
    representative per cluster, the member closest to its centroid
    (vec_id tiebreak). SemDeDup-style pruning: near-identical meaning
    collapses even when no tokens overlap, which no fingerprint rung
    can see.

    Scale shape mirrors the IVF op: fit on an md5-hash sample (never
    the full corpus at 100 TB), centroids fold into a NARROW assignment
    expression, and the representative choice is one (cluster)-keyed
    aggregation — min of (dist2, vec_id) structs, no window pass. Fully
    oracle-certified via the unrolled-Lloyd CTE; determinism + argmin
    properties additionally pinned in tests/test_llm_ops.py.
    """
    members = semantic_cluster_members(spark, sf_dir)
    return (
        members.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.struct("dist2", "vec_id"))["vec_id"].alias("rep_vec_id"),
            F.round(F.min("dist2"), 6).alias("rep_dist2"),
        )
        .orderBy("cluster")
    )


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), s AS (
      SELECT vec_id, label, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    ), err AS (
      SELECT vec_id, label, scale,
             list_aggregate(
               list_transform(e, x -> abs(x - floor(x / scale + 0.5) * scale)),
               'avg') AS mae
      FROM s
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(AVG(scale), 6) AS avg_scale,
           ROUND(AVG(mae), 6) AS avg_mae
    FROM err GROUP BY label ORDER BY label
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4× storage
    shrink applied to embedding corpora before ANN serving: codes are
    ``floor(x/scale + 0.5)`` with ``scale = max|x|/127``, and the op
    reports the reconstruction error (per-vector mean |x - q·scale|)
    aggregated per label.

    All higher-order array expressions (transform / array_max /
    aggregate) — row-local, codegen'd, zero Python. Casting float→double
    FIRST pins both engines to identical IEEE math (the widening is
    exact); ``floor(+0.5)`` instead of round() pins the tie-break (same
    trick as registry.round_cmp). At 100 TB the quantized corpus is what
    ships to the ANN index (similarity_ivf_topk) — int8 dot products cut
    memory bandwidth 4× where the brute-force scan is bandwidth-bound.
    """
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    scale = (F.array_max(F.expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> abs(x))")) / 127.0).alias("scale")
    per_vec = emb.select("vec_id", "label", e.alias("e"), scale)
    mae = (
        F.expr(
            "aggregate(transform(e, x -> abs(x - floor(x / scale + 0.5) * scale)),"
            " 0D, (acc, x) -> acc + x)"
        )
        / F.size("e")
    ).alias("mae")
    return (
        per_vec.select("label", "scale", mae)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
            F.round(F.avg("mae"), 6).alias("avg_mae"),
        )
        .orderBy("label")
    )


#: split-leakage geometry: the deterministic ~80/20 md5 split IMPORTED
#: from hash_train_test_split (prep.py) — the audit is only meaningful
#: against the exact split training uses, so the constant must be the
#: same object, not a copy that can drift — and a cosine bar high
#: enough that a leak is a genuine near-duplicate, not ambient
#: similarity (this corpus's cross-split cosine P99.9 ≈ 0.37; measured
#: max ≈ 0.47)
from .prep import _SPLIT_HEX as _LEAK_SPLIT_HEX  # noqa: E402

_LEAK_COSINE = 0.35


@query(
    "split_leakage_check",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 2)
                       < '{_LEAK_SPLIT_HEX}'
                  THEN 1 ELSE 0 END AS tr
      FROM embeddings
    ),
    counts AS (
      SELECT label,
             CAST(SUM(tr) AS BIGINT) AS n_train,
             CAST(SUM(1 - tr) AS BIGINT) AS n_test
      FROM e GROUP BY label
    ),
    leaks AS (
      SELECT a.label, {round_cmp_sql("list_cosine_similarity(a.v, b.v)", 6)} AS c
      FROM e a JOIN e b ON a.label = b.label AND a.tr = 1 AND b.tr = 0
    ),
    agg AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_leak_pairs,
             MAX(c) AS max_cosine
      FROM leaks WHERE c >= {_LEAK_COSINE!r} GROUP BY label
    )
    SELECT c.label, c.n_train, c.n_test,
           COALESCE(a.n_leak_pairs, 0) AS n_leak_pairs,
           CAST(COALESCE(a.max_cosine, -1.0) AS DOUBLE) AS max_cosine
    FROM counts c LEFT JOIN agg a USING (label)
    ORDER BY c.label
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs that CROSS the
    deterministic hash split — the eval-contamination check every
    training pipeline needs before trusting held-out metrics (a test
    doc whose near-duplicate sits in train inflates eval scores without
    any literal id overlap). Composes two certified primitives: the
    md5 hash split (hash_train_test_split) and blocked embedding-cosine
    near-dup (embedding_neardup_topk).

    Output: one row per label block — split sizes, the number of
    cross-split pairs with rounded cosine ≥ {_LEAK_COSINE}, and the
    worst offender's cosine (−1.0 sentinel when the block is clean;
    recorded leak cosines are ≥ the bar, so the sentinel is
    unambiguous).

    Scale shape: the pair join is blocked on the label key — Σ|block|²
    work, never n², but the bound is data-dependent (a hot label pairs
    quadratically); :func:`split_leakage_lsh` is the certified
    production twin whose blocking key is the ENGINEERED LSH bucket.
    The split predicate is a row-local md5 expression, so the join
    prunes to the 0.8·0.2 cross fraction of each block with no extra
    pass; the per-block audit row is one partial-aggregated shuffle.
    The threshold compares the round_cmp-pinned cosine (6dp, identical
    IEEE ops both engines) so boundary pairs can't flip membership on
    HALF_UP-vs-half-even tie-break noise — this op GATES a count on the
    comparison, unlike the cosine ops that merely round output values."""
    e = _emb(spark, sf_dir).withColumn(
        "tr",
        F.substring(
            F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8")), 1, 2
        )
        < _LEAK_SPLIT_HEX,
    )
    counts = e.groupBy("label").agg(
        F.sum(F.col("tr").cast("int")).cast("long").alias("n_train"),
        F.sum((~F.col("tr")).cast("int")).cast("long").alias("n_test"),
    )
    a = e.filter(F.col("tr")).alias("a")
    b = e.filter(~F.col("tr")).alias("b")
    cos = round_cmp(
        _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    leaks = (
        a.join(b, F.col("a.label") == F.col("b.label"))
        .select(F.col("a.label").alias("label"), cos.alias("c"))
        .filter(F.col("c") >= _LEAK_COSINE)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_leak_pairs"),
            F.max("c").alias("max_cosine"),
        )
    )
    return (
        counts.join(leaks, "label", "left")
        .select(
            "label",
            "n_train",
            "n_test",
            F.coalesce("n_leak_pairs", F.lit(0).cast("long")).alias("n_leak_pairs"),
            F.coalesce("max_cosine", F.lit(-1.0)).alias("max_cosine"),
        )
        .orderBy("label")
    )


@query(
    "split_leakage_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 2)
                       < '{_LEAK_SPLIT_HEX}'
                  THEN 1 ELSE 0 END AS tr
      FROM embeddings
    ),
    dims AS (SELECT unnest(generate_series(1, {_DIM})) AS i),
    {_lsh_planes_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS train_id, b.vec_id AS test_id
      FROM vb a JOIN vb b ON a.t = b.t AND a.bkey = b.bkey
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE ea.tr = 1 AND eb.tr = 0
    ),
    scored AS (
      SELECT eb.label, {round_cmp_sql("list_cosine_similarity(ea.v, eb.v)", 6)} AS c
      FROM cand JOIN e ea ON ea.vec_id = cand.train_id
                JOIN e eb ON eb.vec_id = cand.test_id
    ),
    counts AS (
      SELECT label,
             CAST(SUM(tr) AS BIGINT) AS n_train,
             CAST(SUM(1 - tr) AS BIGINT) AS n_test
      FROM e GROUP BY label
    ),
    agg AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_leak_pairs,
             MAX(c) AS max_cosine
      FROM scored WHERE c >= {_LEAK_COSINE!r} GROUP BY label
    )
    SELECT c.label, c.n_train, c.n_test,
           COALESCE(a.n_leak_pairs, 0) AS n_leak_pairs,
           CAST(COALESCE(a.max_cosine, -1.0) AS DOUBLE) AS max_cosine
    FROM counts c LEFT JOIN agg a USING (label)
    ORDER BY c.label
    """,
)
def split_leakage_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit blocked on the ENGINEERED LSH bucket
    key — the certified production twin of :func:`split_leakage_check`.
    The label-blocked audit's Σ|block|² bound is data-dependent; here
    candidates come from the md5-hyperplane buckets
    :func:`similarity_lsh_bucketed` certifies ({_LSH_TABLES} tables ×
    {_LSH_K} planes, cell {_LSH_LEN}), so block sizes are set by index
    geometry, and the audit sees cross-LABEL leaks too. Approximate by
    construction (candidate recall at the {_LEAK_COSINE} bar: 76/90 ≈
    84% at sf0.01; tests/test_llm_ops.py pins subset + recall floor
    against the brute-force audit).

    Output: one row per label (of the TEST-side vector — the document
    whose held-out status is contaminated): split sizes, the number of
    distinct cross-split candidate pairs whose round_cmp-pinned cosine
    clears the bar, and the worst offender (−1.0 sentinel when clean).

    Scale shape: bucketing is the same narrow expression scan as the
    ANN op; the candidate join shuffles on (table, bucket-key); pair
    dedup across the {_LSH_TABLES} tables is one aggregation keyed on
    the pair id and carries ONLY the two ids — the 64-dim vectors are
    joined back AFTER dedup from the corpus table (carrying both
    vectors through the dedup shuffle moved ~420 MB for 408k pairs at
    sf0.1; skinny dedup + re-attach measured 5.7 → 3.4 s). The shared
    bucket subtree feeds both join sides, so it is lineage-cut once."""
    e = _emb(spark, sf_dir).withColumn(
        "tr",
        F.substring(
            F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8")), 1, 2
        )
        < _LEAK_SPLIT_HEX,
    )
    counts = e.groupBy("label").agg(
        F.sum(F.col("tr").cast("int")).cast("long").alias("n_train"),
        F.sum((~F.col("tr")).cast("int")).cast("long").alias("n_test"),
    )
    # slim the bucket rows BEFORE the lineage cut: localCheckpoint
    # materializes full rows (no column pruning through an RDD
    # checkpoint), and after the skinny-pair refactor the vectors are
    # dead downstream of vb — without the select, the checkpoint would
    # store the 64-dim vector + norm × _LSH_TABLES rows per vec
    vb = lineage_cut(
        _lsh_buckets(e, extra=("tr",)).select("vec_id", "tr", "t", "bkey")
    )
    a = vb.filter(F.col("tr")).select(
        "t", "bkey", F.col("vec_id").alias("train_id")
    )
    b = vb.filter(~F.col("tr")).select(
        "t", "bkey", F.col("vec_id").alias("test_id")
    )
    pairs = (
        a.join(b, ["t", "bkey"])
        .select("train_id", "test_id")
        .dropDuplicates(["train_id", "test_id"])
    )
    ea = e.select(
        F.col("vec_id").alias("train_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
    )
    eb = e.select(
        F.col("vec_id").alias("test_id"), "label", "v", "nrm"
    )
    cos = round_cmp(
        _dot(F.col("av"), F.col("v")) / (F.col("anrm") * F.col("nrm")), 6
    )
    # no broadcast hint on the re-attach: locally AQE broadcasts the
    # 2000-row corpus side on its own; at 100 TB the corpus is NOT
    # broadcast range and the same plan degrades to a shuffle-on-id
    # join of skinny pair rows against the corpus — the correct shape
    # at both scales, picked at runtime
    leaks = (
        pairs.join(ea, "train_id")
        .join(eb, "test_id")
        .select("label", cos.alias("c"))
        .filter(F.col("c") >= _LEAK_COSINE)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_leak_pairs"),
            F.max("c").alias("max_cosine"),
        )
    )
    return (
        counts.join(leaks, "label", "left")
        .select(
            "label",
            "n_train",
            "n_test",
            F.coalesce("n_leak_pairs", F.lit(0).cast("long")).alias("n_leak_pairs"),
            F.coalesce("max_cosine", F.lit(-1.0)).alias("max_cosine"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Product quantization — the third classic ANN index family next
# to IVF cells and LSH buckets, and the MEMORY-scale path: the corpus is
# stored as M-byte codes (one codebook index per subspace) instead of
# dim×8-byte raw vectors, and queries score against code-indexed
# centroid distances (asymmetric distance computation, ADC). At 100 TB
# of embeddings the raw vectors do not fit anywhere hot; the PQ code
# table is dim*8/M times smaller and scans at memory bandwidth.
# --------------------------------------------------------------------------

_PQ_M = 8  # subspaces
_PQ_SUBDIM = _DIM // _PQ_M  # 8 dims each
_PQ_K = 16  # codebook size per subspace
_PQ_ITERS = 2
_PQ_SAMPLE_HEX = _IVF_SAMPLE_HEX  # same 30% md5-hash fit sample
#: ADC shortlist size before the exact re-rank (the classic PQ serve
#: pipeline: approximate shortlist from codes, exact refine on the few).
#: Tuned on the driver corpus like the LSH geometry: random near-unit
#: vectors are close to isotropic, which bounds ANY quantizer's ranking
#: power. Measured recall@5 with these codebooks: 0.38 at 4×TOP_K,
#: 0.68 at 10×, 0.82 at 20× (adopted; the re-rank cost is
#: |queries|×shortlist, trivial at any setting), 0.92 at 30×; the
#: COMPOSED IVF-ADC op saturates at ≈0.6 from 20× up — its ceiling is
#: IVF cell membership (probes recall 0.64), not the shortlist.
_PQ_SHORTLIST = 20 * TOP_K


def _pq_codebooks(
    spark: SparkSession, sf_dir: str
) -> list[list[tuple[int, list[float]]]]:
    """One deterministic Lloyd fit PER SUBSPACE over the sliced sample —
    :func:`_det_kmeans_fit` unchanged (it is dimension-agnostic), fed
    the m-th {_PQ_SUBDIM}-dim slice of each sample vector. Cached per
    (sf_dir, subspace) like :func:`_fit_cached`: at 100 TB the
    codebooks are the index artifact, fit once and shipped."""
    e = _emb(spark, sf_dir)
    return [
        _fit_cached(
            spark,
            sf_dir,
            _PQ_K,
            _PQ_ITERS,
            _PQ_SAMPLE_HEX,
            key_suffix=f"#pq{m}",
            e=e.select(
                "vec_id",
                F.slice(F.col("v"), m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("v"),
            ),
        )
        for m in range(_PQ_M)
    ]


def _pq_sub_kmeans_cte(
    m: int, *, src: str = "e", prefix: str = "m"
) -> tuple[str, str]:
    """DuckDB twin of subspace ``m``'s codebook fit — the SHARED
    :func:`_kmeans_cte_sql` chain (one textual statement of the pinned
    determinism contract) namespaced ``{prefix}{m}``, fitting the slice
    ``v[{m*_PQ_SUBDIM+1}:{(m+1)*_PQ_SUBDIM}]`` of ``src`` against the
    shared ``dims8`` index table. Assumes the caller already emitted
    the ``src(vec_id, v)`` and ``dims8(i)`` CTEs once for all chains."""
    a, b = m * _PQ_SUBDIM + 1, (m + 1) * _PQ_SUBDIM
    return _kmeans_cte_sql(
        _PQ_K,
        _PQ_ITERS,
        _PQ_SAMPLE_HEX,
        prefix=f"{prefix}{m}",
        vsel=f"v[{a}:{b}] AS v",
        dims="dims8",
        emit_head=False,
        src=src,
    )


def _pq_chains_sql(
    nb_alias: str, q_alias: str, *, src: str = "e", prefix: str = "m"
) -> tuple[str, str, str, str]:
    """The PQ oracle's shared building blocks, parameterized by which
    CTE alias carries the candidate vec_ids (``nb_alias``) and which
    carries the query vector as ``qv`` (``q_alias``) — ONE textual
    statement of the fit/encode/ADC contract serving the flat PQ
    oracle (candidates = the whole corpus, r13), the composed IVF-ADC
    oracle (candidates = probed-cell members, r14), and the
    residual-encoded variant (``src`` = a derived residual CTE,
    ``prefix`` keeps its chains from colliding; the residual oracle's
    ``q_alias`` row carries the PER-CELL query residual aliased ``qv``,
    so the identical ADC text scores residuals). Returns (fit_ctes,
    encode_ctes, code→centroid join clauses, rounded ADC expression)."""
    fits, cents, encs = [], [], []
    for m in range(_PQ_M):
        body, cent = _pq_sub_kmeans_cte(m, src=src, prefix=prefix)
        fits.append(body)
        cents.append(cent)
        a, b = m * _PQ_SUBDIM + 1, (m + 1) * _PQ_SUBDIM
        d2 = _d2_sql(f"s.v[{a}:{b}]", "c.cv")
        encs.append(
            f"""
    {prefix}{m}enc AS (SELECT vec_id, cell AS code FROM (
      SELECT s.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY {d2}, c.cell) AS rn
      FROM {src} s, {cents[m]} c) WHERE rn = 1)"""
        )
    adc_terms = []
    joins = []
    for m in range(_PQ_M):
        a, b = m * _PQ_SUBDIM + 1, (m + 1) * _PQ_SUBDIM
        joins.append(
            f"JOIN {prefix}{m}enc e{m} ON e{m}.vec_id = {nb_alias}.vec_id"
            f" JOIN {cents[m]} c{m} ON c{m}.cell = e{m}.code"
        )
        adc_terms.append(_d2_sql(f"{q_alias}.qv[{a}:{b}]", f"c{m}.cv"))
    adc = round_cmp_sql("(" + " + ".join(adc_terms) + ")", 6)
    return ",".join(fits), ",".join(encs), " ".join(joins), adc


def _pq_tail_sql() -> str:
    """The PQ-family oracle tail — shortlist cut by (adc_d2,
    neighbor_id), exact-cosine re-rank of the shortlist only, final
    top-{TOP_K} select — ONE textual statement of the refine contract
    shared by the flat PQ oracle and the composed IVF-ADC oracle (r14
    review: the composed oracle started as a textual copy). Assumes
    the caller emitted ``e(vec_id, v)``, ``q(query_id, qv)``, and
    ``scored(query_id, neighbor_id, adc_d2)``."""
    return f"""
    shortlist AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rn_adc
      FROM scored
    ),
    -- exact cosine ONLY on the shortlist: the raw vectors re-attach by
    -- point lookup after the ADC cut (the refine step never scans)
    ranked AS (
      SELECT s.query_id, s.neighbor_id, s.adc_d2,
             ROUND(list_cosine_similarity(q2.qv, x2.v), 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY s.query_id
               ORDER BY ROUND(list_cosine_similarity(q2.qv, x2.v), 6) DESC,
                        s.neighbor_id) AS rank
      FROM shortlist s
      JOIN e x2 ON x2.vec_id = s.neighbor_id
      JOIN q q2 ON q2.query_id = s.query_id
      WHERE s.rn_adc <= {_PQ_SHORTLIST}
    )
    SELECT query_id, neighbor_id, adc_d2, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


def _pq_oracle_sql() -> str:
    """The full PQ oracle: {_PQ_M} codebook fits, per-subspace encode
    (argmin over the final centroid table, cell-id tiebreak), ADC
    scoring of every (query, vector) pair via the code-indexed
    centroids, then the shared shortlist/re-rank tail."""
    fits, encs, joins, adc = _pq_chains_sql("x", "q")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims8 AS (SELECT unnest(generate_series(1, {_PQ_SUBDIM})) AS i),
    {fits},
    {encs},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, x.vec_id AS neighbor_id,
             {adc} AS adc_d2
      FROM q, (SELECT vec_id FROM e) x
      {joins}
      WHERE x.vec_id <> q.query_id
    ),{_pq_tail_sql()}"""


def _pq_slice_proj(e: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """``vec_id`` (+ ``extra`` passthrough columns) + the {_PQ_M}
    subspace slices ``s0..`` and their self-dots ``vv0..``, projected
    FIRST (the lambda-projection rule — an inlined slice/dot
    re-evaluates per centroid inside the argmin transform)."""
    return e.selectExpr(
        "vec_id",
        *extra,
        *[
            f"slice(v, {m * _PQ_SUBDIM + 1}, {_PQ_SUBDIM}) AS s{m}"
            for m in range(_PQ_M)
        ],
    ).selectExpr(
        "vec_id",
        *extra,
        *[f"s{m}" for m in range(_PQ_M)],
        *[f"{_dot_sql(f's{m}', f's{m}')} AS vv{m}" for m in range(_PQ_M)],
    )


def _pq_encode(
    sl: DataFrame, arrs_sql: list[str], extra: tuple[str, ...] = ()
) -> DataFrame:
    """The ONE statement of the PQ encode contract: over a
    :func:`_pq_slice_proj`-shaped frame, emit ``vec_id`` (+ ``extra``
    passthrough columns) and ``code{{m}}`` = the argmin codebook entry
    per subspace slice — a narrow scan, codebooks folded in as
    literals (``arrs_sql`` = :func:`_cent_array_sql` fragments)."""
    return sl.selectExpr(
        "vec_id",
        *extra,
        *[
            f"{_best_cell_sql(f's{m}', f'vv{m}', arrs_sql[m])}.cell AS code{m}"
            for m in range(_PQ_M)
        ],
    )


def _adc_expr(dense_sqls: list[str]) -> Column:
    """Code-indexed ADC distance Σ_m ‖qs_m − codebook_m[code_m]‖² over
    a frame carrying query slices ``qs{{m}}``/``qvv{{m}}`` and candidate
    codes ``code{{m}}`` — rounded with the same pin the oracle uses.
    ``dense_sqls`` are :func:`_cent_dense_sql` fragments: the lookup is
    an O(1) ``element_at(arr, code + 1)`` instead of the r14
    filter-lambda scan of all {_PQ_K} entries per term (r17; measured
    0.98 → 0.80 s on the flat op's scored pass, values identical)."""
    terms = [
        _d2s_sql(f"qvv{m}", f"qs{m}", f"element_at({dense_sqls[m]}, code{m} + 1)")
        for m in range(_PQ_M)
    ]
    return F.expr(_rc_sql(" + ".join(terms), 6))


def _adc_shortlist(scored: DataFrame) -> DataFrame:
    """Cut ``scored(query_id, neighbor_id, adc_d2)`` to the
    {_PQ_SHORTLIST} best rows per query by the pinned (adc_d2,
    neighbor_id) order — the shortlist the exact re-rank refines.
    Shared by the flat PQ op and the composed IVF-ADC op."""
    w_adc = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rn_adc", F.row_number().over(w_adc))
        .filter(F.col("rn_adc") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id", "adc_d2")
    )


def _exact_rerank(e: DataFrame, shortlist: DataFrame) -> DataFrame:
    """The PQ-family refine step: broadcast the (query_id, neighbor_id,
    adc_d2) shortlist, point-look-up the raw vectors by broadcast hash
    join (the refine never scans), exact-cosine re-rank, keep the
    top-{TOP_K}."""
    q_exact = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        e.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm")
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q_exact), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_d2",
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w_cos).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_d2", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


@query("similarity_pq_topk", oracle=_pq_oracle_sql())
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the MEMORY-scale path completing the IVF/LSH/PQ ANN index triad
    next to the exact baseline: {_PQ_M} deterministic
    per-subspace codebooks ({_PQ_K} centroids over each {_PQ_SUBDIM}-dim
    slice, fit by the SAME :func:`_det_kmeans_fit` contract the IVF op
    certifies), every vector encoded ONCE to {_PQ_M} small codes, each
    query ADC-scored against the code-indexed centroids, and the top
    {_PQ_SHORTLIST} shortlist re-ranked by exact cosine.

    Scale shape: encoding is a NARROW scan (codebooks fold into the row
    expression as literals, like the IVF cell assignment — no join, no
    shuffle), run once at index-build time; the serve-path scan reads
    the (vec_id, code0..{_PQ_M - 1}) table — {_PQ_M} bytes of payload
    per vector instead of {_DIM}×8, which is what makes a 100 TB corpus
    scannable — and the query side is broadcast by definition. The ADC
    pair scan is the same BroadcastNestedLoopJoin shape as the exact
    baseline (tiny broadcast side × linear corpus stream); in
    production PQ composes with the IVF op's coarse quantizer — that
    composed serve path is :func:`similarity_ivf_pq_topk` (r14). The
    exact re-rank touches only shortlist×queries rows. Fully
    oracle-certified: the DuckDB twin re-derives all {_PQ_M} codebooks,
    the codes, the ADC scores, the shortlist cut, and the re-ranked
    top-{TOP_K}. Recall vs the exact baseline is measured (and
    floor-bounded, so a geometry change cannot silently gut answer
    quality the oracle cannot see) in tests/test_llm_ops.py; a larger
    {_PQ_SHORTLIST} buys recall linearly in re-rank cost."""
    e = _emb(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir)
    arrs = [_cent_array_sql(b) for b in books]
    dense = [_cent_dense_sql(b, _PQ_K, _PQ_SUBDIM) for b in books]
    sl = _pq_slice_proj(e)
    # index build: ONE narrow encode pass, codes only — at 100 TB this
    # table IS the index ({_PQ_M} bytes/vector) and is all the ADC scan
    # ever reads; the raw vectors re-enter only for the shortlist refine
    enc = _pq_encode(sl, arrs)
    q_adc = sl.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"s{m}").alias(f"qs{m}") for m in range(_PQ_M)],
        *[F.col(f"vv{m}").alias(f"qvv{m}") for m in range(_PQ_M)],
    )
    scored = (
        enc.crossJoin(F.broadcast(q_adc))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_expr(dense).alias("adc_d2"),
        )
    )
    # exact re-rank ONLY on the shortlist (review r13: the first draft
    # computed the cosine for every pair BEFORE the cut, paying full
    # brute-force work on top of ADC)
    return _exact_rerank(e, _adc_shortlist(scored))


# --------------------------------------------------------------------------
# IVF-ADC — the composed serve path: the IVF coarse quantizer prunes the
# corpus to probed-cell members, PQ-ADC ranks ONLY inside them from the
# 8-byte code table, and exact cosine refines the shortlist (the FAISS
# IVFADC / SCANN / Milvus IVF_PQ architecture). Both halves reuse the
# certified fits (similarity_ivf_topk's centroids, similarity_pq_topk's
# codebooks), so the oracle is a CTE merge of the two certified chains.
# --------------------------------------------------------------------------


def _ivf_pq_oracle_sql() -> str:
    """The composed oracle is a MERGE of shared certified pieces, not
    new text: the IVF chain (coarse fit + the shared assigned/probes
    block, :func:`_ivf_assign_probe_ctes`), the PQ chain ({_PQ_M}
    codebook fits + encodes, :func:`_pq_chains_sql`), ADC scored only
    on probes⋈assigned cell matches, and the shared shortlist/re-rank
    tail (:func:`_pq_tail_sql`)."""
    fits, encs, joins, adc = _pq_chains_sql("a", "p")
    return f"""
    WITH {_IVF_CTE},
    dims8 AS (SELECT unnest(generate_series(1, {_PQ_SUBDIM})) AS i),
    {fits},
    {encs},{_ivf_assign_probe_ctes(assigned_cols="vec_id, cell")}
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {adc} AS adc_d2
      FROM probes p JOIN assigned a USING (cell)
      {joins}
      WHERE a.vec_id <> p.query_id
    ),{_pq_tail_sql()}"""


@query("similarity_ivf_pq_topk", oracle=_ivf_pq_oracle_sql())
def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC: the composed production ANN serve path — coarse IVF
    cells bound WHICH vectors each query scores ({N_PROBE} of
    {N_IVF_CELLS} probed cells, never the corpus), PQ codes bound WHAT
    is read per scored vector ({_PQ_M} bytes, never the raw {_DIM}×8),
    and exact cosine refines only the {_PQ_SHORTLIST}-row shortlist.
    Both quantizers are REUSED from the separately-certified halves:
    the coarse centroids are :func:`similarity_ivf_topk`'s fit and the
    codebooks are :func:`similarity_pq_topk`'s, byte-identical via the
    shared fit cache — an index artifact is built once and serves every
    index shape over it. (The classic refinement this op deliberately
    omits: production IVFADC usually encodes the RESIDUAL v − coarse
    centroid, which needs residual-fit codebooks; with shared
    raw-vector codebooks the composition stays a pure reuse of two
    certified artifacts, at some recall cost the shortlist absorbs —
    the residual variant is :func:`similarity_ivf_pq_residual_topk`.)

    Scale shape: index build is ONE narrow scan emitting
    (vec_id, cell, code0..{_PQ_M - 1}) — both quantizers fold into the
    row expression as literals (no join, no shuffle); on disk this
    table is partitioned BY cell so a probe is a partition-pruned
    9-byte-per-vector scan. The serve-path ADC scan is a broadcast
    HASH join on cell (the probe list is queries×{N_PROBE} rows), so
    scored rows are bounded by probed-cell membership — compare the
    flat PQ op's full-corpus BroadcastNestedLoopJoin stream. Fully
    oracle-certified: the DuckDB twin merges the two certified CTE
    chains and re-derives cells, probes, codes, ADC scores, shortlist,
    and the re-ranked top-{TOP_K}. Recall vs brute force is measured
    and floor-bounded in tests/test_llm_ops.py."""
    e = _emb(spark, sf_dir)
    cents = _fit_cached(spark, sf_dir, N_IVF_CELLS, _IVF_ITERS, _IVF_SAMPLE_HEX)
    arr = _cent_array_sql(cents)
    books = _pq_codebooks(spark, sf_dir)
    arrs = [_cent_array_sql(b) for b in books]
    dense = [_cent_dense_sql(b, _PQ_K, _PQ_SUBDIM) for b in books]
    sl = _pq_slice_proj(e, extra=("v",)).withColumn(
        "__vv", F.expr(_dot_sql("v", "v"))
    )
    # index build: ONE narrow pass — coarse cell AND the PQ codes fold
    # into the same row expression; (vec_id, cell, code0..) IS the index
    enc = _pq_encode(
        sl.withColumn("cell", _best_cell("v", "__vv", arr)["cell"]),
        arrs,
        extra=("cell",),
    )
    probes = (
        sl.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(_probe_cells_expr(arr, "v", "__vv")).alias("pc"),
            *[F.col(f"s{m}").alias(f"qs{m}") for m in range(_PQ_M)],
            *[F.col(f"vv{m}").alias(f"qvv{m}") for m in range(_PQ_M)],
        )
        .select(
            "query_id",
            F.col("pc.cell").alias("cell"),
            *[F.col(f"qs{m}") for m in range(_PQ_M)],
            *[F.col(f"qvv{m}") for m in range(_PQ_M)],
        )
    )
    # ADC only inside probed cells: a broadcast HASH join on cell — the
    # scored row count is bounded by cell membership, not the corpus
    scored = (
        enc.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_expr(dense).alias("adc_d2"),
        )
    )
    return _exact_rerank(e, _adc_shortlist(scored))


# --------------------------------------------------------------------------
# Residual-encoded IVF-ADC: production IVFADC quantizes the RESIDUAL
# v − centroid[cell], not the raw vector, because residuals concentrate
# near zero once the coarse quantizer has explained the cell structure.
# The query side must then be re-expressed PER PROBED CELL, so the probe
# row count, the ADC table shape and the oracle chain all differ from
# the plain composed op's: a separate certified op, not a flag.
# --------------------------------------------------------------------------


def _res_cv_lookup(dense_sql: str) -> Column:
    """centroid[cell].cv as a row expression over a frame carrying a
    ``cell`` column — the residual subtraction's lookup side. r17: an
    O(1) dense ``element_at`` (see :func:`_cent_dense_sql`) instead of
    the filter-lambda scan; assigned/probed cells always survive the
    fit, so the filler slots are never referenced."""
    return F.expr(f"element_at({dense_sql}, cell + 1).cv")


def _ivf_pq_residual_oracle_sql() -> str:
    """The residual oracle: the shared IVF assigned/probes block, a
    derived residual table (``eres`` = v − centroid[cell], per the
    assignment), {_PQ_M} codebook fits + encodes over the RESIDUAL
    slices (the shared chain builder pointed at ``eres``), per-probe
    query residuals (``pres`` — one residual per probed cell), ADC on
    cell matches, and the shared shortlist/re-rank tail (the refine
    scores ORIGINAL vectors — residuals only rank)."""
    fits, encs, joins, adc = _pq_chains_sql("a", "p", src="eres", prefix="r")
    return f"""
    WITH {_IVF_CTE},
    dims8 AS (SELECT unnest(generate_series(1, {_PQ_SUBDIM})) AS i),{_ivf_assign_probe_ctes()}
    eres AS (SELECT a.vec_id, a.cell,
                    list_transform(generate_series(1, {_DIM}), i -> a.v[i] - c.cv[i]) AS v
             FROM assigned a JOIN {_IVF_CENT} c ON c.cell = a.cell),
    {fits},
    {encs},
    pres AS (SELECT p.query_id,
                    list_transform(generate_series(1, {_DIM}), i -> p.qv[i] - c.cv[i]) AS qv,
                    p.cell
             FROM probes p JOIN {_IVF_CENT} c ON c.cell = p.cell),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {adc} AS adc_d2
      FROM pres p JOIN eres a USING (cell)
      {joins}
      WHERE a.vec_id <> p.query_id
    ),{_pq_tail_sql()}"""


@query("similarity_ivf_pq_residual_topk", oracle=_ivf_pq_residual_oracle_sql())
def similarity_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-ADC — the full production IVFADC shape:
    every vector is assigned a coarse cell, the RESIDUAL
    v − centroid[cell] is PQ-encoded ({_PQ_M} codebooks fit on residual
    slices by the same pinned Lloyd contract), and each query scores
    ADC against its OWN residual per probed cell (the query residual
    differs in every cell it probes — the per-(query, cell) probe row
    carries it). Exact cosine on the ORIGINAL vectors refines the
    shortlist, so residuals only rank, never answer.

    Scale shape: identical serve plan to :func:`similarity_ivf_pq_topk`
    — one narrow index-build scan emitting (vec_id, cell, code0..
    {_PQ_M - 1}) with BOTH quantizers folded in as literals, a
    broadcast HASH join on cell bounding scored rows by probed-cell
    membership, and a shortlist-only refine — plus one extra zip_with
    subtraction per row at build time and per probe row at serve time.
    The coarse centroids are REUSED byte-identical from
    :func:`similarity_ivf_topk`'s certified fit; the residual codebooks
    are their own certified artifact (cached per corpus+geometry, fit
    once and shipped). Fully oracle-certified: the DuckDB twin derives
    the residual table, all {_PQ_M} residual codebook fits, the codes,
    the per-probe query residuals, the ADC scores, and the re-ranked
    top-{TOP_K}. Recall vs brute force is measured and floor-bounded in
    tests/test_llm_ops.py.

    Honest measurement on THIS corpus: at the certified shortlist both
    variants read recall@5 = 0.60 (the shared ceiling is IVF cell
    membership); at TIGHT shortlists the residual ADC ranks WORSE than
    the raw-vector ADC here (0.24 vs 0.44 at 4×TOP_K) — textbook
    behavior for a near-isotropic corpus, where the coarse centroids
    explain almost no variance and the subtraction only adds centroid
    noise for the codebooks to chase. Residual encoding pays off
    exactly when the coarse quantizer pays off (clustered production
    embeddings); what this op certifies is the MACHINERY — residual
    fits, per-cell query residuals, the composed serve plan — not a
    recall win on random vectors."""
    e = _emb(spark, sf_dir)
    cents = _fit_cached(spark, sf_dir, N_IVF_CELLS, _IVF_ITERS, _IVF_SAMPLE_HEX)
    arr = _cent_array_sql(cents)
    coarse_dense = _cent_dense_sql(cents, N_IVF_CELLS, _DIM)
    assigned = e.withColumn("__vv", F.expr(_dot_sql("v", "v"))).select(
        "vec_id",
        "v",
        _best_cell("v", "__vv", arr)["cell"].alias("cell"),
    )
    # residual table: one narrow zip_with per row (centroid lookup is a
    # literal-array probe, no join)
    res = assigned.select(
        "vec_id",
        "cell",
        F.zip_with(
            F.col("v"), _res_cv_lookup(coarse_dense), lambda a, b: a - b
        ).alias("v"),
    )
    # residual codebooks: the SAME deterministic fit contract, pointed
    # at residual slices; cached per (corpus, subspace) like the flat
    # PQ books — the residual index artifact is fit once and shipped.
    # The key folds in the LIVE coarse geometry (review r14: residuals
    # are a function of the coarse centroids, so an in-process change
    # to the IVF constants must invalidate these books too — the same
    # stale-cache class the streaming store's key was hardened against)
    books = [
        _fit_cached(
            spark,
            sf_dir,
            _PQ_K,
            _PQ_ITERS,
            _PQ_SAMPLE_HEX,
            key_suffix=(
                f"#ivfpqres{m}@{N_IVF_CELLS}/{_IVF_ITERS}/{_IVF_SAMPLE_HEX}"
            ),
            e=res.select(
                "vec_id",
                F.slice(F.col("v"), m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("v"),
            ),
        )
        for m in range(_PQ_M)
    ]
    arrs = [_cent_array_sql(b) for b in books]
    dense = [_cent_dense_sql(b, _PQ_K, _PQ_SUBDIM) for b in books]
    # index build: (vec_id, cell, code0..) in ONE narrow pass over the
    # residual projection
    enc = _pq_encode(_pq_slice_proj(res, extra=("cell",)), arrs, extra=("cell",))
    # query side: probe cells on the RAW vector, then one residual per
    # probed cell — project the residual FIRST, slices next, dots last
    # (the lambda-projection rule)
    q_cells = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("__qvv", F.expr(_dot_sql("qv", "qv")))
        .select(
            "query_id",
            "qv",
            F.explode(_probe_cells_expr(arr, "qv", "__qvv")).alias("pc"),
        )
        .select("query_id", "qv", F.col("pc.cell").alias("cell"))
    )
    rq = q_cells.select(
        "query_id",
        "cell",
        F.zip_with(
            F.col("qv"), _res_cv_lookup(coarse_dense), lambda a, b: a - b
        ).alias("rqv"),
    )
    probes = rq.selectExpr(
        "query_id",
        "cell",
        *[
            f"slice(rqv, {m * _PQ_SUBDIM + 1}, {_PQ_SUBDIM}) AS qs{m}"
            for m in range(_PQ_M)
        ],
    ).selectExpr(
        "query_id",
        "cell",
        *[f"qs{m}" for m in range(_PQ_M)],
        *[f"{_dot_sql(f'qs{m}', f'qs{m}')} AS qvv{m}" for m in range(_PQ_M)],
    )
    scored = (
        enc.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_expr(dense).alias("adc_d2"),
        )
    )
    return _exact_rerank(e, _adc_shortlist(scored))
