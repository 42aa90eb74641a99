"""Deduplication operators over ``documents`` — the scale ladder a
training-data pipeline needs:

1. exact / normalized-exact   : hash-groupBy on text or fingerprint — one
                                shuffle, linear.
2. n-gram Jaccard             : exact pairwise similarity, but candidates
                                come from an inverted shingle index
                                (self-join on shingle), never O(n²) text
                                compares.
3. SimHash hamming banding    : linear fingerprinting (text.text_simhash)
                                + band-bucketed candidate join.
4. MinHash + LSH              : the 100 TB path — sketch once, band-join,
                                verify only candidates. md5-derived hash
                                family, fully oracle-certified.

Embedding-cosine near-dup lives in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.lineage import lineage_cut
from .registry import load, query, round_cmp, round_cmp_sql, spread
from .text import (
    _NORM_ASCII_SQL,
    _SIMHASH_SIG_SQL_CTES,
    _norm_ascii,
    word3_shingles,
    word3_shingles_sql,
)


@query(
    "dedup_exact_text",
    oracle=f"""
    WITH n AS (SELECT text, {_NORM_ASCII_SQL} AS norm FROM documents)
    SELECT COUNT(*) AS n_total,
           COUNT(DISTINCT text) AS n_distinct_text,
           COUNT(DISTINCT norm) AS n_distinct_norm,
           COUNT(*) - COUNT(DISTINCT text) AS n_dup_exact,
           COUNT(*) - COUNT(DISTINCT norm) AS n_dup_norm
    FROM n
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + normalized-exact duplicate census. distinct-on-text is a
    hash aggregation on the text (or better, its fingerprint) — at scale
    you group on md5(text) so shuffle rows are 16 bytes, not documents."""
    d = load(spark, sf_dir, "documents").select(
        "text", _norm_ascii(F.col("text")).alias("norm")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("text").alias("n_distinct_text"),
        F.countDistinct("norm").alias("n_distinct_norm"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_dup_exact"),
        (F.count(F.lit(1)) - F.countDistinct("norm")).alias("n_dup_norm"),
    )


#: word-3-gram document-frequency cap (same rationale as MAX_BUCKET /
#: _SIMHASH_MAX_BUCKET below): a shingle shared by k same-language docs
#: contributes k² candidate pairs to the inverted-index self-join, so a
#: single stop-phrase shingle at 100 TB is a quadratic skew-killer —
#: while discriminating nothing (everything matches it). Shingles with
#: document frequency above the cap are dropped from the index BEFORE
#: the self-join, on BOTH the Spark and oracle sides, so intersection
#: AND union counts are computed over the same capped shingle universe
#: (Jaccard stays well-defined in [0, 1]). At the driver SFs no shingle
#: exceeds DF 14 (measured sf0.001–0.1), so results are unchanged there.
SHINGLE_DF_CAP = 64

_SHINGLES_RAW_SQL = f"""
      SELECT doc_id, lang, sh FROM (
        SELECT doc_id, lang,
               unnest({word3_shingles_sql("toks")}) AS sh
        FROM (SELECT doc_id, lang,
                     regexp_split_to_array({_NORM_ASCII_SQL}, ' ') AS toks
              FROM documents)
      ) GROUP BY doc_id, lang, sh
"""

#: capped inverted shingle index — the oracle twin of
#: :func:`_shingle_index` (hot shingles anti-joined away)
_SHINGLES_SQL = f"""
      SELECT s.doc_id, s.lang, s.sh
      FROM ({_SHINGLES_RAW_SQL}) s
      ANTI JOIN (SELECT lang, sh FROM ({_SHINGLES_RAW_SQL})
                 GROUP BY lang, sh HAVING COUNT(*) > {SHINGLE_DF_CAP}) hot
        ON s.lang = hot.lang AND s.sh = hot.sh
"""


def _shingle_index(d: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Distinct ``(doc_id, lang, sh)`` word-3-gram inverted index with
    hot shingles (same-language document frequency > ``cap``) dropped.

    The cap is a COUNT window over ``(lang, sh)`` + filter — the window
    shuffles the index by exactly the keys the downstream self-join
    hashes on, so Catalyst reuses the exchange and the cap is free
    (measured at sf0.1: window form 1.44 s ≈ the uncapped 1.42 s
    baseline, vs 2.27 s for a separate groupBy + broadcast-anti pass).
    The unordered count frame needs no per-key sort beyond clustering,
    so a degenerate hot key costs O(k) in the window and is dropped
    BEFORE it can cost k² in the join. This bounds the self-join to
    Σ freq(shingle)² with freq ≤ cap, instead of letting one
    stop-phrase go quadratic.

    The shingle array comes from the SHARED ``text.word3_shingles``
    pair (hoisted r9 — the same definition ``doc_self_repetition``
    consumes). The token array is materialized in its own projection
    BEFORE the helper's shingle lambda: inlining the split into the
    lambda makes every ``element_at`` re-run the regex normalization +
    split (~3× per shingle — measured 19 s → 0.9 s at sf0.1 for this
    one change). Catalyst's CollapseProject keeps the split un-inlined
    because the consumer references it more than once.
    """
    tok_tbl = d.select(
        "doc_id", "lang", F.split(_norm_ascii(F.col("text")), " ").alias("toks")
    )
    sh = (
        tok_tbl.select(
            "doc_id",
            "lang",
            F.explode(word3_shingles(F.col("toks"))).alias("sh"),
        )
        .distinct()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang", "sh")
    return (
        sh.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= cap)
        .select("doc_id", "lang", "sh")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(n_inter * 1.0 / (sa.nsh + sb.nsh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup: top-20 same-language pairs.

    Scale shape: the inverted shingle index (distinct (doc, shingle))
    self-joins on the shingle — pair work is Σ freq(shingle)², bounded
    by shingle selectivity, not n². Hot shingles (stop-phrases) are the
    skew risk at 100 TB: :func:`_shingle_index` drops shingles with
    document frequency above SHINGLE_DF_CAP before the self-join (they
    contribute candidates, not discrimination; the oracle mirrors the
    cap) — AQE skew-join handles the sub-cap remainder.
    """
    d = load(spark, sf_dir, "documents")
    sh = _shingle_index(d)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("sa.nsh") + F.col("sb.nsh") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


@query(
    "dedup_incremental",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, md5({_NORM_ASCII_SQL}) AS fp FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM fp WHERE source = 'src0'),
    new_batch AS (SELECT * FROM fp WHERE source <> 'src0')
    SELECT n.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_history,
           CAST(COUNT(*) - SUM(CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
    FROM new_batch n LEFT JOIN hist h ON n.fp = h.fp
    GROUP BY n.source
    ORDER BY n.source
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the PRODUCTION shape: a new ingest batch is
    checked against the historical corpus's fingerprint set, not against
    itself. Here `source = 'src0'` stands in for the historical corpus
    and the other sources for incoming batches.

    Scale shape: history is represented ONLY by its distinct
    fingerprints (16 bytes/doc — billions of docs fit in a few tens of
    GB, partitioned); the probe is an equi-join on the fingerprint that
    Spark plans as broadcast or shuffled-hash depending on history size.
    The full historical text is never touched. In a real pipeline the
    fingerprint set is a maintained table (append-only parquet or a
    key-value store) — this query is the join that gates each batch.
    """
    d = load(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source", F.md5(F.encode(_norm_ascii(F.col("text")), "UTF-8")).alias("fp")
    )
    hist = fp.filter(F.col("source") == "src0").select("fp").distinct()
    new_batch = fp.filter(F.col("source") != "src0")
    hist_marked = hist.withColumn("seen", F.lit(1))
    return (
        new_batch.join(hist_marked, "fp", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("seen").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_vs_history"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .orderBy("source")
    )


SPAN_W = 8  # tokens per span window
SPAN_MIN_DOCS = 3  # spans in fewer docs aren't boilerplate


@query(
    "dedup_common_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array({_NORM_ASCII_SQL}, ' ') AS t FROM documents
    ),
    spans AS (
      SELECT doc_id, sp FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - {SPAN_W} + 1, 0)),
                 i -> array_to_string(t[i:i+{SPAN_W}-1], ' '))) AS sp
        FROM toks
      ) GROUP BY doc_id, sp
    )
    SELECT sp AS span, COUNT(*) AS n_docs
    FROM spans
    GROUP BY sp
    HAVING COUNT(*) >= {SPAN_MIN_DOCS}
    ORDER BY n_docs DESC, span
    LIMIT 50
    """,
)
def dedup_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span (boilerplate) detection — the
    hashed-window relative of exact substring dedup for training
    corpora: every {SPAN_W}-token window, deduped per doc, grouped
    across docs; windows appearing in ≥ {SPAN_MIN_DOCS} docs are
    boilerplate candidates (headers, licenses, templates) to strip
    before training.

    Scale shape: explode → distinct → one count aggregation — linear,
    partial-agg'd, no pairwise work at all (unlike similarity dedup,
    boilerplate detection never needs candidate pairs). At 100 TB you
    group on xxhash64(span) (8-byte shuffle rows) and join the winning
    hashes back for the span text; the string form here stays
    oracle-comparable.
    """
    d = load(spark, sf_dir, "documents")
    tok_tbl = d.select("doc_id", F.split(_norm_ascii(F.col("text")), " ").alias("t"))
    t = F.col("t")
    # NB: F.sequence(1, 0) yields a DESCENDING [1, 0] in Spark (it is not
    # empty like DuckDB's generate_series) — docs shorter than the window
    # must be excluded before the sequence is built
    starts = F.when(
        F.size(t) >= SPAN_W, F.sequence(F.lit(1), F.size(t) - SPAN_W + 1)
    ).otherwise(F.array().cast("array<int>"))
    spans = tok_tbl.select(
        "doc_id",
        F.explode(
            F.transform(starts, lambda i: F.array_join(F.slice(t, i, SPAN_W), " "))
        ).alias("span"),
    ).distinct()
    return (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= SPAN_MIN_DOCS)
        .orderBy(F.desc("n_docs"), "span")
        .limit(50)
    )


N_MINHASH = 16
N_BANDS = 4  # 4 rows per band → P(candidate) ≈ 1 - (1 - j^4)^4
#: LSH buckets larger than this are dropped from candidate generation.
#: Oversized buckets mean the band signature failed to discriminate
#: (boilerplate-heavy corpora); their members pair O(B²) and would
#: dominate cost while contributing noise. Standard hot-bucket
#: suppression — at 100 TB it is what keeps banding near-linear.
MAX_BUCKET = 64
JACCARD_MIN = 0.4
_ROWS_PER_BAND = N_MINHASH // N_BANDS

#: universal-hash family over ONE md5 per token: h_i(x) = (a_i·x + b_i) mod P
#: with x = md5-derived 30-bit value — md5 once, then 16 cheap affine maps.
#: Constants sized so a_i·x + b_i < 2^61 (no overflow in either engine).
_UH_X_MOD = 1_073_741_789  # prime < 2^30
_UH_P = 2_147_483_647  # 2^31 - 1
_UH_A = [1_000_003 * (i + 1) + 12_345 for i in range(N_MINHASH)]
_UH_B = [999_983 * (i + 7) + 271 for i in range(N_MINHASH)]

def _minhash_chain_sql() -> str:
    """The MinHash pipeline's tok→signature→bands→hot-bucket-cap→
    candidate CTE chain — ONE textual statement of the banded-candidate
    contract, shared verbatim by the near-dup oracle
    (:data:`_MINHASH_ORACLE`) and the estimator-calibration oracle
    (:func:`minhash_jaccard_calibration`), the same
    second-consumer-appears factoring as text._bpe_chain_sql (r16;
    generated SQL verified byte-identical to the pre-factor text).
    Emitted WITHOUT the leading ``WITH`` so callers append their own
    CTEs."""
    return f"""tok AS (
      SELECT DISTINCT doc_id, unnest(regexp_split_to_array({_NORM_ASCII_SQL}, ' ')) AS tok
      FROM documents
    ),
    tokf AS (SELECT doc_id, tok FROM tok WHERE tok <> ''),
    base AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % {_UH_X_MOD} AS x
      FROM tokf
    ),
    hv AS (
      SELECT doc_id, i, (a.a * x + a.b) % {_UH_P} AS h
      FROM base, (
        SELECT unnest(generate_series(0, {N_MINHASH - 1})) AS i,
               unnest({_UH_A}) AS a, unnest({_UH_B}) AS b
      ) a
    ),
    sig AS (SELECT doc_id, i, MIN(h) AS mh FROM hv GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // {_ROWS_PER_BAND} AS band_id,
             md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_hash
      FROM sig GROUP BY doc_id, i // {_ROWS_PER_BAND}
    ),
    keep AS (
      SELECT band_id, band_hash FROM bands
      GROUP BY band_id, band_hash HAVING COUNT(*) <= {MAX_BUCKET}
    ),
    kb AS (SELECT b.* FROM bands b JOIN keep k USING (band_id, band_hash)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM kb a JOIN kb b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )"""


_MINHASH_ORACLE = f"""
    WITH {_minhash_chain_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tokf GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN tokf ta ON ta.doc_id = c.doc_a
      JOIN tokf tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard_sim
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= {JACCARD_MIN}
    ORDER BY jaccard_sim DESC, doc_a, doc_b
    LIMIT 100
"""


def _minhash_toks_arr(d: DataFrame) -> DataFrame:
    """Distinct-token arrays per document — the shared base of the
    MinHash signature pass and the exact-Jaccard verify (factored in
    r16 when the calibration op became the second consumer)."""
    return d.select(
        "doc_id",
        F.array_distinct(
            F.filter(F.split(_norm_ascii(F.col("text")), " "), lambda t: t != "")
        ).alias("toks"),
    ).filter(F.size("toks") > 0)


def _minhash_sig(toks_arr: DataFrame) -> DataFrame:
    """The wide MinHash signature table (doc_id, mh0..mh{N_MINHASH-1}):
    one md5 per token, {N_MINHASH} affine universal hashes, one
    groupBy(doc) of {N_MINHASH} min() aggregates. Spark twin of the
    oracle chain's ``sig`` CTE (:func:`_minhash_chain_sql`)."""
    tok = toks_arr.select("doc_id", F.explode("toks").alias("tok"))
    x = (
        F.conv(F.substring(F.md5(F.encode(F.col("tok"), "UTF-8")), 1, 15), 16, 10)
        .cast("long")
        % _UH_X_MOD
    )
    hashed = tok.select("doc_id", x.alias("x")).select(
        "doc_id",
        *[
            ((F.lit(_UH_A[i]) * F.col("x") + F.lit(_UH_B[i])) % _UH_P).alias(f"h{i}")
            for i in range(N_MINHASH)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(F.col(f"h{i}")).alias(f"mh{i}") for i in range(N_MINHASH)]
    )


def _minhash_candidates(sig: DataFrame) -> DataFrame:
    """Banded candidate pairs (doc_a < doc_b, distinct) with hot-bucket
    suppression — Spark twin of the oracle chain's bands→keep→kb→cand
    CTEs. The banding subtree has THREE consumers (bucket sizing plus
    both sides of the self-join); :func:`~...functions.lineage.
    lineage_cut` materializes it once (policy + cluster caveat live
    there). Measured at sf0.1: 1.80 → 1.64 s, result-identical."""
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.encode(
                                F.concat_ws(
                                    ",",
                                    *[
                                        F.col(f"mh{b * _ROWS_PER_BAND + r}").cast("string")
                                        for r in range(_ROWS_PER_BAND)
                                    ],
                                ),
                                "UTF-8",
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")

    bands = lineage_cut(bands)

    bucket_sizes = bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    bands = bands.join(
        F.broadcast(bucket_sizes.filter(F.col("bucket_n") <= MAX_BUCKET)),
        ["band_id", "band_hash"],
    ).drop("bucket_n")

    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup — the 100 TB path, built directly
    on DataFrame ops:

    1. signature pass (LINEAR): one md5 per token → a universal-hash
       family h_i(x) = (a_i·x + b_i) mod p gives 16 permutations; one
       groupBy(doc) with 16 min() aggregates forms the signature;
    2. banding: 4 bands of 4 rows; docs sharing any band signature become
       candidates via a shuffle equi-join on (band_id, band_hash) — never
       an n² comparison;
    3. verify (EXACT): true token-set Jaccard via array_intersect on the
       candidate pairs only; keep jaccard_sim ≥ 0.4.

    Token hashes are md5-derived (like text_simhash), so the ENTIRE
    banded pipeline — signatures, banding, hot-bucket suppression,
    candidate join, exact verify — is engine-independent and has a full
    DuckDB oracle. (xxhash64 would be ~2× faster per hash but is
    Spark-internal; the oracle is worth more.) An earlier version used
    MLlib's MinHashLSH.approxSimilarityJoin, which degenerates to ~n²
    pairwise sparse-vector distances on high-overlap corpora — this
    banded form does the distance math only on banded candidates.
    """
    d = load(spark, sf_dir, "documents")
    toks_arr = _minhash_toks_arr(d)
    sig = _minhash_sig(toks_arr)
    candidates = _minhash_candidates(sig)

    ta = toks_arr.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = toks_arr.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        candidates.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= JACCARD_MIN)
        .orderBy(F.desc("jaccard_sim"), "doc_a", "doc_b")
        .limit(100)
    )


@query(
    "minhash_jaccard_calibration",
    oracle=f"""
    WITH {_minhash_chain_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tokf GROUP BY doc_id),
    slots AS (
      SELECT c.doc_a, c.doc_b,
             SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS n_match
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
      GROUP BY c.doc_a, c.doc_b
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN tokf ta ON ta.doc_id = c.doc_a
      JOIN tokf tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT s.n_match,
             COALESCE(i.n_inter, 0) * 1.0
               / (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS exact_j
      FROM slots s
      LEFT JOIN inter i ON i.doc_a = s.doc_a AND i.doc_b = s.doc_b
      JOIN sizes sa ON sa.doc_id = s.doc_a
      JOIN sizes sb ON sb.doc_id = s.doc_b
    )
    SELECT CAST(n_match AS BIGINT) AS n_match,
           {round_cmp_sql(f"n_match * 1.0 / {N_MINHASH}")} AS est_jaccard,
           COUNT(*) AS n_pairs,
           {round_cmp_sql("AVG(exact_j)")} AS avg_exact_jaccard,
           {round_cmp_sql(f"AVG(ABS(n_match * 1.0 / {N_MINHASH} - exact_j))")} AS avg_abs_err
    FROM pairs
    GROUP BY n_match
    ORDER BY n_match DESC
    """,
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every banded candidate pair,
    compare the MinHash-ESTIMATED Jaccard (matching signature slots /
    {N_MINHASH}) against the EXACT token-set Jaccard, rolled up per
    matching-slot count — the measurement a dedup pipeline runs when
    tuning (bands, rows) geometry (E[est] = J per slot, so avg_abs_err
    ~ sqrt(J(1-J)/{N_MINHASH}) when the estimator is healthy; a
    systematic gap means the hash family or the shingling is broken).

    Scale shape: the machinery of :func:`dedup_minhash_lsh` — a linear
    signature pass, banded equi-join candidates with hot-bucket
    suppression, a {N_MINHASH}-term codegen'd slot comparison joined to
    the candidate list (two equi-joins bounded by candidate count), the
    same array_intersect verify, and a rollup of at most {N_MINHASH}+1
    rows. The signature table feeds both the banding and the slot
    compare, so it is lazily checkpointed.

    The oracle replays the IDENTICAL chain (shared verbatim via
    :func:`_minhash_chain_sql`) plus the slot/exact rollup; estimated
    Jaccard n/{N_MINHASH} is exact in binary ({N_MINHASH} is a power
    of two), so only the averaged doubles need the round_cmp grid."""
    d = load(spark, sf_dir, "documents")
    toks_arr = _minhash_toks_arr(d)
    sig = lineage_cut(_minhash_sig(toks_arr))
    candidates = _minhash_candidates(sig)

    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MINHASH)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MINHASH)],
    )
    n_match = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    ).cast("long")

    ta = toks_arr.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = toks_arr.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    pairs = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            n_match.alias("n_match"),
            (inter / union).alias("exact_j"),
        )
    )
    est = F.col("n_match") * F.lit(1.0) / F.lit(N_MINHASH)
    return (
        pairs.groupBy("n_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            round_cmp(F.avg("exact_j")).alias("avg_exact_jaccard"),
            round_cmp(F.avg(F.abs(est - F.col("exact_j")))).alias("avg_abs_err"),
        )
        .select(
            "n_match",
            round_cmp(est).alias("est_jaccard"),
            "n_pairs",
            "avg_exact_jaccard",
            "avg_abs_err",
        )
        .orderBy(F.desc("n_match"))
    )


#: simhash banding geometry: 5 disjoint 12-bit bands over the 60-bit
#: fingerprint; candidates must share ≥1 band; hamming ≤ 12 verifies.
_SIMHASH_BANDS = 5
_SIMHASH_BAND_BITS = 12
_SIMHASH_BAND_MASK = (1 << _SIMHASH_BAND_BITS) - 1
_SIMHASH_RADIUS = 12
#: hot-bucket suppression, same rationale as MAX_BUCKET above: a
#: degenerate band key (boilerplate / empty docs hashing alike) pairs
#: O(B²) inside its bucket — at 100 TB one mega-bucket is quadratic.
#: Buckets past the cap are dropped from candidate generation (mirrored
#: in the oracle's HAVING), keeping the band join near-linear.
_SIMHASH_MAX_BUCKET = 64


def _simhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, simhash) → one row per (doc_id, bk, band_key): band bk's
    12-bit slice of the fingerprint. Shift amounts are compile-time
    literals, so the whole explode stays in codegen."""
    return sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("bk"),
                        F.shiftright(F.col("simhash"), k * _SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(_SIMHASH_BAND_MASK))
                        .alias("band_key"),
                    )
                    for k in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.bk", "b.band_key")


def _bands_with_src(sig: DataFrame, src_of: DataFrame) -> DataFrame:
    """Band rows carrying the ingest source number — THE one
    construction of the maintained store's row layout (doc_id, simhash,
    bk, band_key, src): :func:`_simhash_bands` over ``sig`` joined back
    to ``src_of``'s (doc_id, src) map. Extracted (r12 second review:
    the idiom had been inlined five times across the streaming module,
    the plan showcase, and three tests — any change to how src attaches
    would have had to move in lockstep everywhere)."""
    return _simhash_bands(sig).join(src_of.select("doc_id", "src"), "doc_id")


def _cap_bands(bands: DataFrame) -> DataFrame:
    """Hot-bucket cap over band rows (any source: a fresh explode or a
    persisted band table): broadcast bucket-size filter at
    ``_SIMHASH_MAX_BUCKET``. NOTE: ``bands`` is referenced twice (the
    size pass and the join side) — callers must hand in a checkpointed
    or otherwise cheap-to-recompute DataFrame, or pay the subtree
    twice (Catalyst does not dedupe shared subplans)."""
    sizes = bands.groupBy("bk", "band_key").agg(F.count(F.lit(1)).alias("bucket_n"))
    return bands.join(
        F.broadcast(sizes.filter(F.col("bucket_n") <= _SIMHASH_MAX_BUCKET)),
        ["bk", "band_key"],
    ).drop("bucket_n")


def _capped_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, simhash) → hot-bucket-capped band rows (doc_id, simhash,
    bk, band_key): the self-join mode's store-side half of the banded
    tail. Lineage-cut band explode (bands feed the bucket-size pass
    and the join side; a fresh call gets a fresh RDD so repeated
    bench runs stay honest — policy + cluster caveat in
    :func:`~...functions.lineage.lineage_cut`), broadcast hot-bucket
    cap (:func:`_cap_bands`). A caller that cannot afford the lazy cut
    composes :func:`_simhash_bands`, its own cut and :func:`_cap_bands`
    directly, as streaming/neardup._store_bands does."""
    return _cap_bands(lineage_cut(_simhash_bands(sig)))


def _banded_hamming_pairs(
    sig: DataFrame | None = None,
    probe: DataFrame | None = None,
    sig_bands: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, simhash) → near-dup candidate pairs: THE shared banded
    tail for all three modalities (`simhash_near_pairs` /
    `image_phash_neardup` / `audio_fingerprint_neardup`) — edit here,
    never inline. Lazy-checkpointed band explode (bands feed the
    bucket-size pass and both self-join sides), broadcast hot-bucket
    cap, (bk, band_key) equi-self-join — never a cross product — then
    the Hamming verify and top-50 presentation.

    PROBE MODE: with ``probe`` given, ``sig`` is the historical
    signature STORE and ``probe`` a batch of NEW signatures; the join is
    probe-bands × capped-store-bands (doc_a = the new doc, doc_b = its
    store match), the shape streaming/neardup.py replays per
    micro-batch. The cap stays on the STORE side: a capped store bucket
    bounds the join at ≤ cap rows per probe band row, so candidate
    volume is linear in the batch whatever the probe skew. Oracle twin:
    `_BANDED_PROBE_SQL_TAIL`. ``sig_bands`` passes PRE-BANDED capped
    store rows instead of ``sig`` (the streaming probe bands its store
    once and reuses it every micro-batch).
    """
    if (sig is None) == (sig_bands is None):  # never assert: -O strips it
        raise ValueError("pass exactly one of sig / sig_bands")
    bands = _capped_bands(sig) if sig_bands is None else sig_bands
    if probe is None:
        a, b = bands.alias("a"), bands.alias("b")
        join_cond = (
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
    else:
        a, b = _simhash_bands(probe).alias("a"), bands.alias("b")
        join_cond = (F.col("a.bk") == F.col("b.bk")) & (
            F.col("a.band_key") == F.col("b.band_key")
        )
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, join_cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= _SIMHASH_RADIUS)
        .distinct()
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(50)
    )


#: the oracle twin of :func:`_banded_hamming_pairs`: appended after a
#: ``sig(doc_id, simhash)`` CTE (whatever modality computed it), it
#: replays banding, hot-bucket cap, self-join, Hamming verify, and the
#: top-50 presentation — the single SQL definition all three modality
#: oracles interpolate.
_BANDED_PAIRS_SQL_TAIL = f""",
    bands AS (
      SELECT doc_id, simhash, bk,
             (simhash >> (bk * {_SIMHASH_BAND_BITS})) & {_SIMHASH_BAND_MASK} AS band_key
      FROM sig, (SELECT unnest(generate_series(0, {_SIMHASH_BANDS - 1})) AS bk)
    ),
    keep AS (
      SELECT bk, band_key FROM bands
      GROUP BY bk, band_key HAVING COUNT(*) <= {_SIMHASH_MAX_BUCKET}
    ),
    kb AS (SELECT b.* FROM bands b JOIN keep k USING (bk, band_key))
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM kb a JOIN kb b
      ON a.bk = b.bk AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_RADIUS}
    ORDER BY hamming, doc_a, doc_b
    LIMIT 50
    """


#: probe-mode oracle twin of :func:`_banded_hamming_pairs`:
#: appended after ``sig(doc_id, simhash)`` (the historical STORE) and
#: ``probe(doc_id, simhash)`` (the new batch) CTEs, it replays banding
#: on both sides, the STORE-side hot-bucket cap, the asymmetric
#: probe×store band join (doc_a = new doc, doc_b = store match), the
#: Hamming verify, and the top-50 presentation — the single SQL
#: definition for every incremental/streaming near-dup oracle.
_BANDED_PROBE_SQL_TAIL = f""",
    store_bands AS (
      SELECT doc_id, simhash, bk,
             (simhash >> (bk * {_SIMHASH_BAND_BITS})) & {_SIMHASH_BAND_MASK} AS band_key
      FROM sig, (SELECT unnest(generate_series(0, {_SIMHASH_BANDS - 1})) AS bk)
    ),
    keep AS (
      SELECT bk, band_key FROM store_bands
      GROUP BY bk, band_key HAVING COUNT(*) <= {_SIMHASH_MAX_BUCKET}
    ),
    kb AS (SELECT b.* FROM store_bands b JOIN keep k USING (bk, band_key)),
    probe_bands AS (
      SELECT doc_id, simhash, bk,
             (simhash >> (bk * {_SIMHASH_BAND_BITS})) & {_SIMHASH_BAND_MASK} AS band_key
      FROM probe, (SELECT unnest(generate_series(0, {_SIMHASH_BANDS - 1})) AS bk)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM probe_bands a JOIN kb b
      ON a.bk = b.bk AND a.band_key = b.band_key
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_RADIUS}
    ORDER BY hamming, doc_a, doc_b
    LIMIT 50
    """


@query(
    "simhash_near_pairs",
    oracle=f"""
    WITH {_SIMHASH_SIG_SQL_CTES},
    sig AS (SELECT doc_id, simhash FROM allsig){_BANDED_PAIRS_SQL_TAIL}""",
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with MULTI-BAND candidate generation: the 60-bit
    fingerprint is cut into 5 disjoint 12-bit bands and a pair is a
    candidate when ANY band matches — a union of equi-joins (shuffle on
    (band_id, band_key), no cross product), then the hamming filter
    verifies. Pigeonhole guarantee: any pair within hamming ≤ 4 shares
    at least one intact band, and recall stays high out to the radius
    (12) because the differing bits must land in every band to hide a
    pair (round-1's single top-15-bit prefix band missed any close pair
    that happened to differ inside that prefix — flagged, fixed here;
    recall vs exhaustive pairs is measured in
    tests/test_simhash_recall.py).

    At 100 TB: candidate volume is governed by band width — 12 bits =
    4096 buckets per band at this corpus size; widen bands (and add more
    of them) as the corpus grows so per-bucket membership stays bounded.
    Natural-language skew (boilerplate fingerprints) is handled the same
    way as dedup_minhash_lsh: (bk, band_key) buckets past
    _SIMHASH_MAX_BUCKET are dropped via a broadcast bucket-size filter
    before the self-join, so no bucket ever goes quadratic.
    """
    from .text import text_simhash

    return _banded_hamming_pairs(text_simhash(spark, sf_dir))


#: near-dup edge threshold for component clustering
_CC_JACCARD = 0.5


def _neardup_edges(d: DataFrame) -> DataFrame:
    """Undirected near-dup edge list (doc_a < doc_b): word-3-gram Jaccard
    >= {thr} pairs ∪ exact-text edges.

    Shares :func:`_shingle_index`'s hot-shingle DF cap with
    dedup_ngram_jaccard, and emits exact-text duplicates as STAR edges
    (group-min doc → every other member, k−1 edges) instead of the k²
    clique — the connected components are identical under transitive
    closure, so the oracle's clique-pair formulation certifies this
    shape unchanged while the edge list stays linear in dup-group size.

    The capped index feeds FOUR consumers (both self-join sides and
    both size lookups) — :func:`~...functions.lineage.lineage_cut`
    materializes it once (measured 3.0 → 2.1 s at sf0.1; same device
    as the connected-components round cut).
    """
    sh = lineage_cut(_shingle_index(d))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jpairs = (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(
            F.col("n_inter") / (F.col("sa.nsh") + F.col("sb.nsh") - F.col("n_inter"))
            >= _CC_JACCARD
        )
        .select("doc_a", "doc_b")
    )
    # star edges: one groupBy finds each dup group's min doc, then a
    # join back emits (min, member) — k−1 edges per k-dup group, never
    # the k² self-join clique; AQE picks the join strategy (the dup
    # group table is usually broadcast-sized but unbounded in theory)
    h = d.select("doc_id", F.md5("text").alias("h"))
    grp = (
        h.groupBy("h")
        .agg(F.min("doc_id").alias("doc_a"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .drop("n")
    )
    epairs = (
        h.join(grp, "h")
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
    )
    return jpairs.union(epairs).distinct()


def connected_components(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Min-label propagation over an undirected pair list
    ``(doc_a, doc_b)`` → ``(node, lbl)`` where lbl is the component's
    minimum node id. Each round every node takes min(own, neighbors');
    converges in O(component diameter) rounds, convergence-checked,
    lineage cut per round. Per-round cost: one shuffle of the edge list
    — no driver-side graph, so the pattern survives 100 TB edge lists.

    r17 round shape: neighbor messages UNION the node's own label into
    ONE min-aggregation (the r12 form re-joined the label table against
    the neighbor mins — a second per-round shuffle — purely to detect
    change), and convergence is read off ``sum(lbl)`` in the SAME
    action that materializes the round's cut: labels are non-increasing
    per node, so the total is strictly smaller iff any node moved. Same
    per-round update function ⇒ identical labels and round count; one
    exchange fewer per round (the dropped label-vs-neighbor join), which
    is what a 100 TB run pays per round on top of the edge shuffle —
    at sf0.1 the 86-edge graph reads inside bench noise either way."""
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst")
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    labels = lineage_cut(labels)
    prev_sum = None
    for _ in range(max_rounds):
        msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), F.col("lbl")
        )
        new = (
            msgs.union(labels.select("node", "lbl"))
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        new = lineage_cut(new)
        # decimal(38,0) sum: exact (no long overflow, no FP) even at
        # 100 TB node counts × 64-bit ids, so the stability test can
        # never false-positive on a wrapped sum
        cur = new.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        labels = new
        if cur == prev_sum:
            return labels
        prev_sum = cur
    raise RuntimeError(
        f"connected components did not converge in {max_rounds} rounds"
    )


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jpairs AS (
      SELECT doc_a, doc_b
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_inter * 1.0 / (sa.nsh + sb.nsh - n_inter) >= {_CC_JACCARD}
    ),
    epairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    pairs AS (SELECT * FROM jpairs UNION SELECT * FROM epairs),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    walk(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node
    ),
    comp AS (SELECT node, MIN(lbl) AS comp FROM walk GROUP BY node)
    SELECT comp AS component, COUNT(*) AS n_docs,
           MIN(node) AS keep_doc, COUNT(*) - 1 AS n_dropped
    FROM comp GROUP BY comp ORDER BY component
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING, not just pairs: union exact-text and
    3-gram-Jaccard edges, resolve transitive closure into connected
    components (A~B, B~C ⇒ one cluster even when A≁C), keep the minimum
    doc per component — the production dedup shape downstream of
    MinHash/SimHash candidate pairs.

    Spark side: iterative min-label propagation on DataFrames — each
    round every node takes min(own label, neighbors' labels); converges
    in O(component diameter) rounds (dup clusters are shallow; the loop
    is bounded and convergence-checked, lineage cut per round via
    functions.lineage.lineage_cut). This is the scalable pattern (GraphX/GraphFrames
    CC is the same algorithm): per-round cost is one shuffle of the
    edge list, no driver-side graph. The oracle resolves the identical
    closure with a recursive CTE — tractable because the checked corpus
    is small; at 100 TB only the iterative form survives.
    """
    d = load(spark, sf_dir, "documents")
    pairs = lineage_cut(_neardup_edges(d))
    labels = connected_components(pairs)
    return (
        labels.groupBy(F.col("lbl").alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("node").alias("keep_doc"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
        .orderBy("component")
    )


#: blocked fuzzy matching: probe names are deterministic end-of-string
#: perturbations of the master names (custkey%5: 0 → last char swapped,
#: 1 → char appended, 2 → last two chars swapped, else clean), so every
#: probe's edit distance to its true master is 0/1/2 by construction
_ER_DIRTY_SQL = """
    CASE WHEN c_custkey % 5 = 0 THEN substr(c_name, 1, 17) || 'X'
         WHEN c_custkey % 5 = 1 THEN c_name || 'Z'
         WHEN c_custkey % 5 = 2 THEN substr(c_name, 1, 16) || 'XY'
         ELSE c_name END
"""
#: blocking key: first 7 digits of the digit-normalized name — invariant
#: under all three perturbations (they touch only the trailing chars),
#: bounding every block to ~100 names
_ER_BLOCK_SQL = "substr(regexp_replace({col}, '[^0-9]+', ''{g}), 1, 7)"


@query(
    "entity_resolution_blocked",
    oracle=f"""
    WITH probe AS (
      SELECT c_custkey AS probe_key, {_ER_DIRTY_SQL} AS dirty_name
      FROM customer
    ),
    master AS (
      SELECT c_custkey AS master_key, c_name,
             {_ER_BLOCK_SQL.format(col="c_name", g=", 'g'")} AS blk
      FROM customer
    ),
    cand AS (
      SELECT p.probe_key, m.master_key,
             levenshtein(p.dirty_name, m.c_name) AS lev
      FROM probe p
      JOIN master m
        ON m.blk = {_ER_BLOCK_SQL.format(col="p.dirty_name", g=", 'g'")}
      WHERE levenshtein(p.dirty_name, m.c_name) <= 2
    ),
    best AS (
      SELECT probe_key, master_key, lev,
             ROW_NUMBER() OVER (PARTITION BY probe_key
                                ORDER BY lev, master_key) AS rn
      FROM cand
    )
    SELECT CAST(lev AS INTEGER) AS lev, COUNT(*) AS n_matches,
           CAST(SUM(CASE WHEN probe_key = master_key THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
    FROM best WHERE rn = 1
    GROUP BY lev ORDER BY lev
    """,
)
def entity_resolution_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution — the record-linkage pattern for
    matching dirty names against a master table at scale: probe names
    (deterministic end-of-string corruptions of the master) are matched
    by edit distance ≤ 2, but ONLY inside blocks sharing a
    perturbation-invariant key (first 7 digits of the digit-normalized
    name). Blocking is what makes this viable: |block|² Levenshtein
    calls instead of |corpus|² — the same blocking-before-verify ladder
    as every near-dup op in this module (label, LSH bucket, simhash
    band; here a normalized key).

    The best candidate per probe is min (lev, master_key) — ambiguity
    is REAL in edit-distance space (a probe ending 'X' sits at lev 1
    from ten masters differing only in the last digit), so the op
    reports match-quality buckets with an n_correct column instead of
    pretending identity truth. Fully deterministic → fully
    oracle-replayable (Spark's levenshtein and DuckDB's agree — both
    are plain unweighted edit distance).
    """
    c = load(spark, sf_dir, "customer")
    probe = c.select(
        F.col("c_custkey").alias("probe_key"),
        F.expr(_ER_DIRTY_SQL).alias("dirty_name"),
    ).withColumn(
        "blk",
        F.expr(_ER_BLOCK_SQL.format(col="dirty_name", g="")),
    )
    # the stream side of the broadcast join inherits the input's split
    # count (ONE file in the testdata → one task doing every verify);
    # spread the blocks so the Levenshtein pass parallelizes. At 100 TB
    # the master table has natural splits and this is a no-op to remove.
    master = c.select(
        F.col("c_custkey").alias("master_key"),
        "c_name",
        F.expr(_ER_BLOCK_SQL.format(col="c_name", g="")).alias("blk"),
    )
    master = spread(master, "blk", n=spark.sparkContext.defaultParallelism)
    # thresholded levenshtein: the banded DP short-circuits above the
    # match radius (returns -1), ~linear instead of quadratic per pair —
    # the verify-step analogue of blocking. Same distances for kept rows,
    # so the oracle's plain levenshtein(...) <= 2 sees identical values.
    cand = (
        probe.join(master, "blk")
        .withColumn("lev", F.levenshtein(F.col("dirty_name"), F.col("c_name"), 2))
        .filter(F.col("lev") >= 0)  # -1 = beyond the radius
    )
    best = (
        cand.groupBy("probe_key")
        .agg(F.min(F.struct("lev", "master_key")).alias("b"))
        .select("probe_key", F.col("b.lev").alias("lev"), F.col("b.master_key").alias("master_key"))
    )
    return (
        best.groupBy("lev")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum((F.col("probe_key") == F.col("master_key")).cast("long")).alias(
                "n_correct"
            ),
        )
        .orderBy("lev")
    )


# --------------------------------------------------------------------------
# Streaming incremental near-dup: new-batch
# micro-batch twin of simhash_near_pairs the way streaming_dedup_replay
# is the twin of dedup_exact_text / dedup_incremental.
# --------------------------------------------------------------------------

#: history/ingest split for the incremental near-dup family: sources
#: src0..src{N-1} stand in for the historical corpus (the maintained
#: signature store), src{N}.. for incoming ingest batches — a LARGER
#: store than dedup_incremental's single-source history because the
#: probe shape under test is store-side banding + hot-bucket capping.
_NEARDUP_STORE_SOURCES = 10
_NEARDUP_STORE_PRED_SQL = f"CAST(substr(d.source, 4) AS INT) < {_NEARDUP_STORE_SOURCES}"


@query(
    "streaming_neardup_probe",
    oracle=f"""
    WITH {_SIMHASH_SIG_SQL_CTES},
    sig AS (
      SELECT a.doc_id, a.simhash FROM allsig a JOIN documents d USING (doc_id)
      WHERE {_NEARDUP_STORE_PRED_SQL}
    ),
    probe AS (
      SELECT a.doc_id, a.simhash FROM allsig a JOIN documents d USING (doc_id)
      WHERE NOT ({_NEARDUP_STORE_PRED_SQL})
    ){_BANDED_PROBE_SQL_TAIL}""",
    tags=("streaming", "dedup"),
)
def streaming_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental near-dup, oracle-certified end-to-end: the
    ten ingest sources (src10..src19) replay as micro-batches through a
    foreachBatch pipeline that computes each batch's SimHash signatures
    (the SAME ``text.simhash_sig`` pipeline as the batch ops) and probes
    them against the historical corpus's banded signature store
    (src0..src9) via ``_banded_hamming_pairs`` in probe mode — closing
    dedup's batch/streaming gap for NEAR-duplicates the way
    streaming_dedup_replay closed it for exact fingerprints.

    Certification: the bounded stream's final pair set must hash-match
    the batch/DuckDB answer (shared ``_SIMHASH_SIG_SQL_CTES`` +
    ``_BANDED_PROBE_SQL_TAIL``). Correctness of the replay does not
    depend on batch boundaries: each probe doc lives in exactly ONE
    micro-batch, pair identity includes the probe doc, and every
    globally-top-50 pair is also top-50 within its own batch (its
    batch's pairs are a subset of all pairs), so the final global
    re-sort + limit over the accumulated per-batch top-50s equals the
    batch answer — see streaming/neardup.py for the replay mechanics
    and the production (unbounded) form."""
    from ..streaming.neardup import stream_neardup_probe

    return stream_neardup_probe(spark, sf_dir)


def _banded_prefix_pairs(batch_bands: DataFrame, store_bands: DataFrame) -> DataFrame:
    """One micro-batch's MAINTAINED-store probe, whole-batch form (r12
    perf pass: the first version looped per source, re-scanning and
    re-capping the store once per source — 10 store scans per replay;
    this form runs ONE join per batch with the cap evaluated per
    PROBE-STATE, exactly the oracle's formulation, cutting the replay
    from ~17 s to per-batch cost at sf0.1).

    Inputs are band rows carrying ``src`` (the ingest source number):
    ``batch_bands`` = the micro-batch's own rows (≥1 whole CONTIGUOUS
    sources — the chunker guarantees contiguity, which is what makes
    store(src < min(batch)) ∪ batch == all rows earlier than any probe
    state in the batch); ``store_bands`` = the persisted store filtered
    to src < min(batch). Pair (a, b) is emitted when a shares a band
    with an earlier-source b at the bucket's a-state population ≤ cap
    and Hamming ≤ radius — oracle twin: `_BANDED_MAINT_SQL_TAIL`.

    Scale shape: the candidate join is an equi-join on (bk, band_key)
    with the src ordering as a post-join predicate; the per-state
    bucket population is an EXCLUSIVE running sum over the aggregated
    (bk, band_key, src) count table — one windowed pass over a table
    bounded by buckets × sources (the band space is 2^band_bits per
    band, fixed whatever the corpus size), no state-expansion join —
    and the surviving cap table broadcasts unconditionally.
    ``batch_bands`` is referenced twice (sizing via the union, probe
    side): callers hand in a checkpointed frame."""
    from pyspark.sql.window import Window

    all_bands = lineage_cut(store_bands.unionByName(batch_bands))
    # bucket population AS OF each src that appears in the bucket:
    # rows with strictly earlier src = running sum EXCLUSIVE of the
    # current src's own count. Every (probe row's bucket, src_a) combo
    # exists here because the probe rows are part of all_bands.
    w = (
        Window.partitionBy("bk", "band_key")
        .orderBy("src")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    keep = (
        all_bands.groupBy("bk", "band_key", "src")
        .agg(F.count(F.lit(1)).alias("n_at_src"))
        .select(
            F.col("src").alias("src_a"),
            "bk",
            "band_key",
            F.coalesce(F.sum("n_at_src").over(w), F.lit(0)).alias("bucket_n"),
        )
        .filter(F.col("bucket_n") <= _SIMHASH_MAX_BUCKET)
        .drop("bucket_n")
    )
    a, b = batch_bands.alias("a"), all_bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    cand = a.join(
        b,
        (F.col("a.bk") == F.col("b.bk"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("b.src") < F.col("a.src")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.src").alias("src_a"),
        F.col("a.bk").alias("bk"),
        F.col("a.band_key").alias("band_key"),
        hamming.cast("long").alias("hamming"),
    )
    return (
        cand.join(F.broadcast(keep), ["src_a", "bk", "band_key"])
        .filter(F.col("hamming") <= _SIMHASH_RADIUS)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(50)
    )


#: oracle twin of the MAINTAINED-store loop:
#: appended after a ``sig(doc_id, simhash, src)`` CTE carrying every
#: document's source number, it replays what the growing store makes
#: true — a new doc (src >= store cutoff) pairs with ANY strictly
#: earlier source's doc, and the hot-bucket cap is evaluated at the
#: STORE STATE that probe saw (bucket population over sources < its
#: own), then the Hamming verify and the shared top-50 presentation.
_BANDED_MAINT_SQL_TAIL = f""",
    bands AS (
      SELECT doc_id, simhash, src, bk,
             (simhash >> (bk * {_SIMHASH_BAND_BITS})) & {_SIMHASH_BAND_MASK} AS band_key
      FROM sig, (SELECT unnest(generate_series(0, {_SIMHASH_BANDS - 1})) AS bk)
    ),
    probe_bands AS (
      SELECT * FROM bands WHERE src >= {_NEARDUP_STORE_SOURCES}
    ),
    bucket_state AS (
      SELECT p.src AS src_a, b.bk, b.band_key, COUNT(*) AS n
      FROM (SELECT DISTINCT src FROM probe_bands) p
      JOIN bands b ON b.src < p.src
      GROUP BY 1, 2, 3
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.src AS src_a,
             a.bk, a.band_key,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM probe_bands a JOIN bands b
        ON a.bk = b.bk AND a.band_key = b.band_key AND b.src < a.src
    )
    SELECT DISTINCT doc_a, doc_b, hamming
    FROM cand c JOIN bucket_state s
      ON s.src_a = c.src_a AND s.bk = c.bk AND s.band_key = c.band_key
    WHERE s.n <= {_SIMHASH_MAX_BUCKET} AND c.hamming <= {_SIMHASH_RADIUS}
    ORDER BY hamming, doc_a, doc_b
    LIMIT 50
    """


#: the complete maintained-store oracle — shared VERBATIM by the
#: maintenance op and the compaction op below: compaction is an
#: answer-preserving OPTIMIZE, so the two ops certifying against the
#: same SQL is the point, not a shortcut.
_MAINT_ORACLE = f"""
    WITH {_SIMHASH_SIG_SQL_CTES},
    sig AS (
      SELECT a.doc_id, a.simhash, CAST(substr(d.source, 4) AS INT) AS src
      FROM allsig a JOIN documents d USING (doc_id)
    ){_BANDED_MAINT_SQL_TAIL}"""


@query(
    "streaming_neardup_store_maintenance",
    oracle=_MAINT_ORACLE,
    tags=("streaming", "dedup"),
)
def streaming_neardup_store_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SELF-DEDUPLICATING ingest — the maintained-store form of
    streaming_neardup_probe (its module docstring's named production
    shape, VERDICT r11 item 2): the historical corpus (src0..src9) is
    materialized once as a persisted BANDED signature store; each
    ingest micro-batch (one or more whole contiguous sources) then (1)
    probes the store in ONE ``_banded_prefix_pairs`` join — pair
    (a, b) requires b's source strictly earlier than a's — and (2)
    appends its OWN band rows back, so source s dedups against the
    history AND every source < s. The hot-bucket cap is evaluated at
    each probe row's OWN store state (a windowed exclusive running
    sum over per-(bucket, src) counts) — a bucket can be open for
    early ingest and closed (capped) for later ingest as clones
    accumulate, which the oracle mirrors with the same per-probe-state
    bucket population.

    Replay idempotence (at-least-once foreachBatch): pair appends are
    absorbed by pair-identity DISTINCT on read; band re-appends by
    DISTINCT on the store read; and a replayed batch probing a store
    that already holds its OWN first-attempt rows is prevented by the
    src < s store filter — stop/restart recovery and 1/2/5-chunk
    boundary invariance are pinned in tests/test_streaming_recovery.py.

    At 100 TB: this IS the production loop — the store is an appended
    banded TABLE (here a parquet dir), probes are (bk, band_key)
    equi-joins with the cap bounding candidates per probe band row,
    and per-batch work is linear in the batch. The per-batch
    ``.distinct()`` over the store absorbs at-least-once append
    duplicates; an exactly-once table format (or periodic compaction —
    ``streaming_neardup_store_compaction`` below certifies it) makes
    it a no-op to drop. Cites the reference's dedup surface
    (notebook cell: drop_duplicates) — the reference has no streaming
    form; this extends it."""
    from ..streaming.neardup import stream_neardup_store_maintenance

    return stream_neardup_store_maintenance(spark, sf_dir)


@query(
    "streaming_neardup_store_compaction",
    oracle=_MAINT_ORACLE,
    tags=("streaming", "dedup"),
)
def streaming_neardup_store_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintained-store COMPACTION, certified answer-preserving — the
    OPTIMIZE step every appended table needs: at-least-once retries
    leave duplicate band rows in the store, the probe absorbs them with
    a DISTINCT on every read, and periodic compaction (a distinct
    rewrite, staged then swapped) makes that DISTINCT a no-op.

    This op runs the SAME maintained-store replay as
    ``streaming_neardup_store_maintenance`` but with the failure it
    exists to clean up INJECTED mid-stream: after the first ingest
    chunks, every store part file is duplicated (an at-least-once
    retry's debris, strictly worse than any real retry), the store is
    compacted, and the remaining chunks replay against the compacted
    store. Certified by the maintenance oracle VERBATIM — compaction
    that moves any answer is a failed compaction, so sharing the SQL
    is the specification. Probe-invariance at the half-replay point
    and the before/after row counts are additionally pinned in
    tests/test_streaming_recovery.py; plan pin (scan → hash-aggregate
    distinct → write, no join) in tests/test_plans.py. See
    streaming/neardup.py:compact_store_bands for the swap protocol
    and the transactional-format production form."""
    from ..streaming.neardup import stream_neardup_store_compaction

    return stream_neardup_store_compaction(spark, sf_dir)
