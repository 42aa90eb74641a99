"""End-to-end corpus curation — the composed training-data pipeline a
user actually runs: quality gate → canonical-fingerprint dedup →
per-slice corpus statistics. One DataFrame chain, one SQL oracle.

This is the integration query over the text/dedup building blocks
(text.text_quality_score semantics, doc_fingerprint, exact dedup):
each stage alone is oracle-checked elsewhere; this one pins their
composition.

Scale shape (the order of stages IS the optimization):
1. the quality gate is a scan-level filter — cheapest first, it prunes
   before anything shuffles;
2. dedup keeps one doc per md5(normalized text) via row_number over the
   fingerprint — ONE shuffle keyed by a uniformly-distributed hash (no
   skew by construction);
3. the surviving rows partial-aggregate into |lang × source| rows.
At 100 TB nothing in this plan materializes more than the winning rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rank_math import interp_col, rank_spec_col
from .registry import load, query, round_cmp, round_cmp_sql
from .text import _NORM_ASCII_SQL, ASCII_TOKEN_COUNT_SQL, _norm_ascii, ascii_token_count


@query(
    "corpus_curation",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source,
             length(text) AS n_chars,
             md5({_NORM_ASCII_SQL}) AS fp,
             len(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / length(text) AS alpha_ratio,
             {ASCII_TOKEN_COUNT_SQL} AS n_tokens
      FROM documents
    ),
    quality AS (
      SELECT * FROM scored WHERE alpha_ratio > 0.55 AND n_tokens >= 5
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           {round_cmp_sql("AVG(n_tokens)")} AS avg_tokens,
           {round_cmp_sql("AVG(n_chars)")} AS avg_chars
    FROM deduped
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter → fingerprint-dedup → per-(lang, source) stats."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    n_tokens = ascii_token_count()
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        F.length(t).alias("n_chars"),
        F.md5(F.encode(_norm_ascii(t), "UTF-8")).alias("fp"),
        (F.regexp_count(t, F.lit("[A-Za-z]")) / F.length(t)).alias("alpha_ratio"),
        n_tokens.alias("n_tokens"),
    )
    quality = scored.filter((F.col("alpha_ratio") > 0.55) & (F.col("n_tokens") >= 5))
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    return (
        deduped.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_cmp(F.avg("n_tokens")).alias("avg_tokens"),
            round_cmp(F.avg("n_chars")).alias("avg_chars"),
        )
        .orderBy("lang", "source")
    )


#: decontamination n-gram order and eval-slice selector (doc_id mod)
_DECON_N = 5
_DECON_MOD, _DECON_REM = 25, 17

_DECON_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(t) - {_DECON_N - 1}, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g
  FROM (SELECT doc_id, regexp_split_to_array({_NORM_ASCII_SQL}, ' ') AS t FROM documents)
"""


@query(
    "contamination_ngram_check",
    oracle=f"""
    WITH sh AS ({_DECON_SHINGLES_SQL}),
    ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % {_DECON_MOD} = {_DECON_REM}),
    cont AS (
      SELECT DISTINCT sh.doc_id FROM sh JOIN ev ON sh.g = ev.g
      WHERE sh.doc_id % {_DECON_MOD} <> {_DECON_REM}
    )
    SELECT d.source,
           COUNT(*) AS n_train_docs,
           COUNT(c.doc_id) AS n_contaminated,
           ROUND(COUNT(c.doc_id) * 1.0 / COUNT(*), 6) AS contaminated_share
    FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
    WHERE d.doc_id % {_DECON_MOD} <> {_DECON_REM}
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def contamination_ngram_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word-{_DECON_N}-gram with the held-out eval slice (the standard
    n-gram-overlap check run before training on scraped corpora; the
    eval slice here is the deterministic doc_id % {_DECON_MOD} ==
    {_DECON_REM} subset standing in for an external benchmark).

    Scale shape: eval shingles are tiny (|eval| ≪ |train|) — DISTINCT
    then broadcast; the train-side shingle stream semi-joins against
    them (no pair materialization, no shuffle of train shingles), and
    only distinct contaminated doc_ids — bounded by |train docs| — reach
    the final per-source aggregate. At 100 TB the eval side is a real
    benchmark suite (a few MB of n-grams): the broadcast holds.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(_norm_ascii(F.col("text")), " ").alias("t")
    )
    t = F.col("t")
    starts = F.when(
        F.size(t) >= _DECON_N, F.sequence(F.lit(1), F.size(t) - (_DECON_N - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + k) for k in range(_DECON_N)]
                ),
            )
        ).alias("g"),
    ).distinct()
    is_eval = F.col("doc_id") % _DECON_MOD == _DECON_REM
    ev = sh.filter(is_eval).select("g").distinct()
    cont = (
        sh.filter(~is_eval)
        .join(F.broadcast(ev), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    train = d.filter(~is_eval).select("doc_id", "source")
    return (
        train.join(cont, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count("contaminated").alias("n_contaminated"),
            F.round(F.count("contaminated") / F.count(F.lit(1)), 6).alias(
                "contaminated_share"
            ),
        )
        .orderBy("source")
    )


#: C4-style heuristics: blocklist terms, minimum token count, maximum
#: token length (mojibake/base64 runs masquerading as words)
_BLOCKLIST = r"\b(slow|error)\b"
_MIN_TOKENS = 10
_MAX_WORD_LEN = 20


@query(
    "c4_heuristic_filter",
    oracle=f"""
    WITH m AS (
      SELECT source,
             CASE WHEN regexp_matches({_NORM_ASCII_SQL}, '{_BLOCKLIST}') THEN 1 ELSE 0 END AS f_block,
             CASE WHEN len(regexp_split_to_array({_NORM_ASCII_SQL}, ' ')) < {_MIN_TOKENS} THEN 1 ELSE 0 END AS f_short,
             CASE WHEN list_max(list_transform(regexp_split_to_array({_NORM_ASCII_SQL}, ' '),
                                               x -> length(x))) > {_MAX_WORD_LEN} THEN 1 ELSE 0 END AS f_longword
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(f_block) AS BIGINT) AS n_blocklisted,
           CAST(SUM(f_short) AS BIGINT) AS n_too_short,
           CAST(SUM(f_longword) AS BIGINT) AS n_long_word,
           CAST(SUM(CASE WHEN f_block + f_short + f_longword = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM m
    GROUP BY source
    ORDER BY source
    """,
)
def c4_heuristic_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic document filtering: a term blocklist, a
    minimum-length gate, and a pathological-word gate (tokens longer
    than {_MAX_WORD_LEN} chars — base64/mojibake runs), reported as
    per-source keep/drop tallies.

    Every flag is a row-local expression (regex + higher-order
    array max) inside whole-stage codegen — the filter costs one scan,
    prunes BEFORE any shuffle, and the only exchange feeds the
    per-source tally. The blocklist terms are config stand-ins for the
    C4 originals ("javascript", "lorem ipsum", "{{") chosen to actually
    fire on the synthetic vocabulary.
    """
    d = load(spark, sf_dir, "documents")
    norm = _norm_ascii(F.col("text"))
    toks = F.split(norm, " ")
    f_block = norm.rlike(_BLOCKLIST).cast("int")
    f_short = (F.size(toks) < _MIN_TOKENS).cast("int")
    f_longword = (
        F.array_max(F.transform(toks, lambda x: F.length(x))) > _MAX_WORD_LEN
    ).cast("int")
    m = d.select(
        "source",
        f_block.alias("f_block"),
        f_short.alias("f_short"),
        f_longword.alias("f_longword"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("f_block").alias("n_blocklisted"),
            F.sum("f_short").alias("n_too_short"),
            F.sum("f_longword").alias("n_long_word"),
            F.sum(
                (
                    (F.col("f_block") + F.col("f_short") + F.col("f_longword")) == 0
                ).cast("int")
            ).alias("n_kept"),
        )
        .orderBy("source")
    )


#: target corpus mixture: named sources get fixed shares, the rest split
#: the remainder evenly — the "upsample curated, downsample crawl" knob.
_MIX_PINNED = {"src0": 0.10, "src1": 0.10, "src2": 0.10}
_MIX_REST_SHARE = (1.0 - sum(_MIX_PINNED.values())) / 17  # 20 sources total


@query(
    "source_mixture_weights",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_docs) AS total FROM counts)
    SELECT source, n_docs,
           ROUND(n_docs * 1.0 / total, 6) AS actual_share,
           ROUND(CAST(CASE source
             {chr(10).join(f"WHEN '{s}' THEN {sh}" for s, sh in _MIX_PINNED.items())}
             ELSE {_MIX_REST_SHARE} END AS DOUBLE), 6) AS target_share,
           ROUND((CASE source
             {chr(10).join(f"WHEN '{s}' THEN {sh}" for s, sh in _MIX_PINNED.items())}
             ELSE {_MIX_REST_SHARE} END) / (n_docs * 1.0 / total), 6) AS weight
    FROM counts, tot
    ORDER BY source
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source sampling weights that
    transform the corpus's ACTUAL source distribution into a TARGET
    mixture (pin shares for curated sources, split the remainder over
    the crawl) — the step that turns dedup'd documents into a training
    mix; weight > 1 upsamples, < 1 downsamples.

    One partial-agg'd count per source (|sources| rows), the grand
    total folded back as a literal-free broadcast (1-row cross join) —
    nothing here grows with corpus size except the single counting
    scan. Downstream, the weights drive stratified_hash_sample-style
    deterministic thresholds rather than RNG draws.
    """
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("total"))
    target = F.coalesce(
        *[F.when(F.col("source") == s, F.lit(sh)) for s, sh in _MIX_PINNED.items()],
        F.lit(_MIX_REST_SHARE),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("actual_share"),
            F.round(target, 6).alias("target_share"),
            F.round(target / (F.col("n_docs") / F.col("total")), 6).alias("weight"),
        )
        .orderBy("source")
    )


#: resampling scale: weights map to copy counts via a 16-bit hash draw
_RESAMPLE_HEX_SCALE = 1 << 16


@query(
    "mixture_resample",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_docs) AS total FROM counts),
    w AS (
      SELECT source,
             (ROUND(CAST(CASE source
               {chr(10).join(f"WHEN '{s}' THEN {sh}" for s, sh in _MIX_PINNED.items())}
               ELSE {_MIX_REST_SHARE} END AS DOUBLE), 6))
             / (n_docs * 1.0 / total) AS weight
      FROM counts, tot
    ),
    draws AS (
      SELECT d.doc_id, d.source, w.weight,
             CAST(floor(w.weight) AS BIGINT)
             + CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                         < (w.weight - floor(w.weight)) * {_RESAMPLE_HEX_SCALE}
                    THEN 1 ELSE 0 END AS n_copies
      FROM documents d JOIN w ON d.source = w.source
    )
    SELECT source,
           COUNT(*) AS n_docs_in,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs_out,
           ROUND(SUM(n_copies) * 1.0 / COUNT(*), 6) AS realized_rate
    FROM draws
    GROUP BY source
    ORDER BY source
    """,
)
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted resampling — source_mixture_weights made
    ACTIONABLE: every document is emitted ``floor(w)`` times plus one
    more iff a 16-bit md5 draw lands under frac(w). Upsampling (w > 1)
    and downsampling (w < 1) fall out of the same formula, and the
    realized per-source rate converges on the weight.

    The op reports per-source in/out tallies; in the pipeline the same
    expression drives ``explode(sequence(1, n_copies))`` — a Generate
    inside codegen, so copies never materialize outside their map task,
    and the hash draw makes the mix rerun- and engine-reproducible
    (the oracle computes the identical copy counts). One broadcast of
    the |sources|-row weight table; one aggregation shuffle.
    """
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("total"))
    target = F.round(
        F.coalesce(
            *[F.when(F.col("source") == s, F.lit(sh)) for s, sh in _MIX_PINNED.items()],
            F.lit(_MIX_REST_SHARE),
        ),
        6,
    )
    w = (
        counts.crossJoin(F.broadcast(tot))
        .select("source", (target / (F.col("n_docs") / F.col("total"))).alias("weight"))
    )
    draw = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    )
    n_copies = F.floor("weight") + (
        draw < (F.col("weight") - F.floor("weight")) * _RESAMPLE_HEX_SCALE
    ).cast("long")
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(w), "source")
        .select("doc_id", "source", n_copies.alias("n_copies"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_in"),
            F.sum("n_copies").alias("n_docs_out"),
            F.round(F.sum("n_copies") / F.count(F.lit(1)), 6).alias("realized_rate"),
        )
        .orderBy("source")
    )


@query(
    "source_quantile_normalize",
    oracle=f"""
    WITH nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    g AS (
      SELECT CAST(n_chars AS DOUBLE) AS v,
             CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r
      FROM documents
    ),
    p AS (
      SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS raw,
             PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_chars) AS pr
      FROM documents
    ),
    k AS (
      SELECT source, raw,
             CAST(1 + FLOOR((n - 1) * pr) AS BIGINT) AS k0,
             (n - 1) * pr - FLOOR((n - 1) * pr) AS frac,
             LEAST(CAST(1 + FLOOR((n - 1) * pr) AS BIGINT) + 1,
                   CAST(n AS BIGINT)) AS k1
      FROM p, nn
    ),
    j AS (
      SELECT k.source, k.raw,
             CASE WHEN k.frac = 0 THEN g0.v
                  ELSE g0.v * (1 - k.frac) + g1.v * k.frac END AS norm
      FROM k JOIN g g0 ON g0.r = k.k0 JOIN g g1 ON g1.r = k.k1
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {round_cmp_sql("AVG(raw)")} AS avg_raw,
           {round_cmp_sql("AVG(norm)")} AS avg_norm,
           {round_cmp_sql("MIN(norm)")} AS min_norm,
           {round_cmp_sql("MAX(norm)")} AS max_norm
    FROM j GROUP BY source ORDER BY source
    """,
)
def source_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source QUANTILE NORMALIZATION of a per-doc score (n_chars
    here; any quality score in production): each doc's value is replaced
    by the GLOBAL distribution's value at the doc's within-source
    percentile — the calibration step that makes per-source quality
    scores comparable before mixture sampling (a "0.8 quality" web doc
    and a "0.8" code doc otherwise mean different things; after
    normalization equal scores mean equal global rank).

    Mechanics (certification invariant 6 throughout): within-source
    PERCENT_RANK → 0-based global position pos = (N−1)·pr computed
    BEFORE the 1-based shift → symmetric interpolation between the
    global order statistics at the flanking ranks, frac == 0
    short-circuited. The per-source audit row aggregates raw vs
    normalized moments.

    Scale shape: the global rank table comes from the funnel-free
    two-phase record-id pattern (``with_record_id(mode='scaled')`` —
    range-repartition + per-partition offsets, no global window); the
    flank lookups are two equi-joins on the rank key; the per-source
    window sorts only within each source partition. The only driver
    scalar is the corpus count. At 100 TB nothing funnels: ranks,
    percentiles, and joins are all keyed shuffles."""
    from .record_id import with_record_id

    d = load(spark, sf_dir, "documents")
    n = d.count()  # metadata-sized driver scalar (same device as median_fill)
    g = with_record_id(
        d.select(F.col("n_chars").cast("double").alias("v"), "doc_id"),
        ["v", "doc_id"],
        id_col="r",
        mode="scaled",
    ).select("r", "v")
    w = Window.partitionBy("source").orderBy("n_chars")
    p = d.select(
        "source",
        F.col("n_chars").cast("double").alias("raw"),
        F.percent_rank().over(w).alias("pr"),
    )
    # the SHARED invariant-6 rank math (functions.rank_math): n is the
    # known global count, p is the within-source percent_rank column
    k0, k1, frac = rank_spec_col(n, F.col("pr"))
    k = p.select(
        "source", "raw", k0.alias("k0"), frac.alias("frac"), k1.alias("k1")
    )
    j = k.join(g.select(F.col("r").alias("k0"), F.col("v").alias("v0")), "k0").join(
        g.select(F.col("r").alias("k1"), F.col("v").alias("v1")), "k1"
    )
    norm = interp_col(F.col("v0"), F.col("v1"), F.col("frac"))
    return (
        j.withColumn("norm", norm)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            round_cmp(F.avg("raw")).alias("avg_raw"),
            round_cmp(F.avg("norm")).alias("avg_norm"),
            round_cmp(F.min("norm")).alias("min_norm"),
            round_cmp(F.max("norm")).alias("max_norm"),
        )
        .orderBy("source")
    )


#: cross-split n-gram contamination geometry: the SAME deterministic
#: ~80/20 md5 split the embedding-space audits use (imported, never
#: copied — the audit is only meaningful against the exact split
#: training uses) and the SAME corpus-wide shingle document-frequency
#: cap as the dedup inverted index (a stop-phrase shingle shared by
#: thousands of docs "contaminates" everything while discriminating
#: nothing — capping keeps the audit about literal reuse, and at 100 TB
#: keeps any one shingle-hash join key's fan-in bounded).
from .dedup import SHINGLE_DF_CAP as _LEAKN_CAP  # noqa: E402
from .prep import _SPLIT_HEX as _LEAKN_SPLIT_HEX  # noqa: E402
from .text import word3_shingles, word3_shingles_sql  # noqa: E402

_LEAKN_SH_SQL = f"""
      SELECT DISTINCT doc_id, md5(g) AS h FROM (
        SELECT doc_id, unnest({word3_shingles_sql("toks")}) AS g
        FROM (SELECT doc_id,
                     regexp_split_to_array({_NORM_ASCII_SQL}, ' ') AS toks
              FROM documents)
      )
"""


@query(
    "split_leakage_ngram",
    oracle=f"""
    WITH sh0 AS ({_LEAKN_SH_SQL}),
    sh AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM sh0
      ) WHERE df <= {_LEAKN_CAP}
    ),
    split AS (
      SELECT doc_id, source,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                       < '{_LEAKN_SPLIT_HEX}'
                  THEN 1 ELSE 0 END AS tr
      FROM documents
    ),
    tr_sh AS (
      SELECT DISTINCT h FROM sh JOIN split USING (doc_id) WHERE tr = 1
    ),
    per_doc AS (
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sh JOIN split USING (doc_id) JOIN tr_sh ON sh.h = tr_sh.h
      WHERE split.tr = 0
      GROUP BY sh.doc_id
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_test_docs,
           CAST(COUNT(p.doc_id) AS BIGINT) AS n_leaked,
           ROUND(COUNT(p.doc_id) * 1.0 / COUNT(*), 6) AS leaked_share,
           CAST(COALESCE(MAX(p.n_shared), 0) AS BIGINT) AS max_shared
    FROM split s LEFT JOIN per_doc p ON s.doc_id = p.doc_id
    WHERE s.tr = 0
    GROUP BY s.source
    ORDER BY s.source
    """,
)
def split_leakage_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT-level cross-split contamination audit: test-split documents
    that share a word-3-gram shingle with ANY train-split document —
    the standard n-gram decontamination check LLM pipelines run before
    trusting held-out metrics (production corpora use the same
    machinery at n = 13). :func:`~..similarity.split_leakage_check` and
    ``split_leakage_lsh`` audit EMBEDDING space; this one audits literal
    text reuse, and :func:`contamination_ngram_check` audits against an
    external benchmark slice rather than across the training split.

    Composes the md5 hash split (``hash_train_test_split``, keyed on
    doc_id), the shared ``text.word3_shingles`` pair, and the dedup
    index's hot-shingle DF cap (> {_LEAKN_CAP!r} occurrences ⇒ dropped
    on BOTH engines).

    Output: one row per SOURCE of the test-side document — test count,
    leaked test docs (≥ 1 shared capped shingle with train), their
    share, and the worst offender's distinct shared-shingle count (0
    when clean). The gates are integers; leaked_share is a ROUND(int/int,
    6) presentation column with the usual cross-engine ROUND exposure
    (HALF_UP vs half-away-from-zero within ~1 ulp of a boundary).

    Scale shape: NO pair materialization at all — the train side
    collapses to its DISTINCT shingle-hash set before the cross-split
    equi-join (a left-semi on the 32-hex md5 shingle hash, constant-
    width keys regardless of shingle text), so the join moves
    |test shingles| + |distinct train shingles| rows, never
    Σ df_train·df_test pairs. The DF cap rides a COUNT window
    partitioned by the hash — the same key the semi-join shuffles on,
    so Catalyst reuses the exchange (same measured device as
    ``dedup._shingle_index``). Everything downstream of the semi-join
    is doc-bounded: a per-test-doc count, then a per-source partial
    aggregate."""
    return _leakage_ngram_audit(load(spark, sf_dir, "documents"))


def _leakage_ngram_audit(d: DataFrame, cap: int = _LEAKN_CAP) -> DataFrame:
    """DataFrame-level core of :func:`split_leakage_ngram` (split out so
    the planted-contamination tests in tests/test_llm_ops.py can run it
    over handcrafted corpora). ``d`` needs ``doc_id``/``text``/
    ``source`` columns."""
    is_tr = (
        F.substring(
            F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 2
        )
        < _LEAKN_SPLIT_HEX
    )
    toks = d.select(
        "doc_id", F.split(_norm_ascii(F.col("text")), " ").alias("toks")
    )
    sh0 = (
        toks.select(
            "doc_id", F.explode(word3_shingles(F.col("toks"))).alias("g")
        )
        .select("doc_id", F.md5(F.encode(F.col("g"), "UTF-8")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("h")
    sh = (
        sh0.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= cap)
        .select("doc_id", "h", is_tr.alias("tr"))
    )
    tr_sh = sh.filter(F.col("tr")).select("h").distinct()
    per_doc = (
        sh.filter(~F.col("tr"))
        .join(tr_sh, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    test_docs = d.filter(~is_tr).select("doc_id", "source")
    return (
        test_docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_docs"),
            F.count("n_shared").cast("long").alias("n_leaked"),
            F.round(F.count("n_shared") / F.count(F.lit(1)), 6).alias(
                "leaked_share"
            ),
            F.coalesce(F.max("n_shared"), F.lit(0).cast("long")).alias(
                "max_shared"
            ),
        )
        .orderBy("source")
    )
