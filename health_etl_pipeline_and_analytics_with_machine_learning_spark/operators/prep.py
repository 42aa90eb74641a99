"""Training-data preparation operators — chunking, scrubbing,
deterministic splits, and repetition-quality flags.

These extend the reference's single-table ETL (SURVEY §7.5 north-star)
with the operations an LLM-scale data pipeline runs between "corpus"
and "training set". Everything here is pure Catalyst expressions —
`sequence`/`explode`, `regexp_*`, `md5`, higher-order array functions —
so the whole family stays inside whole-stage codegen with zero Python
UDFs (the same no-UDF policy the ETL follows, SURVEY §4.2).

Scale notes per operator live on the functions; the common theme:
every op is embarrassingly parallel per-row (narrow, no shuffle) until
the final small aggregate, so all of them scan-scale linearly to 100 TB
and preserve partition pruning on the source columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import ROUND_DP, load, query, round_cmp, round_cmp_sql
from .text import _WS_CHARS

DP = ROUND_DP

#: chunking geometry — 200-char windows every 150 chars (25% overlap),
#: the standard "fixed window + overlap" used to pack documents into
#: bounded training sequences.
CHUNK_LEN = 200
CHUNK_STRIDE = 150


def chunk_documents(d: DataFrame) -> DataFrame:
    """Chunk-level view: one row per (doc, start) with the CHUNK_LEN
    substring. explode is a generator — it needs its own projection;
    the substring over (text, start) happens in the next narrow select.
    Reused by the aggregate query below and directly by pipelines that
    feed chunks onward (tokenize/embed)."""
    lateral = d.select(
        "doc_id",
        "source",
        "text",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("text"), F.lit(1)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("start"),
    )
    return lateral.select(
        "doc_id",
        "source",
        "start",
        F.length("text").alias("doc_chars"),
        F.col("text").substr(F.col("start"), F.lit(CHUNK_LEN)).alias("chunk"),
    )


@query(
    "doc_chunk_explode",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id, source, text,
             UNNEST(generate_series(1, greatest(length(text), 1),
                                    {CHUNK_STRIDE})) AS start
      FROM documents
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           {round_cmp_sql(f"AVG(length(substr(text, CAST(start AS INTEGER), {CHUNK_LEN})))")}
             AS avg_chunk_chars,
           ROUND(SUM(length(substr(text, CAST(start AS INTEGER), {CHUNK_LEN}))) * 1.0
                 / SUM(length(text)) / COUNT(*) * COUNT(DISTINCT doc_id), {DP})
             AS blowup_per_doc
    FROM chunks
    GROUP BY source
    ORDER BY source
    """,
)
def doc_chunk_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking: each document becomes
    ``ceil(len/stride)`` chunks of ≤ CHUNK_LEN chars starting every
    CHUNK_STRIDE chars.

    `sequence(1, len, stride)` builds the start offsets as an array and
    `explode` lateralizes it — a NARROW transformation: chunks of a
    document stay in the producing task, nothing shuffles until the
    final per-source aggregate (tiny). At 100 TB the blowup factor
    (≈ len/stride · chunk/stride overlap) is the only memory question,
    and it's bounded per-row, never per-partition.

    ``blowup_per_doc`` reports measured chunk-bytes / doc-bytes — the
    storage amplification a 25%-overlap policy costs at scale.
    """
    chunks = chunk_documents(load(spark, sf_dir, "documents"))
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            round_cmp(F.avg(F.length("chunk"))).alias("avg_chunk_chars"),
            F.round(
                F.sum(F.length("chunk"))
                / F.sum("doc_chars")
                / F.count(F.lit(1))
                * F.countDistinct("doc_id"),
                DP,
            ).alias("blowup_per_doc"),
        )
        .orderBy("source")
    )


@query(
    "pii_scrub_digits",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(len(regexp_extract_all(c_name, '[0-9]+'))) AS BIGINT)
             AS n_digit_runs,
           {round_cmp_sql("AVG(length(regexp_replace(c_name, '[0-9]+', '<NUM>', 'g')))")}
             AS avg_scrubbed_len,
           COUNT(DISTINCT regexp_replace(c_name, '[0-9]+', '<NUM>', 'g'))
             AS n_distinct_scrubbed
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def pii_scrub_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier scrubbing: replace every digit run with a ``<NUM>``
    placeholder — the regex-normalization shape used for PII masking /
    number canonicalization in corpus prep.

    Pure `regexp_replace`/`regexp_count` expressions, row-local and
    codegen'd; the only shuffle is the per-segment aggregate. The
    ``n_distinct_scrubbed`` column makes the anonymization effect
    measurable: distinct names collapse to the shared template count.
    (Spark replaces ALL matches by default; DuckDB needs the explicit
    ``'g'`` flag — the oracle says so.)
    """
    c = load(spark, sf_dir, "customer")
    scrubbed = F.regexp_replace("c_name", r"[0-9]+", "<NUM>")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.regexp_count("c_name", F.lit(r"[0-9]+"))).alias("n_digit_runs"),
            round_cmp(F.avg(F.length(scrubbed))).alias("avg_scrubbed_len"),
            F.countDistinct(scrubbed).alias("n_distinct_scrubbed"),
        )
        .orderBy("c_mktsegment")
    )


#: first-two-hex-chars threshold: 0xcd/0x100 = 205/256 ≈ 80.1% train
_SPLIT_HEX = "cd"


@query(
    "hash_train_test_split",
    oracle=f"""
    SELECT CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2) < '{_SPLIT_HEX}'
                THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n_rows,
           {round_cmp_sql("AVG(c_acctbal)")} AS avg_acctbal,
           COUNT(DISTINCT c_nationkey) AS n_nations
    FROM customer
    GROUP BY split
    ORDER BY split
    """,
)
def hash_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/20 train/test split by key hash — the
    reproducible alternative to `randomSplit` for training pipelines:
    the same row lands in the same split on every engine, every run,
    every cluster size (no seed, no sampling nondeterminism — md5 of
    the key is the randomness).

    This is how a 100 TB split must work: a row-local expression, no
    global sort, no sampling pass, re-derivable for any subset of the
    data independently. Lexicographic compare of the first two hex
    chars gives 205/256 ≈ 80.1% train. The per-split nation count
    checks the hash doesn't accidentally correlate with a real column.
    """
    c = load(spark, sf_dir, "customer")
    split = F.when(
        F.substring(F.md5(F.encode(F.col("c_custkey").cast("string"), "UTF-8")), 1, 2)
        < _SPLIT_HEX,
        F.lit("train"),
    ).otherwise(F.lit("test"))
    return (
        c.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            round_cmp(F.avg("c_acctbal")).alias("avg_acctbal"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .orderBy("split")
    )


#: a doc whose single most frequent word exceeds this share of all
#: words is flagged as repetitive (Gopher-style quality rule).
_TOP_WORD_SHARE = 0.10


@query(
    "text_repetition_flags",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, lang,
             regexp_extract_all(text, '[^{_WS_CHARS}]+') AS w
      FROM documents
    ),
    words2 AS (SELECT * FROM words WHERE len(w) > 0),
    scored AS (
      SELECT doc_id, lang,
             len(w) AS n_words,
             len(list_distinct(w)) * 1.0 / len(w) AS ttr,
             list_max(list_transform(list_distinct(w),
                      x -> len(list_filter(w, y -> y = x)))) * 1.0 / len(w)
               AS top_word_share
      FROM words2
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           {round_cmp_sql("AVG(ttr)")} AS avg_ttr,
           {round_cmp_sql("AVG(top_word_share)")} AS avg_top_share,
           CAST(SUM(CASE WHEN top_word_share > {_TOP_WORD_SHARE} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality flags: per-document type-token ratio
    and top-word share, flagged when one word dominates (> 10% of
    tokens) — the Gopher-rules repetition family re-expressed as
    higher-order array functions.

    The per-doc top-word count is `array_max(transform(distinct, w ->
    size(filter(words, = w))))` — O(|vocab|·|doc|) per row but fully
    JVM-side and row-local: no explode, no per-word shuffle, no state.
    The alternative (explode → groupBy(doc, word) → max) shuffles
    |corpus tokens| rows; this shape shuffles nothing until the final
    per-lang rollup, which is what you want at 100 TB for bounded-size
    documents.

    Words are the non-whitespace runs over the explicit ASCII
    whitespace class (``text._WS_CHARS``), so both regex dialects parse
    the identical set and edge tabs/newlines make no phantom empty
    words (which would depress ttr and inflate top_word_share).
    """
    d = load(spark, sf_dir, "documents")
    # PROJECT the word array before the per-element lambdas (the
    # lambda-projection rule — word3_shingles docstring has the
    # measured numbers): an `w` whose child is the raw
    # regexp_extract_all EXPRESSION would re-run the regex once per
    # distinct word per row inside transform/filter
    words = d.select(
        "lang",
        F.regexp_extract_all(F.col("text"), F.lit(f"[^{_WS_CHARS}]+"), 0).alias("w"),
    ).filter(F.size("w") > 0)
    w = F.col("w")
    scored = words.select(
        "lang",
        F.size(w).alias("n_words"),
        (F.size(F.array_distinct(w)) / F.size(w)).alias("ttr"),
        (
            F.array_max(
                F.transform(
                    F.array_distinct(w),
                    lambda x: F.size(F.filter(w, lambda y: y == x)),
                )
            )
            / F.size(w)
        ).alias("top_word_share"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_cmp(F.avg("ttr")).alias("avg_ttr"),
            round_cmp(F.avg("top_word_share")).alias("avg_top_share"),
            F.sum(
                F.when(F.col("top_word_share") > _TOP_WORD_SHARE, 1).otherwise(0)
            ).alias("n_flagged"),
        )
        .orderBy("lang")
    )


#: per-stratum keep rates as 16-bit hex thresholds on md5(event_id):
#: keep iff the first 4 hex chars < threshold. floor(rate·0x10000) in hex.
_STRATA_HEX = {
    "view": ("1999", 0.10),      # downsample the firehose
    "click": ("4000", 0.25),
    "error": ("8000", 0.50),
    "signup": ("ffff", 1.00),    # keep every rare/valuable event
    "purchase": ("ffff", 1.00),
}


@query(
    "stratified_hash_sample",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_sampled,
           ROUND(SUM(value), 4) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 4) <
          CASE event_type
            {chr(10).join(f"WHEN '{k}' THEN '{hx}'" for k, (hx, _) in _STRATA_HEX.items())}
            ELSE '0000' END
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates (downsample dominant
    event types, keep rare ones whole) — the class-rebalancing step of a
    training-data pipeline, done DETERMINISTICALLY: membership is a pure
    function of md5(event_id), not an RNG state.

    Hash-based beats ``sampleBy`` at scale: the same row is kept on
    every rerun, across engines (the oracle runs the byte-identical
    predicate), after repartitioning, and in incremental reruns over
    late-arriving data — none of which holds for seeded Bernoulli
    sampling, whose draw depends on partition iteration order. The
    predicate is row-local (codegen'd md5 + CASE), so it pushes below
    the single aggregation shuffle; no extra pass over the data.
    """
    ev = load(spark, sf_dir, "events")
    threshold = F.coalesce(
        *[
            F.when(F.col("event_type") == k, F.lit(hx))
            for k, (hx, _) in _STRATA_HEX.items()
        ],
        F.lit("0000"),
    )
    kept = ev.filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 4) < threshold
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


#: output shard fan-out for the sharded-export shape
_N_SHARDS = 16


@query(
    "shard_assignment_balance",
    oracle=f"""
    WITH sharded AS (
      SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                  % {_N_SHARDS} AS INT) AS shard,
             n_chars
      FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM sharded
    GROUP BY shard
    ORDER BY shard
    """,
)
def shard_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment for sharded corpus export — the
    step before ``df.repartition(N, shard).write``: every document maps
    to ``md5(doc_id) % {_N_SHARDS}``, and the op reports per-shard
    doc/byte balance (the skew check you run BEFORE burning a 100 TB
    write).

    Hash-sharding beats round-robin at scale for the same reason as
    stratified_hash_sample: assignment is a pure row function —
    reproducible across reruns, engines, and repartitioning — so
    incremental appends land in stable shards and a failed write
    retries identically. The md5 prefix (not hash()) keeps the oracle
    byte-identical; balance follows from md5 uniformity, asserted in
    tests rather than hoped.
    """
    d = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _N_SHARDS
    ).cast("int")
    return (
        d.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("shard")
    )


#: fixed training-sequence capacity (tokens) for concat-and-chunk packing
_SEQ_CAP = 2048

#: whitespace-token count — the SHARED text.ascii_token_count pair
#: (hoisted r9; this module previously carried a mirrored copy.
#: r13: moved with the rest of the repo onto the explicit
#: ASCII-whitespace-class pair — identical Spark-side, \x0B-agreeing
#: SQL-side)
from .text import ASCII_TOKEN_COUNT_SQL as _TOK_SQL  # noqa: E402
from .text import ascii_token_count as _ascii_token_count  # noqa: E402


def _ws_tokens():
    return _ascii_token_count().cast("long")


_PACK_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_SQL} AS n_tok
      FROM documents
    ),
    pos AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok
               AS tok_start
      FROM tok
    )
    SELECT CAST(tok_start // {_SEQ_CAP} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN n_tok > 0
                          AND (tok_start + n_tok - 1) // {_SEQ_CAP}
                              > tok_start // {_SEQ_CAP}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM pos
    GROUP BY seq_id
    ORDER BY seq_id
    """


def _pack_stats(pos: DataFrame) -> DataFrame:
    """(doc_id, n_tok, tok_start) → per-sequence packing stats. seq_id is
    the fixed-capacity window containing the doc's FIRST token;
    n_spanning counts docs that run past their sequence's right edge
    (they get split across model samples — the quantity you monitor)."""
    seq_id = F.expr(f"tok_start div {_SEQ_CAP}")
    spans = (F.col("n_tok") > 0) & (
        F.expr(f"(tok_start + n_tok - 1) div {_SEQ_CAP}") > seq_id
    )
    return (
        pos.groupBy(seq_id.alias("seq_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(spans.cast("long")).cast("long").alias("n_spanning"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


@query("sequence_pack_stats", oracle=_PACK_ORACLE)
def sequence_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    step that concatenates the doc-id-ordered token stream and cuts it
    into fixed {_SEQ_CAP}-token training sequences. Reports, per
    sequence: docs starting there, their token mass, and how many run
    over the boundary (split samples).

    Parity tier: the running token offset is one global-window
    cumulative sum — a single-task funnel, same trade-off as
    global_sort_rowid (SURVEY §4.4). The 100 TB path is
    ``sequence_pack_scaled`` below: identical answer, no funnel.
    """
    d = load(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    tok = d.select("doc_id", _ws_tokens().alias("n_tok"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    pos = tok.withColumn("tok_start", F.sum("n_tok").over(w) - F.col("n_tok"))
    return _pack_stats(pos)


@query("sequence_pack_scaled", oracle=_PACK_ORACLE)
def sequence_pack_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB twin of ``sequence_pack_stats`` — same oracle, no global
    funnel. Two-phase cumulative sum: doc_id range buckets from ONE
    driver-side quantile sketch, per-bucket token totals (a narrow
    counting job whose result is one long per bucket), prefix offsets
    broadcast back, then a PER-BUCKET window finishes the cumsum —
    every window task owns one id range, so the plan scales with
    bucket count instead of funneling the corpus through one task.

    Bucket assignment is a STATIC expression over literal boundaries —
    not ``repartitionByRange``, whose per-job boundary *sampling* may
    disagree between the counting job and the window job (two separate
    actions don't share an exchange), silently shifting every offset.
    Deterministic boundaries make the two phases see identical buckets
    by construction.
    """
    d = load(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    tok = d.select("doc_id", _ws_tokens().alias("n_tok"))
    n_parts = max(d.sparkSession.sparkContext.defaultParallelism, 1)
    qs = [i / n_parts for i in range(1, n_parts)]
    # GK sketch: one pass, no RNG — identical boundaries every job. The
    # 1e-3 relative error only skews bucket *balance*, never correctness.
    bounds = sorted(set(tok.stat.approxQuantile("doc_id", qs, 0.001))) if qs else []
    pid = F.lit(0)
    for b in bounds:
        pid = pid + F.when(F.col("doc_id") > F.lit(b), 1).otherwise(0)
    tok = tok.withColumn("__pid", pid.cast("int"))
    # tiny driver-sized collect: one (bucket, token-total) row per bucket
    totals = dict(tok.groupBy("__pid").agg(F.sum("n_tok")).collect())
    offsets, acc = [], 0
    for p in sorted(totals):
        offsets.append((p, acc))
        acc += totals[p] or 0
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__pid int, __off long")
    w = (
        Window.partitionBy("__pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pos = (
        tok.join(F.broadcast(off_df), "__pid")
        .withColumn(
            "tok_start",
            F.col("__off") + F.sum("n_tok").over(w) - F.col("n_tok"),
        )
        .drop("__pid", "__off")
    )
    return _pack_stats(pos)


#: context-length candidates for the truncation audit — powers of two
#: bracketing this corpus's whitespace-token distribution
_TRUNC_LENS = (64, 128, 256, 512)


@query(
    "truncation_loss_curve",
    oracle=f"""
    WITH toks AS (
      SELECT {_TOK_SQL} AS n_tok
      FROM documents
    )
    SELECT CAST(v.L AS BIGINT) AS max_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_tok > v.L THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_truncated,
           CAST(SUM(LEAST(n_tok, v.L)) AS BIGINT) AS kept_tokens,
           {round_cmp_sql("1.0 - SUM(LEAST(n_tok, v.L)) * 1.0 / SUM(n_tok)")}
             AS loss_frac
    FROM toks CROSS JOIN (VALUES {", ".join(f"({L})" for L in _TRUNC_LENS)}) v(L)
    GROUP BY v.L ORDER BY max_len
    """,
)
def truncation_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length TRUNCATION audit: for each candidate max sequence
    length, how many documents get cut and what fraction of the
    corpus's tokens is lost — the curve that picks a training context
    length (packing efficiency vs content loss; the complement of
    sequence_pack_stats, which assumes the length is already chosen).
    Token counts come from the SHARED ``text.ascii_token_count`` pair
    (hoisted r9 — the same definition ``text_token_count`` certifies;
    until then this op carried a mirrored copy patrolled by a lockstep
    test).

    Scale shape: tokens are a row-local expression; the candidate
    lengths expand IN-ROW (``explode`` of a 4-element literal array —
    one Expand, no join), and the curve is one partial-aggregated
    shuffle of |lengths| groups. No funnel anywhere; 100 TB cost is one
    scan plus a 4-row aggregate."""
    d = load(spark, sf_dir, "documents")
    n_tok = _ws_tokens()
    rows = d.select(
        n_tok.alias("n_tok"),
        F.explode(F.array(*[F.lit(L) for L in _TRUNC_LENS])).alias("max_len"),
    )
    kept = F.sum(F.least(F.col("n_tok"), F.col("max_len")))
    return (
        rows.groupBy(F.col("max_len").cast("long").alias("max_len"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_tok") > F.col("max_len")).cast("int"))
            .cast("long")
            .alias("n_docs_truncated"),
            kept.cast("long").alias("kept_tokens"),
            round_cmp(
                F.lit(1.0) - kept * F.lit(1.0) / F.sum("n_tok")
            ).alias("loss_frac"),
        )
        .orderBy("max_len")
    )
