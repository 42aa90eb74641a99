"""Dialect-parity pins for the shared text helpers
(text.ascii_token_count / ASCII_TOKEN_COUNT_SQL, text.word3_shingles /
word3_shingles_sql, text._bigram_pairs / _BIGRAM_PAIRS_SQL).

The op-level oracles exercise these pairs over the synthetic corpus;
these tests drive the two dialects of each pair over HANDCRAFTED edge
cases the corpus may never contain — empty text, whitespace-only text,
exotic whitespace runs, 1/2/3-token boundaries, repeated shingles —
and assert the Spark expression and the DuckDB twin agree exactly.
Same patrol shape as the rank_math lockstep test: one definition, two
executions, one test. Every whitespace tokenization uses the
explicit ASCII class, so these agreement pins cover them all."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
    _BIGRAM_PAIRS_SQL,
    _NORM_ASCII_SQL,
    ASCII_TOKEN_COUNT_SQL,
    _bigram_pairs,
    _norm_ascii,
    ascii_token_count,
    word3_shingles,
    word3_shingles_sql,
)

EDGE_TEXTS = [
    "",
    " ",
    "   \t  \n ",
    "one",
    "one two",
    "one two three",
    "one two three four",
    "  padded   runs\tof\nwhitespace  ",
    "a a a a a a",  # repeated shingles
    "Mixed CASE Tokens Here",
    "punct, only! tokens?",
    "x " * 50,  # long uniform doc
    "word",
    "\ttab before",  # 13: non-space EDGE whitespace next to real content —
    "newline after\n",  # 14: the case where the old trim-split form
    "\t \n",  # 15: counted phantom tokens (and 2 for this tab-only one)
    "ab3cd ef9 42",  # 16: digits split alpha tokens, all-digit words drop
    # — r11 corpus extension (VERDICT r10 item 5: the handcrafted edge
    #   corpus is the only defense against bugs both engines share) —
    "line one\r\nline two",  # 17: CRLF — \r and \n are \s in BOTH dialects
    "a\fb form\ffeed",  # 18: form feed \x0C is \s in BOTH Java and RE2
    "a.b c*d (e) [f] {g} x|y",  # 19: regex metachars are DATA to both
    "don't café über naïve",  # 20: apostrophe + non-ASCII letters split
    #     alpha runs identically (ASCII [a-z] class on both engines)
    "a\x08b",  # 21: backspace — not whitespace in either dialect
    "a\x1bb",  # 22: escape — not whitespace in either dialect
    "a\x7fb",  # 23: DEL — not whitespace in either dialect
    "​zero​width",  # 24: ZWSP is not \s to Java OR RE2
    "﻿bom prefix",  # 25: BOM/ZWNBSP likewise data on both
    "a" * 300 + " tail",  # 26: long single token, no length cliffs
]


@pytest.fixture()
def ducked():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(EDGE_TEXTS))
    )
    yield con
    con.close()


def _spark_docs(spark):
    return spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), "doc_id long, text string"
    )


def test_ascii_token_count_dialects_agree_on_edges(spark, ducked):
    got = {
        r["doc_id"]: r["n"]
        for r in _spark_docs(spark)
        .select("doc_id", ascii_token_count().cast("long").alias("n"))
        .collect()
    }
    want = dict(
        ducked.execute(
            f"SELECT doc_id, CAST({ASCII_TOKEN_COUNT_SQL} AS BIGINT) FROM documents"
        ).fetchall()
    )
    assert got == want
    # the definition's own contract: empty/whitespace-only → 0, where a
    # bare split would report 1
    assert want[0] == 0 and want[1] == 0 and want[2] == 0
    assert want[3] == 1 and want[5] == 3
    # the r9 fix: non-space edge whitespace must neither add phantom
    # tokens next to real content nor count on whitespace-only text
    # (the old trim-split form reported 3, 3, and 2 here)
    assert want[13] == 2 and want[14] == 2 and want[15] == 0


def test_word3_shingles_dialects_agree_on_edges(spark, ducked):
    got = {
        r["doc_id"]: r["sh"]
        for r in _spark_docs(spark)
        .select(
            "doc_id", F.split(_norm_ascii(F.col("text")), " ").alias("toks")
        )
        .select("doc_id", word3_shingles(F.col("toks")).alias("sh"))
        .collect()
    }
    want = dict(
        ducked.execute(
            f"""SELECT doc_id, {word3_shingles_sql("toks")} FROM
            (SELECT doc_id, regexp_split_to_array({_NORM_ASCII_SQL}, ' ') AS toks
             FROM documents)"""
        ).fetchall()
    )
    assert set(got) == set(want)
    for k in got:
        assert list(got[k]) == list(want[k]), (k, EDGE_TEXTS[k], got[k], want[k])
    # under-3-token docs short-circuit to EMPTY on both engines (Spark's
    # sequence(1, 0) is a descending [1, 0], DuckDB's generate_series is
    # empty — the guards exist to reconcile exactly this)
    for k in (0, 1, 2, 3, 4, 12):
        assert got[k] == [], (k, got[k])
    assert got[5] == ["one two three"]


def test_bigram_pairs_dialects_agree_on_edges(spark, ducked):
    got = sorted(
        (r["doc_id"], r["w1"], r["w2"])
        for r in _bigram_pairs(_spark_docs(spark)).collect()
    )
    want = sorted(
        ducked.execute(
            f"WITH {_BIGRAM_PAIRS_SQL} SELECT doc_id, w1, w2 FROM pairs"
        ).fetchall()
    )
    assert got == want
    docs_with_pairs = {d for d, _, _ in got}
    assert 3 not in docs_with_pairs  # single token → no bigrams
    assert 4 in docs_with_pairs


def test_alpha_tokenize_dialects_agree_on_edges(spark, ducked):
    """The ALPHA_TOKENIZE pair (lowercase, split on non-[a-z] runs,
    drop empties) feeds tfidf / cross-entropy / vocab ops — pin its two
    dialects over the same edge corpus (empty text, punctuation-only,
    mixed case, digits inside words)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        ALPHA_TOKENIZE_EXPR,
        ALPHA_TOKENIZE_SQL,
    )

    got = {
        r["doc_id"]: list(r["a"])
        for r in _spark_docs(spark)
        .select("doc_id", F.expr(ALPHA_TOKENIZE_EXPR).alias("a"))
        .collect()
    }
    want = dict(
        ducked.execute(
            f"SELECT doc_id, {ALPHA_TOKENIZE_SQL} FROM documents"
        ).fetchall()
    )
    assert set(got) == set(want)
    for k in got:
        assert got[k] == list(want[k]), (k, EDGE_TEXTS[k], got[k], want[k])
    assert got[0] == [] and got[1] == [] and got[2] == []
    assert got[9] == ["mixed", "case", "tokens", "here"]
    assert got[10] == ["punct", "only", "tokens"]
    # digits split alpha runs and all-digit words vanish entirely
    assert got[16] == ["ab", "cd", "ef"]


# --------------------------------------------------------------------------
# Exotic-whitespace dialect probes.
# Java (Spark) \s is the ASCII set [ \t\n\x0B\f\r]; RE2 (DuckDB) \s is
# [ \t\n\f\r] — NO \x0B; Python re \s adds \x1C-\x1F and all Unicode
# spaces. Three regimes, probed explicitly below.

#: characters where BOTH engines agree the char is NOT whitespace
#: (intentional shared decision: whitespace is the ASCII class, not
#: Python's Unicode-aware \s — a NBSP-joined pair is ONE token in this
#: engine, documented like the cleaning quirks Q1-Q11)
NON_SEPARATORS_BOTH = ["\x1c", "\x1d", "\x1e", "\x1f", "\xa0", " ", " ", "　"]


def test_non_ascii_whitespace_is_not_a_separator_in_either_dialect(spark):
    """Both dialects treat Unicode spaces and the ASCII separator block
    as ordinary characters: 'a<CH>b' is ONE \\S+ run on BOTH engines
    (Python's re would say two for all of them — the dialects diverge
    from Python TOGETHER, which is the consistent-and-intended case)."""
    con = duckdb.connect()
    texts = [f"a{ch}b" for ch in NON_SEPARATORS_BOTH]
    got = [
        r["n"]
        for r in spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        .select(ascii_token_count().cast("long").alias("n"))
        .collect()
    ]
    want = [
        con.execute(
            f"SELECT CAST({ASCII_TOKEN_COUNT_SQL} AS BIGINT) FROM (SELECT ? AS text)",
            [t],
        ).fetchone()[0]
        for t in texts
    ]
    con.close()
    assert got == [1] * len(texts), got
    assert want == [1] * len(texts), want


def test_corpus_contains_no_divergent_whitespace():
    """Corpus canary (kept after the r13 burn-down retired the \\x0B
    cross-engine divergence): the driver-generated documents tables
    must contain none of the characters where the shared ASCII class
    deliberately diverges from Python's Unicode-aware \\s (\\x1C-\\x1F,
    Unicode spaces) — nor \\x0B, which is now handled identically by
    both engines but stays in the canary so a corpus regeneration that
    introduces exotic whitespace is flagged loudly rather than
    silently exercised."""
    import os

    con = duckdb.connect()
    pat = "[\x0b\x1c-\x1f\xa0  -     　]"
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(p):
            continue
        (n,) = con.execute(
            "SELECT COUNT(*) FROM read_parquet(?) WHERE regexp_matches(text, ?)",
            [p, pat],
        ).fetchone()
        assert n == 0, f"{sf}: {n} documents carry dialect-divergent whitespace"
    con.close()


# --------------------------------------------------------------------------
# The ASCII-whitespace-class pair (text._norm_ascii/_NORM_ASCII_SQL,
# ascii_token_count/ASCII_TOKEN_COUNT_SQL) — since r13 the repo's ONLY
# whitespace tokenizer — must agree across dialects on EVERYTHING,
# including the \x0B inputs the deleted \s-based pair diverged on, and
# must be bit-identical to Java's \s on the Spark side (so the r12/r13
# migrations changed no Spark result).

DIVERGENT_TEXTS = [
    "a\x0bb",
    "\x0b",
    "a\x0c\x0bb",
    "\x0b\x0b  \x0bx\x0b",
    "one\x0btwo three",
]


def test_ascii_class_equals_java_whitespace_on_spark(spark):
    """Spark-side no-op proof for the r12/r13 migrations: Java's \\s
    is exactly [ \\t\\n\\x0B\\f\\r], so the explicit-class pair is
    bit-identical to the deleted \\s-based forms (restated inline here,
    the only place the \\s idiom is allowed to survive) on every input,
    divergent characters included."""
    legacy_norm = F.lower(
        F.regexp_replace(F.regexp_replace(F.col("text"), r"\s+", " "), r"^ | $", "")
    )
    legacy_count = F.regexp_count(F.col("text"), F.lit(r"\S+"))
    texts = EDGE_TEXTS + DIVERGENT_TEXTS + [f"a{ch}b" for ch in NON_SEPARATORS_BOTH]
    rows = (
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        .select(
            legacy_norm.alias("legacy_norm"),
            _norm_ascii(F.col("text")).alias("ascii_norm"),
            legacy_count.cast("long").alias("legacy_n"),
            ascii_token_count().cast("long").alias("ascii_n"),
        )
        .collect()
    )
    for r, t in zip(rows, texts):
        assert r["legacy_norm"] == r["ascii_norm"], t
        assert r["legacy_n"] == r["ascii_n"], t


def test_ascii_pair_dialects_agree_on_vertical_tab(spark):
    """THE agreement pin the burn-down earned: on every input the old
    \\s-based pair diverged on (vertical tab in all three r10/r11-mapped
    manifestations: count, vanishing text, token content), the explicit
    ASCII-class pair produces IDENTICAL results on both engines —
    normalized string AND token count. Tranche 2 (r13) deleted the
    legacy pair and its divergence pin; this agreement pin is the
    permanent record."""
    con = duckdb.connect()
    texts = EDGE_TEXTS + DIVERGENT_TEXTS + [f"a{ch}b" for ch in NON_SEPARATORS_BOTH]
    got = (
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        .select(
            _norm_ascii(F.col("text")).alias("norm"),
            ascii_token_count().cast("long").alias("n"),
        )
        .collect()
    )
    for r, t in zip(got, texts):
        d_norm, d_n = con.execute(
            f"SELECT {_NORM_ASCII_SQL}, CAST({ASCII_TOKEN_COUNT_SQL} AS BIGINT)"
            " FROM (SELECT ? AS text)",
            [t],
        ).fetchone()
        assert r["norm"] == d_norm, (t, r["norm"], d_norm)
        assert r["n"] == d_n, (t, r["n"], d_n)
    # the specific r10/r11 manifestations, now AGREEING:
    # (a) 'a\x0Bb' is 2 tokens on BOTH engines
    (n_spark,) = [r["n"] for r, t in zip(got, texts) if t == "a\x0bb"]
    assert n_spark == 2
    # (b) vtab-only text normalizes to '' (0 tokens) on BOTH
    (n_only,) = [r["n"] for r, t in zip(got, texts) if t == "\x0b"]
    assert n_only == 0
    # (c) 'a\x0C\x0Bb' token CONTENT agrees: norm is 'a b' on BOTH
    (norm_c,) = [r["norm"] for r, t in zip(got, texts) if t == "a\x0c\x0bb"]
    assert norm_c == "a b"
    con.close()


def test_wordish_and_punct_class_dialects_agree_on_vertical_tab(spark):
    """The second idiom the class fix covers (r12): text_token_count's
    wordish tokenizer and text_quality_score's punct counter spell
    whitespace as the explicit class inside [^\\w...] — \\x0B must be
    counted as WHITESPACE (not punct) identically on both engines."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        _PUNCT_CLASS,
        _WORDISH,
    )

    con = duckdb.connect()
    texts = DIVERGENT_TEXTS + ["a!b", "!\x0b!", "..."]
    got = (
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        .select(
            F.regexp_count(F.col("text"), F.lit(_WORDISH)).cast("long").alias("w"),
            F.regexp_count(F.col("text"), F.lit(_PUNCT_CLASS)).cast("long").alias("p"),
        )
        .collect()
    )
    for r, t in zip(got, texts):
        w, p = con.execute(
            f"SELECT CAST(len(regexp_extract_all(text, '{_WORDISH}')) AS BIGINT),"
            f" CAST(len(regexp_extract_all(text, '{_PUNCT_CLASS}')) AS BIGINT)"
            " FROM (SELECT ? AS text)",
            [t],
        ).fetchone()
        assert r["w"] == w, (t, r["w"], w)
        assert r["p"] == p, (t, r["p"], p)
    # \x0B is whitespace, not punct, on both: '!\x0B!' has 2 punct
    (p_vt,) = [r["p"] for r, t in zip(got, texts) if t == "!\x0b!"]
    assert p_vt == 2


def test_no_oracle_uses_the_dialect_divergent_whitespace_idiom():
    """Burn-down completion guard (r13, flipped from the r12 tranche-2
    plan pin): NO registry oracle may spell whitespace as the regex
    ``\\s``/``\\S`` shorthand — Java's and RE2's classes differ on
    \\x0B, which is exactly the divergence the two-tranche migration
    retired. New oracles must consume the shared explicit-class pair
    (text._NORM_ASCII_SQL / ASCII_TOKEN_COUNT_SQL) or spell the class
    out via text._WS_CHARS; this test fails the moment a fresh op
    reaches for the shorthand."""
    import re

    import health_etl_pipeline_and_analytics_with_machine_learning_spark.operators  # noqa: F401
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        REGISTRY,
    )

    offenders = {
        n
        for n, q in REGISTRY.items()
        if q.oracle and re.search(r"\\[sS]", q.oracle)
    }
    assert offenders == set(), sorted(offenders)
