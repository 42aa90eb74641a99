"""Hypothesis differential fuzz: the Catalyst expressions that reproduce
CPython string/number semantics are compared against the REAL CPython
behavior (and the reference's numeric-cleaning spec) on random ASCII
inputs — the strongest form of the §2.8 expression unit tests.

ASCII alphabet by design for the casing expressions: they are scoped to
ASCII (see functions/textcase.py — Java vs Python regex class semantics
diverge on Unicode). The character-class strip (``_keep_only``) is fuzzed
over Latin-1 and other non-ASCII code points too, against CPython's
``re.sub`` under ``re.ASCII``; its departures from the Unicode classes
are pinned explicitly.

Each hypothesis example carries a BATCH of strings through one Spark
job so the fuzz stays fast.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from health_etl_pipeline_and_analytics_with_machine_learning_spark.functions.cleaning import (
    _keep_only,
    clean_numeric,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.functions.textcase import (
    py_capitalize,
    py_capitalize_words,
    py_title,
)

ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " '-.,!?@/()~%&"
)
TEXTS = st.lists(st.text(alphabet=ALPHABET, max_size=24), min_size=1, max_size=40)

_spark = None


import pytest  # noqa: E402


@pytest.fixture(autouse=True)
def _bind_spark(spark):
    """hypothesis @given can't take pytest fixtures — bind the session
    into the module global before every test."""
    global _spark
    _spark = spark


def _run(spark, strings, expr_builder):
    df = spark.createDataFrame([(s,) for s in strings], "raw string")
    return [r[0] for r in df.select(expr_builder(F.col("raw"))).collect()]


def ref_clean_numeric(v: str | None) -> float | None:
    """The reference's clean_numeric_value spec (Health_Jim.py:240-254):
    drop apostrophes, comma→dot, strip non-[digit dot minus], ''/'.'→
    NaN, float() else NaN."""
    if v is None:
        return None
    s = str(v).replace("'", "").replace(",", ".")
    s = re.sub(r"[^\d\.\-]", "", s)
    if s in ("", "."):
        return None
    try:
        return float(s)
    except ValueError:
        return None


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_clean_numeric_matches_reference_spec(strings):
    got = _run(_spark, strings, clean_numeric)
    want = [ref_clean_numeric(s) for s in strings]
    for s, g, w in zip(strings, got, want):
        if w is None:
            assert g is None, f"{s!r}: spark={g!r} python=None"
        else:
            assert g is not None and abs(g - w) < 1e-9, f"{s!r}: spark={g!r} python={w!r}"


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_py_title_matches_cpython(strings):
    got = _run(_spark, strings, py_title)
    want = [s.title() for s in strings]
    assert got == want


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_py_capitalize_matches_cpython(strings):
    got = _run(_spark, strings, py_capitalize)
    want = [s.capitalize() for s in strings]
    assert got == want


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_py_capitalize_words_matches_cpython(strings):
    got = _run(_spark, strings, py_capitalize_words)
    want = [" ".join(p.capitalize() for p in s.split()) for s in strings]
    assert got == want




#: the two classes the cleaning functions strip with (clean_country,
#: clean_disease)
KEEP_CLASSES = [r"a-zA-Z\s\-\.'", r"\w\s\-\(\)'"]

#: ASCII (controls included), all of Latin-1, and a few code points on
#: which Java's ASCII ``\w``/``\s`` and Python's Unicode ones disagree:
#: letters, digits and whitespace outside ASCII, a titlecase digraph, a
#: zero-width space and an astral-plane character
WIDE_ALPHABET = (
    "".join(chr(i) for i in range(0x100))
    + "\u011f\u03a9\u0436\u01c5\u0663\u1680\u2003\u2028\u3000\u200b\U0001f600"
)
WIDE_TEXTS = st.lists(
    st.one_of(st.none(), st.text(alphabet=WIDE_ALPHABET, max_size=24)),
    min_size=1,
    max_size=40,
)


def ref_keep_only(s: str | None, keep_class: str) -> str | None:
    r"""``re.sub('[^<class>]', '', s)`` with ASCII-only ``\w``/``\s``,
    which is what Java's regex classes match."""
    if s is None:
        return None
    return re.sub(f"[^{keep_class}]", "", s, flags=re.ASCII)


@pytest.mark.parametrize("keep_class", KEEP_CLASSES)
def test_keep_only_matches_ascii_re_sub(keep_class):
    @settings(max_examples=15, deadline=None)
    @given(WIDE_TEXTS)
    def check(strings):
        got = _run(_spark, strings, lambda c: _keep_only(c, keep_class))
        assert got == [ref_keep_only(s, keep_class) for s in strings]

    check()


@pytest.mark.parametrize(
    "keep_class, raw, kept",
    [
        # non-ASCII whitespace: Python's Unicode \s keeps it, Java's drops it
        (KEEP_CLASSES[0], "New\xa0Zealand", "NewZealand"),
        (KEEP_CLASSES[0], "Sri\u2003Lanka\x1c", "SriLanka"),
        (KEEP_CLASSES[1], "Hepatitis\x85B", "HepatitisB"),
        # non-ASCII letters and digits: Python's Unicode \w keeps them
        (KEEP_CLASSES[1], "Cr\xe9utzfeldt-Jakob", "Crutzfeldt-Jakob"),
        (KEEP_CLASSES[1], "Type\xb2 \u0436\u0663", "Type "),
        # every character the cleaning keeps survives both ways
        (KEEP_CLASSES[1], "Alzheimer's (Early-Onset)_2", "Alzheimer's (Early-Onset)_2"),
    ],
)
def test_keep_only_drops_unicode_word_and_space(spark, keep_class, raw, kept):
    (got,) = _run(spark, [raw], lambda c: _keep_only(c, keep_class))
    assert got == kept
    unicode_kept = re.sub(f"[^{keep_class}]", "", raw)
    if raw.isascii():
        assert unicode_kept == kept
    else:
        # the pinned departure from the reference's Unicode re.sub
        assert unicode_kept != kept
