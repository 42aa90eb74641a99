"""The reference's four cleaning functions as Catalyst column expressions.

Reference spec: Health_Jim.py:167-286 (clean_country_name,
clean_disease_name, clean_numeric_value, clean_availability) — row-wise
``Series.apply`` Python loops there; pure JVM-side expressions here
(SURVEY §4.2 no-UDF policy). Each verified reference quirk (SURVEY
§2.11) carries an explicit parity decision, noted inline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .textcase import py_capitalize, py_capitalize_words, py_title

#: pandas na_values list the reference loads with (Health_Jim.py:145).
#: Applied cell-exact (no trimming) to every column at ingest.
NA_TOKENS = ["", "NaN", "NA", "NULL", "None", "nan", "N/A", "n/a", "~none~", "?", "-"]

#: Exact-match country corrections (Health_Jim.py:174-181) plus the
#: latin1 variant 'It@l¥' — the reference's key 'It@lĄ' never matches the
#: byte actually present in the data (0xA5 → '¥' under the latin1 read
#: that wins), so reference output is the regex-stripped 'Itl'
#: (SURVEY §2.11 Q1). Decision: NORMALIZE — fix Italy properly.
#: Divergence from reference output is deliberate and documented.
REFERENCE_COUNTRY_CORRECTIONS = {
    "It@lĄ": "Italy",
    "T?u?r?k?e?y?": "Turkey",
    "G%rmany": "Germany",
    "Can@da": "Canada",
    "Mex!co": "Mexico",
    "?r?zil": "Brazil",
    "Ind!a": "India",
}
COUNTRY_CORRECTIONS = {
    **REFERENCE_COUNTRY_CORRECTIONS,
    "It@l¥": "Italy",  # normalize decision, not in reference
}

#: Availability label normalization (Health_Jim.py:267-280). The
#: trailing-space keys can never match after strip; kept for spec parity.
AVAILABILITY_MAP = {
    "High": "High",
    "High ": "High",
    "high": "High",
    "Medium": "Medium",
    "medium": "Medium",
    "Low": "Low",
    "low": "Low",
    "None": "None",
    "none": "None",
    "~none~": "None",
    "NONE": "None",
    "None ": "None",
}

_WS_TRIM = r"^\s+|\s+$"  # python str.strip() trims all whitespace, not just spaces


def _keep_only(col: Column, keep_class: str) -> Column:
    """Delete every character NOT in ``keep_class`` (a regex char-class
    body) — identical to ``regexp_replace(col, '[^<class>]', '')`` but
    ~15-20x faster (r17 measurement, 600k rows: 2.1-2.5 s -> 0.12-0.17 s
    per pass): Java's regex evaluates a NEGATED class that unions two or
    more letter ranges with extra characters at ~4 us PER CHARACTER,
    while the equivalent positive extraction runs at normal regex speed.
    Concatenating every maximal run of kept characters == deleting every
    non-kept character.

    ``\\w`` and ``\\s`` in ``keep_class`` are Java's ASCII classes, so the
    result equals CPython's ``re.sub(f"[^{keep_class}]", "", s,
    flags=re.ASCII)``, not the reference's Unicode ``re.sub``: non-ASCII
    letters, digits and whitespace ('é', '²', NBSP, U+2003) are deleted
    here where the reference keeps them. Both facts are fuzz-pinned over
    ASCII, Latin-1 and other code points, null and empty included, in
    tests/test_fuzz_expressions.py.
    """
    return F.array_join(
        F.regexp_extract_all(col, F.lit(f"[{keep_class}]+"), 0), ""
    )


def null_na_tokens(col: Column) -> Column:
    """Cell-exact NA-token nulling — the ingest-time na_values semantics."""
    return F.when(col.isin(NA_TOKENS), F.lit(None)).otherwise(col)


def clean_country(col: Column, corrections: dict[str, str] | None = None) -> Column:
    """clean_country_name (Health_Jim.py:167-194): NaN→'Unknown';
    exact-match corrections; else strip ``[^a-zA-Z\\s\\-\\.']``, trim,
    capitalize each word ('USA'→'Usa', quirk Q2 preserved); empty→'Unknown'.

    Pass ``corrections`` to switch quirk-Q1 policy: the default includes
    the 'It@l¥' latin1 variant (normalize mode); passing the reference's
    exact 7-entry dict reproduces its observed output ('Itl').
    """
    expr = None
    for k, v in (corrections or COUNTRY_CORRECTIONS).items():
        cond = col == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    corrected = expr.otherwise(F.lit(None))

    stripped = _keep_only(col, r"a-zA-Z\s\-\.'")
    trimmed = F.regexp_replace(stripped, _WS_TRIM, "")
    capped = py_capitalize_words(trimmed)
    fallback = F.when(capped == "", F.lit("Unknown")).otherwise(capped)
    return F.when(col.isNull(), F.lit("Unknown")).otherwise(F.coalesce(corrected, fallback))


def clean_disease(col: Column) -> Column:
    """clean_disease_name (Health_Jim.py:199-216): NaN→'Unknown'; strip
    whitespace; remove ``[^\\w\\s\\-\\(\\)']``; fixed replacements (no-ops
    after the strip — 'HIV/A!DS'→'HIVADS' quirk Q4 preserved); collapse
    whitespace; Python .title() unless the name contains
    COVID/HIV/AIDS/SARS/MERS ('Alzheimer'S Disease' quirk Q3 preserved).
    """
    s = F.regexp_replace(col, _WS_TRIM, "")
    s = _keep_only(s, r"\w\s\-\(\)'")
    # spec-fidelity replacements — unreachable after the strip, kept anyway
    s = F.replace(s, F.lit("A!DS"), F.lit("AIDS"))
    s = F.replace(s, F.lit("Influen&za"), F.lit("Influenza"))
    s = F.replace(s, F.lit("Pol!o"), F.lit("Polio"))
    s = F.regexp_replace(s, r"\s+", " ")
    s = F.regexp_replace(s, _WS_TRIM, "")
    is_acronym = F.upper(s).rlike("COVID|HIV|AIDS|SARS|MERS")
    titled = F.when(is_acronym, s).otherwise(py_title(s))
    return F.when(col.isNull(), F.lit("Unknown")).otherwise(titled)


def clean_numeric(col: Column) -> Column:
    """clean_numeric_value (Health_Jim.py:240-254): drop apostrophes
    (``'0`` → 0), comma→decimal-point, strip everything but digits/./-,
    ''/'.'→NULL, unparseable→NULL.

    Single-char replacements use ``translate`` (no regex engine); the
    spec's explicit ''/'.'-→NULL guards are subsumed by ``try_cast``,
    which yields NULL for every unparseable remnant exactly like the
    reference's except→NaN (fuzz-verified vs the Python spec in
    tests/test_fuzz_expressions.py). Applied to 24 columns per row —
    one regex pass per column instead of three plus a thrice-evaluated
    CASE guard.
    """
    s = F.translate(col, ",'", ".")  # ',' → '.', apostrophe deleted
    s = F.regexp_replace(s, r"[^\d\.\-]", "")
    return s.try_cast("double")


def clean_availability(col: Column) -> Column:
    """clean_availability (Health_Jim.py:281-285): NaN→'Unknown'; strip;
    12-entry map; unknown token → 'Medium' ('M?dium'→'Medium' via the
    fallback, quirk Q8 preserved). Note '~none~' is an NA token at ingest,
    so it reaches this function only as NULL → 'Unknown' (quirk Q9:
    lowercase 'none' survives ingest and maps to the *label* 'None')."""
    t = F.regexp_replace(col, _WS_TRIM, "")
    expr = None
    for k, v in AVAILABILITY_MAP.items():
        cond = t == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    mapped = expr.otherwise(F.lit("Medium"))
    return F.when(col.isNull(), F.lit("Unknown")).otherwise(mapped)


def capitalize_treatment(col: Column) -> Column:
    """Treatment type: fillna('Unknown') then str.capitalize()
    (Health_Jim.py:262-264) — single-token capitalize, NOT initcap."""
    return F.when(col.isNull(), F.lit("Unknown")).otherwise(py_capitalize(col))
