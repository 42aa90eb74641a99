"""Shared oracle-output comparison: the type-class maps and the row
canonical form, one source of truth for ``scripts/drive_entry.py`` and
the parity gate, so the two can't drift.

The driver fetches DuckDB results through
pandas/Arrow, where HUGEINT/DECIMAL become float64/decimal while Spark
emits int64 — so every oracle output column must share Spark's numeric
CLASS, not merely compare equal under ``fetchall()`` (which converts
HUGEINT to Python int and masks the divergence). ``'H'`` marks the
classes whose pandas fetch diverges — forbidden in any oracle output.
"""

from __future__ import annotations

import math

#: DuckDB declared type → class; 'H' = pandas/Arrow fetch diverges
#: from Spark's int64/float64 (the r5 driver-red cause)
DUCK_CLASS = {
    "BIGINT": "i", "INTEGER": "i", "SMALLINT": "i", "TINYINT": "i",
    "UBIGINT": "i", "UINTEGER": "i", "USMALLINT": "i", "UTINYINT": "i",
    "HUGEINT": "H", "UHUGEINT": "H", "DECIMAL": "H",
    "DOUBLE": "f", "FLOAT": "f",
    "VARCHAR": "s", "DATE": "d",
    "TIMESTAMP": "t", "TIMESTAMP_NS": "t", "TIMESTAMP WITH TIME ZONE": "z",
    "BOOLEAN": "b",
}

#: Spark simpleString → class
SPARK_CLASS = {
    "bigint": "i", "int": "i", "smallint": "i", "tinyint": "i",
    "double": "f", "float": "f", "string": "s", "date": "d",
    "timestamp": "t", "timestamp_ntz": "t", "boolean": "b",
}


def class_mismatches(duck_description, spark_schema) -> list[str]:
    """Compare a DuckDB result description (``DESCRIBE`` rows or a
    cursor ``description``) against a Spark schema; return one message
    per column whose numeric class differs or whose oracle type is in
    the forbidden HUGEINT/DECIMAL class. Unknown types on either side
    are skipped (they fail the value hash instead, loudly).
    """
    s_types = {
        f.name: SPARK_CLASS.get(f.dataType.simpleString())
        for f in spark_schema.fields
    }
    errs = []
    for row in duck_description:
        col, dt = row[0], row[1]
        base = str(dt).split("(")[0]
        oc = DUCK_CLASS.get(base)
        sc = s_types.get(col)
        if oc == "H":
            errs.append(
                f"{col}: oracle type {dt} (HUGEINT/DECIMAL class — driver "
                f"pandas fetch diverges from Spark)"
            )
        elif oc is not None and sc is not None and oc != sc:
            errs.append(f"{col}: oracle {dt} vs spark class {sc!r}")
    return errs


def canon(rows, colnames):
    """Order-insensitive canonical form: sort columns by name, then rows;
    floats rounded to 9dp, NaN as a sortable marker."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return ("nan",)
            return round(v, 9)
        return v

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)
