"""THE quantile rank/interpolation math — certification invariant 6,
defined once for the selection engine, the grouped in-plan engine and
the quantile-normalize op.

Invariant 6, in full:

1. the 0-based position ``pos = (n−1)·p`` is computed BEFORE the
   1-based shift: evaluating ``1 + (n−1)·p`` first can round the
   fractional part away in IEEE doubles (the ulp at 2.0 is 4.4e-16, so
   ``1 + 0.9999999999999999 == 2.0`` exactly, a counterexample pinned
   in tests/test_quantiles.py);
2. the flanking 1-based ranks are ``k_lo = 1 + ⌊pos⌋`` and
   ``k_hi = min(k_lo + 1, n)``;
3. ``frac == 0`` short-circuits to the lower flank — evaluating
   ``v0·1 + v1·0`` would let a ±inf/NaN upper flank poison an integral
   rank via ``0·inf``;
4. interpolation is Spark's symmetric ``lower·(1−frac) + higher·frac``
   on ALL flanks — the algebraically-equal one-sided
   ``v0 + frac·(v1−v0)`` drifts past the last ulp under cancellation
   (mixed-magnitude flanks: 0.0 / −1e9 with frac≈1 gives −1.192e-07 vs
   Spark's −1.1102e-07) and is NaN outright when a flank is ±inf.

The math exists in two dialects because its consumers live on opposite
sides of the driver boundary: the SELECTION engine
(``functions.quantiles``) orchestrates bucket refinement driver-side
and needs plain Python floats mid-loop, while the IN-PLAN engines
(``operators.scaled.grouped_exact_quantiles``,
``operators.curation.source_quantile_normalize``) need Catalyst
``Column`` expressions. Both dialects are defined HERE, side by side,
and ``tests/test_quantiles.py`` holds a lockstep property test that
evaluates the Column forms and asserts bit-equality with the Python
forms — one invariant, two executions, one patrol.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- python


def rank_spec(n: int, p: float) -> tuple[int, int, float]:
    """(k_lo, k_hi, frac) for the p-quantile of n values — 1-based
    flanking ranks plus the interpolation fraction. Requires n ≥ 1 and
    p in [0, 1] (``math.floor`` keeps this dialect identical to
    :func:`rank_spec_col` even for a drifted caller with p < 0, where
    ``int()`` truncation would diverge from the Column ``floor`` —
    but out-of-range p has no quantile meaning, so it is rejected
    rather than silently extrapolated; a real raise, not an assert,
    so ``python -O`` cannot strip the guard)."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"quantile probability out of range: {p!r}")
    pos = (n - 1) * float(p)
    k_lo = 1 + math.floor(pos)
    frac = pos - math.floor(pos)
    k_hi = min(k_lo + 1, n)
    return k_lo, k_hi, frac


def interp(v0: float, v1: float, frac: float) -> float:
    """Symmetric interpolation with the frac == 0 short-circuit.

    NOTE for selection-engine callers: check ``frac == 0.0`` BEFORE
    resolving the upper flank — skipping k_hi's bucket locate+collect
    whenever p lands exactly on a rank is a measured win, and this
    function's own guard cannot give that back."""
    if frac == 0.0:
        return v0
    return v0 * (1.0 - frac) + v1 * frac


# ---------------------------------------------------------------- column


def rank_spec_col(
    n: Column | int, p: Column | float
) -> tuple[Column, Column, Column]:
    """Column twin of :func:`rank_spec`: (k_lo, k_hi, frac) as Catalyst
    expressions. ``n`` is the group's count (Column or literal int);
    ``p`` is the probability (Column, e.g. a percent_rank, or literal
    float). The expression shapes mirror the Python ops ULP-for-ULP:
    (n−1) exact in int64, ONE cast to double, the product, floor."""
    nc = n if isinstance(n, Column) else F.lit(n)
    pc = p if isinstance(p, Column) else F.lit(float(p))
    pos = (nc - F.lit(1)).cast("double") * pc
    k_lo = (F.floor(pos) + F.lit(1)).cast("long")
    k_hi = F.least(k_lo + F.lit(1), nc.cast("long"))
    frac = pos - F.floor(pos)
    return k_lo, k_hi, frac


def interp_col(v0: Column, v1: Column, frac: Column) -> Column:
    """Column twin of :func:`interp` — the frac == 0 branch guards the
    ±inf/NaN upper flank exactly like the Python form."""
    return F.when(frac == F.lit(0.0), v0).otherwise(
        v0 * (F.lit(1.0) - frac) + v1 * frac
    )
