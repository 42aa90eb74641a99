"""Structural pins for the ETL's zero-funnel contract, its
no-Python-worker path at the reference's size, and the dirty fixture
generator.

BASELINE.md "Cleaning pipeline at volume (r9)" claims the benched plan
carries ZERO single-task value buffers — every eager median/quantile
rides the exact-quantile engine. A builtin F.median in one stage is
enough to break that claim, so the contract gets a source-level pin:
the builtin exact percentile/median aggregates may not appear in
pipeline.py at all. Crude but effective — the defect class is "someone
adds one eager stat the quick way", and that is exactly a text match.
"""

from __future__ import annotations

import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "health_etl_pipeline_and_analytics_with_machine_learning_spark"


def test_pipeline_has_no_builtin_percentile_funnel():
    """GLOBAL stats must ride the engine. GROUP medians (the two
    groupBy(...).agg(F.median...) fills) are the documented bounded
    form — the buffer is one group's values, and operators/scaled.py
    holds the certified extreme-scale grouped twin — so the pin targets
    the funnel shapes: a builtin median/percentile inside an ungrouped
    eager aggregate (the `_scalar(...)` wrapper) or a raw percentile
    SQL expression."""
    src = open(os.path.join(REPO, PKG, "pipeline.py")).read()
    funnels = re.findall(r"_scalar\([^)]*(?:median|percentile)", src)
    funnels += re.findall(r"F\.expr\(f?\"percentile", src)
    assert not funnels, (
        f"pipeline.py grew an ungrouped builtin percentile/median ({funnels}); "
        "global eager statistics must ride _global_quantiles — see "
        "BASELINE.md 'Cleaning pipeline at volume (r9)'"
    )
    # every builtin median that remains is a grouped fill
    for ln in src.splitlines():
        if "F.median(" in ln:
            assert "groupBy" in ln or "__gm_" in ln, ln
    # ...and the engine wrapper is actually used
    assert src.count("_global_quantiles(") >= 4  # year, missing, iqr, sweep


def test_health_raw_generator_is_deterministic_and_dirty(tmp_path):
    gen = pytest.importorskip("scripts.gen_health_raw")

    p1 = gen.generate(str(tmp_path / "a.csv"), 500)
    p2 = gen.generate(str(tmp_path / "b.csv"), 500)
    b1, b2 = open(p1, "rb").read(), open(p2, "rb").read()
    assert b1 == b2, "same seed + n must be byte-identical"

    # latin-1 with the non-UTF-8 byte that forces the encoding fallback
    assert b"\xa5" in b1
    with pytest.raises(UnicodeDecodeError):
        b1.decode("utf-8")
    text = b1.decode("latin-1")
    lines = text.splitlines()
    header = lines[0].split(",")
    assert header == gen.HEADER and len(header) == 30
    # n rows + 1 exact duplicate + 2 trailing all-NULL rows
    assert len(lines) == 1 + 500 + 3
    assert lines[-1].count(",") == 29 and set(lines[-1]) == {","}
    # the duplicate row is byte-identical to row 1
    assert lines[501] == lines[1]
    # documented dirt actually present: apostrophe-prefixed numerics,
    # corrupt names, NA tokens
    assert any(",'" in ln for ln in lines[1:100])
    assert any(tok in text for tok in ("It@l", "HIV/A!DS", "M?dium"))
    assert any(tok in text for tok in ("~none~", "N/A", "NaN"))


def test_nan_median_means_no_fill(spark):
    """A NaN-majority column's exact median is NaN; the
    engine wrapper maps it to None = "no fill", so nulls stay null
    (matching pandas, where fillna(NaN) is a no-op) instead of being
    overwritten with NaN as the old builtin F.median path did."""
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.pipeline import (
        _global_quantiles,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [(nan,), (nan,), (nan,), (1.0,), (None,)], ["x"]
    )
    meds = _global_quantiles(df, {"x": [0.5]})
    assert meds["x"] == [None]
    # and the downstream fill contract: coalesce with a None literal is
    # the no-op fill, so the null row stays null
    filled = df.withColumn("x", F.coalesce("x", F.lit(meds["x"][0])))
    assert [r["x"] for r in filled.collect()].count(None) == 1


def test_reference_size_etl_skips_the_arrow_transport(spark, raw_health_csv, monkeypatch):
    """At the reference's size every eager statistic of the ETL takes
    the quantile engine's small-input path, so ``clean_health_dataset``
    never reaches the Arrow transport or its executor probe (and starts
    no Python worker): spies that raise stand in for both. Forcing the
    distributed engine (bound 0) sends the 18-column final sweep
    through the Arrow transport, and the cleaned rows come out the
    same."""
    import health_etl_pipeline_and_analytics_with_machine_learning_spark.functions.quantiles as Q
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.pipeline import (
        clean_health_dataset,
    )

    def _forbidden(name):
        def spy(*args, **kwargs):
            raise AssertionError(f"the reference-size ETL called {name}")

        return spy

    with monkeypatch.context() as m:
        m.setattr(Q, "_multi_pass_arrow", _forbidden("_multi_pass_arrow"))
        m.setattr(Q, "_probe_executor_python_env", _forbidden("the executor probe"))
        small = clean_health_dataset(spark, raw_health_csv).collect()
    assert 0 < len(small) <= Q.SMALL_INPUT_MAX_ROWS

    arrow_passes = []
    real = Q._multi_pass_arrow

    def counting(*args, **kwargs):
        arrow_passes.append(len(args[1]))
        return real(*args, **kwargs)

    monkeypatch.setattr(Q, "SMALL_INPUT_MAX_ROWS", 0)
    monkeypatch.setattr(Q, "_multi_pass_arrow", counting)
    dist = clean_health_dataset(spark, raw_health_csv).collect()
    assert arrow_passes, "the forced distributed sweep should ride the Arrow transport"
    assert [repr(r) for r in small] == [repr(r) for r in dist]
