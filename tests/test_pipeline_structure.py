"""Structural pins for the ETL's zero-funnel contract and the dirty
fixture generator.

BASELINE.md "Cleaning pipeline at volume (r9)" claims the benched plan
carries ZERO single-task value buffers — every eager median/quantile
rides the distributed-selection engine. stage_year disproved the first
version of that claim (the round's code review caught a leftover
builtin F.median), so the contract gets a source-level pin: the
builtin exact percentile/median aggregates may not appear in
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


def test_env_probe_rebrands_only_anchored_missing_module_failures():
    """The executor-env probe must rebrand a
    failure into install instructions ONLY when the exception text
    carries the probe's own 'executor-env-probe:' sentinel naming one
    of the three probed modules — an error that merely echoes the word
    'ImportError' in a log line must propagate as itself, a TRANSITIVE
    dependency failure of a probed module (pandas present, dateutil
    missing) must still rebrand, and the rebranded message must retain
    the matched cause."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.pipeline import (
        _probe_executor_python_env,
    )

    class _FakeJob:
        def __init__(self, exc):
            self._exc = exc

        def repartition(self, n):
            return self

        def mapInPandas(self, fn, schema):
            return self

        def count(self):
            raise self._exc

    class _FakeSpark:
        def __init__(self, exc):
            self._exc = exc

        class _SC:
            defaultParallelism = 4

        sparkContext = _SC()

        def range(self, n):
            return _FakeJob(self._exc)

    genuine = RuntimeError(
        "Job aborted: PythonException: Traceback (most recent call last):\n"
        "  ...\nImportError: executor-env-probe: import pyarrow failed: "
        "ModuleNotFoundError(\"No module named 'pyarrow'\")"
    )
    with pytest.raises(ImportError) as ei:
        _probe_executor_python_env(_FakeSpark(genuine))
    assert "import pyarrow failed" in str(ei.value)
    assert ei.value.__cause__ is genuine

    # the r11 review's transitive case: pandas itself is present but a
    # dependency it imports is not — the sentinel wraps it, so the
    # rebrand still fires with actionable text
    transitive = RuntimeError(
        "PythonException: ImportError: executor-env-probe: import pandas "
        "failed: ModuleNotFoundError(\"No module named 'dateutil'\")"
    )
    with pytest.raises(ImportError) as ti:
        _probe_executor_python_env(_FakeSpark(transitive))
    assert "import pandas failed" in str(ti.value)
    assert "dateutil" in str(ti.value)

    # the worker-bootstrap case: with pandas/pyarrow absent OUTRIGHT,
    # the Arrow serializer import in pyspark's worker dies BEFORE the
    # sentinel wrapper runs — the raw traceback form naming a probed
    # module must still rebrand
    bootstrap = RuntimeError(
        "PythonException: Traceback (most recent call last):\n"
        "  File pyspark/sql/pandas/serializers.py ...\n"
        "ModuleNotFoundError: No module named 'pyarrow'"
    )
    with pytest.raises(ImportError) as bi:
        _probe_executor_python_env(_FakeSpark(bootstrap))
    assert "No module named 'pyarrow" in str(bi.value)

    # dotted SUBMODULE of a probed package (a broken install whose
    # binary submodule is missing) still rebrands
    submodule = RuntimeError(
        "PythonException: ModuleNotFoundError: No module named "
        "'numpy.core._multiarray_umath'"
    )
    with pytest.raises(ImportError) as si:
        _probe_executor_python_env(_FakeSpark(submodule))
    assert "_multiarray_umath" in str(si.value)

    # echoes the keyword but is NOT a probe-module import failure:
    # propagates unchanged (transient executor loss whose log mentions
    # ImportError, a missing module that is not ours, and — ADVICE
    # r11 — a '_'-suffixed SIBLING package of a probed one, which the
    # old [\w.]* suffix wrongly swallowed)
    for other in (
        RuntimeError("executor lost; stderr said: ImportError was retried"),
        RuntimeError("ModuleNotFoundError: No module named 'user_udf_helper'"),
        RuntimeError("ModuleNotFoundError: No module named 'pyarrow_hotfix'"),
        RuntimeError("ModuleNotFoundError: No module named 'pandas_flavor'"),
    ):
        with pytest.raises(RuntimeError) as ri:
            _probe_executor_python_env(_FakeSpark(other))
        assert ri.value is other
