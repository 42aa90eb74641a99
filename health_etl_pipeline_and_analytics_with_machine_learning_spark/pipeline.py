"""The health ETL — clean_health_dataset (Health_Jim.py:116-434) as a
Spark DataFrame pipeline.

Architecture notes (scale-first):

- Row-wise cleaning (names / numerics / categoricals) is pure Catalyst
  expressions assembled in ONE ``select`` — a single narrow stage, fully
  codegen'd, no shuffle, no UDFs (SURVEY §4.2).
- Column statistics the reference computes eagerly (medians, IQR
  quantiles) are likewise computed eagerly here — by the exact-quantile
  engine (functions.quantiles: one driver-side Arrow collect for inputs
  that fit, distributed selection above that; the builtin percentile's
  single-task value buffer is both a local bottleneck and the 100 TB
  OOM), then re-embedded as literals. That is metadata-scale traffic (a
  handful of doubles) and deliberately so: embedding them lazily as
  cross-joined subplans duplicates the whole upstream plan per
  statistic and blows up Catalyst analysis (exponential plan growth),
  while a collected literal folds constant.
- Group-median fills are groupBy-agg + broadcast join-back — the
  scalable form of pandas ``groupby().transform('median')``
  (SURVEY §2.3/§2.4). Both rate fills share one aggregation.
- Between the expression phase and the statistics phase the lineage is
  cut once (``functions.lineage.lineage_cut``, eager): the cleaned
  columns are computed exactly once instead of once per statistics
  pass, and the logical plan stays flat.

Stage ordering follows the reference exactly — it is load-bearing
(e.g. Severity Score reads PRE-clip DALYs because derived columns are
built before outlier capping; sweep medians are computed POST-clip;
global fill medians are computed AFTER group fills). Verified quirk
decisions (SURVEY §2.11) are annotated inline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.cleaning import (
    capitalize_treatment,
    clean_availability,
    clean_country,
    clean_disease,
    clean_numeric,
)
from .functions.lineage import lineage_cut
from .functions.quantiles import exact_quantiles_multi
from .operators.record_id import with_record_id
from .sources.ingest import read_csv_raw

# Columns coerced to float (Health_Jim.py:229-239)
NUMERIC_COLUMNS = [
    "Country_pop",
    "Incidence Rate mn (%)",
    "Prevalence rate (%)",
    "Mortality Rate per 100 people (%)",
    "Population affected",
    "Pop_affected(Male)",
    "Pop_affected(Female)",
    "Ages 0-18 (%)",
    "Ages 19-35 (%)",
    "Ages 36-60 (%)",
    "Ages 61+ (%)",
    "Pop_affected_U (%)",
    "Pop_affected_R (%)",
    "Healthcare Access (%)",
    "Doctors per 1000",
    "Hospital Beds per 1000",
    "Recovery Rate (%)",
    "DALYs",
    "Improvement in 5 Years (%)",
    "Average Annual Treatment Cost (USD)",
    "Composite Health Index (CHI)",
    "Per Capita Income (USD)",
    "Education Index",
    "Urbanization Rate (%)",
]

AGE_COLS = ["Ages 0-18 (%)", "Ages 19-35 (%)", "Ages 36-60 (%)", "Ages 61+ (%)"]
RATE_COLS = [
    "Incidence Rate mn (%)",
    "Prevalence rate (%)",
    "Mortality Rate per 100 people (%)",
]
OUTLIER_COLS = [
    "Average Annual Treatment Cost (USD)",
    "Per Capita Income (USD)",
    "DALYs",
    "Country_pop",
]

# Final rename map (Health_Jim.py:353-380)
COLUMN_RENAME = {
    "Country_pop": "Country_Population",
    "Incidence Rate mn (%)": "Incidence_Rate_per_million",
    "Prevalence rate (%)": "Prevalence_Rate",
    "Mortality Rate per 100 people (%)": "Mortality_Rate_per_100",
    "Population affected": "Population_Affected",
    "Pop_affected(Male)": "Affected_Male",
    "Pop_affected(Female)": "Affected_Female",
    "Ages 0-18 (%)": "Age_0_18_Pct",
    "Ages 19-35 (%)": "Age_19_35_Pct",
    "Ages 36-60 (%)": "Age_36_60_Pct",
    "Ages 61+ (%)": "Age_61_Plus_Pct",
    "Pop_affected_U (%)": "Urban_Population_Pct",
    "Pop_affected_R (%)": "Rural_Population_Pct",
    "Healthcare Access (%)": "Healthcare_Access_Pct",
    "Doctors per 1000": "Doctors_per_1000",
    "Hospital Beds per 1000": "Hospital_Beds_per_1000",
    "Treatment type": "Treatment_Type",
    "Recovery Rate (%)": "Recovery_Rate",
    "DALYs": "DALYs",
    "Improvement in 5 Years (%)": "Improvement_5_Years",
    "Average Annual Treatment Cost (USD)": "Avg_Treatment_Cost_USD",
    "Availability of Vaccines/Treatment": "Vaccine_Treatment_Availability",
    "Composite Health Index (CHI)": "Health_Index",
    "Per Capita Income (USD)": "Per_Capita_Income_USD",
    "Education Index": "Education_Index",
    "Urbanization Rate (%)": "Urbanization_Rate",
}

# Columns filled with 0 (not median) in the final sweep (Health_Jim.py:387)
SWEEP_ZERO_COLS = {"Mortality_Rate_per_100", "Prevalence_Rate", "Incidence_Rate_per_million"}


def _c(name: str) -> Column:
    return F.col(f"`{name}`")


def _scalar(df: DataFrame, *exprs: Column) -> list:
    """Eagerly evaluate tiny one-row aggregates (metadata-scale)."""
    return list(df.agg(*exprs).first())


def _global_quantiles(
    df: DataFrame, col_probs: dict[str, list[float]]
) -> dict[str, list[float | None]]:
    """Eager global quantiles via the exact-quantile engine
    (functions.quantiles) — bit-compatible with the builtin exact
    ``percentile``/``median`` (invariant 6, property-pinned), but with
    no single-task value buffer: the builtin funnels every value of
    every profiled column into ONE final-aggregation task, which is both
    the 100 TB OOM and, measured here, the local bottleneck (the sweep's
    18-median builtin agg cost 9.1 s at 600k rows; the engine's three
    distributed passes cost ~2 s). Up to
    ``functions.quantiles.SMALL_INPUT_MAX_ROWS`` rows (the reference's
    10k-row file) the engine answers from one Arrow collect instead:
    one job, no Python worker. NaN results (empty column, or a
    NaN-majority column) are mapped to None = "no fill value", matching
    the builtin's null-on-empty.

    A NaN median (NaN-majority column) means no fill: nulls stay null
    (``F.median`` would write the NaN into them), so no row gains a NaN
    and IS-NULL accounting stays truthful, as with pandas'
    ``fillna(nan)``. Pinned by
    tests/test_pipeline_structure.py::test_nan_median_means_no_fill."""
    res = exact_quantiles_multi(df, col_probs)
    import math

    return {
        c: [None if math.isnan(v) else v for v in vs] for c, vs in res.items()
    }


# ---------------------------------------------------------------------------
# stage 1: row-wise expression phase (one select, one codegen stage)
# ---------------------------------------------------------------------------


def stage_rowwise(df: DataFrame, country_corrections: dict | None = None) -> DataFrame:
    """2a/2b/2d/2e in a single projection: name cleaning, 24-column
    numeric repair (plus Row_num, which pandas infers float64 so it must
    be numeric for the final sweep), categorical normalization. Year is
    try_cast here; its median fill + int cast + range filter happen in
    stage_year (the median is a statistic)."""
    cols: list[Column] = []
    for name in df.columns:
        c = _c(name)
        if name == "Country":
            cols.append(clean_country(c, country_corrections).alias(name))
        elif name == "Disease Name":
            cols.append(clean_disease(c).alias(name))
        elif name == "Year":
            cols.append(c.try_cast("double").alias(name))
        elif name == "Treatment type":
            cols.append(capitalize_treatment(c).alias(name))
        elif name == "Availability of Vaccines/Treatment":
            cols.append(clean_availability(c).alias(name))
        elif name in NUMERIC_COLUMNS or name == "Row_num":
            cols.append(clean_numeric(c).alias(name))
        else:
            cols.append(c)
    return df.select(*cols)


# ---------------------------------------------------------------------------
# stage 2: statistics phase
# ---------------------------------------------------------------------------


def stage_year(df: DataFrame) -> DataFrame:
    """2c: fillna(median) → astype(int) (truncates) → keep 1900–2100.
    Median computed over the pre-fill column (reference ordering), on
    the quantile engine like every other eager statistic, so the plan
    holds no builtin single-task ``F.median`` funnel
    (tests/test_pipeline_structure.py pins this)."""
    if "Year" not in df.columns:
        return df
    (ymed,) = _global_quantiles(df, {"Year": [0.5]})["Year"]
    out = df.withColumn(
        "Year", F.coalesce(_c("Year"), F.lit(ymed).cast("double")).cast("int")
    )
    return out.filter((_c("Year") >= 1900) & (_c("Year") <= 2100))


def stage_missing(df: DataFrame) -> DataFrame:
    """2f: population filled by (Country, Year) group median then global
    median then cast to int (truncating); ages → 25; the three rate
    columns filled by (Disease, Country) group median then global median.
    Global medians are computed AFTER the group fill, as the reference
    does. Null join keys fall through to the global fill, matching
    pandas groupby(dropna=True).transform semantics.

    Job structure: BOTH group-fill joins are composed lazily, the
    lineage is cut ONCE (:func:`lineage_cut`), and the four global medians
    come from ONE batched quantile-engine call over the cut. Without the
    cut, every downstream statistics pass would re-execute the
    group-median aggregate subplans behind the broadcast joins (Catalyst
    re-runs shared subplans per job) — at 600k rows that re-evaluation,
    not the aggregates themselves, dominated the ETL (measured: this
    stage 9.4 s without the cut, ~2 s with it). The
    column-independence that makes batching safe: the pop median reads
    only group-filled pop, the rate medians only group-filled rates."""
    out = df
    has_pop = "Country_pop" in out.columns
    if has_pop:
        gm = out.groupBy("Country", "Year").agg(F.median(_c("Country_pop")).alias("__gm_pop"))
        out = out.join(F.broadcast(gm), on=["Country", "Year"], how="left")
        out = out.withColumn("Country_pop", F.coalesce(_c("Country_pop"), _c("__gm_pop"))).drop(
            "__gm_pop"
        )

    out = out.select(
        *[
            F.coalesce(_c(n), F.lit(25.0)).alias(n) if n in AGE_COLS else _c(n).alias(n)
            for n in out.columns
        ]
    )

    rates = [c for c in RATE_COLS if c in out.columns]
    if rates:
        gm = out.groupBy("Disease Name", "Country").agg(
            *[F.median(_c(c)).alias(f"__gm_{i}") for i, c in enumerate(rates)]
        )
        out = out.join(F.broadcast(gm), on=["Disease Name", "Country"], how="left")
        for i, c in enumerate(rates):
            out = out.withColumn(c, F.coalesce(_c(c), _c(f"__gm_{i}")))
        out = out.drop(*[f"__gm_{i}" for i in range(len(rates))])

    if has_pop or rates:
        out = lineage_cut(out, eager=True)

    need = ({"Country_pop": [0.5]} if has_pop else {}) | {c: [0.5] for c in rates}
    if need:
        globs = _global_quantiles(out, need)
        if has_pop:
            out = out.withColumn(
                "Country_pop",
                F.coalesce(
                    _c("Country_pop"), F.lit(globs["Country_pop"][0]).cast("double")
                ).cast("long"),
            )
        for c in rates:
            out = out.withColumn(
                c, F.coalesce(_c(c), F.lit(globs[c][0]).cast("double"))
            )
    return out


def stage_derived_first_pass(df: DataFrame) -> DataFrame:
    """2g: Urban_Rural_Ratio and Severity Score.

    Population Coverage and Gender Ratio are ALSO built at 2g in the
    reference but unconditionally recomputed after the rename
    (Health_Jim.py:397-402), so only the final formulas are observable
    (stage_derived_final). The Urban_Rural_Ratio / Severity Score
    recomputes guard on PRE-rename names and are no-ops (quirk Q6) —
    their first-pass values, built HERE from pre-clip inputs, survive.
    """
    out = df
    if "Pop_affected_U (%)" in out.columns and "Pop_affected_R (%)" in out.columns:
        u, r = _c("Pop_affected_U (%)"), _c("Pop_affected_R (%)")
        # pandas: U/R with R==0 → ±inf → NaN (replace) → null; 0/0 → NaN → null
        ratio = F.when(u.isNull() | r.isNull() | (r == 0), F.lit(None)).otherwise(
            F.round(u / r, 2)
        )
        out = out.withColumn(
            "Urban_Rural_Ratio", F.least(F.greatest(ratio, F.lit(0.1)), F.lit(10.0))
        )
    if "Mortality Rate per 100 people (%)" in out.columns and "DALYs" in out.columns:
        # NB: reads PRE-clip DALYs — derived cols are built before 2h capping
        out = out.withColumn(
            "Severity Score",
            F.round(
                F.coalesce(_c("Mortality Rate per 100 people (%)"), F.lit(0.0)) * 0.7
                + F.log1p(F.coalesce(_c("DALYs"), F.lit(0.0))) * 0.3,
                2,
            ),
        )
    return out


def stage_iqr_clip(df: DataFrame) -> DataFrame:
    """2h: cap outliers at Q1−3·IQR / Q3+3·IQR per column — exact
    interpolating quantiles on the DISTRIBUTED-SELECTION engine (same
    answers as the builtin exact percentile, no single-task value
    buffer, so this stage holds at 100 TB as-is). Nulls pass through
    the clip untouched, as pandas clip does; all-null columns are left
    alone (pandas clip with NaN bounds is the identity)."""
    present = [c for c in OUTLIER_COLS if c in df.columns]
    if not present:
        return df
    qmap = _global_quantiles(df, {c: [0.25, 0.75] for c in present})
    out = df
    for c in present:
        q1, q3 = qmap[c]
        if q1 is None or q3 is None:
            continue
        lo, hi = q1 - 3 * (q3 - q1), q3 + 3 * (q3 - q1)
        out = out.withColumn(
            c, F.least(F.greatest(_c(c), F.lit(lo)), F.lit(hi))
        )
    return out


def stage_rename(df: DataFrame) -> DataFrame:
    """2i: canonical snake_case names (26-entry map)."""
    return df.withColumnsRenamed({k: v for k, v in COLUMN_RENAME.items() if k in df.columns})


def stage_final_sweep(df: DataFrame) -> DataFrame:
    """Final NaN sweep (Health_Jim.py:384-395): the three rate columns →
    0, every other numeric → its median (or 0 when the median itself is
    null), string columns → 'Unknown'. Medians computed HERE
    (post-clip) for ALL columns at once on the distributed-selection
    engine — the builtin 18-median aggregate funneled every value into
    one final task (measured 9.1 s at 600k rows vs ~2 s distributed,
    and an OOM at 100 TB)."""
    numeric_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("double", "float", "long", "integer")
    ]
    need_median = [c for c in numeric_cols if c not in SWEEP_ZERO_COLS]
    meds = (
        {c: v[0] for c, v in _global_quantiles(df, {c: [0.5] for c in need_median}).items()}
        if need_median
        else {}
    )
    dtypes = dict(df.dtypes)

    cols: list[Column] = []
    for f in df.schema.fields:
        n = f.name
        c = _c(n)
        if n in numeric_cols and n in SWEEP_ZERO_COLS:
            cols.append(F.coalesce(c, F.lit(0.0)).alias(n))
        elif n in numeric_cols:
            fill = meds.get(n)
            fill = 0.0 if fill is None else fill
            cols.append(F.coalesce(c, F.lit(fill).cast(dtypes[n])).alias(n))
        elif f.dataType.typeName() == "string":
            cols.append(F.coalesce(c, F.lit("Unknown")).alias(n))
        else:
            cols.append(c)
    return df.select(*cols)


def stage_derived_final(df: DataFrame) -> DataFrame:
    """Post-sweep recompute (Health_Jim.py:397-402 — the *effective*
    final formulas): Coverage = clip(round(PA/CP·100, 2), 0, 100);
    Gender Ratio = clip(round(M / max(F, 0.1), 2), 0.1, 10)."""
    out = df
    if "Population_Affected" in out.columns and "Country_Population" in out.columns:
        pa, cp = _c("Population_Affected"), _c("Country_Population")
        raw = F.when(cp != 0, F.round(pa / cp * 100, 2)).otherwise(
            # pandas: x/0 → ±inf (clips to the bound); 0/0 → NaN (survives clip)
            F.when(pa > 0, F.lit(float("inf")))
            .when(pa < 0, F.lit(float("-inf")))
            .otherwise(F.lit(float("nan")))
        )
        out = out.withColumn(
            "Population Coverage (%)",
            F.when(F.isnan(raw), raw).otherwise(
                F.least(F.greatest(raw, F.lit(0.0)), F.lit(100.0))
            ),
        )
    if "Affected_Male" in out.columns and "Affected_Female" in out.columns:
        am, af = _c("Affected_Male"), _c("Affected_Female")
        ratio = F.round(am / F.greatest(af, F.lit(0.1)), 2)
        out = out.withColumn(
            "Gender Ratio (M:F)",
            F.when(F.isnan(ratio), ratio).otherwise(
                F.least(F.greatest(ratio, F.lit(0.1)), F.lit(10.0))
            ),
        )
    return out


def stage_finalize(df: DataFrame, record_id_mode: str = "window") -> DataFrame:
    """2j: exact-duplicate drop → canonical sort → 1-based Record_ID.

    Record_ID ties under (Country, Year, Disease Name) are broken by
    Row_num (≈ original file order — what pandas' stable sort preserves)
    so id assignment is deterministic across runs.

    Scaled mode skips the trailing global ``orderBy``: the
    two-phase id assignment ALREADY leaves the data range-partitioned
    by the sort keys with each partition sorted (that order is what the
    ids encode), so re-sorting globally only re-pays the full-width
    exchange + sort of the whole table — measured ~1.5-2 s at 600k rows
    for a byte-identical row set. A cheap ``sortWithinPartitions``
    restates the intra-partition order for the optimizer; cross-
    partition order is the range partitioning's. Window mode keeps the
    explicit global sort (its single-partition sort is already paid)."""
    order = ["Country", "Year", "Disease Name"]
    tiebreak = [c for c in ("Row_num",) if c in df.columns]
    out = df.dropDuplicates()
    out = with_record_id(out, order + tiebreak, id_col="Record_ID", mode=record_id_mode)
    if record_id_mode == "scaled":
        return out.sortWithinPartitions(*[_c(c) for c in order + tiebreak])
    return out.orderBy(*[_c(c) for c in order + tiebreak])


def clean_health_dataframe(
    df: DataFrame,
    record_id_mode: str = "window",
    country_corrections: dict | None = None,
) -> DataFrame:
    """Full transformation on an already-ingested raw (all-string,
    NA-nulled) DataFrame.

    ``country_corrections``: pass
    ``functions.cleaning.REFERENCE_COUNTRY_CORRECTIONS`` for bug-for-bug
    reference parity on quirk Q1 (Italy stays 'Itl'); default normalizes.
    """
    out = stage_rowwise(df, country_corrections)
    # cut after the expression phase: the cleaned columns are computed
    # once and the plan stays flat for the statistics passes
    out = lineage_cut(out, eager=True)
    out = stage_year(out)
    # second lineage cut INSIDE stage_missing, after the group-fill
    # joins: every later statistics pass (global medians, IQR
    # quantiles, sweep medians) and the final write then read
    # materialized columns instead of re-running the join subplans
    out = stage_missing(out)
    out = stage_derived_first_pass(out)
    out = stage_iqr_clip(out)
    out = stage_rename(out)
    out = stage_final_sweep(out)
    out = stage_derived_final(out)
    out = stage_finalize(out, record_id_mode=record_id_mode)
    return out


def clean_health_dataset(
    spark: SparkSession,
    csv_path: str,
    output_path: str | None = None,
    record_id_mode: str = "window",
    country_corrections: dict | None = None,
) -> DataFrame:
    """ETL entry point: ingest (encoding fallback + NA tokens) → clean →
    optionally write parquet (the engine's 'silver' table; the reference
    wrote CSV — parquet is the scale-correct canonical sink; CSV export
    remains available via df.write.csv).

    Executor-side requirements: none at the reference's size. The
    eager statistics (``_global_quantiles``) of an input up to
    ``functions.quantiles.SMALL_INPUT_MAX_ROWS`` rows are answered from
    one driver-side Arrow collect, and the rest of the ETL is JVM
    expressions, so no Python worker starts. A larger input's final
    sweep (18 columns) rides the engine's Arrow transport, which needs
    pandas + pyarrow + numpy in every EXECUTOR Python env and probes
    for them before its first pass."""
    raw = read_csv_raw(spark, csv_path)
    cleaned = clean_health_dataframe(
        raw, record_id_mode=record_id_mode, country_corrections=country_corrections
    )
    if output_path:
        cleaned.write.mode("overwrite").parquet(output_path)
    return cleaned
