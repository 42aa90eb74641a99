"""Dashboard batch CLI — entry point A of the reference (the Streamlit
app, Health_Jim.py) without the browser: the same global filters feeding
the same analytics, emitted as JSON sections.

Filter semantics reproduce the app exactly (SURVEY §3.1):
- the Year/Country sidebar filters apply to every analytics query
  (Health_Jim.py:886-892) ...
- EXCEPT the mortality trend, which deliberately takes the country-only
  slice of the FULL frame so the time axis stays complete
  (Health_Jim.py:940-945);
- and the correlation analysis, which uses the UNFILTERED frame
  (Health_Jim.py:1140).

The app retrains its model on every rerun (Health_Jim.py:894-897); here
the expensive artifacts are computed once per invocation — the rerun
inefficiency disappears structurally.

Those two exceptions are also the reuse rule of a long-lived caller:
:func:`dashboard_sections` takes a ``shared`` memo and fills it with the
sections that do not read the full (year, country) key — the
correlation keyed on nothing (one entry per dataset) and the mortality
trend keyed on ``country``. The memo is only valid for the frame it was
filled from; the caller owns it and must clear it when the frame
changes (``jobs.webapp.DashboardApp._load``).

Usage::

    python -m health_etl_pipeline_and_analytics_with_machine_learning_spark.jobs.dashboard \
        <raw_csv> [--year 2015] [--country India] [--out dashboard.json]
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import queries
from ..functions.lineage import lineage_cut
from ..pipeline import clean_health_dataset
from ..session import get_spark


def dashboard_sections(
    cleaned: DataFrame,
    year: int | None = None,
    country: str | None = None,
    shared: dict | None = None,
) -> dict:
    """The seven sections for one (year, country) filter. ``shared``
    memoizes the sections keyed on less than that: pass the same dict on
    every call over the same ``cleaned`` frame, and a fresh one after the
    frame changes."""
    if shared is None:
        shared = {}
    filtered = cleaned
    if year is not None:
        filtered = filtered.filter(F.col("Year") == year)
    if country is not None:
        filtered = filtered.filter(F.col("Country") == country)

    def rows(df: DataFrame, limit: int = 50) -> list[dict]:
        return [r.asDict() for r in df.limit(limit).collect()]

    def memo(key: tuple, build) -> list[dict]:
        if key not in shared:
            shared[key] = rows(build())
        return shared[key]

    return {
        "filters": {"year": year, "country": country},
        "overview": rows(queries.overview_metrics(filtered)),
        "deadliest_diseases": rows(queries.q1_deadliest_diseases(filtered, 10)),
        # country-only slice of the FULL frame (Health_Jim.py:940-945)
        "mortality_trend": memo(
            ("mortality_trend", country),
            lambda: queries.mortality_trend(cleaned, country),
        ),
        "gender_impact": rows(queries.gender_impact_melted(filtered)),
        "treatment_cost": rows(queries.q4_treatment_cost(filtered)),
        "urban_rural": rows(queries.q6_urban_rural_level1(filtered)),
        # unfiltered frame (Health_Jim.py:1140)
        "correlation_with_mortality": memo(
            ("correlation_with_mortality",),
            lambda: queries.correlation_with_mortality(cleaned),
        ),
    }


def run(
    spark: SparkSession,
    raw_csv: str,
    year: int | None = None,
    country: str | None = None,
) -> dict:
    cleaned = lineage_cut(clean_health_dataset(spark, raw_csv), eager=True)
    return dashboard_sections(cleaned, year=year, country=country)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("raw_csv")
    ap.add_argument("--year", type=int, default=None)
    ap.add_argument("--country", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="dashboard")
    try:
        result = run(spark, args.raw_csv, year=args.year, country=args.country)
        payload = json.dumps(result, indent=2, default=str)
        if args.out:
            with open(args.out, "w") as f:
                f.write(payload)
        else:
            sys.stdout.write(payload + "\n")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
