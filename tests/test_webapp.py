"""Web dashboard parity: the stdlib HTTP layer must serve the same
sections, under the same filter semantics, as the batch CLI
(jobs.dashboard) — which is itself pinned against the reference app's
behavior in test_dashboard.py."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from health_etl_pipeline_and_analytics_with_machine_learning_spark import queries
from health_etl_pipeline_and_analytics_with_machine_learning_spark.jobs.dashboard import (
    dashboard_sections,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.jobs.webapp import (
    DashboardApp,
    make_server,
)

SECTIONS = [
    "overview",
    "deadliest_diseases",
    "mortality_trend",
    "gender_impact",
    "treatment_cost",
    "urban_rural",
    "correlation_with_mortality",
]


@pytest.fixture(scope="module")
def served(spark, raw_health_csv):
    app = DashboardApp(spark, raw_health_csv)
    server = make_server(app, port=0)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    host, port = server.server_address
    yield app, f"http://{host}:{port}"
    server.shutdown()


def _get(base: str, path: str) -> dict:
    with urllib.request.urlopen(base + path, timeout=120) as r:
        assert r.status == 200
        return json.loads(r.read())


def test_meta_lists_filter_domains(served):
    _, base = served
    meta = _get(base, "/api/meta")
    assert meta["years"] == sorted(meta["years"])
    assert len(meta["years"]) > 1
    assert "India" in meta["countries"]


def test_index_serves_html(served):
    _, base = served
    with urllib.request.urlopen(base + "/", timeout=60) as r:
        body = r.read().decode()
    assert r.status == 200
    assert "<title>Health Analytics Dashboard</title>" in body
    # every section the API serves is wired into the page
    for key in SECTIONS:
        assert key in body


def test_dashboard_unfiltered_matches_direct_call(served):
    app, base = served
    got = _get(base, "/api/dashboard")
    assert set(SECTIONS) <= set(got)
    direct = app.dashboard(None, None)
    assert json.loads(json.dumps(got, default=str)) == json.loads(
        json.dumps(direct, default=str)
    )
    assert got["overview"], "overview section empty"


def test_dashboard_filters_apply_with_reference_exceptions(served):
    _, base = served
    meta = _get(base, "/api/meta")
    year, country = meta["years"][0], "India"
    got = _get(base, f"/api/dashboard?year={year}&country={country}")
    assert got["filters"] == {"year": year, "country": country}
    # mortality trend slices country-only from the FULL frame
    # (Health_Jim.py:940-945): the time axis must span beyond the
    # filtered year
    years_in_trend = {row["Year"] for row in got["mortality_trend"]}
    assert len(years_in_trend) > 1
    # correlation uses the UNFILTERED frame (Health_Jim.py:1140): same
    # values as the unfiltered response
    base_corr = _get(base, "/api/dashboard")["correlation_with_mortality"]
    assert got["correlation_with_mortality"] == base_corr


def test_upload_swaps_dataset(served, tmp_path, raw_health_csv):
    app, base = served
    sub_csv = tmp_path / "sub.csv"
    with open(raw_health_csv, "rb") as f:
        head = f.read().splitlines(keepends=True)[:301]
    sub_csv.write_bytes(b"".join(head))
    req = urllib.request.Request(
        base + "/api/upload", data=sub_csv.read_bytes(), method="POST"
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        meta = json.loads(r.read())
    assert r.status == 200
    assert meta["years"], "upload produced no data"
    got = _get(base, "/api/dashboard")
    assert got["overview"][0]["total_records"] <= 300
    # restore the full input (the reference CSV or the FIXTURES.md §1
    # CSV, both with the 0xA5 byte) for other tests in the module
    app.upload(raw_health_csv)


def test_bad_year_param_returns_json_400(served):
    _, base = served
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(base + "/api/dashboard?year=abc", timeout=60)
    assert ei.value.code == 400
    assert json.loads(ei.value.read())["error"] == "year must be an integer"


def test_table_markup_is_escaped(served):
    # the page must escape values before innerHTML concatenation —
    # uploaded CSVs control country/disease strings (stored-XSS guard)
    _, base = served
    with urllib.request.urlopen(base + "/", timeout=60) as r:
        body = r.read().decode()
    assert "esc(r[c]" in body and "esc(c)" in body and "&amp;" in body


def test_upload_releases_superseded_checkpoint_and_tempfile(served, tmp_path):
    app, base = served
    import glob
    import os
    import tempfile as _tf

    csv = (
        "Country,Year,Disease Name,Disease Category,Prevalence Rate (%),"
        "Incidence Rate (%),Mortality Rate (%),Age Group,Gender,Population Affected,"
        "Healthcare Access (%),Doctors per 1000,Hospital Beds per 1000,Treatment Type,"
        "Average Treatment Cost (USD),Availability of Vaccines/Treatment,"
        "Recovery Rate (%),DALYs,Improvement in 5 Years (%),Per Capita Income (USD),"
        "Education Index,Urbanization Rate (%)\n"
        + "\n".join(
            f"Canada,2021,Flu,Viral,1.{i},1.0,2.5,0-18,Male,1000,80,2.5,3.0,"
            "Medication,150,Yes,85,12,5,40000,0.9,75"
            for i in range(5)
        )
        + "\n"
    )
    jsc = app.spark.sparkContext._jsc
    before_ids = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    tmp_before = set(glob.glob(os.path.join(_tf.gettempdir(), "tmp*.csv")))
    req = urllib.request.Request(
        base + "/api/upload", data=csv.encode(), method="POST"
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        assert r.status == 200
    after_ids = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    # superseded checkpoint blocks are gone; exactly the new frame remains
    assert not (before_ids & after_ids), (before_ids, after_ids)
    # no new temp csv left behind
    assert set(glob.glob(os.path.join(_tf.gettempdir(), "tmp*.csv"))) <= tmp_before


# --------------------------------------------------------------------------
# Per-section memo: the correlation once per dataset, the mortality trend
# once per country. These run on generated CSVs, so they need no
# reference dataset.


def _json_eq(a, b) -> bool:
    return json.loads(json.dumps(a, default=str)) == json.loads(json.dumps(b, default=str))


@pytest.fixture(scope="module")
def generated(spark, tmp_path_factory):
    gen = pytest.importorskip("scripts.gen_health_raw")
    d = tmp_path_factory.mktemp("generated")
    first = gen.generate(str(d / "seed1.csv"), 1500, seed=1)
    second = gen.generate(str(d / "seed2.csv"), 600, seed=2)
    app = DashboardApp(spark, first)
    server = make_server(app, port=0)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    host, port = server.server_address
    app.dashboard(None, None)  # the landing page
    yield app, f"http://{host}:{port}", first, second
    server.shutdown()
    server.server_close()


@pytest.fixture
def calls(monkeypatch):
    """Count calls of the two shared sections' queries."""
    counts = {"correlation_with_mortality": 0, "mortality_trend": 0}
    for name in counts:
        original = getattr(queries, name)

        def spy(*args, _name=name, _orig=original, **kwargs):
            counts[_name] += 1
            return _orig(*args, **kwargs)

        monkeypatch.setattr(queries, name, spy)
    return counts


def test_memoized_sections_match_fresh_computation(generated):
    app, _, _, _ = generated
    years, countries = app.meta["years"], app.meta["countries"]
    keys = [
        (None, None),
        (years[0], countries[0]),
        (years[-1], countries[0]),
        (years[0], countries[-1]),
        (None, countries[1]),
        (years[1], None),
    ]
    for year, country in keys:
        got = app.dashboard(year, country)
        assert _json_eq(got, dashboard_sections(app.cleaned, year=year, country=country)), (
            year,
            country,
        )


def test_filtered_miss_reuses_shared_sections(generated, calls):
    app, _, _, _ = generated
    years, countries = app.meta["years"], app.meta["countries"]
    country = countries[2]
    app.dashboard(years[0], country)
    # the landing page computed the correlation; the trend is new for
    # this country
    assert calls == {"correlation_with_mortality": 0, "mortality_trend": 1}
    app.dashboard(years[1], country)
    # a second year for a country already seen reuses its trend
    assert calls == {"correlation_with_mortality": 0, "mortality_trend": 1}


def test_concurrent_misses_compute_each_shared_section_once(generated, calls):
    app, _, _, _ = generated
    import sys

    years, countries = app.meta["years"], app.meta["countries"]
    fresh = countries[3:6]
    keys = [(y, c) for c in fresh for y in years[:3]]
    results: dict = {}

    def client(key):
        results[key] = app.dashboard(*key)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(k,)) for k in keys]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert set(results) == set(keys)
    assert calls == {"correlation_with_mortality": 0, "mortality_trend": len(fresh)}
    for c in fresh:
        trends = {json.dumps(results[(y, c)]["mortality_trend"], default=str) for y in years[:3]}
        assert len(trends) == 1


def test_upload_recomputes_shared_sections(generated, calls):
    app, base, first, second = generated
    before = app.dashboard(None, None)["correlation_with_mortality"]
    with open(second, "rb") as f:
        req = urllib.request.Request(base + "/api/upload", data=f.read(), method="POST")
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 200
        country = app.meta["countries"][0]
        got = app.dashboard(app.meta["years"][0], country)
        assert calls == {"correlation_with_mortality": 1, "mortality_trend": 1}
        fresh = dashboard_sections(app.cleaned)
        assert _json_eq(got["correlation_with_mortality"], fresh["correlation_with_mortality"])
        assert not _json_eq(got["correlation_with_mortality"], before)
        assert _json_eq(
            got["mortality_trend"],
            dashboard_sections(app.cleaned, country=country)["mortality_trend"],
        )
    finally:
        app.upload(first)
        app.dashboard(None, None)


@pytest.mark.parametrize("query", ["country=Atlantis", "year=1066", "year=1066&country=Atlantis"])
def test_filter_outside_domain_returns_json_400(generated, query):
    app, base, _, _ = generated
    import urllib.error

    memo = (len(app._cache), len(app._shared))
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(base + "/api/dashboard?" + query, timeout=60)
    assert ei.value.code == 400
    assert json.loads(ei.value.read())["error"].startswith("unknown ")
    assert (len(app._cache), len(app._shared)) == memo
