"""Deterministic dirty health-raw CSV generator — FIXTURES.md §1 at
arbitrary row counts.

The ETL (`pipeline.clean_health_dataset`) is pinned for CORRECTNESS
against the real 10k-row reference dataset (tests/test_pipeline_
reference.py), but that file is fixed-size: benching the 24-column
expression chain at sf0.1-equivalent volume needs a
~600k-row input with the same dirt. This generator scales the
documented recipe — corrupt country/disease names, apostrophe-prefixed
numerics, NA tokens, high-NULL-rate columns, zero denominators,
out-of-range ages, IQR-clip outliers, one exact duplicate row, two
trailing all-NULL rows, and a latin-1 byte (0xA5) that trips the
encoding-fallback path (Health_Jim.py:138-155).

Seed-deterministic (numpy default_rng) and cached by row count, so
bench runs pay generation once per machine, never per run.
"""

from __future__ import annotations

import os

import numpy as np

#: exact 30-column header of Dataset.csv:1
HEADER = [
    "Row_num",
    "Country",
    "Year",
    "Disease Name",
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
    "Treatment type",
    "Recovery Rate (%)",
    "DALYs",
    "Improvement in 5 Years (%)",
    "Average Annual Treatment Cost (USD)",
    "Availability of Vaccines/Treatment",
    "Composite Health Index (CHI)",
    "Per Capita Income (USD)",
    "Education Index",
    "Urbanization Rate (%)",
]

_COUNTRIES = [
    "Italy", "Turkey", "Germany", "Canada", "Mexico", "Brazil", "France",
    "Japan", "India", "China", "Spain", "Egypt", "Kenya", "Norway",
    "Poland", "Peru", "Chile", "Ghana", "Vietnam", "USA",
]
#: corruption variants (Health_Jim.py:174-181); It@l\xa5 carries the
#: non-UTF-8 latin-1 byte that forces the encoding fallback
_BAD_COUNTRIES = ["It@l\xa5", "T?u?r?k?e?y?", "G%rmany", "Can@da", "Mex!co", "?r?zil"]
_DISEASES = [
    "Malaria", "Cholera", "Ebola", "Influenza", "Tuberculosis", "Polio",
    "Measles", "Dengue", "Hepatitis B", "Rabies", "HIV/AIDS", "Diabetes",
    "Asthma", "Leprosy", "Typhoid", "Tetanus", "Anthrax", "Zika",
    "Smallpox", "Alzheimer's Disease",
]
_BAD_DISEASES = [" Ebola ", "HIV/A!DS", "Influen&za", "Tub?rculosis", "Pol!o"]
_NA_TOKENS = ["", "NaN", "NA", "NULL", "None", "nan", "N/A", "n/a", "~none~", "?", "-"]
_AVAIL = [
    "High", "High ", "high", "Medium", "medium", "Low", "low", "Low ",
    "None", "none", "~none~", "M?dium",
]
_TREATMENT = ["Medication", "Therapy", "Vaccination", "Surgery", "medication", "therapy"]


def _nullify(rng, vals: np.ndarray, rate: float) -> np.ndarray:
    """Null out ~rate of the cells: each masked cell draws uniformly
    from the 11-entry NA-token list (one of which is the empty string),
    so every token the ingest must recognize appears at volume."""
    out = vals.astype(object)
    mask = rng.random(len(vals)) < rate
    toks = rng.choice(_NA_TOKENS, size=int(mask.sum()))
    out[mask] = toks
    return out


def _f(rng, lo: float, hi: float, n: int, dp: int = 2) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), dp)


def generate(path: str, n_rows: int, seed: int = 20260815) -> str:
    """Write the dirty CSV (latin-1) and return ``path``."""
    rng = np.random.default_rng(seed)
    n = n_rows

    country = rng.choice(_COUNTRIES, size=n).astype(object)
    bad = rng.random(n) < 0.05
    country[bad] = rng.choice(_BAD_COUNTRIES, size=int(bad.sum()))
    country = _nullify(rng, country, 0.005)

    disease = rng.choice(_DISEASES, size=n).astype(object)
    bad = rng.random(n) < 0.05
    disease[bad] = rng.choice(_BAD_DISEASES, size=int(bad.sum()))

    year = np.char.add(
        rng.integers(2000, 2025, n).astype("U4"), np.full(n, ".00", dtype="U3")
    )

    affected = _f(rng, 0, 2e7, n, 0)
    male_share = rng.uniform(0.3, 0.7, n)
    male = np.round(affected * male_share, 0)
    female = np.round(affected - male, 0)
    female[rng.random(n) < 0.01] = 0.0  # div-by-zero path (gender ratio)
    urban = _f(rng, 0, 100, n)
    rural = np.round(100.0 - urban, 2)
    rural[rng.random(n) < 0.01] = 0.0  # div-by-zero path (urban/rural)

    def apnum(vals, rate_null):
        """Apostrophe-prefixed numeric strings ('11.14 style)."""
        s = np.char.add("'", vals.astype("U16")).astype(object)
        return _nullify(rng, s, rate_null)

    ages = [_f(rng, 0, 100, n, 0) for _ in range(4)]
    ages[0][rng.random(n) < 0.002] = 370.0  # verified out-of-range value

    cost = _f(rng, 10, 5000, n)
    out_mask = rng.random(n) < 0.003  # IQR-clip outlier population (varied)
    cost[out_mask] = np.round(rng.uniform(1e5, 1e6, int(out_mask.sum())), 2)

    cols = {
        "Row_num": np.arange(1, n + 1).astype(float),
        "Country": country,
        "Year": _nullify(rng, year, 0.01),
        "Disease Name": disease,
        "Country_pop": _nullify(rng, _f(rng, 1e6, 1.5e9, n, 0), 0.0002),
        "Incidence Rate mn (%)": _nullify(rng, _f(rng, 0, 100, n), 0.10),
        "Prevalence rate (%)": apnum(_f(rng, 0, 100, n), 0.10),
        "Mortality Rate per 100 people (%)": _nullify(rng, _f(rng, 0, 0.3, n, 4), 0.15),
        "Population affected": _nullify(rng, affected, 0.10),
        "Pop_affected(Male)": _nullify(rng, male, 0.10),
        "Pop_affected(Female)": _nullify(rng, female, 0.10),
        "Ages 0-18 (%)": apnum(ages[0], 0.10),
        "Ages 19-35 (%)": apnum(ages[1], 0.10),
        "Ages 36-60 (%)": apnum(ages[2], 0.10),
        "Ages 61+ (%)": apnum(ages[3], 0.10),
        "Pop_affected_U (%)": _nullify(rng, urban, 0.10),
        "Pop_affected_R (%)": _nullify(rng, rural, 0.10),
        "Healthcare Access (%)": _nullify(rng, _f(rng, 40, 95, n), 0.05),
        "Doctors per 1000": _nullify(rng, _f(rng, 0.3, 4.0, n), 0.05),
        "Hospital Beds per 1000": _nullify(rng, _f(rng, 0.5, 12, n), 0.05),
        "Treatment type": _nullify(rng, rng.choice(_TREATMENT, size=n).astype(object), 0.02),
        "Recovery Rate (%)": _f(rng, 55, 85, n),
        "DALYs": np.round(np.expm1(rng.uniform(0, np.log1p(1e5), n)), 1),
        "Improvement in 5 Years (%)": _nullify(rng, _f(rng, -10, 40, n), 0.20),
        "Average Annual Treatment Cost (USD)": apnum(cost, 0.05),
        "Availability of Vaccines/Treatment": _nullify(
            rng, rng.choice(_AVAIL, size=n).astype(object), 0.09
        ),
        "Composite Health Index (CHI)": _f(rng, 30, 90, n),
        "Per Capita Income (USD)": apnum(_f(rng, 500, 90000, n), 0.03),
        "Education Index": _nullify(rng, _f(rng, 0.3, 0.95, n), 0.08),
        "Urbanization Rate (%)": _f(rng, 20, 95, n),
    }

    import pandas as pd

    df = pd.DataFrame({c: cols[c] for c in HEADER})
    # one exact duplicate row + two trailing all-NULL rows (both present
    # in the real file)
    df = pd.concat(
        [df, df.iloc[[0]], pd.DataFrame([[""] * len(HEADER)] * 2, columns=HEADER)],
        ignore_index=True,
    )
    tmp = path + ".tmp"
    df.to_csv(tmp, index=False, encoding="latin-1")
    os.replace(tmp, path)
    return path


#: bump when the recipe changes — the cache key includes it, so stale
#: files from an older recipe can never satisfy a newer bench run
_RECIPE_VERSION = 2


#: cache lives UNDER THE REPO (gitignored), not in the shared
#: world-writable /tmp, where a foreign file with the right name would
#: silently feed the benchmark. Row-count
#: validation below guards the remaining failure mode (a cache file
#: truncated by something other than our own tmp+rename writes).
_DEFAULT_CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_cache"
)


def ensure_csv(n_rows: int, cache_dir: str = _DEFAULT_CACHE_DIR) -> str:
    """Generate once per (repo, recipe version, n_rows); reuse
    afterwards. A cached file is trusted only if its line count matches
    the recipe (header + n_rows + 1 dup + 2 null rows) — anything else
    is regenerated."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"health_raw_v{_RECIPE_VERSION}_{n_rows}.csv")
    expected_lines = 1 + n_rows + 3
    if os.path.exists(path):
        with open(path, "rb") as f:
            n_lines = sum(1 for _ in f)
        if n_lines == expected_lines:
            return path
    generate(path, n_rows)
    return path


if __name__ == "__main__":
    import sys

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
    print(ensure_csv(n))
