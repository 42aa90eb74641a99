from __future__ import annotations

import os

import pytest

from health_etl_pipeline_and_analytics_with_machine_learning_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
REFERENCE_CSV = "/root/reference/Global Health Dataset.csv"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def raw_health_csv(tmp_path_factory):
    """The raw 30-column health CSV: the reference dataset where it
    exists, else the FIXTURES.md §1 `health_raw` recipe at its stated
    size (10,000 rows, seed 1). Both carry the corrupt names, NA tokens,
    duplicate and trailing all-NULL rows, and the latin-1 byte 0xA5."""
    if os.path.exists(REFERENCE_CSV):
        return REFERENCE_CSV
    from scripts.gen_health_raw import generate

    return generate(str(tmp_path_factory.mktemp("health_raw") / "raw.csv"), 10_000, seed=1)
