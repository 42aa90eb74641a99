"""ML smoke tests (SURVEY §5.2): pipeline fits, metrics in a sane band on
the reference dataset, importances well-formed, single prediction works.
No sklearn-bitwise parity — different libraries, different split
semantics; assert properties, not values. The generated-CSV tests need no
reference dataset."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F

from health_etl_pipeline_and_analytics_with_machine_learning_spark import ml
from health_etl_pipeline_and_analytics_with_machine_learning_spark.functions.cleaning import (
    REFERENCE_COUNTRY_CORRECTIONS,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.pipeline import (
    clean_health_dataframe,
    clean_health_dataset,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.sources.ingest import (
    read_csv_raw,
)

REFERENCE_CSV = "/root/reference/Global Health Dataset.csv"

needs_reference = pytest.mark.skipif(
    not os.path.exists(REFERENCE_CSV), reason="reference dataset not present"
)


@pytest.fixture(scope="module")
def trained(spark):
    raw = read_csv_raw(spark, REFERENCE_CSV)
    cleaned = clean_health_dataframe(raw, country_corrections=REFERENCE_COUNTRY_CORRECTIONS)
    cleaned.cache()
    return ml.train_mortality_model(cleaned)


@needs_reference
def test_metrics_sane(trained):
    m = trained.metrics
    # mortality is noisy synthetic data; the reference model is weak too —
    # assert bounded error and non-degenerate split, not predictive power
    assert -1.0 <= m["R2_Score"] <= 1.0
    assert 0.0 <= m["MAE"] <= 0.2  # target range is ~0-0.3
    assert m["Train_Samples"] + m["Test_Samples"] == 10006
    assert 0.15 <= m["Test_Samples"] / 10006 <= 0.25


@needs_reference
def test_feature_importances(trained):
    imps = trained.feature_importances()
    assert len(imps) == len(trained.feature_cols)
    total = sum(v for _, v in imps)
    assert total == pytest.approx(1.0, abs=1e-6)
    assert all(v >= 0 for _, v in imps)
    # Severity Score embeds 0.7·mortality — it must dominate
    assert imps[0][0] == "Severity_Score"


def _transform_prediction(trained, input_data: dict) -> float:
    """The same row scored through a Spark ``transform`` job."""
    filled = {
        c: float(input_data.get(c, trained.medians.get(c, 0.0))) for c in trained.feature_cols
    }
    spark = SparkSession.getActiveSession()
    row_df = spark.createDataFrame([Row(**filled)])
    return round(float(trained.model.transform(row_df).select("prediction").first()[0]), 4)


@needs_reference
def test_predict_single(trained):
    row = {"Severity_Score": 2.0, "DALYs": 30000.0}
    p = trained.predict_single(row)
    assert isinstance(p, float)
    assert 0.0 <= p <= 0.5
    assert p == _transform_prediction(trained, row)


@pytest.fixture(scope="module")
def generated_cleaned(spark, tmp_path_factory):
    gen = pytest.importorskip("scripts.gen_health_raw")
    path = gen.generate(str(tmp_path_factory.mktemp("ml") / "raw.csv"), 1500, seed=1)
    cleaned = clean_health_dataset(spark, path)
    cleaned.cache()
    yield cleaned
    cleaned.unpersist()


def test_predict_single_matches_transform_without_a_job(spark, generated_cleaned):
    trained = ml.train_mortality_model(generated_cleaned)
    present = [c for c in ml.APP_FEATURES if c in generated_cleaned.columns]
    sample = generated_cleaned.select(
        *[F.col(f"`{c}`").cast("double") for c in present]
    ).limit(5).collect()
    rows = [{}, {"Severity_Score": 2.0, "DALYs": 30000.0}]
    rows += [
        {name: v for name, v in zip(trained.feature_cols, r) if v is not None} for r in sample
    ]
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("predict_single", "predict_single")
    try:
        got = [trained.predict_single(r) for r in rows]
        assert tracker.getJobIdsForGroup("predict_single") == []
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert got == [_transform_prediction(trained, r) for r in rows]


def test_predict_single_rejects_categorical_model(generated_cleaned):
    trained = ml.train_mortality_model(
        generated_cleaned, use_categoricals=True, test_fraction=0.24
    )
    with pytest.raises(ValueError, match="numeric-only"):
        trained.predict_single({})
