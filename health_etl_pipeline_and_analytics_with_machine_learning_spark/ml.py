"""Mortality-prediction ML pipeline — MLlib counterpart of the
reference's sklearn RandomForest (SURVEY §2.10).

Two configurations, like the reference:
- **app variant** (Health_Jim.py:644-709): 16 numeric features only.
- **notebook variant** (nb@26): numerics + one-hot dummies of
  Disease Name / Vaccine_Treatment_Availability / Treatment_Type,
  leakage columns dropped.

Documented sklearn↔MLlib divergences (assert properties, not bitwise
values — SURVEY §5.2):
- ``min_samples_split=10`` has no direct MLlib knob; nearest is
  ``minInstancesPerNode`` (=5, mapping min_samples_leaf).
- ``randomSplit`` is fraction-based (Bernoulli per row), not exact-count.
- ``OneHotEncoder(dropLast=True)`` drops the LAST category;
  pandas ``get_dummies(drop_first=True)`` drops the first. Same model
  capacity, different column set.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.linalg import Vectors
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TARGET = "Mortality_Rate_per_100"

#: app-variant features (Health_Jim.py:648-665)
APP_FEATURES = [
    "Incidence_Rate_per_million",
    "Prevalence_Rate",
    "Population_Affected",
    "DALYs",
    "Severity Score",
    "Improvement_5_Years",
    "Healthcare_Access_Pct",
    "Doctors_per_1000",
    "Hospital_Beds_per_1000",
    "Population Coverage (%)",
    "Health_Index",
    "Per_Capita_Income_USD",
    "Education_Index",
    "Urban_Population_Pct",
    "Rural_Population_Pct",
    "Urbanization_Rate",
]

#: notebook-variant categoricals one-hot encoded (nb@26:3-6)
NOTEBOOK_CATEGORICALS = ["Disease Name", "Vaccine_Treatment_Availability", "Treatment_Type"]

#: reference hyperparameters (Health_Jim.py:103-110, nb@26:27-32)
RF_PARAMS = dict(numTrees=300, maxDepth=3, minInstancesPerNode=5, seed=42)


@dataclass
class TrainedModel:
    model: PipelineModel
    feature_cols: list[str]
    metrics: dict[str, float]
    medians: dict[str, float] = field(default_factory=dict)

    def feature_importances(self) -> list[tuple[str, float]]:
        """feature_importances_ equivalent: SparseVector mapped back
        through the assembler inputs, sorted desc
        (Health_Jim.py:713-722)."""
        rf = self.model.stages[-1]
        imp = rf.featureImportances
        names = self._assembled_names()
        pairs = [(names[i], float(imp[i])) for i in range(len(names))]
        return sorted(pairs, key=lambda p: (-p[1], p[0]))

    def _assembled_names(self) -> list[str]:
        # assembler is the penultimate stage; for the numeric-only app
        # variant its inputs are exactly feature_cols. One-hot inputs
        # (notebook variant) expand to multiple slots — represent each
        # vector input by its column name with a slot suffix.
        assembler = self.model.stages[-2]
        inputs = list(assembler.getInputCols())
        if inputs == self.feature_cols:
            return inputs
        rf = self.model.stages[-1]
        n = rf.featureImportances.size
        if len(inputs) == n:
            return inputs
        # expand: numeric inputs take one slot each, trailing one-hot
        # blocks share the remainder in order
        names = [c for c in inputs if not c.endswith("_oh")]
        extra = n - len(names)
        oh_cols = [c for c in inputs if c.endswith("_oh")]
        for i in range(extra):
            names.append(f"{oh_cols[i % len(oh_cols)]}_{i}")
        return names

    def predict_single(self, input_data: dict) -> float:
        """Single prediction (Health_Jim.py:728-744): missing features
        filled from training medians, column order aligned, round(4).

        Scores one row on the driver with the forest's local ``predict``
        over the vector the assembler would build, so no Spark job runs.
        Only the numeric-only app variant can be served: the notebook
        variant's one-hot inputs come from categorical columns a feature
        dict does not carry."""
        inputs = list(self.model.stages[-2].getInputCols())
        missing = [c for c in inputs if c not in self.feature_cols]
        if missing:
            raise ValueError(
                f"predict_single serves numeric-only models; assembler inputs {missing} "
                "are not numeric features (train with use_categoricals=False)"
            )
        features = [float(input_data.get(c, self.medians.get(c, 0.0))) for c in inputs]
        pred = self.model.stages[-1].predict(Vectors.dense(features))
        return round(float(pred), 4)


def _sanitize(cols: list[str]) -> dict[str, str]:
    """MLlib stages reject dots/parens in column names; map to safe names."""
    return {c: c.replace(" ", "_").replace("(", "").replace(")", "").replace("%", "pct") for c in cols}


def train_mortality_model(
    cleaned: DataFrame,
    features: list[str] | None = None,
    use_categoricals: bool = False,
    test_fraction: float = 0.2,
) -> TrainedModel:
    """Train the RandomForest mortality model.

    app variant: ``use_categoricals=False, test_fraction=0.2``;
    notebook variant: ``use_categoricals=True, test_fraction=0.24``.

    Scale: training data at reference shape is dimension-sized after
    feature projection; MLlib RF trains distributed (per-tree row
    sampling on executors). randomSplit seed fixed for reproducibility.
    """
    feature_cols = [c for c in (features or APP_FEATURES) if c in cleaned.columns]
    rename = _sanitize(feature_cols)
    df = cleaned.select(
        *[F.col(f"`{c}`").cast("double").alias(rename[c]) for c in feature_cols],
        F.col(TARGET).cast("double").alias(TARGET),
        *[F.col(f"`{c}`") for c in (NOTEBOOK_CATEGORICALS if use_categoricals else []) if c in cleaned.columns],
    )

    stages = []
    assembled_inputs = [rename[c] for c in feature_cols]
    if use_categoricals:
        cats = [c for c in NOTEBOOK_CATEGORICALS if c in cleaned.columns]
        for c in cats:
            safe = c.replace(" ", "_")
            stages.append(
                StringIndexer(inputCol=c, outputCol=f"{safe}_idx", handleInvalid="keep")
            )
            stages.append(
                OneHotEncoder(
                    inputCols=[f"{safe}_idx"], outputCols=[f"{safe}_oh"], dropLast=True
                )
            )
            assembled_inputs.append(f"{safe}_oh")

    stages.append(
        VectorAssembler(inputCols=assembled_inputs, outputCol="features", handleInvalid="keep")
    )
    stages.append(RandomForestRegressor(featuresCol="features", labelCol=TARGET, **RF_PARAMS))

    train, test = df.randomSplit([1 - test_fraction, test_fraction], seed=42)
    model = Pipeline(stages=stages).fit(train)

    pred = model.transform(test)
    metrics = {}
    for name, metric in (("R2_Score", "r2"), ("MAE", "mae"), ("MSE", "mse")):
        ev = RegressionEvaluator(labelCol=TARGET, predictionCol="prediction", metricName=metric)
        metrics[name] = float(ev.evaluate(pred))
    metrics["Train_Samples"] = train.count()
    metrics["Test_Samples"] = test.count()

    med_vals = train.agg(
        *[F.median(F.col(rename[c])).alias(rename[c]) for c in feature_cols]
    ).first()
    medians = {rename[c]: float(med_vals[rename[c]] or 0.0) for c in feature_cols}

    return TrainedModel(
        model=model,
        feature_cols=[rename[c] for c in feature_cols],
        metrics=metrics,
        medians=medians,
    )
