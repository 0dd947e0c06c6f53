"""Model training / scoring (SURVEY.md §2.12 M1-M3).

Reference: sklearn LinearRegression on 3 features → loyalty target, pickled
to disk (/root/reference/core/utils.py:233-258, core/inference.py:67-68,
:128-154 — the per-event 1-row predict loop).

Here: pyspark.ml VectorAssembler + LinearRegression; scoring is
``model.transform`` over whole DataFrames (vectorized, executor-side).
For the streaming fold (which needs predictions *inside* a sequential
per-key update chain) the fitted model is exported to plain coefficients —
a linear model is just (intercept, weights), so the fold computes
``b + w·x`` in numpy without JVM round-trips per event.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame

TRAINING_FEATURES = [
    "latest_purchase_value",
    "avg_purchase_value",
    "avg_loyalty_score",
]
TARGET = "latest_loyalty_score"


@dataclass
class LinearScorer:
    """Portable linear model: prediction = intercept + Σ w_i · x_i.

    Picklable and broadcast-friendly — what the streaming fold closes over
    (the Spark-native analog of the reference unpickling its sklearn model
    at inference init, core/inference.py:67-68).
    """

    feature_cols: list[str]
    weights: list[float]
    intercept: float

    def predict_row(self, values: dict[str, float]) -> float:
        return self.intercept + sum(
            w * values[c] for w, c in zip(self.weights, self.feature_cols)
        )


def train_model(train_df: DataFrame) -> PipelineModel:
    """VectorAssembler + LinearRegression fit (utils.py:233-258 parity)."""
    assembler = VectorAssembler(inputCols=TRAINING_FEATURES, outputCol="features")
    lr = LinearRegression(featuresCol="features", labelCol=TARGET)
    return Pipeline(stages=[assembler, lr]).fit(
        train_df.select(*TRAINING_FEATURES, TARGET).na.drop()
    )


def save_model(model: PipelineModel, path: str) -> None:
    model.write().overwrite().save(path)


def load_model(spark, path: str) -> PipelineModel:
    return PipelineModel.load(path)


def score(model: PipelineModel, df: DataFrame) -> DataFrame:
    return model.transform(df).drop("features")


def to_linear_scorer(model: PipelineModel) -> LinearScorer:
    assembler: VectorAssembler = model.stages[0]
    lr = model.stages[-1]
    return LinearScorer(
        feature_cols=list(assembler.getInputCols()),
        weights=[float(w) for w in lr.coefficients],
        intercept=float(lr.intercept),
    )
