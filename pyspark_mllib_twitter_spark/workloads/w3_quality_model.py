"""Workload 3 — learned document-quality model (MLlib Pipeline, ∅-ref).

Extends the reference's estimator/transformer usage (CountVectorizer / IDF /
ALS, ``/root/reference/COMP5349_2.py:151-178,204``) with the classification
side of MLlib: a ``Pipeline`` of VectorAssembler → StandardScaler →
LogisticRegression that learns the heuristic quality gate
(``functions.text.quality_score >= threshold``) from cheap numeric text
features. The point for a training-data pipeline: once the heuristic is
replaced by human labels, the SAME pipeline retrains unchanged — the
heuristic here makes it deterministic and self-contained.

Scale: feature extraction is codegen'd SQL; assembler/scaler/logreg are
MLlib's distributed implementations (logreg = L-BFGS over partial
gradients, one pass per iteration, no driver-side data)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..sources import local_frame


def quality_features(docs: DataFrame) -> DataFrame:
    """Numeric quality features + heuristic label of ``(doc_id, text)``
    documents, all JVM-side."""
    return docs.select(
        "doc_id",
        F.length("text").cast("double").alias("n_char"),
        TXT.token_count("text").cast("double").alias("n_tok"),
        F.coalesce(TXT.alpha_ratio("text"), F.lit(0.0)).alias("alpha"),
        F.coalesce(TXT.avg_token_len("text"), F.lit(0.0)).alias("awl"),
        (TXT.quality_score("text") >= 0.9).cast("double").alias("label"),
    )


def fit_quality_classifier(feats: DataFrame):
    """Fit the Pipeline; returns the PipelineModel."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    pipe = Pipeline(
        stages=[
            VectorAssembler(
                inputCols=["n_char", "n_tok", "alpha", "awl"], outputCol="raw"
            ),
            StandardScaler(inputCol="raw", outputCol="features", withMean=True),
            LogisticRegression(
                maxIter=25, regParam=0.01,
                featuresCol="features", labelCol="label",
            ),
        ]
    )
    return pipe.fit(feats)


def quality_predictions(docs: DataFrame) -> DataFrame:
    """Fit + score in one call: ``(doc_id, label, prediction, p1)`` where
    ``p1`` is the positive-class probability (6dp). Deterministic: L-BFGS
    on a fixed dataset converges to the same optimum regardless of
    partitioning (convex problem), unlike ALS's seeded factor init."""
    from pyspark.ml.functions import vector_to_array

    feats = quality_features(docs).cache()
    model = fit_quality_classifier(feats)
    scored = model.transform(feats)
    return scored.select(
        "doc_id",
        "label",
        "prediction",
        F.round(F.element_at(vector_to_array("probability"), 2), 6).alias("p1"),
    )


def tune_quality_classifier(feats: DataFrame):
    """Model selection via ``TrainValidationSplit`` over the W3 pipeline:
    a small regParam grid scored by validation AUC on a seeded 75/25
    split. Returns ``(tvs_model, grid_values)``. Deterministic end-to-end:
    seeded split, L-BFGS fits, exact AUC.

    Scale: TVS fits |grid| models on the train fraction — embarrassingly
    sequential in MLlib but each fit is distributed; at real scale set
    ``parallelism`` to fit grid points concurrently."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    lr = LogisticRegression(
        maxIter=25, featuresCol="features", labelCol="label"
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(
                inputCols=["n_char", "n_tok", "alpha", "awl"], outputCol="raw"
            ),
            StandardScaler(inputCol="raw", outputCol="features", withMean=True),
            lr,
        ]
    )
    grid_values = [0.01, 5.0]
    grid = ParamGridBuilder().addGrid(lr.regParam, grid_values).build()
    tvs = TrainValidationSplit(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol="label"),
        trainRatio=0.75,
        seed=0,
    )
    return tvs.fit(feats), grid_values


def tuning_report(docs: DataFrame) -> DataFrame:
    """One row per grid point: ``(reg_param, auc, chosen)`` — the model
    selection audit record."""
    feats = quality_features(docs)
    model, grid_values = tune_quality_classifier(feats)
    metrics = model.validationMetrics
    best = max(range(len(metrics)), key=lambda i: metrics[i])
    rows = [
        (float(grid_values[i]), round(float(metrics[i]), 4), int(i == best))
        for i in range(len(grid_values))
    ]
    return local_frame(
        docs.sparkSession, rows, "reg_param double, auc double, chosen int"
    )
