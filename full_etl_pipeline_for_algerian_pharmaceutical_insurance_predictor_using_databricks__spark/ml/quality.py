"""Distilled document-quality classifier — the model-based curation
stage of an LLM data pipeline (the fastText-classifier pattern used by
GPT-3/LLaMA-style corpus filtering, and the reference's notebook-ML
surface re-expressed for text): the cheap heuristic rules
(`operators.text.with_quality`, Gopher/C4-style) provide WEAK LABELS,
and a distributed LogisticRegression over hashed bag-of-words features
learns to reproduce them, yielding a scorer that (a) generalizes past
the rules' hard thresholds and (b) runs as a stateless vectorized
transform over batch OR streaming frames.

Scale design:
- Features are `RegexTokenizer → HashingTF` — fixed-width hashed
  counts, no vocabulary fit, no driver state; the feature step is a
  narrow map at any corpus size (the reason fastText-style filters
  hash instead of building vocabularies at 100 TB).
- `HashingTF(binary=False)` keeps term COUNTS, so document length —
  half the heuristic's signal — survives featurization.
- The train/holdout split is the same salted-key-hash contract as
  `operators.curation.train_split` (engine/partition/growth
  independent), so eval membership is reproducible everywhere.
- Training is `pyspark.ml` LBFGS LogisticRegression: one distributed
  treeAggregate per iteration, model state O(numFeatures) on the
  driver — the scalable replacement for the reference's
  toPandas→sklearn hop (SURVEY §4.3.4).
- Scoring (`score`) is `model.transform`: stateless column
  expressions, valid on Structured Streaming frames as-is — the test
  suite pins batch/stream score parity.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.ml.feature import HashingTF, RegexTokenizer
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.text import with_quality
from ..sources import load_table

QUALITY_SALT = "qsplit:"
TRAIN_PCT = 80  # holdout gets the remaining 20%
N_FEATURES = 1 << 12
MAX_ITER = 60
REG_PARAM = 0.01


@dataclass
class QualityTrainResult:
    model: PipelineModel
    auc: float
    accuracy: float
    train_rows: int
    test_rows: int
    #: holdout predictions (doc_id, label, prediction, probability)
    predictions: DataFrame = field(repr=False)


def prepare_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-labeled frame: label 1.0 ⇔ the heuristic verdict is
    'keep' (vs review/drop — the binary decision the filter serves),
    plus the salted-hash holdout assignment."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = with_quality(docs).select(
        "doc_id",
        "text",
        F.when(F.col("verdict") == "keep", 1.0).otherwise(0.0).alias("label"),
    )
    h = F.substring(
        F.md5(F.concat(F.lit(QUALITY_SALT), F.col("doc_id").cast("string"))), 1, 8
    )
    bucket = F.conv(h, 16, 10).cast("bigint") % 100
    return labeled.withColumn("is_train", bucket < TRAIN_PCT)


def build_quality_pipeline() -> Pipeline:
    tok = RegexTokenizer(
        inputCol="text", outputCol="toks", pattern=r"\s+", minTokenLength=1
    )
    tf = HashingTF(
        inputCol="toks",
        outputCol="features",
        numFeatures=N_FEATURES,
        binary=False,  # counts, not presence: keeps the length signal
    )
    lr = LogisticRegression(
        maxIter=MAX_ITER,
        regParam=REG_PARAM,
        labelCol="label",
        featuresCol="features",
    )
    return Pipeline(stages=[tok, tf, lr])


def train_quality(spark: SparkSession, sf_dir: str) -> QualityTrainResult:
    data = prepare_quality(spark, sf_dir)
    train = data.filter(F.col("is_train"))
    test = data.filter(~F.col("is_train"))
    model = build_quality_pipeline().fit(train)
    preds = model.transform(test).select(
        "doc_id", "label", "prediction", "probability"
    )
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="probability", metricName="areaUnderROC"
    ).evaluate(model.transform(test))
    accuracy = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(preds)
    return QualityTrainResult(
        model=model,
        auc=auc,
        accuracy=accuracy,
        train_rows=train.count(),
        test_rows=test.count(),
        predictions=preds,
    )


def score(model: PipelineModel, docs: DataFrame) -> DataFrame:
    """Quality scores for any documents-shaped frame — batch or
    streaming (every stage is a stateless transform).  Returns
    (doc_id, quality_prob, keep) where quality_prob is P(label=1)."""
    from pyspark.ml.functions import vector_to_array

    prob_keep = F.element_at(vector_to_array(F.col("probability")), 2).alias(
        "quality_prob"
    )
    scored = model.transform(docs.select("doc_id", "text"))
    return scored.select(
        "doc_id",
        prob_keep,
        (F.col("prediction") == 1.0).alias("keep"),
    )


def quality_scores_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry (rows-only): train on the sf_dir corpus and score
    every document — the full distill-then-filter cycle as one plan.
    Not SQL-expressible (LBFGS fit); floors + batch/stream score parity
    are pinned in tests/test_ml.py."""
    result = train_quality(spark, sf_dir)
    return score(result.model, load_table(spark, sf_dir, "documents"))


QUERIES = {"ml_quality_scores": quality_scores_entry}

ORACLES: dict[str, str] = {}


def save_quality_model(result: QualityTrainResult, path: str) -> None:
    """Persist the trained filter with its eval metrics (Spark ML
    writer — the cluster-loadable artifact, not a pickle)."""
    import json
    import os

    result.model.write().overwrite().save(os.path.join(path, "model"))
    with open(os.path.join(path, "metadata.json"), "w", encoding="utf-8") as f:
        json.dump(
            {
                "auc": result.auc,
                "accuracy": result.accuracy,
                "train_rows": result.train_rows,
                "test_rows": result.test_rows,
                "n_features": N_FEATURES,
                "train_pct": TRAIN_PCT,
            },
            f,
        )


def load_quality_model(spark: SparkSession, path: str) -> PipelineModel:
    import os

    return PipelineModel.load(os.path.join(path, "model"))
