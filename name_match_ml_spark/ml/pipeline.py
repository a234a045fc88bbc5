"""MLlib re-expression of the reference's offline training path.

Reference: ``MODEL_TRAINING/train_model.py`` — pandas feature engineering
(five string-similarity features, ``train_model.py:15-26``), sklearn 70/30
split (``:36``), ``RandomForestClassifier(n_estimators=100, random_state=32)``
(``:40-41``), ``classification_report`` (``:46``), pickle sink (``:48``).

Spark-first mapping (SURVEY.md §2.8 M1-M7):

* M1/M2 — :func:`pair_features` computes the five features in ONE Arrow
  pandas UDF pass (vs the reference's row-at-a-time ``df.apply``) with the
  batch similarity kernels, then ``VectorAssembler`` packs them.  NOTE: the training path scores RAW
  strings — no lowercasing — unlike the serving scorer (``train_model.py:
  15-24`` vs ``main.py:26-30``); replicated faithfully.
* M3 — ``randomSplit([0.7, 0.3], seed=32)``: same split semantics, not the
  same rows (different RNG than sklearn — documented divergence).
* M4/M5 — ``pyspark.ml.classification.RandomForestClassifier(numTrees=100,
  seed=32)``; distributed tree building vs single-node C.
* M6 — ``MulticlassClassificationEvaluator`` (accuracy / weighted P/R/F1)
  plus a per-class report derived from a ``groupBy(label, prediction)``
  confusion aggregate — the distributed equivalent of
  ``classification_report``.
* M7 — ``PipelineModel.write().overwrite().save(path)`` (Parquet-backed ML
  persistence replacing the pickle at ``train_model.py:48``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StructField, StructType

from ..functions.similarity import (
    metaphone,
    partial_ratio_batch,
    ratio_batch,
    soundex,
    token_set_ratio_batch,
)

__all__ = [
    "FEATURE_COLS",
    "pair_features",
    "build_pipeline",
    "train_match_classifier",
    "tune_match_classifier",
    "evaluation_report",
    "labeled_pairs_from_corpus",
]

FEATURE_COLS = [
    "levenshtein",
    "partial_ratio",
    "token_set_ratio",
    "soundex_match",
    "metaphone_match",
]

_FEATURES_SCHEMA = StructType([StructField(c, IntegerType()) for c in FEATURE_COLS])


@pandas_udf(_FEATURES_SCHEMA)
def _pair_features_udf(username: pd.Series, employee_name: pd.Series) -> pd.DataFrame:
    """The five features of ``train_model.py:15-26`` on raw (uncased)
    strings, one Arrow batch at a time: the three ratios through the batch
    kernels, the phonetic codes once per distinct string of the batch."""
    u, e = username.fillna("").tolist(), employee_name.fillna("").tolist()
    codes = {s: (soundex(s), metaphone(s)) for s in {*u, *e}}
    return pd.DataFrame(
        {
            "levenshtein": ratio_batch(u, e),
            "partial_ratio": partial_ratio_batch(u, e),
            "token_set_ratio": token_set_ratio_batch(u, e),
            "soundex_match": [int(codes[a][0] == codes[b][0]) for a, b in zip(u, e)],
            "metaphone_match": [int(codes[a][1] == codes[b][1]) for a, b in zip(u, e)],
        }
    )


def pair_features(
    df: DataFrame,
    username_col: str = "username",
    name_col: str = "employee_name",
) -> DataFrame:
    """M1: attach the five similarity features as top-level columns."""
    feats = _pair_features_udf(F.col(username_col), F.col(name_col))
    df = df.withColumn("_f", feats)
    for c in FEATURE_COLS:
        df = df.withColumn(c, F.col(f"_f.{c}"))
    return df.drop("_f")


def build_pipeline(num_trees: int = 100, seed: int = 32) -> Pipeline:
    """M2+M4: assembler + RandomForest with the reference's hyperparams
    (``train_model.py:40``)."""
    assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features")
    rf = RandomForestClassifier(
        featuresCol="features",
        labelCol="label",
        numTrees=num_trees,
        seed=seed,
    )
    return Pipeline(stages=[assembler, rf])


def _staged_features(pairs: DataFrame) -> DataFrame:
    """The labelled pairs with their features and a double label,
    materialised once."""
    featured = pair_features(pairs).withColumn("label", F.col("label").cast("double"))
    return featured.localCheckpoint()


def train_match_classifier(
    pairs: DataFrame,
    *,
    num_trees: int = 100,
    seed: int = 32,
    test_fraction: float = 0.3,
) -> tuple[PipelineModel, DataFrame]:
    """M1-M6 end-to-end: features → 70/30 split (seed 32, ``train_model.py:
    36``) → fit → transform(test).  Returns (model, scored test set).

    The features are staged once: left lazy, the feature UDF reruns for
    every pass over the split (the split itself, the forest's metadata
    aggregate and bagged input, the scoring of the test set), about five
    passes in all.  The checkpoint keeps the partitions and their row
    order, so the seeded split selects the same rows."""
    featured = _staged_features(pairs)
    train, test = featured.randomSplit([1.0 - test_fraction, test_fraction], seed=seed)
    model = build_pipeline(num_trees=num_trees, seed=seed).fit(train)
    return model, model.transform(test)


def tune_match_classifier(
    pairs: DataFrame,
    *,
    num_trees_grid: tuple[int, ...] = (20, 100),
    max_depth_grid: tuple[int, ...] = (5, 10),
    n_folds: int = 3,
    seed: int = 32,
    parallelism: int = 4,
) -> tuple[PipelineModel, dict[str, float], float]:
    """[EXT] M-family extension: k-fold cross-validated hyperparameter
    search over the RandomForest grid.  Returns (best fitted model,
    chosen params, best mean AUC).

    Scale shape: ``CrossValidator`` fits folds×grid models; with
    ``parallelism`` they train concurrently, and every fit is itself a
    distributed tree build — tuning parallelizes on both axes.  Seeded
    fold assignment keeps the search reproducible."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    # Staged once, as in train_match_classifier: every fold and grid point
    # re-reads the features.
    featured = _staged_features(pairs)
    pipe = build_pipeline(seed=seed)
    rf = pipe.getStages()[-1]
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, list(num_trees_grid))
        .addGrid(rf.maxDepth, list(max_depth_grid))
        .build()
    )
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol="label"),
        numFolds=n_folds,
        seed=seed,
        parallelism=parallelism,
    )
    cv_model = cv.fit(featured)
    best = cv_model.bestModel
    best_rf = best.stages[-1]
    params = {
        "numTrees": float(best_rf.getNumTrees),
        "maxDepth": float(best_rf.getMaxDepth()),
    }
    return best, params, float(max(cv_model.avgMetrics))


def evaluation_report(predictions: DataFrame) -> DataFrame:
    """M6: per-class precision/recall/F1 + support from one distributed
    confusion aggregate — the ``classification_report`` equivalent
    (``train_model.py:46``) as a DataFrame."""
    conf = (
        predictions.groupBy("label", "prediction")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_label: dict[float, dict[str, float]] = {}
    for r in conf:
        by_label.setdefault(r.label, {"tp": 0, "fn": 0, "support": 0})
        by_label.setdefault(r.prediction, {"tp": 0, "fn": 0, "support": 0})
    pred_totals: dict[float, float] = {}
    for r in conf:
        by_label[r.label]["support"] += r.n
        pred_totals[r.prediction] = pred_totals.get(r.prediction, 0) + r.n
        if r.label == r.prediction:
            by_label[r.label]["tp"] += r.n
    rows = []
    for label in sorted(by_label):
        tp = by_label[label]["tp"]
        support = by_label[label]["support"]
        predicted = pred_totals.get(label, 0)
        precision = tp / predicted if predicted else 0.0
        recall = tp / support if support else 0.0
        f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
        rows.append((float(label), precision, recall, f1, int(support)))
    spark = predictions.sparkSession
    return spark.createDataFrame(
        rows, ["class_label", "precision", "recall", "f1", "support"]
    )


def labeled_pairs_from_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize labeled (username, employee_name, label) pairs from the
    driver corpus roster (FIXTURES.md §C shape): positives pair each
    derived username with its own employee's name; negatives pair it with
    a deterministically shifted employee."""
    from ..suite import _corpus_roster

    r = _corpus_roster(spark, sf_dir)
    key = F.col("emp_id").cast("long")
    f = F.lower(F.col("first_name"))
    l = F.lower(F.col("last_name"))
    uname = (
        F.when(key % 4 == 0, F.concat(f, F.lit("."), l))
        .when(key % 4 == 1, F.concat(f, F.lit("_"), l))
        .when(key % 4 == 2, F.concat(F.substring(f, 1, 1), l))
        .otherwise(F.concat(f, (key % 90 + 10).cast("string")))
    )
    pos = r.select(
        key.alias("id"),
        uname.alias("username"),
        F.col("employee_name"),
        F.lit(1).alias("label"),
    )
    # Negative: same username against the name of a far-away employee.
    # groupBy+min, not dropDuplicates: the surviving row of a
    # dropDuplicates is partition-order-dependent, which would make the
    # training set (and eval metrics) vary across runs/cluster layouts.
    shifted = (
        r.select(((key + 7) % 40).alias("_grp"), F.col("employee_name").alias("_other"))
        .groupBy("_grp")
        .agg(F.min("_other").alias("_other"))
    )
    neg = (
        pos.withColumn("_grp", (F.col("id") % 40))
        .join(F.broadcast(shifted), "_grp")
        .filter(F.col("employee_name") != F.col("_other"))
        .select(
            (F.col("id") + 1_000_000).alias("id"),
            "username",
            F.col("_other").alias("employee_name"),
            F.lit(0).alias("label"),
        )
    )
    return pos.unionByName(neg)
