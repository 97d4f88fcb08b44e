"""Training pipeline: stratified split, balanced class weights, weighted
logistic regression, PR-AUC / F1 evaluation.

Reference parity (citations into `/root/reference/`):
- stratified split `sampleBy('label_index', {l: f}, seed)` + left-anti
  train complement — `prepare_data_batch.ipynb` cells 18 (`nb:582-587`)
  → :func:`stratified_split` (M1 + J3).
- balanced class weight `w = N / (K * n_class)` joined back to every row
  — `nb:597-607` (cell 19) → :func:`balanced_class_weights` (A5–A7, J4).
- `LogisticRegression(weightCol, maxIter=200, regParam=0.01,
  elasticNetParam=0)` — `nb:641-652` (cell 22) → :func:`train_weighted_lr`.
- `BinaryClassificationEvaluator(areaUnderPR)` +
  `MulticlassClassificationEvaluator(f1)` — `nb:630-631` (cell 21)
  → :func:`evaluate_binary`.

Scale notes: the split is one seeded Bernoulli sample per class (narrow,
no shuffle) plus a left-anti join on the key — at 100 TB that anti join
shuffles both sides once on the key; the class weights are a K-branch
literal ``CASE`` column built from one K-row collect, so no join and no
recomputed count table follows the training rows into the fit. LR
itself is Spark ML's L-BFGS: each iteration is one tree-aggregated
gradient pass, no per-row driver traffic.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stratified_split(
    df: DataFrame,
    label_col: str = "label_index",
    key_col: str = "vec_id",
    test_fraction: float = 0.2,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """(train, test) via per-class seeded sampling; train = df ∖ test by key.

    Mirrors `nb:582-587`: `sampleBy` over the distinct label values, then
    a left-anti join on the row key for the complement.
    """
    labels = [r[0] for r in df.select(label_col).distinct().collect()]
    test = df.sampleBy(label_col, {l: test_fraction for l in labels}, seed=seed)
    train = df.join(test.select(key_col), key_col, "left_anti")
    return train, test


def index_labels(
    df: DataFrame, label_col: str, out_col: str = "label_index"
) -> DataFrame:
    """M4: string label → numeric index, the reference's
    `StringIndexer(inputCol='status', outputCol='label_index')`
    (`nb:458-459`, cell 12).

    Spark ML's default `frequencyDesc` order: the most frequent label gets
    index 0.0, ties broken ascending-lexicographic — the fit pass is one
    groupBy-count (K rows to the driver), the transform is a broadcast map.
    Integer-typed labels can skip the fit entirely with a plain
    `cast("double")`, which several catalog queries use.
    """
    from pyspark.ml.feature import StringIndexer

    indexer = StringIndexer(
        inputCol=label_col, outputCol=out_col, handleInvalid="error"
    )
    return indexer.fit(df).transform(df)


def balanced_class_weights(
    train: DataFrame, label_col: str = "label_index", weight_col: str = "weight"
) -> DataFrame:
    """Attach `weight = N / (K * n_class)` to every row (`nb:597-607`).

    The per-class count table is K rows: one ``collect`` gives N, K and
    every n_class, and the weights go back as a K-branch literal
    ``CASE label WHEN l THEN N/(K*n_l)`` column. A join against the
    count table would leave a lazy aggregate in the plan that every LR
    and evaluator pass recomputes over the whole input. Rows whose label
    is not a counted class (a null label) are dropped, as an inner join
    on the label drops them; a null label still counts toward N and K.
    An empty training set raises ``ValueError``.
    """
    counts = train.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
    if not counts:
        raise ValueError("balanced_class_weights: empty training set")
    n_total, k = sum(r["n"] for r in counts), len(counts)
    classes = [(r[label_col], r["n"]) for r in counts if r[label_col] is not None]
    label = F.col(label_col)
    weight = F.lit(None).cast("double")
    for i, (l, n) in enumerate(classes):
        when = F.when if i == 0 else weight.when
        weight = when(label == F.lit(l), F.lit(float(n_total) / (k * n)))
    return train.filter(label.isin([l for l, _ in classes])).withColumn(
        weight_col, weight
    )


def train_weighted_lr(
    train: DataFrame,
    features_col: str = "features",
    label_col: str = "label_index",
    weight_col: str = "weight",
    max_iter: int = 200,
    reg_param: float = 0.01,
    elastic_net: float = 0.0,
) -> LogisticRegressionModel:
    """Weighted LR with the reference's hyperparameters (`nb:641-652`)."""
    lr = LogisticRegression(
        featuresCol=features_col,
        labelCol=label_col,
        weightCol=weight_col,
        maxIter=max_iter,
        regParam=reg_param,
        elasticNetParam=elastic_net,
        standardization=True,
    )
    model = lr.fit(train)
    # Drop the training summary before the model is ever used in a
    # transform: the summary object pins the live SparkSession, and the
    # prediction UDF's task closure serializes the MODEL — with the
    # summary attached that closure drags SparkSession→ObservationManager
    # and the job dies with "Task not serializable" whenever the plan's
    # canonicalized form is materialized (observed mid-sweep at r9:
    # ml_lr_train_confusion failed in the 159-query parity run but
    # passed standalone). Nothing downstream reads .summary — metrics
    # come from evaluate_binary over the prediction frame.
    # setSummary is private[spark] Scala — callable via py4j only
    # because package-private compiles to public bytecode. Guard it
    # (ADVICE r9): if a Spark upgrade hides it, training still works
    # and the closure hazard resurfaces loudly in the parity sweep
    # rather than as a silent AttributeError here. tests/test_ml.py
    # asserts hasSummary is False so version drift fails CI first.
    try:
        model._java_obj.setSummary(
            train.sparkSession._jvm.scala.Option.empty()
        )
    except Exception:  # pragma: no cover - only on Spark API drift
        warnings.warn(
            "LogisticRegressionModel.setSummary unavailable; training "
            "summary retained — model closures may pin the SparkSession "
            "(see r9 'Task not serializable' note above)",
            RuntimeWarning,
            stacklevel=2,
        )
    return model


def evaluate_binary(
    predictions: DataFrame, label_col: str = "label_index"
) -> dict[str, float]:
    """PR-AUC + F1, the reference's two metrics (`nb:630-631`)."""
    pr = BinaryClassificationEvaluator(
        labelCol=label_col, metricName="areaUnderPR"
    ).evaluate(predictions)
    f1 = MulticlassClassificationEvaluator(
        labelCol=label_col, metricName="f1"
    ).evaluate(predictions)
    return {"pr_auc": pr, "f1": f1}


def learning_curve(
    train: DataFrame,
    test: DataFrame,
    fractions: Sequence[float] = (0.1, 0.25, 0.5, 1.0),
    label_col: str = "label_index",
    seed: int = 42,
) -> list[dict[str, float]]:
    """M8 (`nb:659-697`, cells 23-24): train on growing seeded fractions
    of the train set, evaluate each on the fixed test set.

    A driver loop by nature — each point is an independent Spark job; the
    reference does the same. Returns one dict per fraction with pr_auc/f1.
    """
    points = []
    for frac in fractions:
        sub = train if frac >= 1.0 else train.sample(False, frac, seed=seed)
        model = train_weighted_lr(balanced_class_weights(sub, label_col))
        metrics = evaluate_binary(model.transform(test), label_col)
        points.append({"fraction": frac, **metrics})
    return points
