"""ML queries: pandas-UDF batch scoring (oracle-checked) and the full
weighted-LR train/eval pipeline (SURVEY §2.8).

`ml_score_embeddings` replays the reference's score-then-threshold path
(`jobs/stream_layer/ML_predict.py:96-115`) with a fully-specified
linear-logistic model so DuckDB can verify the UDF arithmetic end-to-end.
`ml_lr_train_confusion` runs the notebook's whole M1→M7 pipeline
(`prepare_data_batch.ipynb` cells 18–25) on the embeddings table; the
training itself isn't SQL-expressible, but with a hash-deterministic
split and a margin-filtered test set the EXPECTED confusion matrix is —
so the oracle states it closed-form and a broken pipeline fails the gate.
"""

from __future__ import annotations

from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..ml.inference import (
    SCORE_THRESHOLD,
    logistic_scorer_udf,
    threshold_prediction,
)
from ..ml.pipeline import balanced_class_weights, train_weighted_lr
from . import register

# Deterministic stand-in model: w_i = ((i*37) mod 19 - 9) / 10 for the
# 64-dim embeddings, bias 0.1 — arbitrary but fixed, spanning [-0.9, 0.9].
SCORE_DIM = 64
SCORE_WEIGHTS = [((i * 37) % 19 - 9) / 10.0 for i in range(SCORE_DIM)]
SCORE_BIAS = 0.1

_W_SQL = "[" + ", ".join(repr(w) for w in SCORE_WEIGHTS) + "]::DOUBLE[]"


@register(
    "ml_score_embeddings",
    oracle=f"""
    WITH scored AS (
      SELECT vec_id, label,
             1.0 / (1.0 + exp(-(
               list_aggregate(list_transform(list_zip(embedding, {_W_SQL}),
                 p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
               + {SCORE_BIAS!r}))) AS s
      FROM embeddings
    )
    SELECT vec_id, label,
           round(s, 4) AS score,
           CAST(s >= {SCORE_THRESHOLD!r} AS INTEGER) AS prediction
    FROM scored
    """,
    tags=("ml", "M9", "pandas_udf", "scoring"),
)
def ml_score_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-score every embedding with the Arrow pandas UDF + threshold.

    Plan shape: one narrow map stage — scan → Arrow batch → UDF → project;
    no shuffle, so it scales linearly with executors at 100 TB. The
    threshold comparison runs on the un-rounded score (as the reference
    thresholds the raw predict_proba) and only the reported score is
    rounded for hashing.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    udf = logistic_scorer_udf(SCORE_WEIGHTS, SCORE_BIAS)
    scored = emb.select("vec_id", "label", udf(F.col("embedding")).alias("s"))
    return scored.select(
        "vec_id",
        "label",
        F.round("s", 4).alias("score"),
        threshold_prediction(F.col("s")).alias("prediction"),
    )


# SQL-replayable 80/20 split: Knuth multiplicative hash of the row key,
# exact in int64 arithmetic on any engine (no RNG, no partition-order
# dependence). The library's stratified_split (sampleBy, reference
# parity with prepare_data_batch.ipynb cell 18) stays for pipeline use —
# this catalog entry needs a split DuckDB can replay bit-for-bit.
_SPLIT_MULT = 2654435761
_SPLIT_MOD = 4294967296
# Evaluate only test points with a clear margin from the label boundary
# (label = sign(embedding[0])): every observed LR miss sits at
# |x0| < 0.037 (sf0.01 and sf0.1) under an idle machine, but the fitted
# noise weights on the other 63 dims shift with float reduction order,
# which varies under CPU contention (one flake observed in round 5 with
# concurrent Spark jobs at |x0| just above 0.1). 0.25 gives ~7× slack
# over the worst observed miss while keeping hundreds of margin points
# per class. On this subset a correctly trained model is EXACTLY
# diagonal — which makes the confusion matrix closed-form and the
# oracle a real training check: a broken split/weight/fit shows up as
# an off-diagonal row (row-count mismatch), not a silent pass.
_MARGIN = 0.25


@register(
    "ml_lr_train_confusion",
    oracle=f"""
    WITH test AS (
      SELECT embedding[1] AS x0
      FROM embeddings
      WHERE (vec_id * {_SPLIT_MULT}) % {_SPLIT_MOD} % 5 = 0
    )
    SELECT CAST(x0 >= 0 AS INTEGER) AS label_index,
           CAST(x0 >= 0 AS INTEGER) AS prediction,
           count(*) AS n
    FROM test
    WHERE abs(x0) >= {_MARGIN!r}
    GROUP BY 1, 2
    """,
    tags=("ml", "M1", "M5", "M6", "M7", "lr", "train"),
)
def ml_lr_train_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1→M7 pipeline on embeddings: deterministic hash 80/20 split,
    balanced class weights, weighted LR (maxIter=200, reg=0.01), then the
    confusion matrix on the clear-margin test subset.

    The binary target is sign(embedding[0]) — linearly separable by
    construction, so the trained model must classify every margin point
    correctly and the oracle can state the full confusion matrix in SQL
    (diagonal = margin-test label histogram). Off-diagonal predictions
    fail the row-count match, making this a genuine end-to-end check of
    the training pipeline rather than a rows-only smoke test.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").getItem(0).alias("x0"),
        (F.col("embedding").getItem(0) >= 0).cast("double").alias("label_index"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    bucket = F.pmod(
        F.pmod(F.col("vec_id") * F.lit(_SPLIT_MULT), F.lit(_SPLIT_MOD)), F.lit(5)
    )
    # coalesce(1) makes the fit DETERMINISTIC: LR's treeAggregate sums
    # gradients in partition order, so a multi-partition fit's
    # coefficients wobble with task scheduling (two margin flakes
    # observed under concurrent Spark jobs, one past |x0|=0.1 and one
    # past 0.25 at sf0.001). One partition = one fixed reduction order
    # = bit-stable coefficients. This is a correctness-gate harness
    # choice: the gate SFs train ≤40k rows, where single-partition cost
    # is nil; a production fit keeps parallelism and tolerates the
    # last-ulp wobble.
    train = emb.filter(bucket != 0).drop("x0").coalesce(1)
    test = emb.filter(bucket == 0)
    model = train_weighted_lr(balanced_class_weights(train, "label_index"))
    pred = model.transform(test).filter(F.abs("x0") >= _MARGIN)
    return (
        pred.groupBy(
            F.col("label_index").cast("int").alias("label_index"),
            F.col("prediction").cast("int").alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label_index", "prediction")
    )


_FEATURE_CTE = """
    SELECT user_id,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click,
           sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS error,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchase,
           sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS signup,
           sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view
    FROM events GROUP BY user_id
"""

_FEATURE_COLS = ["click", "error", "purchase", "signup", "view"]


@register(
    "constant_columns_detect",
    oracle=f"""
    WITH f AS ({_FEATURE_CTE})
    {" UNION ALL ".join(
        f"SELECT '{c}' AS feature, count(DISTINCT {c}) AS n_distinct, "
        f"CAST(count(DISTINCT {c}) = 1 AS INTEGER) AS is_constant FROM f"
        for c in _FEATURE_COLS
    )}
    """,
    tags=("ml", "A14", "profiling"),
)
def constant_columns_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: find zero-variance feature columns (the reference drops E22
    this way, XGBoot.ipynb cell 9 — `nunique()==1`).

    One aggregate pass computes every column's distinct count
    (map-side partials; no per-column jobs), then an unpivot via stack —
    profiling 29 columns over 100 TB costs one shuffle of tiny partial
    states, not 29 scans.
    """
    from pyspark.sql import functions as FF
    from ..operators.features import feature_counts_pivot
    from ..queries.logq import EVENT_TYPES

    ev = load_table(spark, sf_dir, "events")
    feats = feature_counts_pivot(ev, "user_id", "event_type", EVENT_TYPES)
    agg = feats.agg(
        *[FF.countDistinct(c).alias(c) for c in _FEATURE_COLS]
    )
    stack = ", ".join(f"'{c}', {c}" for c in _FEATURE_COLS)
    return agg.selectExpr(
        f"stack({len(_FEATURE_COLS)}, {stack}) AS (feature, n_distinct)"
    ).select(
        "feature",
        "n_distinct",
        (FF.col("n_distinct") == 1).cast("int").alias("is_constant"),
    )


@register(
    "label_histogram_embeddings",
    oracle="""
    SELECT label, count(*) AS n
    FROM embeddings
    GROUP BY label
    """,
    tags=("ml", "A13", "agg"),
)
def label_histogram_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: label value_counts (`XGBoot.ipynb` cell 7) as groupBy count."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
