"""ML pipeline + pandas-UDF inference unit tests (SURVEY §2.8)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from log_analysis_bigdata_spark.catalog import load_table
from log_analysis_bigdata_spark.ml.inference import (
    logistic_scorer_udf,
    model_scorer_udf,
    threshold_prediction,
)
from log_analysis_bigdata_spark.ml.pipeline import (
    balanced_class_weights,
    stratified_split,
)
from log_analysis_bigdata_spark.queries.mlq import (
    SCORE_BIAS,
    SCORE_WEIGHTS,
    ml_lr_train_confusion,
)

from .conftest import SF_SMOKE, _jobs_run


def test_logistic_scorer_matches_numpy(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    rows = emb.select("vec_id", "embedding").collect()
    udf = logistic_scorer_udf(SCORE_WEIGHTS, SCORE_BIAS)
    got = {
        r["vec_id"]: r["s"]
        for r in emb.select("vec_id", udf(F.col("embedding")).alias("s")).collect()
    }
    w = np.asarray(SCORE_WEIGHTS)
    for r in rows:
        z = np.asarray(r["embedding"], dtype=np.float64) @ w + SCORE_BIAS
        expect = 1.0 / (1.0 + np.exp(-z))
        assert abs(got[r["vec_id"]] - expect) < 1e-12


class _StubModel:
    """Duck-typed predict_proba model (stands in for the LightGBM pickle)."""

    def predict_proba(self, x):
        p = 1.0 / (1.0 + np.exp(-x.sum(axis=1, dtype=np.float64)))
        return np.stack([1.0 - p, p], axis=1)


def test_model_scorer_udf_broadcast_batch(spark):
    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (2, -3.0, 0.5)], ["id", "f1", "f2"]
    )
    udf = model_scorer_udf(spark, _StubModel(), ["f1", "f2"])
    out = {
        r["id"]: r["score"]
        for r in df.withColumn(
            "score", udf(F.array("f1", "f2").cast("array<float>"))
        ).collect()
    }
    assert abs(out[1] - 1.0 / (1.0 + np.exp(-3.0))) < 1e-6
    assert abs(out[2] - 1.0 / (1.0 + np.exp(2.5))) < 1e-6


def test_model_artifact_roundtrip_scoring(spark, tmp_path):
    """S10 end-to-end: dump a sklearn-API model artifact to disk
    (joblib format when available, pickle otherwise — `ML_predict.py:8-13`),
    load it back, broadcast it through model_scorer_udf, and confirm the
    distributed scores equal the model's direct predict_proba."""
    from log_analysis_bigdata_spark.ml.inference import (
        load_model_artifact,
        save_model_artifact,
    )

    path = str(tmp_path / "model.pkl")
    save_model_artifact(_StubModel(), path)
    model = load_model_artifact(path)

    df = spark.createDataFrame(
        [(i, float(i) / 3.0, -float(i) / 7.0) for i in range(50)],
        ["id", "f1", "f2"],
    )
    udf = model_scorer_udf(spark, model, ["f1", "f2"])
    got = {
        r["id"]: r["score"]
        for r in df.withColumn(
            "score", udf(F.array("f1", "f2").cast("array<float>"))
        ).collect()
    }
    x = np.array(
        [[i / 3.0, -i / 7.0] for i in range(50)], dtype=np.float32
    )
    direct = _StubModel().predict_proba(x)[:, 1]
    for i in range(50):
        assert abs(got[i] - direct[i]) < 1e-9


def test_string_indexer_frequency_order(spark):
    """M4 on actual string labels (`nb:458-459` cell 12): StringIndexer
    assigns 0.0 to the most frequent label, then descending frequency,
    ties broken lexicographically."""
    from log_analysis_bigdata_spark.ml.pipeline import index_labels

    df = spark.createDataFrame(
        [("ok",)] * 5 + [("fail",)] * 3 + [("warn",)] * 3 + [("rare",)],
        ["status"],
    )
    out = index_labels(df, "status", "label_index")
    mapping = {
        r["status"]: r["label_index"]
        for r in out.select("status", "label_index").distinct().collect()
    }
    # ok(5) → 0.0; fail(3)/warn(3) tie → lexicographic; rare(1) last
    assert mapping == {"ok": 0.0, "fail": 1.0, "warn": 2.0, "rare": 3.0}


def test_lr_confusion_margin_guard_at_driver_sf(spark):
    """Empirical guard for the ml_lr_train_confusion oracle (ADVICE r2):
    its SQL hard-codes a diagonal confusion matrix for |x0| >= _MARGIN,
    which is only sound if (a) the margin-filtered test subset is
    non-empty at the SF the driver runs (sf0.01) and (b) every LR miss
    lands well inside the margin. Assert both, with 2× slack on (b), so
    a drift in data/solver surfaces here as a clear test failure instead
    of a flaky driver gate."""
    from log_analysis_bigdata_spark.ml.pipeline import (
        balanced_class_weights,
        train_weighted_lr,
    )
    from log_analysis_bigdata_spark.queries.mlq import (
        _MARGIN,
        _SPLIT_MOD,
        _SPLIT_MULT,
    )
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id",
        F.col("embedding").getItem(0).alias("x0"),
        (F.col("embedding").getItem(0) >= 0).cast("double").alias("label_index"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    bucket = F.pmod(
        F.pmod(F.col("vec_id") * F.lit(_SPLIT_MULT), F.lit(_SPLIT_MOD)), F.lit(5)
    )
    train = emb.filter(bucket != 0).drop("x0")
    test = emb.filter(bucket == 0)
    model = train_weighted_lr(balanced_class_weights(train, "label_index"))
    # the trainingSummary must be dropped post-fit (closure-serialization
    # fix, r9) — if a Spark upgrade hides the package-private setSummary
    # this goes True again and the hazard surfaces HERE, not mid-sweep
    assert model.hasSummary is False
    pred = model.transform(test).select("x0", "label_index", "prediction")

    # (a) non-empty margin subset, both classes represented
    margin_counts = {
        r["label_index"]: r["n"]
        for r in pred.filter(F.abs("x0") >= _MARGIN)
        .groupBy("label_index")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert margin_counts.get(0.0, 0) > 0 and margin_counts.get(1.0, 0) > 0

    # (b) every miss sits at |x0| < _MARGIN/2 (2x slack on the filter)
    worst_miss = (
        pred.filter(F.col("label_index") != F.col("prediction"))
        .agg(F.max(F.abs("x0")).alias("m"))
        .first()["m"]
    )
    assert worst_miss is None or worst_miss < _MARGIN / 2


def test_threshold_prediction(spark):
    df = spark.range(1).select(
        threshold_prediction(F.lit(0.84)).alias("hi"),
        threshold_prediction(F.lit(0.82)).alias("lo"),
    )
    r = df.first()
    assert (r["hi"], r["lo"]) == (1, 0)


def test_stratified_split_partitions_df(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", (F.col("label") % 2).cast("double").alias("label_index")
    )
    train, test = stratified_split(emb, "label_index", "vec_id", 0.25, seed=7)
    n, tr, te = emb.count(), train.count(), test.count()
    assert tr + te == n and 0 < te < n
    # disjoint by key
    assert train.join(test, "vec_id").count() == 0


def test_balanced_class_weights_sum(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", (F.col("label") % 2).cast("double").alias("label_index")
    )
    # N and K come from one action: as many jobs as a single
    # groupBy-count collect of the same frame (two actions ran 6 vs 2)
    one_collect, _ = _jobs_run(
        spark, "bcw-collect", lambda: emb.groupBy("label_index").count().collect()
    )
    jobs, w = _jobs_run(
        spark, "bcw-weights", lambda: balanced_class_weights(emb, "label_index")
    )
    assert jobs == one_collect
    # per-class: n * (N / (K*n)) = N/K → both classes contribute equally
    sums = {
        r["label_index"]: r["s"]
        for r in w.groupBy("label_index").agg(F.sum("weight").alias("s")).collect()
    }
    vals = list(sums.values())
    assert abs(vals[0] - vals[1]) < 1e-6


def test_balanced_class_weights_empty_raises(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", (F.col("label") % 2).cast("double").alias("label_index")
    )
    with pytest.raises(ValueError, match="empty training set"):
        balanced_class_weights(emb.limit(0), "label_index")


def test_balanced_class_weights_literal_column(spark):
    """The weights are a literal CASE column: no join and no aggregate
    left in the output's plan. A null label counts toward N and K, as
    in the join form, and its row is dropped, as the inner join drops
    it."""
    df = spark.createDataFrame(
        [(1, 0.0), (2, 0.0), (3, 1.0), (4, None)], "id int, label_index double"
    )
    w = balanced_class_weights(df)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan, plan
    got = {r["id"]: r["weight"] for r in w.collect()}
    assert got == {1: 4 / (3 * 2), 2: 4 / (3 * 2), 3: 4 / (3 * 1)}


def test_balanced_class_weights_lr_bit_identical_to_join_form(spark):
    """LR fitted on the literal-column weights equals, bit for bit, LR
    fitted on the broadcast join of the per-class count table."""
    from pyspark.ml.functions import array_to_vector

    from log_analysis_bigdata_spark.ml.pipeline import train_weighted_lr

    train = load_table(spark, SF_SMOKE, "embeddings").select(
        (F.col("embedding").getItem(0) >= 0).cast("double").alias("label_index"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    ).coalesce(1)
    cnt = train.groupBy("label_index").agg(F.count(F.lit(1)).alias("n"))
    rows = cnt.collect()
    n_total, k = sum(r["n"] for r in rows), len(rows)
    joined = train.join(
        F.broadcast(cnt.select(
            "label_index",
            (F.lit(float(n_total)) / (F.lit(k) * F.col("n"))).alias("weight"),
        )),
        "label_index",
    )
    ref = train_weighted_lr(joined)
    got = train_weighted_lr(balanced_class_weights(train))
    assert got.intercept == ref.intercept
    assert got.coefficients.toArray().tolist() == ref.coefficients.toArray().tolist()


def test_lr_learns_separable_target(spark):
    conf = {(r["label_index"], r["prediction"]): r["n"]
            for r in ml_lr_train_confusion(spark, SF_SMOKE).collect()}
    total = sum(conf.values())
    diag = conf.get((0, 0), 0) + conf.get((1, 1), 0)
    # sign(x0) with 63 noise dims and ~400 train rows: boundary rows
    # (x0 near 0) can flip — 85% floor still catches a broken pipeline.
    assert total > 0 and diag / total >= 0.85


def test_learning_curve_improves_with_data(spark):
    from pyspark.ml.functions import array_to_vector
    from log_analysis_bigdata_spark.ml.pipeline import learning_curve

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        (F.col("embedding").getItem(0) >= 0).cast("double").alias("label_index"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    train, test = stratified_split(emb, "label_index", "vec_id", 0.25, seed=42)
    pts = learning_curve(train, test, fractions=(0.3, 1.0))
    assert [p["fraction"] for p in pts] == [0.3, 1.0]
    for p in pts:
        assert 0.0 <= p["pr_auc"] <= 1.0 and 0.0 <= p["f1"] <= 1.0
    # full data should not be (much) worse than a 30% subsample
    assert pts[1]["pr_auc"] >= pts[0]["pr_auc"] - 0.05
