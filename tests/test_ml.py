"""Isolation-forest anomaly model: determinism, sample bound, separation."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from baskerville_spark.gates.iforest import (
    top_anomalies,
    train_iforest,
    training_sample,
    score_anomalies,
)


def _fixture(spark, n=2000):
    """Dense blob around the origin + 5 planted extreme outliers."""
    base = spark.range(n).select(
        F.col("id"),
        ((F.col("id") % 97).cast("double") / 97.0).alias("f1"),
        ((F.col("id") % 89).cast("double") / 89.0).alias("f2"),
    )
    return base.withColumn(
        "f1", F.when(F.col("id") % 400 == 7, F.col("f1") + 25.0).otherwise(F.col("f1"))
    ).withColumn(
        "f2", F.when(F.col("id") % 400 == 7, F.col("f2") + 25.0).otherwise(F.col("f2"))
    )


def test_iforest_separates_planted_outliers(spark):
    df = _fixture(spark)
    forest = train_iforest(df, "id", ["f1", "f2"])
    planted = {r["id"] for r in df.where("id % 400 = 7").select("id").collect()}
    top = top_anomalies(df, forest, "id", ["f1", "f2"], k=len(planted))
    assert {r["id"] for r in top.collect()} == planted  # recall 1.0, no FPs


def test_iforest_deterministic_and_partition_invariant(spark):
    df = _fixture(spark, 1000)
    forest = train_iforest(df, "id", ["f1", "f2"])
    a = {r["id"]: r["anomaly_score"]
         for r in score_anomalies(df, forest, "id", ["f1", "f2"]).collect()}
    b = {r["id"]: r["anomaly_score"]
         for r in score_anomalies(df.repartition(13), forest, "id", ["f1", "f2"]).collect()}
    assert a == b  # scoring is pure per-row: partitioning cannot change it
    forest2 = train_iforest(df, "id", ["f1", "f2"])
    c = {r["id"]: r["anomaly_score"]
         for r in score_anomalies(df, forest2, "id", ["f1", "f2"]).collect()}
    assert a == c  # training is seeded + sample-deterministic


def test_iforest_training_sample_hard_cap(spark):
    df = spark.range(50_000).select(
        F.col("id"), (F.col("id") % 11).cast("double").alias("f1")
    )
    s = training_sample(df, "id", ["f1"], max_train_rows=128)
    assert isinstance(s, np.ndarray) and len(s) <= 128


def test_iforest_null_features_score_null(spark):
    df = spark.createDataFrame(
        [(1, 0.1, 0.2), (2, None, 0.3), (3, 0.2, 0.1)],
        "id long, f1 double, f2 double",
    )
    forest = train_iforest(df.where("f1 IS NOT NULL"), "id", ["f1", "f2"])
    got = {r["id"]: r["anomaly_score"]
           for r in score_anomalies(df, forest, "id", ["f1", "f2"]).collect()}
    assert got[2] is None or np.isnan(got[2])
    assert got[1] is not None and not np.isnan(got[1])


def _labeled_fixture(spark, n=2000):
    """Separable supervised fixture: positives shifted far along f1."""
    return spark.range(n).select(
        F.col("id"),
        (
            ((F.col("id") % 97).cast("double") / 97.0)
            + F.when(F.col("id") % 100 == 3, F.lit(5.0)).otherwise(F.lit(0.0))
        ).alias("f1"),
        ((F.col("id") % 89).cast("double") / 89.0).alias("f2"),
        (F.col("id") % 100 == 3).cast("double").alias("label"),
    )


def test_gbm_learns_separable_rule(spark):
    from baskerville_spark.gates.gbm import predict_label, train_gbm

    df = _labeled_fixture(spark)
    model = train_gbm(df, "id", ["f1", "f2"], "label")
    pred = {r["id"]: r["predicted"]
            for r in predict_label(df, model, "id", ["f1", "f2"]).collect()}
    truth = {r["id"]: int(r["label"]) for r in df.collect()}
    assert pred == truth  # wide margin → boosted stumps must be exact


def test_gbm_deterministic_and_partition_invariant(spark):
    from baskerville_spark.gates.gbm import predict_proba, train_gbm

    df = _labeled_fixture(spark, 800)
    m1 = train_gbm(df, "id", ["f1", "f2"], "label")
    m2 = train_gbm(df.repartition(7), "id", ["f1", "f2"], "label")
    a = {r["id"]: r["probability"]
         for r in predict_proba(df, m1, "id", ["f1", "f2"]).collect()}
    b = {r["id"]: r["probability"]
         for r in predict_proba(df.repartition(11), m2, "id", ["f1", "f2"]).collect()}
    assert a == b  # hash-deterministic sample + exhaustive fit: no RNG anywhere


def test_classify_anomalies_dual_thresholds(spark):
    """tasks.py:1771-1795 parity: incident keys judged at the lower
    threshold, non-incident at the default; attack_prediction marks
    incident membership; the incident set rides a join, not a
    driver-collected isin literal."""
    from pyspark.sql import functions as F

    from baskerville_spark.gates.classify import classify_anomalies

    scored = spark.createDataFrame(
        [("a", 0.40), ("b", 0.40), ("c", 0.50), ("d", 0.30)],
        "host string, score double",
    )
    incidents = spark.createDataFrame(
        [("a",), ("a",), ("d",)], "host string"  # dup exercises distinct
    )
    out = classify_anomalies(scored, incidents, "host")
    got = {r["host"]: r.asDict() for r in out.collect()}
    # a: incident, 0.40 > 0.35 -> flagged; b: normal, 0.40 < 0.45 -> clean
    assert got["a"]["attack_prediction"] == 1 and got["a"]["prediction"] == 1
    assert got["b"]["attack_prediction"] == 0 and got["b"]["prediction"] == 0
    # c: normal but above 0.45
    assert got["c"]["attack_prediction"] == 0 and got["c"]["prediction"] == 1
    # d: incident, 0.30 < 0.35 -> clean despite incident
    assert got["d"]["attack_prediction"] == 1 and got["d"]["prediction"] == 0
    assert "threshold" not in out.columns  # reference drops it
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
