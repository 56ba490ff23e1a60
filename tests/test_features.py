"""Feature-vector funnel and updateable-feature merge algebra
(gates/features.py vs reference src/baskerville/features/)."""

from __future__ import annotations

import math
import statistics

import pytest
from pyspark.sql import functions as F

from baskerville_spark.gates.features import (
    UpdateSpec,
    feature_vector,
    update_feature_vector,
)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )


import datetime as _dt


def _ts(s):
    return _dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def tiny_events(spark):
    rows = [
        # user 1: two types, 3 events over 2 minutes
        (1, _ts("2024-01-01 00:00:00"), 1, "view", 10.0, '{"k": 3}'),
        (2, _ts("2024-01-01 00:01:00"), 1, "click", 20.0, '{"k": 5}'),
        (3, _ts("2024-01-01 00:02:00"), 1, "view", 30.0, '{"k": 3}'),
        # user 2: single event (dt == 0 -> rate defaults)
        (4, _ts("2024-01-01 00:00:00"), 2, "error", 5.0, '{"k": 60}'),
    ]
    return _events(spark, rows).cache()


def test_vector_counts_and_defaults(tiny_events):
    out = {
        r["user_id"]: r.asDict()
        for r in feature_vector(tiny_events).collect()
    }
    u1, u2 = out[1], out[2]
    assert u1["request_total"] == 3
    assert u1["view_total"] == 2 and u1["click_total"] == 1
    assert u1["top_type_total"] == 2  # two views
    assert u1["minutes_total"] == pytest.approx(2.0)
    # request_rate = 3 / 2 minutes
    assert u1["request_rate"] == pytest.approx(1.5)
    # view/click = 2/1
    assert u1["view_to_click_ratio"] == pytest.approx(2.0)
    # interval: two 60 s gaps -> avg 60, var 0
    assert u1["interval_avg"] == pytest.approx(60.0)
    assert u1["interval_var"] == pytest.approx(0.0)
    # single-event user: dt == 0 -> request_rate default 1, error_rate 0
    # (feature_request_rate.py:35-41 / feature_response4xx_rate.py)
    assert u2["minutes_total"] == 0.0
    assert u2["request_rate"] == 1.0
    assert u2["error_rate"] == 0.0
    # err5: error with k >= 50
    assert u2["err5_total"] == 1
    # zero-denominator ratio fallback: view/0.01
    # (feature_css_to_html_ratio.py:44-50)
    assert u2["view_to_click_ratio"] == pytest.approx(0.0)
    assert u1["unique_type_total"] == 2 and u2["unique_type_total"] == 1


def _mini_vectors(spark, a_vals, b_vals):
    """Two single-key 'vectors' with count/mean/var/max/min computed in
    plain Python, returned as 1-row DataFrames."""

    def vec(vals):
        return {
            "user_id": 1,
            "request_total": float(len(vals)),
            "error_total": 1.0,
            "minutes_total": 5.0,
            "mean_value": statistics.fmean(vals),
            "var_value": statistics.variance(vals),
            "max_value": max(vals),
            "min_value": min(vals),
        }

    schema = (
        "user_id long, request_total double, error_total double, "
        "minutes_total double, mean_value double, var_value double, "
        "max_value double, min_value double"
    )
    cur = spark.createDataFrame([vec(a_vals)], schema)
    past = spark.createDataFrame([vec(b_vals)], schema)
    return cur, past


SPECS = [
    UpdateSpec("request_total", "total", ("request_total",)),
    UpdateSpec("max_value", "maximum", ("max_value",)),
    UpdateSpec("min_value", "minimum", ("min_value",)),
    UpdateSpec("mean_value", "mean", ("mean_value", "request_total")),
    UpdateSpec(
        "var_value", "variance", ("var_value", "request_total", "mean_value")
    ),
]


def test_pooled_mean_and_corrected_variance_exact(spark):
    """square_variance=False is the textbook pool: merging two disjoint
    batches' (n, mean, var_samp) reproduces var_samp of the union EXACTLY."""
    a = [1.0, 4.0, 9.0, 16.0, 25.0]
    b = [2.0, 3.0, 5.0, 7.0]
    cur, past = _mini_vectors(spark, a, b)
    row = update_feature_vector(
        cur, past, ["user_id"], SPECS, square_variance=False
    ).collect()[0]
    union = a + b
    assert row["request_total"] == pytest.approx(len(union))
    assert row["max_value"] == pytest.approx(max(union))
    assert row["min_value"] == pytest.approx(min(union))
    assert row["mean_value"] == pytest.approx(statistics.fmean(union), abs=1e-12)
    assert row["var_value"] == pytest.approx(
        statistics.variance(union), abs=1e-9
    )


def test_reference_variance_verbatim(spark):
    """square_variance=True reproduces helpers.py:17-23 bit-for-bit,
    squared-variance quirk included (== updateable_features.py:116-149)."""

    def ref_update_variance(v_old, v_cur, n_old, n_cur, m_old, m_cur):
        m_new = (n_old * v_old + n_cur * v_cur) / float(n_old + n_cur)
        return (
            (n_old - 1) * v_old**2
            + (n_cur - 1) * v_cur**2
            + n_old * (m_old - m_new) ** 2
            + n_cur * (m_cur - m_new) ** 2
        ) / float(n_old + n_cur - 1)

    a = [1.0, 4.0, 9.0, 16.0, 25.0]
    b = [2.0, 3.0, 5.0, 7.0]
    cur, past = _mini_vectors(spark, a, b)
    row = update_feature_vector(
        cur, past, ["user_id"], SPECS, square_variance=True
    ).collect()[0]
    expected = ref_update_variance(
        statistics.variance(b),
        statistics.variance(a),
        len(b),
        len(a),
        statistics.fmean(b),
        statistics.fmean(a),
    )
    assert row["var_value"] == pytest.approx(expected, rel=1e-12)
    assert not math.isclose(
        expected, statistics.variance(a + b), rel_tol=0.01
    ), "fixture must distinguish the verbatim quirk from the textbook pool"


def test_new_key_passes_current_through(spark):
    cur, past = _mini_vectors(spark, [1.0, 2.0, 3.0], [4.0, 5.0])
    past = past.withColumn("user_id", F.lit(99))  # no overlap
    row = update_feature_vector(
        cur, past, ["user_id"], SPECS
    ).where(F.col("user_id") == 1).collect()[0]
    assert row["request_total"] == 3.0
    assert row["mean_value"] == pytest.approx(2.0)
    assert row["var_value"] == pytest.approx(1.0)


def test_rate_and_ratio_and_replace(spark):
    cur, past = _mini_vectors(spark, [1.0, 2.0], [3.0, 4.0, 5.0])
    specs = [
        UpdateSpec("rate", "rate", ("request_total", "minutes_total")),
        UpdateSpec("ratio", "ratio", ("error_total", "request_total")),
        UpdateSpec("minutes", "replace", ("minutes_total",)),
    ]
    row = update_feature_vector(
        cur, past, ["user_id"], specs
    ).collect()[0]
    # rate: (past_total + cur_total) / CURRENT minutes (helpers.py:30-34)
    assert row["rate"] == pytest.approx((3 + 2) / 5.0)
    # ratio: summed numerators over summed denominators (helpers.py:45-49)
    assert row["ratio"] == pytest.approx((1 + 1) / (3 + 2))
    assert row["minutes"] == 5.0
    # zero current-minutes: rate falls back to the CURRENT TOTAL (the
    # reference quirk, helpers.py:33-34)
    cur0 = cur.withColumn("minutes_total", F.lit(0.0))
    row0 = update_feature_vector(
        cur0, past, ["user_id"], specs
    ).collect()[0]
    assert row0["rate"] == 2.0


def test_feature_loop_incremental_equals_batch(spark, tmp_path):
    """The client-pipeline loop (GenerateFeatures -> RefreshCache,
    reference client_pipeline.py:37-48): 3 micro-batches merged through
    the pooled algebra reproduce the one-shot vector over all rows
    EXACTLY (count/mean/var/max/min), and the cache was republished
    incrementally (one version per batch), not recomputed from raw."""
    from baskerville_spark.gates.feature_loop import run_feature_loop
    from baskerville_spark.gates.state import StateStore

    src = tmp_path / "src"
    src.mkdir()
    rows_all = []
    # 4 users x 3 batches x 3 events; deterministic values
    for b in range(3):
        rows = [
            (u, float((u + 1) * (b + 2) * (i + 1) + (i * i) % 7))
            for u in range(4)
            for i in range(3)
        ]
        rows_all += rows
        # flat files: the file-stream source lists the dir non-recursively
        tmp_dir = tmp_path / f"stage_{b}"
        spark.createDataFrame(
            rows, "user_id long, value double"
        ).coalesce(1).write.parquet(str(tmp_dir))
        part = next(tmp_dir.glob("part-*.parquet"))
        part.rename(src / f"batch_{b}.parquet")

    def vector_fn(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("value").alias("mean_value"),
            F.var_samp("value").alias("var_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
        )

    specs = [
        UpdateSpec("n", "total", ("n",)),
        UpdateSpec("mean_value", "mean", ("mean_value", "n")),
        UpdateSpec("var_value", "variance", ("var_value", "n", "mean_value")),
        UpdateSpec("max_value", "maximum", ("max_value",)),
        UpdateSpec("min_value", "minimum", ("min_value",)),
    ]
    store = StateStore(str(tmp_path / "cache"))
    q = run_feature_loop(
        spark,
        str(src),
        "user_id long, value double",
        store,
        ["user_id"],
        specs,
        vector_fn,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    import os

    versions = [d for d in os.listdir(store.root) if d.startswith("v_")]
    assert len(versions) == 3, "one atomic cache version per micro-batch"

    got = {
        r["user_id"]: r.asDict()
        for r in store.read(spark).collect()
    }
    expected = {
        r["user_id"]: r.asDict()
        for r in vector_fn(
            spark.createDataFrame(rows_all, "user_id long, value double")
        ).collect()
    }
    assert set(got) == set(expected)
    for u, exp in expected.items():
        for col, v in exp.items():
            assert got[u][col] == pytest.approx(v, abs=1e-9), (u, col)
