"""Deterministic gradient-boosted stumps: the reference's supervised
attack labeler (GBM over request-set features) rebuilt with the same
driver-train / Arrow-score split as gates/iforest.

Reference shape: a gradient-boosting classifier labels request sets as
attack/benign after the anomaly stage (SURVEY §2.11 GBM labeler row; the
reference shipped it through Spark ML / external models). Here:

- **Training**: Friedman-style gradient boosting with depth-1 trees
  (stumps) on the logistic loss — driver-side numpy over a HARD-capped
  deterministic sample (same md5-threshold + limit contract as
  iforest.training_sample / similarity.ivf_training_sample). Candidate
  thresholds are feature quantiles of the sample, so fitting is
  O(rounds × features × candidates × n) with tiny constants.
- **Scoring**: the model is a few arrays; a pandas UDF applies all stumps
  to an Arrow batch with vectorized comparisons — one projection pass,
  no per-row Python, no VectorUDT.
- **Deterministic**: the fit has no randomness at all (sample is
  hash-deterministic, threshold scan is exhaustive over fixed
  candidates); identical model and scores on every run and partitioning.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t
from baskerville_spark.gates.iforest import MAX_TRAIN_ROWS, training_sample

LEARNING_RATE = 0.3
N_ROUNDS = 30  # boosted stumps per model


@dataclass(frozen=True)
class GBMClassifier:
    """Additive model: logit(x) = bias + Σ lr·(x[f] <= t ? left : right)."""

    bias: float
    feat: np.ndarray        # stump feature index per round
    thr: np.ndarray         # stump threshold per round
    left: np.ndarray        # leaf value when x[feat] <= thr
    right: np.ndarray       # leaf value otherwise
    lr: float
    n_features: int

    def logits(self, x: np.ndarray) -> np.ndarray:
        out = np.full(len(x), self.bias, dtype=np.float64)
        for f, t, lv, rv in zip(self.feat, self.thr, self.left, self.right):
            out += self.lr * np.where(x[:, f] <= t, lv, rv)
        return out

    def proba(self, x: np.ndarray) -> np.ndarray:
        return 1.0 / (1.0 + np.exp(-self.logits(x)))


def _fit_stump(
    x: np.ndarray, r: np.ndarray, orders: list[np.ndarray]
) -> tuple[int, float, float, float]:
    """EXACT least-squares stump on the residuals: every boundary between
    consecutive distinct feature values is evaluated in closed form from
    one prefix-sum pass per feature (O(features × n) per round; the
    argsorts are computed once in train). Maximizing
    sumL²/nL + sumR²/nR minimizes the squared error, and the threshold is
    the midpoint of the straddling values — so a split inside a wide gap
    (e.g. planted-outlier margins) is always found, where a quantile-
    candidate scan never places a threshold inside a sparse gap."""
    n = len(r)
    best = (0, float(x[0, 0]), float(r.mean()), float(r.mean()))
    best_gain = -np.inf
    for f, order in enumerate(orders):
        xs = x[order, f]
        pre = np.cumsum(r[order])
        total = pre[-1]
        i = np.arange(1, n)  # split size of the left side
        valid = xs[1:] > xs[:-1]  # only between distinct values
        if not valid.any():
            continue
        gain = pre[:-1] ** 2 / i + (total - pre[:-1]) ** 2 / (n - i)
        gain[~valid] = -np.inf
        k = int(gain.argmax())
        if gain[k] > best_gain + 1e-15:
            best_gain = gain[k]
            lv = float(pre[k] / (k + 1))
            rv = float((total - pre[k]) / (n - k - 1))
            best = (f, float((xs[k] + xs[k + 1]) / 2.0), lv, rv)
    return best


def train_gbm(
    df: DataFrame,
    id_col: str,
    feature_cols: list[str],
    label_col: str,
) -> GBMClassifier:
    """Fit ``N_ROUNDS`` stumps at ``LEARNING_RATE`` on the capped
    deterministic sample; labels must be 0/1."""
    sample = training_sample(df, id_col, feature_cols + [label_col], MAX_TRAIN_ROWS)
    if len(sample) < 2:
        raise ValueError(f"training sample has {len(sample)} rows < 2")
    x, y = sample[:, :-1], sample[:, -1]
    if not set(np.unique(y)) <= {0.0, 1.0}:
        raise ValueError("labels must be 0/1")
    p0 = min(max(float(y.mean()), 1e-6), 1 - 1e-6)
    bias = float(np.log(p0 / (1 - p0)))
    orders = [np.argsort(x[:, f], kind="stable") for f in range(x.shape[1])]
    logit = np.full(len(y), bias)
    feat, thr, left, right = [], [], [], []
    for _ in range(N_ROUNDS):
        resid = y - 1.0 / (1.0 + np.exp(-logit))  # logistic-loss gradient
        f, t, lv, rv = _fit_stump(x, resid, orders)
        feat.append(f)
        thr.append(t)
        left.append(lv)
        right.append(rv)
        logit = logit + LEARNING_RATE * np.where(x[:, f] <= t, lv, rv)
    return GBMClassifier(
        bias,
        np.asarray(feat, dtype=np.int64),
        np.asarray(thr, dtype=np.float64),
        np.asarray(left, dtype=np.float64),
        np.asarray(right, dtype=np.float64),
        LEARNING_RATE,
        len(feature_cols),
    )


def predict_proba(
    df: DataFrame,
    model: GBMClassifier,
    id_col: str,
    feature_cols: list[str],
) -> DataFrame:
    """(id, probability): one Arrow-batched projection pass (closure-
    broadcast model, vectorized stump application)."""

    @F.pandas_udf("double")
    def prob(*cols: pd.Series) -> pd.Series:
        x = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
        valid = ~np.isnan(x).any(axis=1)
        out = np.full(len(x), np.nan)
        if valid.any():
            out[valid] = model.proba(x[valid])
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("id"),
        prob(*[F.col(c).cast("double") for c in feature_cols]).alias("probability"),
    )


def predict_label(
    df: DataFrame,
    model: GBMClassifier,
    id_col: str,
    feature_cols: list[str],
) -> DataFrame:
    """(id, predicted 0/1) at probability 0.5 — the reference's
    attack/benign labeling step."""
    return predict_proba(df, model, id_col, feature_cols).select(
        "id", (F.col("probability") > 0.5).cast("int").alias("predicted")
    )


# ---------------------------------------------------------------------------
# Q56 — the supervised labeler: deterministic gradient-boosted stumps must
#       reproduce a wide-margin planted labeling exactly
# ---------------------------------------------------------------------------

def q56_gbm_labeler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's supervised attack labeler (GBM over request-set
    features, SURVEY §2.11) rebuilt as deterministic gradient-boosted
    stumps (``train_gbm``: driver fit on a hard-capped hash-deterministic
    sample with an EXACT prefix-sum stump search — no RNG anywhere —
    Arrow-batched scoring). Fixture: positives (vec_id ≡ 0 mod 40) get
    +5.0 on the first embedding component, a margin the boosted stumps
    must carve exactly; the gate hashes predicted-positive ids against
    the planted labeling, so one misclassified row breaks it."""
    emb = _t(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        (
            F.element_at("embedding", 1).cast("double")
            + F.when(F.col("vec_id") % 40 == 0, F.lit(5.0)).otherwise(F.lit(0.0))
        ).alias("f1"),
        F.element_at("embedding", 2).cast("double").alias("f2"),
        (F.col("vec_id") % 40 == 0).cast("double").alias("label"),
    )
    model = train_gbm(feats, "vec_id", ["f1", "f2"], "label")
    pred = predict_label(feats, model, "vec_id", ["f1", "f2"])
    return pred.where(F.col("predicted") == 1).select(
        F.col("id").alias("vec_id"), "predicted"
    )


Q56_SQL = """
SELECT vec_id, 1 AS predicted FROM embeddings WHERE vec_id % 40 = 0
"""
