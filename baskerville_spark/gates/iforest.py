"""Deterministic Isolation Forest: driver-trained on a hard-capped sample,
Arrow-batch scored on executors.

Rebuilds the reference's anomaly model — the external Scala `spark-iforest`
jar (reference src/baskerville/models/anomaly_model.py:13,160-176: IForest
numTrees=100, maxDepth=10, contamination=0.1; transform at 199-209) — as a
pure numpy forest:

- **Training is driver-side on a BOUNDED sample** (standard iForest
  practice — the original paper subsamples ψ=256 rows per tree; the model
  quality comes from the ensemble, not from seeing every row). The sample
  is the same deterministic md5-threshold + ``limit`` capped collect the
  IVF quantizer uses (gates/similarity.ivf_training_sample rationale):
  the driver never receives more than ``MAX_TRAIN_ROWS`` rows regardless of
  corpus size.
- **Scoring is distributed and vectorized**: the fitted forest (a few
  hundred KB of numpy arrays) rides to executors broadcast-by-closure; a
  pandas UDF advances ALL rows of an Arrow batch through each tree level
  simultaneously with numpy fancy indexing — no per-row Python loop over
  nodes, no VectorUDT round-trip, one projection-only pass over the data.
- **Deterministic**: seeded ``numpy.random.Generator`` for splits, fixed
  sample, fixed tree count — identical scores on every run and every
  partitioning, unlike the jar (whose subsampling is partition-dependent).

Anomaly score follows Liu et al.: ``2 ** (-E[h(x)] / c(psi))`` where h(x)
is the path length (external-node adjustment ``c(size)`` added at
truncated leaves) — higher means more isolated.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from baskerville_spark.gates.fixtures import _t
from baskerville_spark.gates.sampling import hash_threshold_keep


def _c(n: float) -> float:
    """Average unsuccessful-search path length in a BST of n nodes."""
    if n <= 1:
        return 0.0
    h = math.log(n - 1) + 0.5772156649015329  # harmonic via ln + Euler gamma
    return 2.0 * h - 2.0 * (n - 1) / n


def _c_vec(n: np.ndarray) -> np.ndarray:
    """Vectorized ``_c`` over an array of leaf sizes (identical values)."""
    safe = np.maximum(n, 2.0)  # placeholder where n <= 1; masked out below
    h = np.log(safe - 1.0) + 0.5772156649015329
    return np.where(n <= 1.0, 0.0, 2.0 * h - 2.0 * (safe - 1.0) / safe)


@dataclass(frozen=True)
class IsolationForest:
    """Fitted forest: per-tree flat arrays (feature, threshold, left, right,
    size); leaf nodes have feature == -1 and carry their subsample size."""

    features: list[np.ndarray]
    thresholds: list[np.ndarray]
    lefts: list[np.ndarray]
    rights: list[np.ndarray]
    sizes: list[np.ndarray]
    psi: int
    n_features: int

    def path_lengths(self, x: np.ndarray) -> np.ndarray:
        """Mean path length per row over all trees — the whole Arrow batch
        traverses each tree level in lock-step via fancy indexing."""
        total = np.zeros(len(x), dtype=np.float64)
        for feat, thr, left, right, size in zip(
            self.features, self.thresholds, self.lefts, self.rights, self.sizes
        ):
            node = np.zeros(len(x), dtype=np.int64)
            depth = np.zeros(len(x), dtype=np.float64)
            active = feat[node] >= 0
            while active.any():
                f = feat[node[active]]
                go_left = x[active, f] < thr[node[active]]
                nxt = np.where(go_left, left[node[active]], right[node[active]])
                node[active] = nxt
                depth[active] += 1.0
                active = feat[node] >= 0
            # truncated leaves: add c(size) like the paper — vectorized
            # (a per-row _c() loop here would dominate the batched
            # traversal it sits next to at n_trees=100)
            total += depth + _c_vec(size[node].astype(np.float64))
        return total / len(self.features)

    def scores(self, x: np.ndarray) -> np.ndarray:
        return np.power(2.0, -self.path_lengths(x) / max(_c(self.psi), 1e-12))


def _build_tree(
    rng: np.random.Generator, x: np.ndarray, max_depth: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    feats, thrs, lefts, rights, sizes = [], [], [], [], []

    def grow(rows: np.ndarray, depth: int) -> int:
        idx = len(feats)
        feats.append(-1)
        thrs.append(0.0)
        lefts.append(-1)
        rights.append(-1)
        sizes.append(len(rows))
        if depth >= max_depth or len(rows) <= 1:
            return idx
        spreads = x[rows].max(0) - x[rows].min(0)
        usable = np.flatnonzero(spreads > 0)
        if len(usable) == 0:  # all duplicate points: leaf
            return idx
        f = int(rng.choice(usable))
        lo, hi = x[rows, f].min(), x[rows, f].max()
        t = float(rng.uniform(lo, hi))
        go_left = x[rows, f] < t
        feats[idx] = f
        thrs[idx] = t
        lefts[idx] = grow(rows[go_left], depth + 1)
        rights[idx] = grow(rows[~go_left], depth + 1)
        return idx

    grow(np.arange(len(x)), 0)
    return (
        np.asarray(feats, dtype=np.int64),
        np.asarray(thrs, dtype=np.float64),
        np.asarray(lefts, dtype=np.int64),
        np.asarray(rights, dtype=np.int64),
        np.asarray(sizes, dtype=np.int64),
    )


#: driver-side rows the iForest and GBM fits train on
MAX_TRAIN_ROWS = 4096
#: trees per forest, and the seed of their row and split draws
N_TREES, SEED = 50, 11


def training_sample(
    df: DataFrame,
    id_col: str,
    feature_cols: list[str],
    max_train_rows: int,
) -> np.ndarray:
    """Deterministic hash-threshold sample of the feature matrix, HARD-capped
    at ``max_train_rows`` driver-side rows (same bound contract as
    gates.similarity.ivf_training_sample — one column-pruned count to
    size the threshold, ``limit`` as the backstop)."""
    base = df.select(id_col, *feature_cols).na.drop(subset=feature_cols)
    n = base.count()
    frac = min(1.0, 0.9 * max_train_rows / max(n, 1))
    rows = (
        base.where(hash_threshold_keep(F.col(id_col), frac))
        .select(*[F.col(c).cast("double") for c in feature_cols])
        .limit(max_train_rows)
        .collect()
    )
    return np.asarray([[r[i] for i in range(len(feature_cols))] for r in rows])


def train_iforest(
    df: DataFrame,
    id_col: str,
    feature_cols: list[str],
) -> IsolationForest:
    """Fit ``N_TREES`` trees on a ``MAX_TRAIN_ROWS``-capped sample; each
    tree subsamples ψ = 256 rows (the paper default) and grows at most 10
    levels (reference jar numTrees=100 / maxDepth=10,
    anomaly_model.py:160-176)."""
    sample = training_sample(df, id_col, feature_cols, MAX_TRAIN_ROWS)
    if len(sample) < 2:
        raise ValueError(f"training sample has {len(sample)} rows < 2")
    rng = np.random.default_rng(SEED)
    psi = min(256, len(sample))
    feats, thrs, lefts, rights, sizes = [], [], [], [], []
    for _ in range(N_TREES):
        rows = rng.choice(len(sample), size=psi, replace=False)
        f, t, l, r, s = _build_tree(rng, sample[rows], 10)
        feats.append(f)
        thrs.append(t)
        lefts.append(l)
        rights.append(r)
        sizes.append(s)
    return IsolationForest(
        feats, thrs, lefts, rights, sizes, psi=psi, n_features=len(feature_cols)
    )


def score_anomalies(
    df: DataFrame,
    forest: IsolationForest,
    id_col: str,
    feature_cols: list[str],
) -> DataFrame:
    """(id, anomaly_score): one Arrow-batched pass; the forest's arrays are
    closure-broadcast once per executor, and each batch traverses every
    tree with vectorized numpy indexing (no per-row Python)."""

    @F.pandas_udf("double")
    def score(*cols: pd.Series) -> pd.Series:
        x = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
        valid = ~np.isnan(x).any(axis=1)
        out = np.full(len(x), np.nan)
        if valid.any():
            out[valid] = forest.scores(x[valid])
        return pd.Series(out)

    feat_cols: list[Column] = [F.col(c).cast("double") for c in feature_cols]
    return df.select(
        F.col(id_col).alias("id"), score(*feat_cols).alias("anomaly_score")
    )


def top_anomalies(
    df: DataFrame,
    forest: IsolationForest,
    id_col: str,
    feature_cols: list[str],
    k: int,
) -> DataFrame:
    """Top-k most anomalous rows — TakeOrdered (per-partition top-k merged
    on the driver), never a global sort; the reference instead thresholded
    on a contamination quantile (anomaly_model.py:199-209), which is the
    same primitive plus an approx-quantile pass."""
    scored = score_anomalies(df, forest, id_col, feature_cols)
    return scored.orderBy(F.desc("anomaly_score"), F.asc("id")).limit(k)


# ---------------------------------------------------------------------------
# Q55 — the real anomaly model: deterministic Isolation Forest (driver-
#       trained on a capped sample, Arrow-batch scored) must isolate the
#       planted outliers with recall 1.0 and zero false positives
# ---------------------------------------------------------------------------

def q55_iforest_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core anomaly model (external Scala spark-iforest
    jar, anomaly_model.py:13,160-209) rebuilt as a pure-numpy deterministic
    Isolation Forest (``train_iforest``): training on a hard-capped
    hash-threshold sample driver-side, scoring as one Arrow-batched
    projection pass. Fixture: two features from the embeddings table with
    every 50th vector shifted +25 — far outside the data range, so a
    correct forest MUST rank exactly those as the top-|planted| anomalies.
    The gate hashes the flagged id set against the planted id set in SQL:
    a single false positive or miss breaks it. (The score values
    themselves are not SQL-reproducible — the set-equality verdict is the
    oracle-checkable contract, same pattern as q46.)"""
    emb = _t(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        (
            F.element_at("embedding", 1).cast("double")
            + F.when(F.col("vec_id") % 50 == 0, F.lit(25.0)).otherwise(F.lit(0.0))
        ).alias("f1"),
        (
            F.element_at("embedding", 2).cast("double")
            + F.when(F.col("vec_id") % 50 == 0, F.lit(25.0)).otherwise(F.lit(0.0))
        ).alias("f2"),
    )
    n_planted = feats.where(F.col("vec_id") % 50 == 0).count()
    forest = train_iforest(feats, "vec_id", ["f1", "f2"])
    top = top_anomalies(feats, forest, "vec_id", ["f1", "f2"], k=n_planted)
    return top.select(F.col("id").alias("vec_id"), F.lit(1).alias("flagged"))


Q55_SQL = """
SELECT vec_id, 1 AS flagged FROM embeddings WHERE vec_id % 50 = 0
"""
