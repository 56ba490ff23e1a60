"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force top-k against a query vector. The dot product
  is ``F.zip_with`` + ``F.aggregate`` — JVM-side array math, no Python. The
  top-k is an orderBy+limit, which Spark executes as per-partition TakeOrdered
  + driver merge (no global sort shuffle).
- ``hyperplane_lsh_pairs``: the scale path for all-pairs similarity —
  random-hyperplane (SRP) signatures bucket vectors so the self-join touches
  only same-bucket candidates, verified with exact cosine. Planes are
  deterministic (seeded numpy) and enter the plan as literal arrays
  (broadcast-by-literal; a few KB).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _stack_valid(emb: pd.Series, expected_dim: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(mask, matrix) from a Series of array cells: NULL rows are masked out
    instead of crashing the vstack; ragged / wrong-dimension vectors raise a
    descriptive ValueError rather than an opaque Python-worker failure.
    ``expected_dim`` catches raggedness even when the bad rows land in
    different Arrow batches (a batch is internally consistent by accident)."""
    cells = emb.to_numpy()
    mask = np.array([c is not None for c in cells], dtype=bool)
    valid = [np.asarray(c, dtype=np.float64) for c in cells[mask]]
    if not valid:
        return mask, np.empty((0, expected_dim or 0))
    dims = {v.shape[0] for v in valid}
    if expected_dim is not None:
        dims.add(int(expected_dim))
    if len(dims) > 1:
        raise ValueError(
            f"embedding column has mixed dimensions {sorted(dims)}; "
            "fix or filter the ragged rows before similarity ops"
        )
    return mask, np.vstack(valid)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k rows by cosine similarity to a constant query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (
        df.select(
            F.col(id_col).alias("id"),
            cosine(emb, q).cast("double").alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(k)
    )


def hyperplane_lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 2,
    threshold: float = 0.85,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate vector pairs: SRP buckets → candidate self-join →
    exact cosine verify. n_tables independent plane sets trade recall for
    join fan-out.

    Plan shape (the banded-LSH pattern, same as MinHash): ALL tables'
    bucket ids are computed in one pass and exploded to slim
    (id, table, bucket) rows, so there is ONE candidate equi-join carrying
    two ids — vectors and norms are fetched by id joins only for the
    deduplicated candidate pairs. Wide rows never enter the self-join or
    the distinct."""
    from pyspark.sql.types import ArrayType, LongType

    rng = np.random.default_rng(seed)
    # one (n_tables*n_planes, dim) matrix; same draw order as per-table calls
    planes = np.vstack([rng.standard_normal((n_planes, dim)) for _ in range(n_tables)])
    bit_weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def srp_buckets(emb: pd.Series) -> pd.Series:
        # Arrow-batched sign-random-projection: ONE BLAS matmul per batch
        # instead of n_tables*n_planes literal-array dot expressions (whose
        # codegen alone costs more than the data at any scale). NULL vectors
        # null-propagate (no buckets) instead of failing the task.
        mask, x = _stack_valid(emb, expected_dim=dim)
        out: list = [None] * len(mask)
        if len(x):
            signs = (x @ planes.T) > 0                              # (n, T*P)
            b = signs.reshape(len(x), n_tables, n_planes) @ bit_weights  # (n, T)
            b = b.astype(np.int64)
            for j, i in enumerate(np.flatnonzero(mask)):
                out[i] = b[j]
        return pd.Series(out)

    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("id"), emb.alias("v")).withColumn(
        "n", _norm(F.col("v"))
    )

    buckets = base.select(
        "id", F.posexplode(srp_buckets(F.col("v"))).alias("table", "bucket")
    )
    a = buckets.select(F.col("id").alias("id_a"), "table", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("n").alias("n_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("n").alias("n_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (_dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")))
            .cast("double")
            .alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def ivf_training_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 10,
    max_train_rows: int = 4096,
) -> DataFrame:
    """Deterministic, HARD-CAPPED training sample for the IVF quantizer.

    Keep-decision is an md5-threshold on the id (the q28 stratified-sampling
    trick): uniform, independent of any cluster/key structure in the ids
    (unlike ``id % sample_mod``, which biases the sample whenever ids encode
    cluster membership), and deterministic for a fixed corpus. The threshold
    targets ``min(1/sample_mod, 0.9·max_train_rows/n)`` of the corpus — the
    0.9 headroom makes the binomial sample exceed the cap only at >4σ — and
    ``limit(max_train_rows)`` is the hard backstop, so the driver NEVER
    receives more than ``max_train_rows`` vectors regardless of corpus size
    (the old uncapped ``id % sample_mod`` filter collected a fixed fraction:
    a guaranteed driver OOM at 10^12 rows).

    Costs one column-pruned count() of the corpus to size the threshold.
    """
    from baskerville_spark.functions.sampling import hash_threshold_keep

    base = df.where(F.col(vec_col).isNotNull())
    n = base.count()
    frac = min(1.0 / sample_mod, 0.9 * max_train_rows / max(n, 1))
    keep = hash_threshold_keep(F.col(id_col), frac)
    return base.where(keep).select(vec_col).limit(max_train_rows)


def train_ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_mod: int = 10,
    iters: int = 10,
    seed: int = 42,
    max_train_rows: int | None = None,
) -> np.ndarray:
    """Coarse-quantizer centroids for IVF: seeded Lloyd iterations on a
    deterministic hash-threshold sample, trained driver-side.

    The sample is HARD-BOUNDED by ``max_train_rows`` (default
    256·n_centroids — standard IVF practice: the quantizer trains on a
    bounded sample; assignment is the distributed part). See
    ``ivf_training_sample`` for the bound guarantee.
    Deterministic: fixed sample, fixed init, fixed iteration count — unlike
    parallel k-means, whose result depends on partitioning.
    """
    if max_train_rows is None:
        max_train_rows = 256 * n_centroids
    sample_rows = [
        np.asarray(r[0], dtype=np.float64)
        for r in ivf_training_sample(
            df, id_col, vec_col, sample_mod, max_train_rows
        ).collect()
    ]
    if len(sample_rows) < n_centroids:
        raise ValueError(
            f"IVF training sample has {len(sample_rows)} vectors < "
            f"n_centroids={n_centroids}; lower sample_mod or n_centroids"
        )
    sample = np.vstack(sample_rows)
    # Farthest-point (max-min) seeding: fully deterministic given the sample
    # and spreads one seed per natural cluster, where a random draw routinely
    # drops several seeds into one dense cluster and leaves others unseeded —
    # Lloyd can't recover from that (it refines, it doesn't migrate seeds).
    # `seed` is kept for API stability; the init no longer consumes it.
    _ = seed
    chosen = [0]
    d2min = ((sample - sample[0]) ** 2).sum(1)
    for _i in range(1, n_centroids):
        nxt = int(d2min.argmax())
        chosen.append(nxt)
        d2min = np.minimum(d2min, ((sample - sample[nxt]) ** 2).sum(1))
    cent = sample[chosen].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(0)
    return cent


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, cluster): nearest-centroid assignment via ONE Arrow-batched
    matmul per batch (argmin ||x−c||² = argmax x·c − ½|c|²)."""
    from pyspark.sql.types import IntegerType

    cent = np.asarray(centroids, dtype=np.float64)
    half_norms = 0.5 * (cent * cent).sum(1)

    @F.pandas_udf(IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        mask, x = _stack_valid(emb, expected_dim=cent.shape[1])  # NULL → NULL cluster
        out = pd.array([pd.NA] * len(mask), dtype="Int32")
        if len(x):
            scores = x @ cent.T - half_norms
            out[mask] = scores.argmax(1).astype(np.int32)
        return pd.Series(out)

    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(
        F.col(id_col).alias("id"), emb.alias("v")
    ).withColumn("cluster", assign(F.col("v")))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe only the ``nprobe`` clusters nearest the
    query, brute-force cosine inside them. At scale the assignment is a
    write-once index column (partition/cluster-prune the scan); the probe
    filter is a pushed-down ``cluster IN (...)`` predicate, so the scan
    touches nprobe/n_centroids of the data instead of all of it."""
    cent = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    probe = np.argsort(((cent - q) ** 2).sum(1))[:nprobe].tolist()
    assigned = ivf_assign(df, cent, id_col, vec_col)
    cand = assigned.where(F.col("cluster").isin([int(p) for p in probe]))
    qcol = F.array(*[F.lit(float(x)) for x in q])
    return (
        cand.select(
            "id", cosine(F.col("v"), qcol).cast("double").alias("cosine_sim")
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(k)
    )


def brute_force_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
) -> DataFrame:
    """O(n²) all-pairs cosine — the exact baseline (LSH is the scale path).

    Norms are precomputed per vector BEFORE the join, so each pair costs one
    array pass (the dot product) instead of three.
    """
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("id"), emb.alias("v")).withColumn(
        "n", _norm(F.col("v"))
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("n").alias("n_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("n").alias("n_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (_dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")))
            .cast("double")
            .alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def cosine_topk_batched(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Batch retrieval: exact cosine top-k PER QUERY VECTOR
    (query_id, id, rank, cosine_sim) — the evaluation-harness shape
    (recall@k sweeps, dedup-vs-eval probes) where ``cosine_topk``'s single
    constant vector doesn't fit.

    Plan shape: the query set is broadcast (eval batches are small); the
    corpus streams map-side through ONE BroadcastNestedLoopJoin scoring
    every (row, query) pair with JVM array math — norms precomputed per
    side BEFORE the join. Only narrow (query_id, id, score) rows reach the
    per-query rank shuffle. At extreme corpus scale insert a per-input-
    partition local top-k before the global rank (same two-phase shape as
    pack_sequences) or route through the IVF index (ivf_topk) instead of
    exact scoring.
    """
    from pyspark.sql import Window

    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("id"), emb.alias("v")).withColumn(
        "n", _norm(F.col("v"))
    )
    qemb = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    qs = queries.select(
        F.col(query_id_col).alias("query_id"), qemb.alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))

    scored = base.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "id",
        (_dot(F.col("v"), F.col("qv")) / (F.col("n") * F.col("qn")))
        .cast("double")
        .alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "id", "rank", F.col("cos").alias("cosine_sim"))
    )
